"""Connected components over the match graph (canonicalization core).

GraphFrames is not a dependency; this is a native DataFrame
implementation of iterative hash-min label propagation: every node
starts labeled with itself, and each round adopts the minimum label in
its closed neighborhood.  Rounds = graph diameter; entity-linking match
graphs are unions of small near-duplicate clusters (diameter <= ~5), so
convergence is fast.  For adversarial long chains the alternating
large-star/small-star variant would cut rounds to O(log n); the simple
propagation keeps each round to node-sized joins and one aggregation,
which wins for the shallow graphs this pipeline produces.

Scale mechanics:
- the edge table is hash-partitioned on `v` and persisted once per call,
  and no round re-shuffles it.  A round exchanges node-sized frames
  only, but a lineage cut carries no partitioning, so the labels are
  re-exchanged every round: by `v` for the neighbor join and by `node`
  for the step, besides the neighbor-min by `u` and both sides of the
  pointer-doubling join by `component`.  Measured in the executed plans
  (Spark 4.1.2, AQE, the sf0.01 part co-order graph, broadcast joins
  off): 5 hash exchanges per round after the first.  Fewer per round
  is ROADMAP item 4;
- lineage is cut with localCheckpoint every round (iterative plans
  otherwise grow Catalyst trees exponentially); on a cluster the
  checkpoint goes to the checkpoint dir / an Iceberg stage table
  (plans/checkpoint.py);
- convergence test is an aggregate count of changed labels (a cheap
  boolean reduction, not a collect of the labels).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def connected_components(edges: DataFrame,
                         src: str = "key_a", dst: str = "key_b",
                         max_iter: int = 20,
                         reliable_checkpoint: bool = False) -> DataFrame:
    """Return (node, component) with component = min node id reachable.

    `edges` is undirected input (one row per pair, either order).

    Lineage is cut each round.  Default: localCheckpoint (executor
    block storage -- fastest; lost on executor death, Spark then
    recomputes the cut plan which is fine at this graph's size).  Set
    reliable_checkpoint=True on a real cluster with a configured
    `spark.sparkContext.setCheckpointDir` to cut to fault-tolerant
    storage instead (the right call when a round's labels are expensive
    to recompute at 10^9+ nodes).
    """
    def cut(df: DataFrame) -> DataFrame:
        # lazy: the convergence-check count right after each cut is the
        # job that materializes the blocks -- an eager cut would run a
        # second, separate blocking job per round for nothing
        return (df.checkpoint() if reliable_checkpoint
                else df.localCheckpoint(eager=False))

    # the per-round neighbor-min joins on `v`: hash-partition + sort +
    # persist ONCE (lazy -- round 1's convergence count materializes it
    # with the cache live; later rounds hit the cache.  Same pattern as
    # graph_algs.pagerank)
    n_shuffle = int(edges.sparkSession.conf.get(
        "spark.sql.shuffle.partitions"))
    sym = (edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
           .unionByName(edges.select(F.col(dst).alias("u"),
                                     F.col(src).alias("v")))
           .dropDuplicates(["u", "v"])
           .repartition(n_shuffle, "v")
           .sortWithinPartitions("v").persist())

    labels = (sym.select(F.col("u").alias("node"))
              .distinct()
              .withColumn("component", F.col("node")))

    for _ in range(max_iter):
        # 1) neighbor-min: each node adopts the min label in its closed
        #    neighborhood
        nbr = (sym.join(labels.withColumnRenamed("node", "v"), "v")
               .groupBy(F.col("u").alias("node"))
               .agg(F.min("component").alias("nbr_component")))
        stepped = (labels.join(nbr, "node", "left")
                   .select("node", F.col("component").alias("_old"),
                           F.least(F.col("component"),
                                   F.coalesce(F.col("nbr_component"),
                                              F.col("component")))
                           .alias("component"))
                   # lazy barrier: the pointer-doubling self-join below
                   # consumes `stepped` twice -- without the cut the
                   # neighbor-min join subtree runs once per side
                   .localCheckpoint(eager=False))
        # 2) pointer doubling: component := label(component) -- halves the
        #    pointer-chain depth each round, so chains converge in
        #    O(log n) rounds instead of O(n)
        parent = stepped.select(F.col("node").alias("component"),
                                F.col("component").alias("grand"))
        new_labels = (stepped.join(parent, "component", "left")
                      .select("node", "_old",
                              F.least(F.col("component"),
                                      F.coalesce(F.col("grand"),
                                                 F.col("component")))
                              .alias("component")))
        new_labels = cut(new_labels)
        # convergence: the pre-round label is CARRIED inline ("_old"),
        # so the changed-check is a scan of the just-materialized cut
        # blocks -- the old formulation re-joined the full old and new
        # label tables (two more exchanges per round) just to compare
        changed = (new_labels
                   .where(F.col("component") != F.col("_old"))
                   .limit(1).count())
        labels = new_labels.drop("_old")
        if changed == 0:
            break
    else:
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} rounds; "
            "raise max_iter (graph deeper than 2^max_iter?)")
    # the returned labels are materialized localCheckpoint blocks (the
    # convergence count built them); drop the edge cache so no
    # plan-keyed entry outlives the invocation -- the incremental
    # pipelines rewrite their stage tables between refreshes and a
    # stale CacheManager hit here silently canonicalizes against the
    # OLD edge set (caught by test_incremental_equals_oneshot)
    sym.unpersist()
    return labels


def canonical_map(mentions: DataFrame, edges: DataFrame) -> DataFrame:
    """(pseudo_key, canon_id): every mention key mapped to its component
    representative; singletons map to themselves."""
    comp = connected_components(edges)
    keys = mentions.select("pseudo_key").distinct()
    return (keys.join(comp.withColumnRenamed("node", "pseudo_key"),
                      "pseudo_key", "left")
            .select("pseudo_key",
                    F.coalesce("component", "pseudo_key").alias("canon_id")))
