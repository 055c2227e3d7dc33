"""Checkpoint/resume: byte-equal outputs after kill/resume at stage
boundaries (BASELINE.md resumability gate)."""

import json
import os
import shutil
import threading
import time

import pytest

from redactify_spark.plans import checkpoint as CP
from redactify_spark.sources.pages import synth_pages


@pytest.fixture()
def root(tmp_path):
    return str(tmp_path / "ckpt")


def table_set(df, cols=None):
    cols = cols or df.columns
    return {tuple(str(v) for v in r) for r in df.select(*cols).collect()}


def test_run_stage_writes_manifest(spark, root):
    df = CP.run_stage(spark, root, "s1",
                      lambda: spark.range(100).withColumnRenamed("id", "x"))
    assert df.count() == 100
    m = CP.read_manifest(root, "s1")
    assert m["status"] == "complete" and m["row_count"] == 100
    assert m["content_hash"] != 0
    assert sum(m["partitions"].values()) == 100


def test_resume_skips_builder(spark, root):
    calls = []

    def builder():
        calls.append(1)
        return spark.range(10).withColumnRenamed("id", "x")

    CP.run_stage(spark, root, "s1", builder)
    CP.run_stage(spark, root, "s1", builder)
    assert len(calls) == 1  # second run resumed from checkpoint


def test_invalidate_forces_recompute(spark, root):
    calls = []

    def builder():
        calls.append(1)
        return spark.range(10).withColumnRenamed("id", "x")

    CP.run_stage(spark, root, "s1", builder)
    CP.invalidate(root, "s1")
    CP.run_stage(spark, root, "s1", builder)
    assert len(calls) == 2


def test_read_back_schema_equals_resumed_schema(spark, root):
    """run_stage reads a fresh stage back with the schema it wrote, not
    an inferred one; that schema must equal what a resumed (inferred)
    read gets, non-nullable and nested fields included."""
    def builder():
        return spark.range(5).selectExpr(
            "id", "CAST(id AS STRING) AS s", "array(id, id + 1) AS a",
            "named_struct('x', id, 'y', 'k') AS st", "map('k', id) AS mp")

    assert not builder().schema["id"].nullable
    fresh = CP.run_stage(spark, root, "s1", builder)
    resumed = CP.run_stage(spark, root, "s1", builder)
    assert fresh.schema == resumed.schema
    assert sorted(fresh.collect()) == sorted(resumed.collect())


def test_run_concurrently_reraises_after_all_finish(spark):
    finished = threading.Event()

    def fails():
        raise ValueError("branch failed")

    def slow():
        time.sleep(0.5)
        finished.set()
        return "slow"

    assert CP.run_concurrently(spark, lambda: 1, slow) == [1, "slow"]
    for thunks in ((fails, slow), (slow, fails)):
        finished.clear()
        with pytest.raises(ValueError, match="branch failed"):
            CP.run_concurrently(spark, *thunks)
        assert finished.is_set()


def test_run_concurrently_last_thunk_on_calling_thread(spark):
    """The last thunk runs on the caller's thread, so Ctrl-C lands in it;
    its error wins, raised once the pool branches have finished."""
    caller = threading.get_ident()
    idents = CP.run_concurrently(spark, threading.get_ident,
                                 threading.get_ident)
    assert idents[0] != caller and idents[1] == caller

    finished = threading.Event()

    def branch():
        time.sleep(0.5)
        finished.set()
        raise ValueError("branch failed")

    def interrupted():
        raise KeyboardInterrupt

    with pytest.raises(KeyboardInterrupt):
        CP.run_concurrently(spark, branch, interrupted)
    assert finished.is_set()


KG_STAGES = ("01_mentions", "02_triples", "03_match_edges", "04_canonical",
             "04b_canon_mentions", "05_nodes", "06_edges", "07_salience")


def _spy_builders(monkeypatch):
    """Record the stages whose builder kg_pipeline actually calls."""
    called = []
    real = CP.run_stage

    def spy(spark, root, stage, builder, **kw):
        def recorded():
            called.append(stage)
            return builder()
        return real(spark, root, stage, recorded, **kw)

    monkeypatch.setattr(CP, "run_stage", spy)
    return called


def test_failed_branch_reraised_after_chain_and_resumed(spark, root,
                                                        monkeypatch):
    """02_triples runs beside the 03..07 chain: its failure surfaces only
    once the chain has finished, the chain's manifests are complete, and
    the rerun computes 02 alone."""
    from redactify_spark.operators import triples

    def boom(*a, **k):
        raise RuntimeError("triples builder failed")

    real_triples = triples.all_triples
    monkeypatch.setattr(triples, "all_triples", boom)
    pages = synth_pages(spark, 24, partitions=2).localCheckpoint()
    with pytest.raises(RuntimeError, match="triples builder failed"):
        CP.kg_pipeline(spark, pages, root, id_col="url")
    assert not CP.stage_complete(root, "02_triples")
    for stage in KG_STAGES:
        if stage != "02_triples":
            assert CP.stage_complete(root, stage), stage

    monkeypatch.setattr(triples, "all_triples", real_triples)
    called = _spy_builders(monkeypatch)
    out = CP.kg_pipeline(spark, pages, root, id_col="url")
    assert called == ["02_triples"]
    assert all(CP.stage_complete(root, s) for s in KG_STAGES)
    assert out["triples"].count() == \
        CP.read_manifest(root, "02_triples")["row_count"]


def test_resume_recomputes_only_invalidated_branch(spark, root,
                                                   monkeypatch):
    pages = synth_pages(spark, 24, partitions=2).localCheckpoint()
    CP.kg_pipeline(spark, pages, root, id_col="url")
    want = {s: CP.read_manifest(root, s)["content_hash"] for s in KG_STAGES}

    CP.invalidate(root, "02_triples")
    called = _spy_builders(monkeypatch)
    CP.kg_pipeline(spark, pages, root, id_col="url")
    assert called == ["02_triples"]
    got = {s: CP.read_manifest(root, s)["content_hash"] for s in KG_STAGES}
    assert got == want


def test_job_group_reaches_branch_threads(spark, root, monkeypatch):
    """Jobs of the concurrent branches run under the caller's job group,
    so cancelling the group reaches every branch."""
    sc = spark.sparkContext
    real = CP.run_stage

    def described(spark_, root_, stage, builder, **kw):
        sc.setJobDescription(stage)
        return real(spark_, root_, stage, builder, **kw)

    monkeypatch.setattr(CP, "run_stage", described)
    pages = synth_pages(spark, 24, partitions=2).localCheckpoint()
    group = "kg-dag-job-group"
    sc.setJobGroup(group, "whole KG DAG")
    try:
        CP.kg_pipeline(spark, pages, root, id_col="url")
    finally:
        for key in ("spark.jobGroup.id", "spark.job.description",
                    "spark.job.interruptOnCancel"):
            sc.setLocalProperty(key, None)
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    store = jsc.statusStore()
    stages = set()
    for jid in sc.statusTracker().getJobIdsForGroup(group):
        desc = store.job(jid).description()
        if desc.isDefined():
            stages.add(desc.get())
    assert set(KG_STAGES) <= stages


def test_cancel_mid_dag_stops_every_branch(spark, root, monkeypatch):
    """Cancelling the caller's job group together with its future jobs
    stops the chain and the 02_triples branch even when the cancel lands
    while neither runs a job; the DAG raises only after both have
    stopped, and a rerun computes just the incomplete stages."""
    sc = spark.sparkContext
    group = "kg-dag-cancel"
    real = CP.run_stage
    in_gap = {s: threading.Event() for s in ("02_triples", "03_match_edges")}
    go = threading.Event()

    def gated(spark_, root_, stage, builder, **kw):
        def gate():
            if stage in in_gap:
                in_gap[stage].set()  # on the driver, before any job
                go.wait(60)
            return builder()
        return real(spark_, root_, stage, gate, **kw)

    monkeypatch.setattr(CP, "run_stage", gated)
    pages = synth_pages(spark, 24, partitions=2).localCheckpoint()
    raised = []

    def dag():
        sc.setJobGroup(group, "KG DAG to cancel")
        try:
            CP.kg_pipeline(spark, pages, root, id_col="url")
        except Exception as e:
            raised.append(e)

    t = threading.Thread(target=dag)
    t.start()
    assert all(e.wait(120) for e in in_gap.values())
    sc._jsc.sc().cancelJobGroupAndFutureJobs(group)
    go.set()
    t.join(120)
    assert not t.is_alive() and raised
    assert not sc.statusTracker().getActiveJobsIds()
    assert CP.stage_complete(root, "01_mentions")
    for stage in KG_STAGES[1:]:
        assert not CP.stage_complete(root, stage), stage

    monkeypatch.setattr(CP, "run_stage", real)
    called = _spy_builders(monkeypatch)
    CP.kg_pipeline(spark, pages, root, id_col="url")
    assert sorted(called) == list(KG_STAGES[1:])
    assert all(CP.stage_complete(root, s) for s in KG_STAGES)


def test_kill_resume_equivalence(spark, root):
    """Run the full pipeline; then simulate a crash after stage 2 (wipe
    stages 3+), resume, and require identical final tables."""
    pages = synth_pages(spark, 48, partitions=4).localCheckpoint()

    full = CP.kg_pipeline(spark, pages, root, id_col="url")
    nodes_before = table_set(full["nodes"])
    edges_before = table_set(full["edges"])
    h_nodes = CP.content_hash(full["nodes"])

    salience_before = table_set(full["salience"])

    # crash after 02_triples: drop downstream checkpoints
    for stage in ("03_match_edges", "04_canonical", "04b_canon_mentions",
                  "05_nodes", "06_edges", "07_salience"):
        CP.invalidate(root, stage)

    resumed = CP.kg_pipeline(spark, pages, root, id_col="url")
    assert table_set(resumed["nodes"]) == nodes_before
    assert table_set(resumed["edges"]) == edges_before
    assert table_set(resumed["salience"]) == salience_before
    assert CP.content_hash(resumed["nodes"]) == h_nodes

    # manifests intact for all stages
    for stage in ("01_mentions", "02_triples", "03_match_edges",
                  "04_canonical", "04b_canon_mentions", "05_nodes",
                  "06_edges", "07_salience"):
        assert CP.stage_complete(root, stage)

    # salience semantics: co-mentioned entities rise above the PageRank
    # base term; never-co-mentioned nodes sit exactly at it
    sal = {r.canon_id: r.salience for r in resumed["salience"].collect()}
    edge_nodes = {r.src for r in resumed["edges"].collect()} | \
                 {r.dst for r in resumed["edges"].collect()}
    assert sal, "salience table empty"
    for cid, s in sal.items():
        if cid not in edge_nodes:
            assert s == 0.15


def test_content_hash_partition_invariant(spark):
    df = spark.range(1000).withColumnRenamed("id", "x")
    assert CP.content_hash(df.repartition(2)) == \
        CP.content_hash(df.repartition(16))


def test_pipeline_report_covers_all_stages(spark, root):
    pages = synth_pages(spark, 24, partitions=2).localCheckpoint()
    CP.kg_pipeline(spark, pages, root, id_col="url")
    rep = CP.pipeline_report(spark, root)
    stages = {r.stage for r in rep.collect()}
    assert {"01_mentions", "02_triples", "03_match_edges", "04_canonical",
            "04b_canon_mentions", "05_nodes", "06_edges",
            "07_salience"} <= stages
    rows = rep.collect()
    assert all(r.row_count >= 0 and r.wall_time_sec > 0
               and r.n_partitions >= 1 for r in rows)


def test_audit_pipeline_tool(spark, tmp_path):
    """The audit CLI verifies intact stages and flags a tampered one."""
    import json
    import os
    import subprocess
    import sys

    from redactify_spark.plans import checkpoint as CP

    root = str(tmp_path / "audit_root")
    CP.run_stage(spark, root, "s1",
                 lambda: spark.range(100).selectExpr("id", "id * 2 AS v"))
    CP.run_stage(spark, root, "s2",
                 lambda: spark.range(10).selectExpr("id"))

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    cmd = [sys.executable, f"{repo}/tools/audit_pipeline.py", root,
           "--master", "local[2]"]
    r = subprocess.run(cmd, capture_output=True, text=True, timeout=300)
    assert r.returncode == 0, r.stdout + r.stderr
    assert r.stdout.count("OK") == 2

    # tamper with a manifest: audit must fail loudly
    mp = os.path.join(root, "s2", "_manifest.json")
    m = json.load(open(mp))
    m["row_count"] += 1
    json.dump(m, open(mp, "w"))
    r2 = subprocess.run(cmd, capture_output=True, text=True, timeout=300)
    assert r2.returncode == 1
    assert "FAIL  s2" in r2.stdout and "OK    s1" in r2.stdout


def test_audit_lineage_keys_match_manifest_on_partitioned_layout(
        spark, tmp_path):
    """ADVICE r4: stage_manifest_stats / partition_counts must key
    per-file lineage by the same RELATIVE path as the manifest's footer
    counts, so a partitionBy (subdir) layout with colliding part-00000
    basenames stays comparable file-by-file."""
    from redactify_spark.plans import checkpoint as CP

    path = str(tmp_path / "ptable")
    (spark.range(200)
     .selectExpr("id", "id % 3 AS part")
     .repartition(1)
     .write.partitionBy("part").parquet(path))

    footer = CP._parquet_footer_counts(path)
    stats = CP.stage_manifest_stats(spark, path)
    counts = CP.partition_counts(spark, path)
    # three subdirs, one file each -> basenames WOULD collide; relative
    # keys must not
    assert len(footer) == 3
    assert set(stats["partitions"]) == set(footer)
    assert counts == footer
    assert stats["partitions"] == footer
    assert stats["row_count"] == 200
