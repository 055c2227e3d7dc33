"""Benchmark of the redactify_spark KG pipeline and declared queries.

    python3 perfbench/run.py --workload kg_batch --seed 1 --seconds 30 \\
        --trace 0

Run from the root of a checkout.  The program is imported from that
checkout only: an inherited PYTHONPATH is dropped, and Spark's Python
workers get the checkout root alone.  Every file the run writes lives
under `.perfbench_runs/` in the checkout.

A run: set up (start the JVM and a Spark session at local[N],
N = min(2, cores - 1), stage the seeded inputs, run a small warm-up job)
and report that time as `setup_s`; run units of the workload's work
while a unit of the median length so far still ends within `--seconds`
(at least one); check the outputs
outside the timed region; print one JSON object as the last line of
stdout.  `--trace 1` installs span wrappers around the layers' public
functions and reports the per-layer metrics instead of the end-to-end
ones.  A failed unit or check makes the exit
code 1; a checkout without the program makes it 2 with no result.

`--size tiny` shrinks every input for the smoke test in
`perfbench/tests/`.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
# Spark task slots.  The other cores are left to the driver process,
# the JVM's JIT and GC threads (sized by -XX:ActiveProcessorCount) and
# the Python worker daemon.  On a 4-core host with two busy processes
# beside it, a KG DAG took 18% longer at local[2] and 58% longer at
# local[3], and used as much CPU as alone at local[2] but 14% more at
# local[3].
MAX_TASK_SLOTS = 2
# The JVM heap is committed and touched in full at start.  Left to grow,
# G1 stopped at ~1.8 or at ~2.4 GB of RSS from run to run, and that
# choice, not the program, set peak_rss_mb.
DRIVER_HEAP = "2g"
WALL_LIMIT_S = 170


def _clean_imports() -> None:
    """Import the program from this checkout only."""
    inherited = os.environ.pop("PYTHONPATH", "")
    drop = {os.path.abspath(p) for p in inherited.split(os.pathsep) if p}
    sys.path[:] = [p for p in sys.path
                   if not p or os.path.abspath(p) not in drop]
    sys.path[:0] = [ROOT]


def _session(name: str, cores: int, rundir: str):
    from redactify_spark.plans.session import build_session
    tmp = os.path.join(rundir, "tmp")
    return build_session(
        f"perfbench-{name}", master=f"local[{cores}]",
        shuffle_partitions=cores,
        extra_conf={
            "spark.local.dir": os.path.join(rundir, "spark-local"),
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData "
                f"-XX:ActiveProcessorCount={cores + 1} "
                f"-Xms{DRIVER_HEAP} -XX:+AlwaysPreTouch",
        })


def _stop_spark(spark) -> None:
    """Stop Spark, end the JVM and wait for every process it started."""
    from pyspark import SparkContext

    from spans import descendants
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.time() + 20
    while descendants(os.getpid()) and time.time() < deadline:
        time.sleep(0.2)
    for pid in descendants(os.getpid()):
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass


def _install_tracing(tracer, w) -> None:
    from redactify_spark.plans import checkpoint, incremental

    def stage_name(spark, root, stage, *a, **k):
        if stage in ("mentions", "triples"):
            return f"tranche_{stage}"
        return stage

    def rows_out(span, args, result):
        span["attrs"]["rows_out"] = checkpoint.read_manifest(
            args[1], args[2])["row_count"]

    # incremental imported run_stage by name: wrap both bindings
    for mod in (checkpoint, incremental):
        tracer.wrap(mod, "run_stage", stage_name, rows_out)
    for fn in ("append_tranche", "refresh_graph"):
        tracer.wrap(incremental, fn, lambda *a, fn=fn, **k:
                    f"incremental.{fn}")
    # a query's span covers building and collecting it: some queries
    # run jobs while they build the plan
    if hasattr(w, "run_query"):
        tracer.wrap(w, "run_query",
                    lambda spark, name, fn: f"query.{name}")


def _spans(tracer, name: str) -> list[dict]:
    """Spans of the timed region; for a layer that only the output
    checks run (the incremental path of kg_batch), the checks' spans."""
    return (tracer.spans_by_name(name, "timed")
            or tracer.spans_by_name(name, "check"))


def _stage_metrics(tracer) -> dict:
    from workloads import STAGE_FIELDS, STAGES
    out = {}
    for stage in STAGES:
        spans = _spans(tracer, stage)
        vals = {f: [] for f in STAGE_FIELDS}
        for s in spans:
            vals["wall_s"].append(s["end"] - s["start"])
            vals["driver_s"].append(tracer.driver_s(s))
            vals["rows_out"].append(s["attrs"].get("rows_out", 0))
            for f in ("jobs", "shuffle_write_mb", "spill_mb",
                      "executor_run_s"):
                vals[f].append(s[f])
        for f in STAGE_FIELDS:
            out[f"stage.{stage}.{f}"] = (statistics.median(vals[f])
                                         if vals[f] else 0)
    return out


def _linking_metrics(spark, w) -> dict:
    from pyspark.sql import functions as F

    from redactify_spark.operators import linking as L
    got = w.mentions_for_linking(spark)
    if got is None:
        return {"linking.candidate_pairs": 0, "linking.verify_yield": 0.0,
                "linking.wide_buckets_dropped": 0}
    mentions, n_edges = got
    ents = (mentions.where(F.col("entity_group").isin(*L.LINKABLE_TYPES))
            .select("pseudo_key", "surface").dropDuplicates(["pseudo_key"]))
    bands = L.surface_bands(ents).localCheckpoint()
    pairs = L.candidate_pairs(bands).where(
        F.split(F.col("key_a"), "-").getItem(0)
        == F.split(F.col("key_b"), "-").getItem(0))
    n_cand = pairs.count()
    return {"linking.candidate_pairs": n_cand,
            "linking.verify_yield": n_edges / n_cand if n_cand else 0.0,
            "linking.wide_buckets_dropped": L.wide_bucket_count(bands)}


def _layer_metrics(spark, w, tracer, timed_wall: float) -> dict:
    from spans import kernel_profile
    from workloads import QUERIES, STAGES
    m = _stage_metrics(tracer)
    for fn in ("append_tranche", "refresh_graph"):
        walls = [s["end"] - s["start"]
                 for s in _spans(tracer, f"incremental.{fn}")]
        m[f"incremental.{fn}_s"] = statistics.median(walls) if walls else 0.0
    for q in QUERIES:
        spans = tracer.spans_by_name(f"query.{q}", "timed")
        for f, key in (("s", None), ("jobs", "jobs"),
                       ("shuffle_write_mb", "shuffle_write_mb")):
            vals = [(s["end"] - s["start"]) if key is None else s[key]
                    for s in spans]
            m[f"query.{q}.{f}"] = statistics.median(vals) if vals else 0
    persisted = getattr(w, "persistent_rdds", None) or [
        len(spark.sparkContext._jsc.getPersistentRDDs())]
    m["cache.persistent_rdds_left"] = max(persisted)
    m["checkpoint.out_bytes_per_in_byte"] = w.out_bytes_per_in_byte()
    m.update(_linking_metrics(spark, w))
    m.update(kernel_profile(w.kernel_texts()))
    stage_wall = sum(s["end"] - s["start"] for s in tracer.spans
                     if s["phase"] == "timed" and s["name"] in STAGES)
    m["trace.stage_cover_frac"] = stage_wall / sum(
        u["wall_s"] for u in w.units)
    m["trace.throughput_per_s"] = w.throughput()
    m["trace.bookkeeping_frac"] = tracer.bookkeeping_s / timed_wall
    return m


def _metric_units() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {m["name"]: m["unit"]
            for m in spec["end_to_end"] + spec["per_layer"]}


def run(args) -> int:
    from spans import MemorySampler, Tracer, steal_s, tree_cpu_s
    from workloads import WORKLOADS

    t_run = time.perf_counter()
    cores = max(1, min(MAX_TASK_SLOTS, len(os.sched_getaffinity(0)) - 1))
    run_id = f"{args.workload}-s{args.seed}-{os.getpid()}"
    base = os.path.join(ROOT, ".perfbench_runs")
    rundir = os.path.join(base, run_id)
    os.makedirs(os.path.join(rundir, "tmp"), exist_ok=True)
    os.environ.update({
        "TMPDIR": os.path.join(rundir, "tmp"),
        "SPARK_LOCAL_DIRS": os.path.join(rundir, "spark-local"),
        "SPARK_WAREHOUSE_DIR": os.path.join(rundir, "warehouse"),
        "SPARK_DRIVER_MEM": DRIVER_HEAP,
    })
    os.chdir(ROOT)
    w = WORKLOADS[args.workload](args.seed, args.size)
    spark, tracer = None, None
    attempted = failed = 0
    metrics: dict = {}
    try:
        spark = _session(args.workload, cores, rundir)
        w.stage(spark, os.path.join(rundir, "inputs"))
        w.warm(spark)
        setup_s = time.perf_counter() - t_run
        print(json.dumps({"config": {
            "workload": w.name, "seed": args.seed, "master":
            f"local[{cores}]", "size": args.size, "inputs":
            w.input_sizes(), "input_bytes": w.in_bytes,
            "seconds": args.seconds, "trace": args.trace,
            "setup_s": setup_s}}), flush=True)

        if args.trace:
            tracer = Tracer(spark, run_id)
            _install_tracing(tracer, w)
        t_start = time.perf_counter()
        cpu0, steal0 = tree_cpu_s(os.getpid()), steal_s()
        with MemorySampler() as mem:
            # start a unit only if a unit of the median length so far
            # still ends within --seconds; always run one
            while (not w.units
                   or time.perf_counter() - t_start + statistics.median(
                       u["wall_s"] for u in w.units) <= args.seconds):
                attempted += 1
                t0, c0 = time.perf_counter(), tree_cpu_s(os.getpid())
                try:
                    unit = w.unit(spark, len(w.units))
                except Exception:
                    traceback.print_exc()
                    failed += 1
                    break
                unit["wall_s"] = time.perf_counter() - t0
                unit["cpu_s"] = tree_cpu_s(os.getpid()) - c0
                w.units.append(unit)
                print(f"unit {len(w.units)}: {unit['wall_s']:.3f} s "
                      f"{json.dumps(unit.get('query_s', {}))}", flush=True)
        timed_wall = time.perf_counter() - t_start
        timed_cpu = tree_cpu_s(os.getpid()) - cpu0
        print(json.dumps({"timed": {
            "wall_s": timed_wall, "cpu_s": timed_cpu,
            "machine_steal_s": steal_s() - steal0}}), flush=True)
        for unit in w.units:
            w.finish(unit)

        if tracer:
            tracer.phase = "check"
        t0 = time.perf_counter()
        checks = w.check(spark) if w.units else []
        if args.trace and w.units:
            checks += w.traced_checks(spark)
        print(f"checks: {time.perf_counter() - t0:.3f} s", flush=True)
        for name, ok, detail in checks:
            print(f"check {name}: {'ok' if ok else 'FAILED'} ({detail})",
                  flush=True)
        attempted += len(checks)
        failed += sum(not ok for _, ok, _ in checks)

        if args.trace:
            tracer.restore()
            metrics = _layer_metrics(spark, w, tracer, timed_wall)
            tracer.write(os.path.join(base, f"trace-{run_id}.json"))
        else:
            metrics = {
                "setup_s": setup_s,
                "throughput_per_s": w.throughput(),
                "cpu_ms_per_item": w.cpu_ms_per_item(),
                "peak_rss_mb": mem.peak_bytes / 1e6,
            }
    except Exception:
        traceback.print_exc()
        attempted += 1
        failed += 1
    finally:
        if tracer:
            tracer.restore()
        if spark is not None:
            _stop_spark(spark)
        shutil.rmtree(rundir, ignore_errors=True)

    units = _metric_units()
    print(json.dumps({
        "correct": failed == 0,
        "attempted": max(attempted, 1),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units.get(k, "")}
                    for k, v in metrics.items()},
    }), flush=True)
    return 0 if failed == 0 else 1


def main(argv=None) -> int:
    from workloads import WORKLOADS
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--size", choices=("full", "tiny"), default="full")
    args = p.parse_args(argv)
    if not (os.path.isdir(os.path.join(ROOT, "redactify_spark"))
            and os.path.isfile(os.path.join(ROOT, "__spark_entry__.py"))):
        print(f"perfbench: no redactify_spark checkout at {ROOT}",
              file=sys.stderr)
        return 2

    def too_long(signum, frame):
        raise TimeoutError(f"run exceeded {WALL_LIMIT_S} s")

    def terminated(signum, frame):
        raise SystemExit(f"perfbench: stopped by signal {signum}")

    signal.signal(signal.SIGALRM, too_long)
    signal.signal(signal.SIGTERM, terminated)
    signal.alarm(WALL_LIMIT_S)
    return run(args)


if __name__ == "__main__":
    _clean_imports()
    sys.exit(main())
