"""Outside-in measurement: spans with Spark counters, memory, kernel timing.

Nothing here edits the program.  `Tracer.wrap` replaces a module
attribute (a layer's public function) with a wrapper that records a
span around each call and restores the original on `restore()`.  Each
span runs under its own Spark job group; when the span ends the
listener bus is drained and the status store is read for the group's
jobs, so the counters work with the Spark UI off.

Span fields: name, id, parent, run, start, end (epoch seconds), the
Spark jobs run under it, their shuffle-write and spill megabytes and
executor run time, and the job intervals used for `driver_s` (span
time not covered by any Spark job).
"""

from __future__ import annotations

import functools
import json
import os
import threading
import time

from py4j.protocol import Py4JJavaError


def _job_union_s(intervals: list[tuple[float, float]], start: float,
                 end: float) -> float:
    """Length of the union of `intervals` clipped to [start, end]."""
    total, cur_a, cur_b = 0.0, None, None
    for a, b in sorted((max(a, start), min(b, end)) for a, b in intervals):
        if b <= a:
            continue
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


class Tracer:
    """In-memory span recorder for one benchmark run."""

    def __init__(self, spark, run_id: str):
        self.sc = spark.sparkContext
        self.run_id = run_id
        self.spans: list[dict] = []
        self.bookkeeping_s = 0.0
        self.phase = "timed"
        self._stack: list[dict] = []
        self._counted_stages: set[int] = set()
        self._patches: list[tuple[object, str, object]] = []

    # -- spans -----------------------------------------------------------

    def call(self, name: str, fn, *args, attrs: dict | None = None, **kw):
        parent = self._stack[-1] if self._stack else None
        span = {"id": len(self.spans), "name": name, "run": self.run_id,
                "parent": parent["id"] if parent else None,
                "phase": self.phase, "attrs": dict(attrs or {})}
        self.spans.append(span)
        self._stack.append(span)
        gid = f"{self.run_id}-{span['id']}"
        self.sc.setJobGroup(gid, name)
        span["start"] = time.time()
        try:
            return fn(*args, **kw)
        finally:
            span["end"] = time.time()
            self._stack.pop()
            if parent:
                self.sc.setJobGroup(f"{self.run_id}-{parent['id']}",
                                    parent["name"])
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)
            t0 = time.perf_counter()
            span.update(self._group_counters(gid))
            self.bookkeeping_s += time.perf_counter() - t0

    def _group_counters(self, gid: str) -> dict:
        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        out = {"jobs": 0, "shuffle_write_mb": 0.0, "spill_mb": 0.0,
               "executor_run_s": 0.0, "job_intervals": []}
        for jid in sorted(self.sc.statusTracker().getJobIdsForGroup(gid)):
            job = store.job(jid)
            out["jobs"] += 1
            sub, done = job.submissionTime(), job.completionTime()
            if sub.isDefined() and done.isDefined():
                out["job_intervals"].append(
                    (sub.get().getTime() / 1000.0,
                     done.get().getTime() / 1000.0))
            ids = job.stageIds()
            for i in range(ids.size()):
                sid = int(ids.apply(i))
                # a reused shuffle stage shows up again in later jobs;
                # count each stage once, in the span that ran it
                if sid in self._counted_stages:
                    continue
                self._counted_stages.add(sid)
                try:
                    st = store.lastStageAttempt(sid)
                except Py4JJavaError:   # stage never submitted
                    continue
                out["shuffle_write_mb"] += st.shuffleWriteBytes() / 1e6
                out["spill_mb"] += st.diskBytesSpilled() / 1e6
                out["executor_run_s"] += st.executorRunTime() / 1000.0
        return out

    # -- wrapping layer functions -----------------------------------------

    def wrap(self, module, attr: str, name_of=None, after=None) -> None:
        """Replace module.attr by a span-recording wrapper.  `name_of`
        maps the call's arguments to a span name; `after(span, args,
        result)` may add attributes once the call returned."""
        original = getattr(module, attr)

        @functools.wraps(original)
        def traced(*args, **kw):
            sid = len(self.spans)
            name = name_of(*args, **kw) if name_of else attr
            result = self.call(name, original, *args, **kw)
            if after:
                after(self.spans[sid], args, result)
            return result

        self._patches.append((module, attr, original))
        setattr(module, attr, traced)

    def restore(self) -> None:
        while self._patches:
            module, attr, original = self._patches.pop()
            setattr(module, attr, original)

    # -- reading back -----------------------------------------------------

    def spans_by_name(self, name: str, phase: str | None = None
                      ) -> list[dict]:
        return [s for s in self.spans if s["name"] == name
                and (phase is None or s["phase"] == phase)]

    def subtree_intervals(self, span: dict) -> list[tuple[float, float]]:
        ivs = list(span.get("job_intervals", []))
        for s in self.spans:
            if s["parent"] == span["id"]:
                ivs += self.subtree_intervals(s)
        return ivs

    def driver_s(self, span: dict) -> float:
        return (span["end"] - span["start"]) - _job_union_s(
            self.subtree_intervals(span), span["start"], span["end"])

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({"run": self.run_id,
                       "bookkeeping_s": self.bookkeeping_s,
                       "spans": self.spans}, f, indent=1)


# -- process-tree memory ---------------------------------------------------


def _process_tree(root: int) -> list[int]:
    """`root` and every descendant, from the ppid field of /proc/*/stat."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo += children.get(pid, [])
    return out


def tree_pss_bytes(root: int) -> int:
    """Summed proportional set size of the tree.  Unlike RSS, a page two
    processes share counts once: a child the JVM forks to run a command
    shares all of the JVM's memory until it execs, and summed RSS
    counted the JVM twice (5.6 GB against 3.2 GB) when a sample hit it."""
    total = 0
    for pid in _process_tree(root):
        try:
            with open(f"/proc/{pid}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        total += int(line.split()[1]) * 1024
                        break
        except OSError:
            continue
    return total


def tree_cpu_s(root: int) -> float:
    """CPU seconds (user + system, with reaped children) of the tree."""
    ticks = 0
    for pid in _process_tree(root):
        try:
            with open(f"/proc/{pid}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        fields = stat[stat.rindex(")") + 2:].split()
        ticks += sum(int(x) for x in fields[11:15])
    return ticks / os.sysconf("SC_CLK_TCK")


def steal_s() -> float:
    """Machine-wide CPU time stolen by the hypervisor so far."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / os.sysconf("SC_CLK_TCK")


def descendants(root: int) -> list[int]:
    return [p for p in _process_tree(root) if p != root]


class MemorySampler:
    """Background sampler of the summed PSS of this process tree (the
    driver, the JVM and the Python workers)."""

    def __init__(self, interval_s: float = 0.2):
        self.interval_s = interval_s
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        pid = os.getpid()
        while not self._stop.is_set():
            self.peak_bytes = max(self.peak_bytes, tree_pss_bytes(pid))
            self._stop.wait(self.interval_s)

    def __enter__(self) -> "MemorySampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()


# -- detection kernel, in process -------------------------------------------

KERNEL_DETECTORS = ("detect_presidio", "detect_regex", "detect_contextual",
                    "detect_fallback_names", "post_process")


def kernel_profile(texts: list[str], warmup: int = 50) -> dict[str, float]:
    """ms/doc of `kernel.detect_document` and of each detector it calls,
    on one core, by wrapping the kernel's module functions; `other` is
    detect_document minus the timed detectors."""
    from redactify_spark.detect import kernel

    for t in texts[:warmup]:
        kernel.detect_document(t)
    acc = dict.fromkeys(KERNEL_DETECTORS, 0.0)
    originals = {n: getattr(kernel, n) for n in KERNEL_DETECTORS}

    def timed(name, fn):
        def w(*a, **k):
            t0 = time.perf_counter()
            try:
                return fn(*a, **k)
            finally:
                acc[name] += time.perf_counter() - t0
        return w

    total, mentions = 0.0, 0
    try:
        for n, fn in originals.items():
            setattr(kernel, n, timed(n, fn))
        for t in texts:
            t0 = time.perf_counter()
            mentions += len(kernel.detect_document(t))
            total += time.perf_counter() - t0
    finally:
        for n, fn in originals.items():
            setattr(kernel, n, fn)
    per_doc = 1000.0 / len(texts)
    out = {f"kernel.{n}_ms": acc[n] * per_doc for n in KERNEL_DETECTORS}
    out["kernel.detect_document_ms"] = total * per_doc
    out["kernel.other_ms"] = (total - sum(acc.values())) * per_doc
    out["kernel.mentions_per_doc"] = mentions / len(texts)
    return out
