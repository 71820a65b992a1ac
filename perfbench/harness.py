"""Shared machinery of the benchmark: the metric registry, the closed-loop
operation recorder, the span tracer, statistics, Spark status readings and
process/disk measurements.

Nothing here imports ``lance_trino_spark``; the workloads do, after
``run.py`` has set up the environment.
"""

from __future__ import annotations

import hashlib
import json
import os
import sys
import time
import traceback
from collections import defaultdict
from contextlib import contextmanager

WORKLOADS = ("lakehouse", "search")
ALL = WORKLOADS

# End-to-end metrics: name -> (unit, better, workloads that define it).
# BENCHMARK.json declares a subset of those defined on every workload; the
# report line prints every metric that applies to the workload.
END_TO_END = {
    "setup_s": ("s", "lower", ALL),
    "read_p50_ms": ("ms", "lower", ALL),
    "read_p90_ms": ("ms", "lower", ALL),
    "scan_rows_per_s": ("rows/s", "higher", ALL),
    "space_amp": ("x", "lower", ALL),
    "peak_rss_mb": ("MB", "lower", ALL),
    "write_p50_ms": ("ms", "lower", ALL),
    "write_p90_ms": ("ms", "lower", ALL),
    "parquet_ratio": ("x", "lower", ("lakehouse",)),
    "ingest_rows_per_s": ("rows/s", "higher", ALL),
    "maint_s": ("s", "lower", ALL),
    "write_amp": ("x", "lower", ALL),
    "recall_at_10": ("ratio", "higher", ("search",)),
    "error_rate": ("ratio", "lower", ALL),
}

# Per-layer metrics of the traced run: name -> (unit, better, workloads).
# ``search`` starts no Spark session, so the session, catalog, planning,
# Spark-bridge, DML, stream and compaction layers exist on ``lakehouse``
# only.
PER_LAYER = {
    "session.start_s": ("s", "lower", ("lakehouse",)),
    "catalog.route_ms": ("ms", "lower", ("lakehouse",)),
    "lance_datasource.plan_ms": ("ms", "lower", ("lakehouse",)),
    "lance_datasource.partitions_planned": ("count", "lower", ("lakehouse",)),
    "lance_datasource.fragments_pruned": ("count", "higher", ("lakehouse",)),
    "lance_datasource.useful_partition_ratio": ("ratio", "higher", ("lakehouse",)),
    "lance_native.manifest_open_ms": ("ms", "lower", ALL),
    "lance_native.versions": ("count", "lower", ALL),
    "lance_native.decode_ms": ("ms", "lower", ALL),
    "lance_native.rows_decoded": ("count", "lower", ALL),
    "lance_native.decode_rows_per_s": ("rows/s", "higher", ALL),
    "lance_native.late_mat_ratio": ("ratio", "higher", ALL),
    "spark.jobs": ("count", "lower", ("lakehouse",)),
    "spark.stages": ("count", "lower", ("lakehouse",)),
    "spark.tasks": ("count", "lower", ("lakehouse",)),
    "spark.executor_run_ms": ("ms", "lower", ("lakehouse",)),
    "spark.shuffle_bytes": ("B", "lower", ("lakehouse",)),
    "spark.bridge_ms": ("ms", "lower", ("lakehouse",)),
    "trace.overhead_ms": ("ms", "lower", ALL),
    "dataset.open_ms": ("ms", "lower", ("lakehouse",)),
    "fragments.decode_ms": ("ms", "lower", ("lakehouse",)),
    "fragments.rows_decoded": ("count", "lower", ("lakehouse",)),
    "lance_native.stage_ms": ("ms", "lower", ALL),
    "lance_native.commit_ms": ("ms", "lower", ALL),
    "lance_native.files_written": ("count", "lower", ALL),
    "lance_native.bytes_written": ("B", "lower", ALL),
    "dml.delete_ms": ("ms", "lower", ("lakehouse",)),
    "dml.update_ms": ("ms", "lower", ("lakehouse",)),
    "dml.merge_ms": ("ms", "lower", ("lakehouse",)),
    "dml.bytes_rewritten": ("B", "lower", ("lakehouse",)),
    "stream.start_ms": ("ms", "lower", ("lakehouse",)),
    "stream.run_ms": ("ms", "lower", ("lakehouse",)),
    "stream.stop_ms": ("ms", "lower", ("lakehouse",)),
    "compact.ms": ("ms", "lower", ("lakehouse",)),
    "compact.bytes_rewritten": ("B", "lower", ("lakehouse",)),
    "cleanup.ms": ("ms", "lower", ALL),
    "index.ensure_ms": ("ms", "lower", ALL),
    "index.distributed_share": ("ratio", "lower", ALL),
    "search.index_ms": ("ms", "lower", ("search",)),
    "search.fresh_tail_ms": ("ms", "lower", ("search",)),
    "search.fts_ms": ("ms", "lower", ("search",)),
}


# ----------------------------------------------------------------- statistics
def percentile(xs, p: float) -> float:
    """Linear-interpolated percentile of a non-empty sample."""
    s = sorted(xs)
    k = (len(s) - 1) * p / 100.0
    lo = int(k)
    hi = min(lo + 1, len(s) - 1)
    return float(s[lo] + (s[hi] - s[lo]) * (k - lo))


def median(xs) -> float:
    return percentile(xs, 50.0)


def tail_percentile(n: int) -> float | None:
    """Highest of the usual percentiles with at least ten samples beyond
    it, or None when even the median lacks them."""
    for p in (99.9, 99.0, 95.0, 90.0, 75.0, 50.0):
        if n * (1.0 - p / 100.0) >= 10:
            return p
    return None


# --------------------------------------------------------------------- tracer
class Tracer:
    """In-memory spans: name, start, end, parent span, op id. Written out
    once, when the run ends. Disabled tracers record nothing."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.op_id = 0
        self.t0 = time.perf_counter()

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        rec = {"name": name, "op": self.op_id,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.perf_counter() - self.t0, "end": None}
        rec.update(attrs)
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter() - self.t0

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump(self.spans, fh)


# ------------------------------------------------------------------- recorder
class Run:
    """One benchmark run: the closed-loop op recorder plus everything the
    result line needs. ``op`` times a call, counts it as attempted, and
    counts it failed when it raises or its oracle check rejects it."""

    def __init__(self, seed: int, seconds: float, trace: bool, tiny: bool,
                 work: str):
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.tiny = tiny
        self.work = work
        self.tracer = Tracer(trace)
        self.lat: dict[str, list[float]] = defaultdict(list)
        self.by_op: dict[str, list[float]] = defaultdict(list)
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self.values: dict[str, float] = {}   # workload-computed metrics
        self.layer: dict[str, list[float]] = defaultdict(list)
        self.trace_cost_s = 0.0              # wall spent on tracing work
        self.spark = None
        self.last_jobs = 0                   # Spark jobs of the last traced op
        self.phases: dict[str, float] = {}

    def op(self, family: str, name: str, fn, check=None):
        """Run one operation. ``family`` is read/write/maint; ``check``
        gets the result and returns True when it matches the oracle."""
        self.attempted += 1
        self.tracer.op_id = self.attempted
        group = None
        if self.trace and self.spark is not None:
            t = time.perf_counter()
            group = f"perfbench-op-{self.attempted}"
            self.spark.sparkContext.setJobGroup(group, name)
            self.trace_cost_s += time.perf_counter() - t
        try:
            with self.tracer.span(name, family=family):
                t0 = time.perf_counter()
                result = fn()
                dt = time.perf_counter() - t0
        except Exception as e:  # a failed op is counted, the loop goes on
            self.fail(name, f"raised {type(e).__name__}: {e}")
            traceback.print_exc(file=sys.stderr)
            return None, None
        self.lat[family].append(dt)
        self.by_op[name].append(dt)
        if group is not None:
            t = time.perf_counter()
            self.spark_stats(group)
            self.spark.sparkContext.setJobGroup("perfbench-idle", "idle")
            self.trace_cost_s += time.perf_counter() - t
        if check is not None:
            try:
                ok, why = check(result), "result differs from the oracle"
            except Exception as e:
                traceback.print_exc(file=sys.stderr)
                ok, why = False, f"check raised {e!r}"
            if not ok:
                self.fail(name, why)
        return result, dt

    def fail(self, name: str, why: str) -> None:
        self.failed += 1
        self.failures.append(f"{name}: {why}")
        print(f"perfbench: op {name} failed: {why}", file=sys.stderr)

    @contextmanager
    def phase(self, name: str):
        """Time one phase of the run (set-up steps); the report lists them."""
        t = time.perf_counter()
        try:
            yield
        finally:
            self.phases[name] = time.perf_counter() - t

    def add(self, layer_metric: str, value: float) -> None:
        self.layer[layer_metric].append(float(value))

    @contextmanager
    def tracing(self):
        """Account the wall time of a block of tracing-only work."""
        t = time.perf_counter()
        try:
            yield
        finally:
            self.trace_cost_s += time.perf_counter() - t

    def routed_sql(self, catalog, sql: str) -> tuple:
        """Run ``sql`` through ``LanceCatalog.sql`` and return its first
        row; the time until the catalog hands back a DataFrame is the
        catalog's routing time."""
        with self.tracer.span("catalog.route"):
            t = time.perf_counter()
            df = catalog.sql(sql)
            route_ms = 1e3 * (time.perf_counter() - t)
        if self.trace:
            self.add("catalog.route_ms", route_ms)
        return tuple(df.collect()[0])

    # ------------------------------------------------------------ spark
    def spark_stats(self, group: str) -> None:
        """Jobs, stages, tasks, executor run time and shuffle bytes of the
        Spark jobs one op ran, read from the JVM status store."""
        sc = self.spark.sparkContext
        tracker = sc.statusTracker()
        store = sc._jsc.sc().statusStore()
        jobs = list(tracker.getJobIdsForGroup(group))
        stages = tasks = run_ms = shuffle = 0
        for j in jobs:
            info = tracker.getJobInfo(j)
            if info is None:
                continue
            for sid in info.stageIds:
                stages += 1
                try:
                    sd = store.stageAttempt(sid, 0, False, None, False, None)._1()
                except Exception:  # stage skipped or not retained
                    continue
                tasks += sd.numTasks()
                run_ms += sd.executorRunTime()
                shuffle += sd.shuffleWriteBytes()
        self.add("spark.jobs", len(jobs))
        self.add("spark.stages", stages)
        self.add("spark.tasks", tasks)
        self.add("spark.executor_run_ms", run_ms)
        self.add("spark.shuffle_bytes", shuffle)
        self.last_jobs = len(jobs)

    # ----------------------------------------------------------- results
    def sample_info(self, family: str) -> dict:
        """Sample count of an op family's latencies, and the highest
        percentile with at least ten samples beyond it."""
        n = len(self.lat.get(family, []))
        return {"samples": n, "tail_percentile": tail_percentile(n)}

    def e2e_common(self) -> None:
        """Latency metrics every workload shares, from the op samples."""
        reads = self.lat["read"]
        self.values["read_p50_ms"] = 1e3 * median(reads)
        self.values["read_p90_ms"] = 1e3 * percentile(reads, 90.0)
        writes = self.lat.get("write")
        if writes:
            self.values["write_p50_ms"] = 1e3 * median(writes)
            self.values["write_p90_ms"] = 1e3 * percentile(writes, 90.0)
        self.values["error_rate"] = self.failed / max(1, self.attempted)

    def layer_values(self) -> dict[str, float]:
        """Per-layer values: times are medians per call, counts are means
        per op that touched the layer (each metric's doc in README.md)."""
        out = {}
        for name, xs in self.layer.items():
            if not xs:
                continue
            unit = PER_LAYER[name][0]
            out[name] = median(xs) if unit in ("ms", "s") else sum(xs) / len(xs)
        out["trace.overhead_ms"] = 1e3 * self.trace_cost_s / max(1, self.attempted)
        return out


# ------------------------------------------------------------ measurements
def peak_rss_mb(pids) -> float:
    """Sum of VmHWM (peak resident set) over the given processes."""
    total_kb = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except OSError:
            continue
    return total_kb / 1024.0


def snapshot(root: str) -> dict[str, tuple[int, float]]:
    """{relative path: (size, mtime)} of every file under ``root``."""
    out = {}
    for d, _, files in os.walk(root):
        for f in files:
            p = os.path.join(d, f)
            try:
                st = os.stat(p)
            except OSError:
                continue
            out[os.path.relpath(p, root)] = (st.st_size, st.st_mtime)
    return out


def tree_bytes(root: str) -> int:
    return sum(size for size, _ in snapshot(root).values())


def new_files(before: dict, after: dict) -> dict[str, tuple[int, float]]:
    return {p: v for p, v in after.items() if before.get(p) != v}


def record_write(run: Run, created: dict, start_wall: float) -> None:
    """Layer numbers of one native write, seen from outside through the
    files it created: data files and bytes written; stage time from the op
    start to the last data file, commit time from there to the manifest."""
    data = [m for p, (_, m) in created.items() if p.startswith("data")]
    manifests = [m for p, (_, m) in created.items() if p.startswith("_versions")]
    run.add("lance_native.files_written", len(data))
    run.add("lance_native.bytes_written", sum(s for s, _ in created.values()))
    if data and manifests:
        run.add("lance_native.stage_ms", 1e3 * max(0.0, max(data) - start_wall))
        run.add("lance_native.commit_ms", 1e3 * max(0.0, max(manifests) - max(data)))


def source_digest(pkg_dir: str) -> str:
    """SHA-256 over the package's Python sources, for provenance in a
    checkout that is not a git repository."""
    h = hashlib.sha256()
    for d, dirs, files in os.walk(pkg_dir):
        dirs.sort()
        for f in sorted(files):
            if f.endswith(".py"):
                p = os.path.join(d, f)
                h.update(os.path.relpath(p, pkg_dir).encode())
                with open(p, "rb") as fh:
                    h.update(fh.read())
    return h.hexdigest()[:16]
