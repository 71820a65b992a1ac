"""Benchmark entry point.

    python3 perfbench/run.py --workload {lakehouse,search} --seed N \
        --seconds S --trace {0,1} [--tiny]

Run from the root of a checkout. It builds its tables under
``.perfbench/`` there and runs a closed loop (one client, the next op sent
when the previous returns) for ``--seconds``, ending on a whole cycle of the
workload's op mix. Every result is checked against an oracle that does not
use the code under test. It then deletes the tables and prints two JSON
lines: a report with every metric that applies to the workload, then the
result line, whose ``metrics`` are those BENCHMARK.json declares
(end-to-end with ``--trace 0``, per-layer with ``--trace 1``). ``--tiny``
shrinks every input for the smoke test.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import platform
import shlex
import shutil
import signal
import sys
import time

from harness import WORKLOADS

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--tiny", action="store_true",
                   help="tiny inputs, for the smoke test of the benchmark itself")
    return p.parse_args(argv)


def driver_memory_gb() -> int:
    """A quarter of the machine, within 1..4 GB: the working set is under
    20 MB, and the program's own default (48g) exceeds small machines."""
    with open("/proc/meminfo") as fh:
        total_kb = int(fh.readline().split()[1])
    return max(1, min(4, total_kb // (4 * 1024 * 1024)))


def set_environment(work: str) -> None:
    """Point the program, Spark and its Python workers at the checkout.
    Must run before pyspark starts the JVM."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    env = os.environ
    env["PYTHONPATH"] = os.pathsep.join(
        [REPO] + ([env["PYTHONPATH"]] if env.get("PYTHONPATH") else []))
    env["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    env["SPARK_GRAFT_DRIVER_MEM"] = f"{driver_memory_gb()}g"
    env["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    env["TMPDIR"] = tmp
    confs = ["spark.ui.showConsoleProgress=false",
             f"spark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
             f"spark.driver.extraJavaOptions=-Djava.io.tmpdir={tmp} -XX:-UsePerfData"]
    env["PYSPARK_SUBMIT_ARGS"] = " ".join(
        [f"--conf {shlex.quote(c)}" for c in confs] + ["pyspark-shell"])
    sys.path.insert(0, REPO)


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM (and the Python workers it
    forked) to exit."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()   # the launcher exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)


def provenance(run) -> dict:
    import pyarrow
    import pyspark

    from harness import source_digest
    return {
        "seed": run.seed,
        "seconds": run.seconds,
        "tiny": run.tiny,
        "source_sha256": source_digest(os.path.join(REPO, "lance_trino_spark")),
        "git_rev": _git_rev(),
        "nproc": len(os.sched_getaffinity(0)),
        "driver_memory": os.environ["SPARK_GRAFT_DRIVER_MEM"],
        "python": platform.python_version(),
        "spark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
    }


def _git_rev() -> str | None:
    head = os.path.join(REPO, ".git", "HEAD")
    try:
        with open(head) as fh:
            ref = fh.read().strip()
        if ref.startswith("ref: "):
            with open(os.path.join(REPO, ".git", ref[5:])) as fh:
                return fh.read().strip()
        return ref
    except OSError:
        return None   # a checkout without git metadata


def declared_metrics(trace: bool) -> list[str]:
    """The metric names BENCHMARK.json declares for the result line."""
    with open(os.path.join(REPO, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    return [m["name"] for m in spec["per_layer" if trace else "end_to_end"]]


def execute(args, work: str) -> tuple[dict, dict]:
    from harness import END_TO_END, PER_LAYER, Run, median, peak_rss_mb
    from lance_trino_spark.session import get_spark

    run = Run(args.seed, args.seconds, bool(args.trace), args.tiny, work)
    module = importlib.import_module(args.workload)
    t0 = time.perf_counter()
    spark = get_spark(f"perfbench-{args.workload}") if module.Workload.uses_spark else None
    session_s = time.perf_counter() - t0
    run.spark = spark
    pids = [os.getpid()]
    if spark is not None and getattr(spark.sparkContext._gateway, "proc", None):
        pids.append(spark.sparkContext._gateway.proc.pid)
    try:
        workload = module.Workload(run, spark)
        setup_s = time.perf_counter() - t0
        # closed loop for --seconds, ending on a whole cycle of the op mix
        deadline = time.perf_counter() + args.seconds
        i = 0
        while time.perf_counter() < deadline or i % workload.min_steps:
            workload.step(i)
            i += 1
        workload.finish()
        rss = peak_rss_mb(pids)
    finally:
        if spark is not None:
            t_stop = time.perf_counter()
            stop_spark(spark)
            run.phases["stop"] = time.perf_counter() - t_stop

    v = run.values
    v["setup_s"] = setup_s
    v["peak_rss_mb"] = rss
    run.e2e_common()
    if run.trace and spark is not None:
        run.add("session.start_s", session_s)
    if run.trace:
        os.makedirs(os.path.join(REPO, ".perfbench"), exist_ok=True)
        run.tracer.dump(os.path.join(
            REPO, ".perfbench", f"trace-{args.workload}-seed{args.seed}.json"))

    def described(registry: dict, values: dict) -> dict:
        out = {}
        for name, (unit, better, wls) in registry.items():
            if args.workload in wls and name in values:
                out[name] = {"value": values[name], "unit": unit, "better": better}
        return out

    e2e = described(END_TO_END, v)
    for name, family in (("read_p50_ms", "read"), ("read_p90_ms", "read"),
                         ("write_p50_ms", "write"), ("write_p90_ms", "write")):
        if name in e2e:
            e2e[name].update(run.sample_info(family))
    layers = described(PER_LAYER, run.layer_values()) if run.trace else {}
    report = {
        "workload": args.workload,
        "trace": bool(args.trace),
        "provenance": provenance(run),
        "phases_s": ({"session": session_s} if spark is not None else {})
                    | run.phases,
        "loop_ops": i,
        "attempted": run.attempted,
        "failed": run.failed,
        "failures": run.failures[:20],
        "end_to_end": e2e,
        "per_layer": layers,
        "ops": {name: {"n": len(xs), "median_ms": 1e3 * median(xs)}
                for name, xs in sorted(run.by_op.items())},
    }
    declared = declared_metrics(run.trace)
    source = layers if run.trace else e2e
    missing = [n for n in declared if n not in source]
    if missing:
        raise RuntimeError(f"run produced no value for {missing}")
    result = {
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {n: {"value": source[n]["value"], "unit": source[n]["unit"]}
                    for n in declared},
    }
    return report, result


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(REPO, "lance_trino_spark")):
        print("perfbench: lance_trino_spark/ is not next to perfbench/; "
              "run from the root of a full checkout", file=sys.stderr)
        return 2
    # a terminated run still stops Spark and deletes its tables
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    work = os.path.join(REPO, ".perfbench", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    try:
        set_environment(work)
        report, result = execute(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"perfbench_report": report}))
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
