"""Serial-vs-distributed routing for index and compaction builds.

Every index family and compaction has a serial twin that writes the same
files as its Spark fan-out (the twin is the fan-out's bit-parity
reference). Below a per-family row threshold the fan-out's fixed cost — a
scan plan, a task stage, often a shuffle: a second or more — dwarfs the
work, so the build runs in-process even when a session is given. The
thresholds live in one table and every call site asks `fanout`; each site
keeps its own row measure (manifest row counts — metadata only, no job).
Tests force a distributed arm with
``monkeypatch.setitem(DISTRIBUTED_MIN_ROWS, kind, 0)``.
"""

from __future__ import annotations

DISTRIBUTED_MIN_ROWS = {
    # Own-format scalar sidecars (one numpy sort per fragment) and the
    # native btree (r14 measure: 150k-row fixture — serial 0.2-0.4 s vs
    # distributed 2.6-10.3 s; the executor-staged orderBy fan-out costs
    # ~2.5 s fixed). The serial twin's driver footprint is the sorted
    # (value, addr) numpy pair array — ~16-48 MB at this threshold,
    # bounded; corpus-scale builds go distributed.
    "scalar": 1_048_576,
    # Own-format IVF postings sidecars: cell assignment is CPU-heavy per
    # row, and the per-fragment fan-out costs ~1 s fixed.
    "ivf_postings": 8192,
    # Native IVF extend (r14, lf47 profile): the fan-out costs a
    # DataSource plan + two Python-UDF stages + a shuffle — seconds of
    # fixed overhead — while the serial encode takes milliseconds at this
    # size; real ingest deltas go distributed.
    "ivf_extend": 65536,
    # Own-format HNSW graphs: insertion is ~10x costlier per row than IVF
    # cell assignment (measured same-session: 2000-row corpus serial
    # 1.05 s vs distributed 0.86 s, but a 500-row ingest batch serial
    # 0.44 s vs 0.86 s) — its crossover sits lower.
    "hnsw": 1024,
    # Native inverted indexes (r14 measure: sf0.1 documents, 4.5k docs —
    # ngram-v1 serial 3.3 s vs distributed 9.9 s, whitespace-v1 serial
    # 0.6 s vs 1.5 s; the fan-out is a DataSource scan plan + a
    # mapInPandas stage + the bucket shuffle of one row per (doc, token)).
    "fts": 8192,
    # Native compaction (r15 measure, st13 profile: each in-line
    # compaction of a ~15k-row streaming sink paid ~1.1 s of
    # distributed-rewrite fixed cost — scan plan + range shuffle + staging
    # stage — for ~40 ms of data work). Counted in LIVE victim rows; the
    # serial arm cuts the same rows_per_fragment chunks and its driver
    # footprint is bounded by the threshold.
    "compact": 262_144,
}


def fanout(kind: str, rows: int, spark):
    """The session to fan a ``kind`` build of ``rows`` rows out on, or
    None when it should run in-process."""
    if spark is not None and rows >= DISTRIBUTED_MIN_ROWS[kind]:
        return spark
    return None


def run_items(spark, kind: str, rows: int, items: list, fn) -> int:
    """Call ``fn(*item)`` once per item: in-process when `fanout` says
    serial, otherwise in one ``mapInPandas`` stage with one task per item
    (no shuffle). ``fn`` and ``items`` are shipped to the executors, so
    both must pickle. Returns the number of items built."""
    spark = fanout(kind, rows, spark) if items else None
    if spark is None:
        for item in items:
            fn(*item)
        return len(items)

    def _run(batches):
        for pdf in batches:
            for i in pdf["id"]:
                fn(*items[i])
            yield pdf

    n = len(items)
    done = spark.range(0, n, 1, n).mapInPandas(_run, "id long").count()
    if done != n:
        raise RuntimeError(
            f"{kind} fan-out built {done} of {n} items")
    return done
