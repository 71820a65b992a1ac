"""``lakehouse``: one Spark session serving analytics and ingestion, the way
a TPC-H power run follows its query stream with refresh functions.

One cycle runs the seven analytics queries of ``scan.Analytics`` (over a
static 606k-row lineitem table, so its manifests stay cached), then the six
write steps of ``ingest.Lifecycle`` (on an orders table that gets a new
version with every op). Reads, writes and maintenance are timed as separate
op families; every result is checked against its own oracle.
"""

from __future__ import annotations

from ingest import CYCLE, Lifecycle
from scan import SHAPES, Analytics

# (component, step within its own cycle): the queries, then the writes
SCHEDULE = ([("scan", j) for j in range(len(SHAPES))]
            + [("ingest", k) for k in range(len(CYCLE))])


class Workload:
    uses_spark = True
    min_steps = len(SCHEDULE)   # one whole cycle of the op mix per run

    def __init__(self, run, spark):
        self.run = run
        self.scan = Analytics(run, spark)
        self.ingest = Lifecycle(run, spark)

    def step(self, i: int) -> None:
        part, j = SCHEDULE[i % len(SCHEDULE)]
        cycle = i // len(SCHEDULE)
        if part == "scan":
            self.scan.step(cycle * len(SHAPES) + j)
        else:
            self.ingest.step(cycle * len(CYCLE) + j)

    def finish(self) -> None:
        self.ingest.finish()
        scan, ingest, run, v = self.scan, self.ingest, self.run, self.run.values
        v["parquet_ratio"] = scan.lance_s / scan.twin_s
        v["scan_rows_per_s"] = ((scan.full_rows + ingest.full_rows)
                                / (scan.full_s + ingest.full_s))
        v["space_amp"] = ((scan.table_bytes() + ingest.table_bytes())
                          / (scan.live_bytes + ingest.model.arrow_bytes()))
        v["maint_s"] = sum(run.lat["maint"])
        v["ingest_rows_per_s"] = ingest.user_rows / sum(run.lat["write"])
        v["write_amp"] = ingest.bytes_written / ingest.user_bytes
