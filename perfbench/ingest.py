"""The ingest half of ``lakehouse``: the write lifecycle of a native
``.lance`` orders table.

The cycle is an append through ``format("lance")``, a predicate delete, an
update, a merge-upsert, a ``writeStream.format("lance")`` micro-batch from a
parquet drop directory, then maintenance (compaction, scalar-index ensure,
version cleanup) and a verification read through the catalog, checked
against the benchmark's own model of the live rows (count, key sum, value
sum). Every op commits a new version, so reads miss the manifest cache.
"""

from __future__ import annotations

import os
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

import datagen
from harness import new_files, record_write, snapshot, tree_bytes
from replay import replay_scan
from lance_trino_spark.catalog import LanceCatalog
from lance_trino_spark.format.lance_native import (
    create_native_dataset,
    ensure_native_scalar_index,
    native_cleanup_old_versions,
    native_compact,
    native_delete_where,
    native_merge_into,
    native_update_where,
)
from lance_trino_spark.sources.lance_datasource import register_lance_datasource

CYCLE = ("append", "delete", "update", "merge", "stream", "maintain")
KEEP_VERSIONS = 3
APP_ID = "perfbench-ingest"
VERIFY_SQL = ("SELECT count(*) AS n, sum(o_orderkey) AS k, sum(o_total_c) AS t "
              "FROM bench.orders")


class Model:
    """The live rows as the benchmark expects them: key -> (cust, total)."""

    def __init__(self, tbl: pa.Table):
        self.rows = dict(zip(tbl.column("o_orderkey").to_pylist(),
                             zip(tbl.column("o_custkey").to_pylist(),
                                 tbl.column("o_total_c").to_pylist())))

    def add(self, tbl: pa.Table) -> None:
        self.rows.update(Model(tbl).rows)

    def keys_of(self, cust: int) -> list[int]:
        return [k for k, (c, _) in self.rows.items() if c == cust]

    def expected(self) -> tuple:
        return (len(self.rows), sum(self.rows),
                sum(t for _, t in self.rows.values()))

    def arrow_bytes(self, keys=None) -> int:
        """Arrow size of the given live rows (all when None): three int64
        columns and a one-letter status."""
        n = len(self.rows) if keys is None else len(keys)
        return pa.table({"k": pa.array([0] * n, pa.int64()),
                         "c": pa.array([0] * n, pa.int64()),
                         "t": pa.array([0] * n, pa.int64()),
                         "s": pa.array(["O"] * n)}).nbytes


class Lifecycle:
    def __init__(self, run, spark):
        self.run, self.spark = run, spark
        self.n0 = 2_000 if run.tiny else 40_000
        self.frag_rows = self.n0 // 4
        self.batch = self.n0 // 20          # append batch
        self.merge_rows = self.n0 // 40     # half updates, half inserts
        self.stream_rows = self.n0 // 40
        self.rng = np.random.default_rng([run.seed, 2])

        init = datagen.orders(self.rng, 0, self.n0)
        self.model = Model(init)
        self.next_key = self.n0
        for d in ("src", "drop", "staging"):
            os.makedirs(os.path.join(run.work, d))
        self.drop = os.path.join(run.work, "drop")
        self.staging = os.path.join(run.work, "staging")
        self.checkpoint = os.path.join(run.work, "checkpoint")
        src = os.path.join(run.work, "src", "orders.parquet")
        pq.write_table(init, src)
        init_df = spark.read.parquet(src)
        self.schema = init_df.schema

        register_lance_datasource(spark)
        self.cat = LanceCatalog(spark, root=os.path.join(run.work, "catalog"))
        self.cat.create_namespace("bench", if_not_exists=True)
        self.root = self.cat.table_path("bench", "orders")
        with run.phase("orders_native"):
            create_native_dataset(init_df, self.root, file_version=2,
                                  rows_per_fragment=self.frag_rows)
        with run.phase("orders_btree"):
            ensure_native_scalar_index(self.root, "o_orderkey", spark=spark)
        with run.phase("orders_warm"):             # the first read of the table
            self._verify_read()

        self.user_rows = 0          # rows committed by write ops
        self.user_bytes = 0         # Arrow bytes of rows submitted
        self.bytes_written = 0      # bytes of files the ops created
        self.full_rows = 0
        self.full_s = 0.0

    # --------------------------------------------------------------- reads
    def _verify_read(self):
        return self.run.routed_sql(self.cat, VERIFY_SQL)

    def verify(self) -> None:
        want = self.model.expected()
        _, dt = self.run.op("read", "verify", self._verify_read,
                            check=lambda r: r == want)
        if dt is None:
            return
        self.full_rows += want[0]
        self.full_s += dt
        if self.run.trace:
            replay_scan(self.run, self.root, dt)

    # -------------------------------------------------------------- writes
    def _write(self, family: str, name: str, fn, rows: int = 0,
               nbytes: int = 0) -> bool:
        """Time one write or maintenance call and account the files it
        created under the table root. True when the call succeeded."""
        before = snapshot(self.root)
        start_wall = time.time()
        _, dt = self.run.op(family, name, fn)
        if dt is None:
            return False
        created = new_files(before, snapshot(self.root))
        self.bytes_written += sum(size for size, _ in created.values())
        if family == "write":
            self.user_rows += rows
            self.user_bytes += nbytes
        if self.run.trace:
            self._trace_write(name, dt, created, start_wall)
        return True

    def _trace_write(self, name, dt, created, start_wall) -> None:
        run = self.run
        rewritten = sum(s for p, (s, _) in created.items()
                        if p.startswith(("data", "_deletions")))
        if name in ("append", "stream", "update", "merge"):
            record_write(run, created, start_wall)
        if name in ("delete", "update", "merge"):
            run.add(f"dml.{name}_ms", 1e3 * dt)
            run.add("dml.bytes_rewritten", rewritten)
        elif name == "compact":
            run.add("compact.ms", 1e3 * dt)
            run.add("compact.bytes_rewritten", rewritten)
        elif name == "cleanup":
            run.add("cleanup.ms", 1e3 * dt)
        elif name == "index":
            run.add("index.ensure_ms", 1e3 * dt)
            run.add("index.distributed_share", 1.0 if run.last_jobs else 0.0)

    def _frame(self, tbl: pa.Table):
        return self.spark.createDataFrame(tbl.to_pandas(), schema=self.schema)

    def _append(self) -> None:
        tbl = datagen.orders(self.rng, self.next_key, self.batch)
        self.next_key += self.batch
        df = self._frame(tbl)
        if self._write("write", "append",
                       lambda: df.write.format("lance").mode("append").save(self.root),
                       rows=tbl.num_rows, nbytes=tbl.nbytes):
            self.model.add(tbl)

    def _delete(self) -> None:
        cust = int(self.rng.integers(0, datagen.N_CUSTOMERS))
        if self._write("write", "delete",
                       lambda: native_delete_where(self.spark, self.root,
                                                   F.col("o_custkey") == cust)):
            for k in self.model.keys_of(cust):
                del self.model.rows[k]

    def _update(self) -> None:
        cust = int(self.rng.integers(0, datagen.N_CUSTOMERS))
        keys = self.model.keys_of(cust)
        if self._write("write", "update",
                       lambda: native_update_where(
                           self.spark, self.root, F.col("o_custkey") == cust,
                           {"o_total_c": F.col("o_total_c") + 1}),
                       rows=len(keys), nbytes=self.model.arrow_bytes(keys)):
            for k in keys:
                c, t = self.model.rows[k]
                self.model.rows[k] = (c, t + 1)

    def _merge(self) -> None:
        half = self.merge_rows // 2
        live = np.fromiter(self.model.rows, dtype=np.int64)
        old = np.sort(self.rng.choice(live, half, replace=False))
        new = np.arange(self.next_key, self.next_key + half, dtype=np.int64)
        self.next_key += half
        src = datagen.orders(self.rng, 0, 2 * half, status="M")
        src = src.set_column(0, "o_orderkey", pa.array(np.concatenate([old, new])))
        df = self._frame(src)
        if self._write("write", "merge",
                       lambda: native_merge_into(self.spark, self.root, df,
                                                 on=["o_orderkey"]),
                       rows=src.num_rows, nbytes=src.nbytes):
            self.model.add(src)

    def _stream_once(self) -> None:
        run = self.run
        t = time.perf_counter()
        query = (self.spark.readStream.schema(self.schema).parquet(self.drop)
                 .writeStream.format("lance")
                 .option("checkpointLocation", self.checkpoint)
                 .option("appId", APP_ID)
                 .trigger(availableNow=True)
                 .start(self.root))
        t1 = time.perf_counter()
        try:
            query.awaitTermination()
        finally:
            t2 = time.perf_counter()
            query.stop()
        if run.trace:
            run.add("stream.start_ms", 1e3 * (t1 - t))
            run.add("stream.run_ms", 1e3 * (t2 - t1))
            run.add("stream.stop_ms", 1e3 * (time.perf_counter() - t2))

    def _stream(self) -> None:
        tbl = datagen.orders(self.rng, self.next_key, self.stream_rows, status="S")
        self.next_key += self.stream_rows
        name = f"batch-{self.next_key}.parquet"
        pq.write_table(tbl, os.path.join(self.staging, name))
        os.replace(os.path.join(self.staging, name), os.path.join(self.drop, name))
        if self._write("write", "stream", self._stream_once,
                       rows=tbl.num_rows, nbytes=tbl.nbytes):
            self.model.add(tbl)

    def _maintain(self, keep: int = KEEP_VERSIONS, grace: float | None = None) -> None:
        root, spark = self.root, self.spark
        cleanup = {} if grace is None else {"debris_grace_seconds": grace}
        self._write("maint", "compact",
                    lambda: native_compact(root, small_fragment_rows=self.frag_rows,
                                           spark=spark, rows_per_fragment=self.frag_rows))
        self._write("maint", "index",
                    lambda: ensure_native_scalar_index(root, "o_orderkey",
                                                       spark=spark, incremental=True))
        self._write("maint", "cleanup",
                    lambda: native_cleanup_old_versions(root, keep_versions=keep,
                                                        **cleanup))
        self.verify()

    # ---------------------------------------------------------------- loop
    def step(self, i: int) -> None:
        getattr(self, f"_{CYCLE[i % len(CYCLE)]}")()

    def finish(self) -> None:
        """Final maintenance with no writer in flight, so cleanup may drop
        every orphan at once and the space left is the same each run."""
        self._maintain(keep=1, grace=0.0)

    def table_bytes(self) -> int:
        return tree_bytes(self.root)
