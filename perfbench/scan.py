"""The analytics half of ``lakehouse``: read-only queries over a
lineitem-shaped table stored three ways (native ``.lance`` FILE v2, the own
format, plain parquet).

Each op runs a query on one Lance plane, the planes alternating op by op,
and then the same query on the parquet twin through vanilla Spark. The
Lance result must equal the twin's; the LIMIT rows are checked against the
generated data instead, since any 100 rows are a valid answer.
"""

from __future__ import annotations

import os
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F
from pyspark.sql.datasource import GreaterThanOrEqual, In, LessThanOrEqual

import datagen
from harness import tree_bytes
from replay import replay_scan
from lance_trino_spark.catalog import LanceCatalog
from lance_trino_spark.format.dataset import LanceDataset
from lance_trino_spark.format.lance_native import (
    append_native_rows,
    create_native_dataset,
    ensure_native_scalar_index,
)
from lance_trino_spark.sources.lance_datasource import register_lance_datasource

# Fixed round-robin of query shapes: the seed picks parameters, never the
# mix, so every run measures the same composition.
SHAPES = ("full_agg", "group_by", "range", "in_list", "limit", "count",
          "version_as_of")
FRAGMENTS = 8
WRITE_TASKS = 4
LIMIT_COLS = ["l_orderkey", "l_linenumber", "l_partkey", "l_price_c"]
GROUP_COLS = ["l_returnflag", "l_linestatus", "l_quantity", "l_price_c"]


def _rows(rows) -> list[tuple]:
    return [tuple(r) for r in rows]


class Analytics:
    def __init__(self, run, spark):
        self.run, self.spark = run, spark
        with run.phase("lineitem_generate"):
            base, delta = self._generate(24_000 if run.tiny else 600_000)

        with run.phase("lineitem_catalog"):
            register_lance_datasource(spark)
            self.cat = LanceCatalog(spark, root=os.path.join(run.work, "catalog"))
            self.cat.create_namespace("bench", if_not_exists=True)
        self.paths = {"native": self.cat.table_path("bench", "lineitem"),
                      "own": self.cat.table_path("bench", "lineitem_own")}
        rows_per_frag = base.num_rows // FRAGMENTS
        base_df = spark.read.parquet(*self.pq_v1)
        delta_df = spark.read.parquet(self.pq_delta)

        native = self.paths["native"]
        with run.phase("lineitem_native"):
            create_native_dataset(base_df, native, file_version=2,
                                  rows_per_fragment=rows_per_frag)
        with run.phase("lineitem_version2"):   # version 2, written in the driver
            append_native_rows(native, {c: delta.column(c).to_pylist()
                                        for c in delta.column_names},
                               file_version=2)
        with run.phase("lineitem_btree"):
            ensure_native_scalar_index(native, "l_partkey", spark=spark)
        with run.phase("lineitem_own"):
            own = LanceDataset.create(self.paths["own"], base_df,
                                      max_rows_per_file=rows_per_frag)
            own = own.append(delta_df, max_rows_per_file=rows_per_frag)
        with run.phase("lineitem_own_index"):
            own.create_scalar_index(spark, "l_partkey")
        with run.phase("lineitem_warm"):   # the first read of each plane and the twin
            for plane in self.paths:
                self._full_agg(self._lance(plane))
            self._full_agg(self._twin())
        self.lance_s = self.twin_s = 0.0
        self.full_rows = self.full_s = 0

    def _generate(self, n: int):
        """Seeded base and delta rows, kept as numpy for the LIMIT oracle
        and written as the parquet twin: the base version as four files,
        so Spark writes it with four tasks, each a contiguous key range, so
        every fragment is one too."""
        self.rng = np.random.default_rng([self.run.seed, 1])
        base = datagen.lineitem(self.rng, n)
        last = int(base.column("l_orderkey")[-1].as_py())
        delta = datagen.lineitem(self.rng, n // 100, first_order=last + 1)
        both = pa.concat_tables([base, delta])
        self.n_rows = both.num_rows
        self.max_order = int(delta.column("l_orderkey")[-1].as_py())
        self.live_bytes = both.nbytes
        self.key = datagen.line_id(both.column("l_orderkey").to_numpy(),
                                   both.column("l_linenumber").to_numpy())
        self.cols = {c: both.column(c).to_numpy() for c in ("l_partkey", "l_price_c")}

        self.pq_dir = os.path.join(self.run.work, "parquet", "lineitem")
        os.makedirs(self.pq_dir)
        self.pq_v1 = []
        for k, part in enumerate(np.array_split(np.arange(base.num_rows), WRITE_TASKS)):
            self.pq_v1.append(os.path.join(self.pq_dir, f"part-{k}.parquet"))
            pq.write_table(base.slice(part[0], len(part)), self.pq_v1[-1])
        self.pq_delta = os.path.join(self.pq_dir, "delta.parquet")
        pq.write_table(delta, self.pq_delta)
        return base, delta

    # ------------------------------------------------------------ queries
    def _lance(self, plane: str, **options):
        r = self.spark.read.format("lance")
        for k, v in options.items():
            r = r.option(k, str(v))
        return r.load(self.paths[plane])

    def _twin(self):
        return self.spark.read.parquet(self.pq_dir)

    @staticmethod
    def _full_agg(df):
        return _rows(df.agg(
            F.count("*"), F.sum("l_quantity"), F.sum("l_price_c"),
            F.sum(F.col("l_price_c") * (100 - F.col("l_discount"))),
            F.min("l_shipdate"), F.max("l_shipdate")).collect())

    @staticmethod
    def _group_by(df):
        return _rows(df.select(*GROUP_COLS)
                     .groupBy("l_returnflag", "l_linestatus")
                     .agg(F.count("*"), F.sum("l_quantity"), F.sum("l_price_c"))
                     .orderBy("l_returnflag", "l_linestatus").collect())

    def _limit_ok(self, rows) -> bool:
        """Any 100 rows are right if each is a row of the generated data."""
        if len(rows) != 100:
            return False
        ok, ln_, pk, price = (np.array(c, dtype=np.int64) for c in zip(*rows))
        idx = np.searchsorted(self.key, datagen.line_id(ok, ln_))
        idx = np.minimum(idx, len(self.key) - 1)
        return bool((self.key[idx] == datagen.line_id(ok, ln_)).all()
                    and (self.cols["l_partkey"][idx] == pk).all()
                    and (self.cols["l_price_c"][idx] == price).all())

    def _plan(self, shape: str, plane: str):
        """(lance fn, twin fn, replay kwargs) of one op; parameters are
        drawn here, outside the timed calls."""
        spark = self.spark
        if shape == "full_agg":
            return (lambda: self._full_agg(self._lance(plane)),
                    lambda: self._full_agg(self._twin()), {})
        if shape == "group_by":
            cols = ",".join(GROUP_COLS)
            return (lambda: self._group_by(self._lance(plane, columns=cols)),
                    lambda: self._group_by(self._twin()),
                    {"options": {"columns": cols}})
        if shape == "range":
            span = max(1, self.max_order // 100)
            lo = int(self.rng.integers(1, self.max_order - span))
            hi = lo + span

            def q(df):
                return _rows(df.filter((F.col("l_orderkey") >= lo)
                                       & (F.col("l_orderkey") <= hi))
                             .agg(F.count("*"), F.sum("l_price_c"),
                                  F.sum("l_linenumber")).collect())
            return (lambda: q(self._lance(plane)), lambda: q(self._twin()),
                    {"filters": [GreaterThanOrEqual(("l_orderkey",), lo),
                                 LessThanOrEqual(("l_orderkey",), hi)]})
        if shape == "in_list":
            keys = sorted(int(k) for k in self.rng.choice(20_000, 10, replace=False) + 1)

            def q(df):
                return _rows(df.filter(F.col("l_partkey").isin(keys))
                             .agg(F.count("*"), F.sum("l_orderkey"),
                                  F.sum("l_price_c")).collect())
            return (lambda: q(self._lance(plane)), lambda: q(self._twin()),
                    {"filters": [In(("l_partkey",), tuple(keys))]})
        if shape == "limit":
            return (lambda: _rows(self._lance(plane, limit=100)
                                  .select(*LIMIT_COLS).limit(100).collect()),
                    lambda: _rows(self._twin().select(*LIMIT_COLS).limit(100).collect()),
                    {"options": {"limit": 100}, "limit_rows": 100})
        if shape == "count":
            return (lambda: self._lance(plane).count(),
                    lambda: self._twin().count(), {})
        if shape == "version_as_of":
            table = "lineitem" if plane == "native" else "lineitem_own"
            sql = (f"SELECT count(*) AS n, sum(l_price_c) AS p, "
                   f"sum(l_quantity) AS q FROM bench.{table} VERSION AS OF 1")
            return (lambda: [self.run.routed_sql(self.cat, sql)],
                    lambda: _rows(spark.read.parquet(*self.pq_v1).agg(
                        F.count("*"), F.sum("l_price_c"), F.sum("l_quantity")).collect()),
                    {"options": {"version": 1}})
        raise ValueError(shape)

    # --------------------------------------------------------------- loop
    def step(self, i: int) -> None:
        shape, plane = SHAPES[i % len(SHAPES)], ("native", "own")[i % 2]
        lance_fn, twin_fn, replay = self._plan(shape, plane)
        name = f"{shape}.{plane}"
        got, dt = self.run.op("read", name, lance_fn)
        if dt is None:
            return
        t = time.perf_counter()
        try:
            want = twin_fn()
        except Exception as e:  # the oracle itself failed: unverifiable op
            self.run.fail(name, f"parquet twin raised {e!r}")
            return
        twin_s = time.perf_counter() - t
        ok = (self._limit_ok(got) and self._limit_ok(want)
              if shape == "limit" else got == want)
        if not ok:
            self.run.fail(name, f"lance {got!r} != parquet {want!r}")
            return
        self.lance_s += dt
        self.twin_s += twin_s
        if shape in ("full_agg", "group_by"):
            self.full_rows += self.n_rows
            self.full_s += dt
        if self.run.trace:
            replay_scan(self.run, self.paths[plane], dt, **replay)

    def table_bytes(self) -> int:
        return tree_bytes(self.paths["native"])
