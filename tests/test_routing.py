"""Serial-vs-distributed routing (format/routing.py): every build family
writes the same files whichever arm runs. Fixture-sized builds route
in-process, so each test forces the fan-out by setting its table entry to
0 and compares against the in-process build of an identical copy."""

from __future__ import annotations

import os
import shutil

import pytest
from pyspark.sql import functions as F

from lance_trino_spark.format.routing import DISTRIBUTED_MIN_ROWS

SF_DIR = "/root/testdata/sf0.001"


def _sidecars(root: str) -> dict[str, bytes]:
    base = os.path.join(root, "_indices")
    out = {}
    for d, _, files in os.walk(base):
        for f in files:
            p = os.path.join(d, f)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, base)] = fh.read()
    return out


def _twins(tmp_path, df, max_rows_per_file):
    """Two byte-identical own-format tables (same data-file names, so the
    sidecar names match too)."""
    from lance_trino_spark.format.dataset import LanceDataset

    a = str(tmp_path / "serial.lance")
    b = str(tmp_path / "fanout.lance")
    LanceDataset.create(a, df, max_rows_per_file=max_rows_per_file)
    shutil.copytree(a, b)
    return LanceDataset.open(a), LanceDataset.open(b)


def _count_map_in_pandas(monkeypatch, spark) -> list:
    """Counts mapInPandas stages from here on, proving a forced arm
    really fanned out."""
    calls = []
    cls = type(spark.range(0))  # the session's concrete DataFrame class
    real = cls.mapInPandas

    def counting(self, *a, **k):
        calls.append(a)
        return real(self, *a, **k)

    monkeypatch.setattr(cls, "mapInPandas", counting)
    return calls


def test_scalar_index_fanout_parity(tmp_path, spark, monkeypatch):
    df = spark.range(600).select(
        (F.col("id") * 7919 % 600).alias("k"),
        F.concat(F.lit("s"), (F.col("id") % 37).cast("string")).alias("s"),
    ).coalesce(1)
    a, b = _twins(tmp_path, df, 150)
    stages = _count_map_in_pandas(monkeypatch, spark)
    a = a.create_scalar_index(None, "k")
    monkeypatch.setitem(DISTRIBUTED_MIN_ROWS, "scalar", 0)
    b = b.create_scalar_index(spark, "k")
    assert len(stages) == 1
    built = _sidecars(a.path)
    assert len(built) == 4 and built == _sidecars(b.path)

    # maintenance half: rebuild the missing sidecars
    for ds in (a, b):
        shutil.rmtree(os.path.join(ds.path, "_indices"))
    assert a.ensure_scalar_index_files(None) == 4
    assert b.ensure_scalar_index_files(spark) == 4
    assert len(stages) == 2
    assert _sidecars(a.path) == _sidecars(b.path) == built


@pytest.mark.parametrize("index_type,kind", [
    ("IVF_PQ", "ivf_postings"),
    ("HNSW", "hnsw"),
])
def test_vector_index_fanout_parity(tmp_path, spark, monkeypatch,
                                    index_type, kind):
    import lance_trino_spark.format.vector_index as VI

    # several shards per fragment, so HNSW items are (fragment, shard)
    monkeypatch.setattr(VI, "HNSW_SHARD_ROWS", 64)
    emb = spark.read.parquet(os.path.join(SF_DIR, "embeddings.parquet"))
    a, b = _twins(
        tmp_path,
        emb.select("vec_id", "embedding").orderBy("vec_id").coalesce(1),
        150,
    )
    stages = _count_map_in_pandas(monkeypatch, spark)
    kw = dict(index_type=index_type, n_cells=8, sample=512)
    a = a.create_vector_index(None, "embedding", **kw)
    monkeypatch.setitem(DISTRIBUTED_MIN_ROWS, kind, 0)
    b = b.create_vector_index(spark, "embedding", **kw)
    assert len(stages) == 1
    built = _sidecars(a.path)
    assert built == _sidecars(b.path)

    # maintenance half: drop every per-fragment sidecar, rebuild from the
    # persisted codebooks
    per_frag = [
        os.path.relpath(p, a.path)
        for f in a.manifest.fragments
        for p in (VI.hnsw_shard_files(a.path, "embedding", f.path)
                  if index_type == "HNSW"
                  else [os.path.join(a.path, VI.postings_rel(
                      "embedding", f.path))])
    ]
    if index_type == "HNSW":
        assert len(per_frag) > len(a.manifest.fragments)
    for ds in (a, b):
        for p in per_frag:
            os.unlink(os.path.join(ds.path, p))
    n = a.ensure_vector_index_files(None)
    assert n == b.ensure_vector_index_files(spark) == len(per_frag)
    assert len(stages) == 2
    assert _sidecars(a.path) == _sidecars(b.path) == built


def test_native_sorted_compaction_fanout_parity(tmp_path, spark,
                                                monkeypatch):
    """Single-column sort_by compaction: the range-partitioned fan-out
    cuts the same fragments as the serial arm's sorted chunks."""
    import lance_trino_spark.format.lance_native as ln
    from lance_trino_spark.sources.lance_datasource import (
        register_lance_datasource,
    )

    a = str(tmp_path / "serial.lance")
    b = str(tmp_path / "fanout.lance")
    # interleaved: every fragment spans the whole key range
    ln.write_native_dataset(a, {
        "k": list(range(0, 66, 3)), "s": [f"a{i}" for i in range(22)]})
    for r in (1, 2):
        ln.append_native_rows(a, {
            "k": list(range(r, 66, 3)), "s": [f"b{i}" for i in range(22)]})
    register_lance_datasource(spark)
    ln.native_delete_where(spark, a, F.col("k") % 11 == 0)
    shutil.copytree(a, b)

    staged = []
    real = ln.stage_native_fragments

    def counting(*args, **kw):
        staged.append(1)
        return real(*args, **kw)

    monkeypatch.setattr(ln, "stage_native_fragments", counting)
    kw = dict(sort_by="k", rows_per_fragment=20, small_fragment_rows=100)
    out_a = ln.native_compact(a, spark=None, **kw)
    assert not staged
    monkeypatch.setitem(DISTRIBUTED_MIN_ROWS, "compact", 0)
    out_b = ln.native_compact(b, spark=spark, **kw)
    assert staged
    assert out_a == out_b and out_a[1] == 3

    def fragments(root):
        m = ln.read_native_manifest(root)
        return [
            (f.physical_rows, ln.read_native_fragment(root, f, m).to_pydict())
            for f in m.fragments
        ]

    got = fragments(a)
    assert [n for n, _ in got] == [20, 20, 20]
    assert sorted(k for _, d in got for k in d["k"]) == [
        k for k in range(66) if k % 11]
    assert fragments(b) == got
