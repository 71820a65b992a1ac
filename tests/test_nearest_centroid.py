"""The shared nearest-centroid kernel (`format/vector_index.nearest_centroid`)
against the broadcast squared-L2 argmin it replaces, kept here as the
reference: a Hypothesis property over dtypes, exact ties, zero rows,
magnitudes and shapes, and full-build parity — training, codebooks, codes
and the persisted index bytes of both planes must equal what the broadcast
kernel produces."""

from __future__ import annotations

import os

import numpy as np
import pytest
from hypothesis import example, given, settings
from hypothesis import strategies as st

from lance_trino_spark.format import vector_index as vi


def _ref_nearest(x, c):
    return ((x[:, None, :] - c[None, :, :]) ** 2).sum(axis=2).argmin(axis=1)


def _ref_lloyd_step(x, cent):
    assign = _ref_nearest(x, cent)
    for j in range(len(cent)):
        m = assign == j
        if m.any():
            cent[j] = x[m].mean(axis=0)


@settings(max_examples=300, deadline=None)
@given(
    dtype=st.sampled_from(["float32", "float64"]),
    n=st.integers(1, 60),
    k=st.integers(1, 40),
    # crosses numpy's 8-way unrolled and 128-element pairwise sum blocks
    d=st.integers(1, 140),
    log_scale=st.floats(-3, 4),
    ties=st.sampled_from(["none", "dup_centroids", "dup_rows", "grid",
                          "rows_on_centroids"]),
    zero_rows=st.booleans(),
    seed=st.integers(0, 2**32 - 1),
)
@example(dtype="float32", n=5, k=1, d=3, log_scale=0.0, ties="none",
         zero_rows=False, seed=0)
@example(dtype="float64", n=3, k=17, d=9, log_scale=4.0,
         ties="dup_centroids", zero_rows=True, seed=1)
@example(dtype="float32", n=40, k=33, d=8, log_scale=-3.0, ties="grid",
         zero_rows=True, seed=2)
def test_nearest_centroid_matches_broadcast(dtype, n, k, d, log_scale, ties,
                                            zero_rows, seed):
    rng = np.random.default_rng(seed)
    scale = 10.0 ** log_scale
    x = rng.standard_normal((n, d)) * scale
    c = rng.standard_normal((k, d)) * scale
    if ties == "dup_centroids":  # identical centroids: exact distance ties
        c[rng.integers(0, k, k)] = c[rng.integers(0, k)]
    elif ties == "dup_rows":
        x[rng.integers(0, n, n)] = x[rng.integers(0, n)]
    elif ties == "grid":  # small integers: many exactly equal distances
        x = np.round(rng.uniform(-2, 2, (n, d))) * scale
        c = np.round(rng.uniform(-2, 2, (k, d))) * scale
    elif ties == "rows_on_centroids":
        x[: n // 2] = c[rng.integers(0, k, n // 2)]
    if zero_rows:
        x[::2] = 0
    x = x.astype(dtype)
    c = c.astype(dtype)
    got = vi.nearest_centroid(x, c)
    assert got.dtype == np.int64
    np.testing.assert_array_equal(got, _ref_nearest(x, c))


def test_nearest_centroid_non_finite_and_overflow_rows():
    """Rows or centroids the rounding margin cannot cover — NaN, inf,
    squares past the float32 range — take the exact formula, so they
    still match the broadcast (NaN argmin = first NaN, as numpy's)."""
    rng = np.random.default_rng(5)
    x = rng.standard_normal((30, 6)).astype(np.float32)
    c = rng.standard_normal((7, 6)).astype(np.float32)
    x[3, 2] = np.nan
    x[4, 0] = np.inf
    x[5] = 1e19  # (x - c)^2 overflows float32
    np.testing.assert_array_equal(vi.nearest_centroid(x, c),
                                  _ref_nearest(x, c))
    c[2, 1] = -np.inf
    np.testing.assert_array_equal(vi.nearest_centroid(x, c),
                                  _ref_nearest(x, c))
    # mixed dtypes compute in the promoted dtype, as the broadcast does
    c64 = rng.standard_normal((7, 6))
    np.testing.assert_array_equal(vi.nearest_centroid(x[:3], c64),
                                  _ref_nearest(x[:3], c64))
    assert vi.nearest_centroid(np.zeros((0, 6), np.float32), c).shape == (0,)


def _clustered(seed, n, dim, centers):
    rng = np.random.default_rng(seed)
    mu = rng.normal(scale=4.0, size=(centers, dim))
    return (mu[rng.integers(0, centers, n)]
            + rng.normal(size=(n, dim))).astype(np.float32)


@pytest.fixture
def broadcast_kernels(monkeypatch):
    """Swap the shared kernel and the Lloyd step for the broadcast
    reference everywhere both planes look them up."""
    def use():
        monkeypatch.setattr(vi, "nearest_centroid", _ref_nearest)
        monkeypatch.setattr(vi, "lloyd_step", _ref_lloyd_step)
    return use


@pytest.mark.parametrize("seed", [1, 2, 3])
def test_native_training_and_encode_match_broadcast_reference(
        seed, broadcast_kernels):
    """`_kmeans` (coarse cells and residual PQ codebooks) and
    `_pq_encode_block` give the bits of the broadcast kernel."""
    import lance_trino_spark.format.lance_native as ln

    data = _clustered(seed, 3000, 32, 24)
    nsub, subdim = 8, 4

    def build():
        cent = ln._kmeans(data[:2048], 16, 8, seed)
        resid = data[:2048] - cent[vi.nearest_centroid(data[:2048], cent)]
        book = np.stack([
            ln._kmeans(resid[:, s * subdim:(s + 1) * subdim], 256, 8,
                       seed + 1 + s) for s in range(nsub)])
        a, codes = ln._pq_encode_block(data, cent, book)
        return cent, book, a, codes

    got = build()
    broadcast_kernels()
    want = build()
    for g, w in zip(got, want):
        assert g.dtype == w.dtype
        assert g.tobytes() == w.tobytes()


def test_index_bytes_match_broadcast_reference(tmp_path, broadcast_kernels):
    """Persisted bytes: the native serial IVF_PQ `index.idx`, and the
    own-format `centroids.parquet`, `pq_codebooks.parquet` and postings
    file, are byte-identical to a build whose kernels are the broadcast
    reference."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    import lance_trino_spark.format.lance_native as ln

    data = _clustered(7, 1200, 16, 10)
    data[::97] = 0  # exact ties on all-zero rows

    def build(tag):
        root = str(tmp_path / f"{tag}.lance")
        ln.write_native_dataset(root, {
            "id": list(range(len(data))),
            "vector": [v.tolist() for v in data]})
        uid = ln.write_native_vector_index(root, "vector", n_cells=8,
                                           nsub=4, seed=3)
        native = open(os.path.join(root, "_indices", uid, "index.idx"),
                      "rb").read()
        own = str(tmp_path / f"{tag}-own")
        os.makedirs(own)
        pq.write_table(pa.table({"v": [v.tolist() for v in data]}),
                       os.path.join(own, "f0.parquet"))
        cent, books = vi.train_index(data[:800], 8, index_type="IVF_PQ",
                                     pq_m=4)
        vi.write_index_meta(own, "v", cent, books, "IVF_PQ")
        rel = vi.build_fragment_postings(own, "f0.parquet", "v", cent, books)
        files = [vi.centroids_rel("v"), vi.pq_codebooks_rel("v"), rel]
        return native, [open(os.path.join(own, f), "rb").read()
                        for f in files]

    got = build("kernel")
    broadcast_kernels()
    want = build("broadcast")
    assert got[0] == want[0]
    assert got[1] == want[1]
