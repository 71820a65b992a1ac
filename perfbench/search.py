"""``search``: retrieval on native tables, served in the driver.

Seeded clustered 64-d vectors carry an IVF_PQ index and a Zipf-worded
corpus an FTS index. The loop cycles vector top-10 through the fresh
search path, label-prefiltered top-10 and BM25 top-10; every
``APPEND_EVERY``-th op appends new vectors, extends the vector index and
reads the table back. Vector results are checked against exact numpy
distances (and give recall@10), BM25 results against a brute-force BM25.

The workload starts no Spark session: tables are written, appended to and
read through the driver-side native API, so the op mix bypasses the Spark
bridge entirely and runs the index kernels and index maintenance alone.
"""

from __future__ import annotations

import math
import os
import time

import numpy as np

import datagen
from harness import new_files, record_write, snapshot, tree_bytes
from replay import replay_native_read
from lance_trino_spark.format.lance_native import (
    LanceNativeDataset,
    append_native_rows,
    ensure_native_fts_index,
    ensure_native_vector_index,
    latest_native_vector_index,
    native_cleanup_old_versions,
    native_fts_search,
    native_index_search,
    native_vector_search_fresh,
    write_native_dataset,
)

DIM = 64
CLUSTERS = 32
LABELS = 16
K = 10
NPROBE = 4
FRAGMENTS = 4
APPEND_EVERY = 30
CELLS = 32          # one IVF cell per seeded cluster
SHAPES = ("vector", "prefilter", "bm25")
VECTOR_TYPE = {"vector": f"fixed_size_list:float:{DIM}"}


def _columns(ids, labels, vecs) -> dict:
    return {"id": ids.tolist(), "label": labels.tolist(), "vector": vecs.tolist()}


class Workload:
    uses_spark = False
    min_steps = APPEND_EVERY   # one whole cycle of the op mix per run

    def __init__(self, run, spark=None):
        self.run = run
        tiny = run.tiny
        n = 2_000 if tiny else 20_000
        n_docs = 500 if tiny else 5_000
        self.append_rows = n // 40
        self.rng = rng = np.random.default_rng(run.seed)
        self.centers = (rng.normal(size=(CLUSTERS, DIM)) * 4).astype(np.float32)
        vecs, lab = datagen.clustered_vectors(rng, self.centers, n)
        self.vecs, self.labels = vecs, lab % LABELS
        self.ids = np.arange(n, dtype=np.int64)
        docs, self.words = datagen.corpus(rng, n_docs)
        self.bm25 = datagen.Bm25Oracle(docs)
        # Arrow bytes of the docs: the text, a 4-byte offset and an 8-byte id per row
        self.docs_bytes = sum(len(d) for d in docs) + 12 * n_docs

        self.vroot = os.path.join(run.work, "vectors.lance")
        self.droot = os.path.join(run.work, "docs.lance")
        with run.phase("write_vectors"):
            for i, part in enumerate(np.array_split(np.arange(n), FRAGMENTS)):
                cols = _columns(self.ids[part], self.labels[part], vecs[part])
                if i == 0:
                    write_native_dataset(self.vroot, cols, file_version=2,
                                         types=VECTOR_TYPE)
                else:
                    append_native_rows(self.vroot, cols, file_version=2)
        with run.phase("vector_index"):
            ensure_native_vector_index(self.vroot, "vector", n_cells=CELLS, nsub=8)
        with run.phase("write_docs"):
            write_native_dataset(self.droot, {"doc_id": list(range(n_docs)),
                                              "body": docs}, file_version=2)
        with run.phase("fts_index"):
            ensure_native_fts_index(self.droot, "body")

        self.recall: list[float] = []
        self.full_rows = 0
        self.full_s = 0.0
        self.user_rows = 0          # rows appended by the loop
        self.user_bytes = 0         # their Arrow bytes
        self.bytes_written = 0      # bytes of files the appends created
        for shape in SHAPES:            # warm each search path and the read
            self._search(shape, self._query(shape))
        self._verify_read()

    # ------------------------------------------------------------ queries
    def _query(self, shape: str):
        if shape == "bm25":
            # mid-frequency terms: present in some documents, not most
            return [str(w) for w in self.rng.choice(self.words[20:400], 3, replace=False)]
        c = int(self.rng.integers(0, CLUSTERS))
        q = self.centers[c] + self.rng.normal(size=DIM).astype(np.float32)
        label = int(self.rng.integers(0, LABELS)) if shape == "prefilter" else None
        return q.astype(np.float32), label

    def _search(self, shape: str, query):
        if shape == "bm25":
            return native_fts_search(self.droot, "body", " ".join(query), k=K)
        q, label = query
        pre = None if label is None else ("label", [label])
        return native_vector_search_fresh(self.vroot, "vector", q, k=K,
                                          nprobe=NPROBE, prefilter=pre)

    def _check_vector(self, result, query) -> bool:
        """Each hit must be a live (allowed) vector at its exact distance,
        in ascending order; recall counts hits within the exact top-k."""
        q, label = query
        exact = datagen.sq_l2(self.vecs if label is None
                              else self.vecs[self.labels == label], q)
        exact.sort()
        got = np.asarray(result[0]["distances"], dtype=np.float64)
        want = exact[:K].astype(np.float64)
        # fewer than k hits is lost recall (a prefilter can leave the probed
        # cells short of allowed rows), not a wrong answer
        if len(got) > K or (np.diff(got) < 0).any():
            return False
        pos = np.clip(np.searchsorted(exact, got), 1, len(exact) - 1)
        near = np.minimum(np.abs(exact[pos] - got), np.abs(exact[pos - 1] - got))
        if (near > 1e-4 * np.maximum(1.0, got)).any():
            return False
        self.recall.append(float((got <= want[-1] * (1 + 1e-6)).sum()) / len(want))
        return True

    def _check_bm25(self, result, terms) -> bool:
        hits, _ = result
        want = self.bm25.top(terms, K)
        if len(hits) != len(want):
            return False
        got = sorted(((s, dl) for _, dl, s in hits), key=lambda r: -r[0])
        if not all(math.isclose(g[0], w[0], rel_tol=1e-9)
                   for g, w in zip(got, want)):
            return False
        # document lengths must agree wherever the score is not tied at
        # the cut-off (ties there may pick different documents)
        cut = want[-1][0]
        return (sorted(dl for s, dl in got if s > cut * (1 + 1e-9))
                == sorted(dl for s, dl in want if s > cut * (1 + 1e-9)))

    # --------------------------------------------------------- fresh data
    def _verify_read(self):
        tbl = LanceNativeDataset(self.vroot).to_arrow(["id", "vector"])
        ids = tbl.column("id").to_numpy()
        return len(ids), int(ids.sum()), tbl.column("vector").combine_chunks().flatten()

    def _same_vectors(self, flat) -> bool:
        """The multiset of per-row vector sums matches the model's: a
        checksum of every live vector, in any row order."""
        got = np.asarray(flat, dtype=np.float32).reshape(-1, DIM)
        return bool(np.array_equal(np.sort(got.sum(axis=1)),
                                   np.sort(self.vecs.sum(axis=1))))

    def _fresh_append(self) -> None:
        run = self.run
        m = self.append_rows
        vecs, lab = datagen.clustered_vectors(self.rng, self.centers, m)
        labels = lab % LABELS
        ids = np.arange(len(self.ids), len(self.ids) + m, dtype=np.int64)
        cols = _columns(ids, labels, vecs)
        before, start_wall = snapshot(self.vroot), time.time()
        _, dt = run.op("write", "append",
                       lambda: append_native_rows(self.vroot, cols, file_version=2))
        if dt is None:
            return
        created = new_files(before, snapshot(self.vroot))
        self.user_rows += m
        self.user_bytes += ids.nbytes + labels.nbytes + vecs.nbytes
        self.bytes_written += sum(size for size, _ in created.values())
        if run.trace:
            record_write(run, created, start_wall)
        self.vecs = np.concatenate([self.vecs, vecs])
        self.labels = np.concatenate([self.labels, labels])
        self.ids = np.concatenate([self.ids, ids])
        _, dt = run.op("maint", "index_extend",
                       lambda: ensure_native_vector_index(self.vroot, "vector",
                                                          incremental=True))
        if dt is not None and run.trace:
            run.add("index.ensure_ms", 1e3 * dt)
            run.add("index.distributed_share", 0.0)   # no Spark session here
        want = (len(self.ids), int(self.ids.sum()))
        _, dt = run.op("read", "verify", self._verify_read,
                       check=lambda r: r[:2] == want and self._same_vectors(r[2]))
        if dt is not None:
            self.full_rows += want[0]
            self.full_s += dt
            if run.trace:
                replay_native_read(run, self.vroot, ["id", "vector"])

    # --------------------------------------------------------------- loop
    def step(self, i: int) -> None:
        if i % APPEND_EVERY == APPEND_EVERY - 1:
            self._fresh_append()
            return
        shape = SHAPES[i % len(SHAPES)]
        query = self._query(shape)
        check = self._check_bm25 if shape == "bm25" else self._check_vector
        result, dt = self.run.op("read", shape, lambda: self._search(shape, query),
                                 check=lambda r: check(r, query))
        if dt is None or not self.run.trace:
            return
        if shape == "bm25":
            self.run.add("search.fts_ms", 1e3 * dt)
        elif shape == "vector":
            with self.run.tracing():
                idx = latest_native_vector_index(self.vroot, "vector")
                t = time.perf_counter()
                native_index_search(self.vroot, idx, query[0].reshape(1, -1),
                                    k=K, nprobe=NPROBE)
                index_s = time.perf_counter() - t
            self.run.add("search.index_ms", 1e3 * index_s)
            self.run.add("search.fresh_tail_ms", 1e3 * max(0.0, dt - index_s))

    def finish(self) -> None:
        run, v = self.run, self.run.values
        _, dt = run.op("maint", "cleanup",
                       lambda: native_cleanup_old_versions(self.vroot, keep_versions=1,
                                                           debris_grace_seconds=0.0))
        if dt is not None and run.trace:
            run.add("cleanup.ms", 1e3 * dt)
        v["maint_s"] = sum(run.lat["maint"])
        v["ingest_rows_per_s"] = self.user_rows / sum(run.lat["write"])
        v["write_amp"] = self.bytes_written / self.user_bytes
        v["recall_at_10"] = sum(self.recall) / len(self.recall)
        v["scan_rows_per_s"] = self.full_rows / self.full_s
        live = self.ids.nbytes + self.labels.nbytes + self.vecs.nbytes
        v["space_amp"] = ((tree_bytes(self.vroot) + tree_bytes(self.droot))
                          / (live + self.docs_bytes))
