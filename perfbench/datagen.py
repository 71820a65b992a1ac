"""Seeded inputs and the oracles that check results without the code under
test: lineitem- and orders-shaped rows for ``lakehouse``, clustered vectors
and a Zipf-worded corpus for ``search``, exact numpy distances and a
brute-force BM25.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa

DAY0 = 8035  # 1992-01-02 as days since the epoch


def lineitem(rng: np.random.Generator, n_rows: int, first_order: int = 1
             ) -> pa.Table:
    """``n_rows`` lineitem-like rows sorted on (l_orderkey, l_linenumber),
    orders numbered from ``first_order`` with 1..7 lines each."""
    n_orders = n_rows // 3 + 8
    lines = rng.integers(1, 8, n_orders)
    keep = int(np.searchsorted(np.cumsum(lines), n_rows)) + 1
    lines = lines[:keep]
    orderkey = np.repeat(np.arange(first_order, first_order + keep), lines)[:n_rows]
    starts = np.repeat(np.cumsum(lines) - lines, lines)[:n_rows]
    linenumber = np.arange(n_rows) - starts + 1
    partkey = rng.integers(1, 20_001, n_rows)
    quantity = rng.integers(1, 51, n_rows)
    part_price_c = rng.integers(90_000, 200_000, 20_001)
    return pa.table({
        "l_orderkey": orderkey.astype(np.int64),
        "l_linenumber": linenumber.astype(np.int64),
        "l_partkey": partkey.astype(np.int64),
        "l_suppkey": rng.integers(1, 1_001, n_rows),
        "l_quantity": quantity.astype(np.int64),
        "l_price_c": (quantity * part_price_c[partkey]).astype(np.int64),
        "l_discount": rng.integers(0, 11, n_rows),
        "l_returnflag": pa.array(np.array(["A", "N", "R"])[rng.integers(0, 3, n_rows)]),
        "l_linestatus": pa.array(np.array(["F", "O"])[rng.integers(0, 2, n_rows)]),
        "l_shipdate": pa.array(
            (DAY0 + rng.integers(0, 2_526, n_rows)).astype(np.int32)
        ).cast(pa.date32()),
    })


def line_id(orderkey, linenumber):
    """Unique, monotone row key of a sorted lineitem table."""
    return np.asarray(orderkey, dtype=np.int64) * 8 + np.asarray(linenumber, dtype=np.int64)


N_CUSTOMERS = 1_000


def orders(rng: np.random.Generator, first_key: int, n: int,
           status: str = "O") -> pa.Table:
    """``n`` orders rows with keys ``first_key ..``."""
    return pa.table({
        "o_orderkey": np.arange(first_key, first_key + n, dtype=np.int64),
        "o_custkey": rng.integers(0, N_CUSTOMERS, n),
        "o_total_c": rng.integers(100, 10_000_000, n),
        "o_status": pa.array([status] * n),
    })


def clustered_vectors(rng: np.random.Generator, centers: np.ndarray, n: int):
    """``n`` float32 vectors around seeded centers, equally many per
    center, and their cluster ids."""
    lab = rng.permutation(np.arange(n) % len(centers))
    vec = centers[lab] + rng.normal(size=(n, centers.shape[1])).astype(np.float32)
    return vec.astype(np.float32), lab.astype(np.int64)


def sq_l2(vecs: np.ndarray, q: np.ndarray) -> np.ndarray:
    """Exact squared L2 of every row to ``q`` (float32, as the index refines)."""
    return ((vecs - q) ** 2).sum(axis=1)


def corpus(rng: np.random.Generator, n_docs: int, vocab: int = 3_000):
    """Whitespace-tokenised documents over a Zipf-weighted vocabulary."""
    words = np.array([f"w{i}" for i in range(vocab)])
    weights = 1.0 / np.arange(1, vocab + 1)
    weights /= weights.sum()
    lens = rng.integers(20, 61, n_docs)
    toks = rng.choice(vocab, size=int(lens.sum()), p=weights)
    docs, pos = [], 0
    for n in lens:
        docs.append(" ".join(words[toks[pos:pos + n]]))
        pos += n
    return docs, words


class Bm25Oracle:
    """Brute-force BM25 over whitespace tokens with the rational idf
    (N - df + 0.5) / (df + 0.5), k1 = 1.2 and b = 0.75, summed over query
    terms in query order (the SQL oracle formula of s16)."""

    K1 = 1.2
    B = 0.75

    def __init__(self, docs: list[str]):
        self.tf: list[dict[str, int]] = []
        self.dl: list[int] = []
        self.df: dict[str, int] = {}
        for d in docs:
            toks = d.strip().split()
            counts: dict[str, int] = {}
            for t in toks:
                counts[t] = counts.get(t, 0) + 1
            self.tf.append(counts)
            self.dl.append(len(toks))
            for t in counts:
                self.df[t] = self.df.get(t, 0) + 1
        self.n = len(docs)
        self.sum_dl = sum(self.dl)

    def top(self, terms: list[str], k: int) -> list[tuple[float, int]]:
        n, avg = float(self.n), float(self.sum_dl) / float(self.n)
        k1, b = self.K1, self.B
        out = []
        for tf, dl in zip(self.tf, self.dl):
            if not any(t in tf for t in terms):
                continue
            score = 0.0
            for t in terms:
                f = float(tf.get(t, 0))
                df = float(self.df.get(t, 0))
                score += (((n - df + 0.5) / (df + 0.5)) * (f * (k1 + 1.0))
                          / (f + (k1 * ((1.0 - b) + b * (float(dl) / avg)))))
            out.append((score, dl))
        out.sort(key=lambda r: -r[0])
        return out[:k]
