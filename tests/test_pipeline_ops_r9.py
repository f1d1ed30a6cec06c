"""Round-9 pipeline operators: BM25 sparse retrieval and near-dup-on-ingest."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from plateau_spark.operators.text import bm25_topk


@pytest.fixture()
def corpus(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "the quick brown fox"),
        (3, "lorem ipsum dolor sit amet"),
        (4, "a lazy dog sleeps all day the dog dreams"),
        (5, ""),
        (6, None),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def _bm25_expected(corpus_rows, query_terms, *, k1=1.2, b=0.75):
    """Plain-Python BM25 oracle for a handful of rows."""
    toks = {
        i: [t for t in "".join(c.lower() if c.isalnum() else " " for c in (txt or "")).split() if t]
        for i, txt in corpus_rows
    }
    n = len(toks)
    avgdl = sum(len(v) for v in toks.values()) / n
    df = {}
    for ts in toks.values():
        for t in set(ts):
            df[t] = df.get(t, 0) + 1
    scores = {}
    for i, ts in toks.items():
        s = 0.0
        for t in set(query_terms) & set(ts):
            tf = ts.count(t)
            idf = math.log(1 + (n - df[t] + 0.5) / (df[t] + 0.5))
            s += idf * tf * (k1 + 1) / (tf + k1 * (1 - b + b * len(ts) / avgdl))
        if s > 0:
            scores[i] = round(s, 6)
    return scores


def test_bm25_matches_hand_oracle(spark, corpus):
    rows = [(r.doc_id, r.text) for r in corpus.collect()]
    out = bm25_topk(corpus, "doc_id", "text", {"q1": "lazy dog"}, k=10)
    got = {r.doc_id: r.score for r in out.collect()}
    assert got == _bm25_expected(rows, ["lazy", "dog"])


def test_bm25_ranking_and_k(spark, corpus):
    out = bm25_topk(corpus, "doc_id", "text", {"q1": "lazy dog"}, k=1).collect()
    assert len(out) == 1
    # doc 4 has dog twice + lazy once: the top hit
    assert out[0].doc_id == 4 and out[0].rank == 1


def test_bm25_multi_query_and_miss(spark, corpus):
    out = bm25_topk(
        corpus, "doc_id", "text", {"a": "quick fox", "b": "ipsum", "c": "zzz"}
    )
    by_q = {}
    for r in out.collect():
        by_q.setdefault(r.query_id, []).append(r.doc_id)
    # query terms absent from the corpus yield no rows (inner join)
    assert "c" not in by_q
    assert by_q["b"] == [3]
    assert set(by_q["a"]) == {1, 2}


def test_bm25_tie_break_deterministic(spark):
    # identical docs → identical scores → id ascending order
    df = spark.createDataFrame(
        [(i, "same text here") for i in range(5)], "doc_id long, text string"
    )
    out = bm25_topk(df, "doc_id", "text", {"q": "same"}, k=3).collect()
    assert [r.doc_id for r in out] == [0, 1, 2]
    assert [r.rank for r in out] == [1, 2, 3]


def test_bm25_rejects_empty_queries(spark, corpus):
    with pytest.raises(ValueError):
        bm25_topk(corpus, "doc_id", "text", {})


# ---------------------------------------------------------------------------
# persisted BM25 inverted index (operators/retrieval.py)
# ---------------------------------------------------------------------------


def test_text_index_matches_batch_scorer(spark, tmp_path):
    """query_text_index over a persisted index returns IDENTICAL rows
    to the batch bm25_topk on the same corpus (same formula, rounding,
    tie-break)."""
    from plateau_spark.core.store import Store
    from plateau_spark.operators.retrieval import build_text_index, query_text_index

    rows = [
        (i, f"alpha beta gamma doc{i % 7} " * (1 + i % 5) + ("delta " * (i % 3)))
        for i in range(40)
    ] + [(40, ""), (41, None)]
    corpus = spark.createDataFrame(rows, "doc_id long, text string")
    store = Store(str(tmp_path / "store"))
    build_text_index(spark, store, "idx", corpus, id_col="doc_id", text_col="text")

    queries = {"a": "alpha delta", "b": "doc3 gamma", "c": "absent"}
    got = query_text_index(spark, store, "idx", queries, k=5)
    want = bm25_topk(corpus, "doc_id", "text", queries, k=5)
    canon = lambda df: sorted(map(tuple, df.collect()))
    assert canon(got) == canon(want)


def test_text_index_query_prunes_files(spark, tmp_path):
    """The probed terms' IN-predicate must prune the posting files:
    term-range-clustered files + zone maps → a one-term query touches
    fewer files than the index holds."""
    from plateau_spark.core.store import Store
    from plateau_spark.operators.retrieval import build_text_index, query_text_index

    # 26 disjoint vocabularies a..z → range clustering separates them
    rows = [
        (i, f"{chr(97 + i % 26)}word{j} {chr(97 + i % 26)}term{j}" + " filler" * 3)
        for i in range(260)
        for j in (i % 4,)
    ]
    corpus = spark.createDataFrame(rows, "doc_id long, text string")
    store = Store(str(tmp_path / "store"))
    meta = build_text_index(
        spark, store, "idx", corpus, id_col="doc_id", text_col="text", index_files=8
    )
    n_index_files = len(meta.partitions)
    assert n_index_files > 1

    from plateau_spark.sources.dataset import read_dataset_as_dataframe

    probed = read_dataset_as_dataframe(
        spark, store, "idx", columns=["term", "doc_id", "tf", "dl"],
        predicates=[[("term", "in", ["aword0", "aterm0"])]],
    )
    assert 0 < len(probed.inputFiles()) < n_index_files

    out = query_text_index(spark, store, "idx", {"q": "aword0"}, k=3)
    assert all(r.doc_id % 26 == 0 for r in out.collect())


def test_update_override_metadata_wins_where_merge_drops(spark, tmp_path):
    """Dataset-layer contract behind incremental index stats: metadata=
    merges under the reference rule (conflicting leaves DROPPED);
    override_metadata= deep-overrides in the same atomic commit."""
    from plateau_spark.core.metadata import DatasetMetadata
    from plateau_spark.core.store import Store
    from plateau_spark.sources.dataset import (
        store_dataframe_as_dataset,
        update_dataset_from_dataframe,
    )

    store = Store(str(tmp_path / "store"))
    df = spark.createDataFrame([(1, "a")], "k long, v string")
    store_dataframe_as_dataset(
        spark, store, "ds", df, metadata={"stats": {"n": 1, "kept": "x"}}
    )
    update_dataset_from_dataframe(
        spark, store, "ds", df.withColumn("k", F.col("k") + 1),
        metadata={"stats": {"n": 2}},
    )
    got = DatasetMetadata.load(store, "ds").metadata["stats"]
    assert "n" not in got and got["kept"] == "x"  # merge dropped the conflict

    update_dataset_from_dataframe(
        spark, store, "ds", df.withColumn("k", F.col("k") + 2),
        override_metadata={"stats": {"n": 3}},
    )
    got = DatasetMetadata.load(store, "ds").metadata["stats"]
    assert got["n"] == 3 and got["kept"] == "x"  # override advanced the leaf


def test_rrf_fuse_hand_checked(spark):
    from plateau_spark.operators.retrieval import rrf_fuse

    dense = spark.createDataFrame(
        [("q", 10, 1), ("q", 20, 2), ("q", 30, 3)],
        "query_id string, doc_id long, rank int",
    )
    sparse = spark.createDataFrame(
        [("q", 20, 1), ("q", 40, 2)], "query_id string, doc_id long, rank int"
    )
    out = {r.doc_id: r for r in rrf_fuse([dense, sparse], id_col="doc_id", rrf_k=60).collect()}
    # doc 20: 1/62 + 1/61; doc 10: 1/61; doc 40: 1/62; doc 30: 1/63
    assert out[20].rrf_score == round(1 / 62 + 1 / 61, 6) and out[20].n_lists == 2
    assert out[20].rank == 1
    assert out[10].rank == 2 and out[10].n_lists == 1  # 1/61 > 1/62
    assert out[40].rank == 3 and out[30].rank == 4


def test_rrf_fuse_tie_break_and_k(spark):
    from plateau_spark.operators.retrieval import rrf_fuse

    a = spark.createDataFrame(
        [("q", 2, 1), ("q", 1, 2)], "query_id string, doc_id long, rank int"
    )
    b = spark.createDataFrame(
        [("q", 1, 1), ("q", 2, 2)], "query_id string, doc_id long, rank int"
    )
    out = rrf_fuse([a, b], id_col="doc_id", k=1).collect()
    assert len(out) == 1 and out[0].doc_id == 1  # equal scores → lower id wins

    import pytest as _pytest

    with _pytest.raises(ValueError):
        rrf_fuse([], id_col="doc_id")


def test_text_index_incremental_update_matches_rebuild(spark, tmp_path):
    """update_text_index appends postings + advances corpus stats
    exactly: the post-append query equals a fresh bm25_topk over the
    FULL corpus (scores, ranks, everything)."""
    from plateau_spark.core.store import Store
    from plateau_spark.operators.retrieval import (
        build_text_index,
        query_text_index,
        update_text_index,
    )

    rows1 = [(i, f"alpha beta word{i % 5} gamma " * (1 + i % 3)) for i in range(25)]
    rows2 = [(100 + i, f"delta alpha word{i % 4} zeta " * (2 + i % 2)) for i in range(15)]
    rows2 += [(200, ""), (201, None)]
    corpus1 = spark.createDataFrame(rows1, "doc_id long, text string")
    corpus2 = spark.createDataFrame(rows2, "doc_id long, text string")
    store = Store(str(tmp_path / "store"))
    build_text_index(spark, store, "idx", corpus1, id_col="doc_id", text_col="text")
    update_text_index(spark, store, "idx", corpus2)

    queries = {"a": "alpha word3", "b": "delta zeta"}
    got = query_text_index(spark, store, "idx", queries, k=8)
    want = bm25_topk(corpus1.unionByName(corpus2), "doc_id", "text", queries, k=8)
    canon = lambda df: sorted(map(tuple, df.collect()))
    assert canon(got) == canon(want)

    # stats advanced exactly in the SAME commit (override, not merge)
    from plateau_spark.core.metadata import DatasetMetadata

    bm25 = DatasetMetadata.load(store, "idx").metadata["bm25"]
    assert bm25["n_docs"] == 42
    assert bm25["avgdl"] == bm25["toklen"] / 42


def test_mine_hard_negatives_excludes_positive(spark, corpus):
    from plateau_spark.operators.retrieval import mine_hard_negatives

    pairs = spark.createDataFrame(
        [("p1", "lazy dog", 4)], "query_id string, query_text string, positive_id long"
    )
    out = mine_hard_negatives(corpus, "doc_id", "text", pairs, k=3).collect()
    ids = [r.doc_id for r in out]
    assert 4 not in ids  # the positive (top BM25 hit for "lazy dog") is excluded
    assert ids[0] == 1  # next-best lexical match becomes negative #1
    assert [r.rank for r in out] == list(range(1, len(out) + 1))


def test_mine_hard_negatives_still_k_when_positive_outside(spark, corpus):
    """If the positive is not among the BM25 candidates, the top-k
    negatives are just the top-k BM25 hits (k+1 over-fetch covers the
    drop case)."""
    from plateau_spark.operators.retrieval import mine_hard_negatives

    pairs = spark.createDataFrame(
        [("p1", "lazy dog", 3)],  # doc 3 has no query terms
        "query_id string, query_text string, positive_id long",
    )
    out = mine_hard_negatives(corpus, "doc_id", "text", pairs, k=2)
    want = bm25_topk(corpus, "doc_id", "text", {"p1": "lazy dog"}, k=2)
    assert sorted(map(tuple, out.collect())) == sorted(map(tuple, want.collect()))


def test_mine_hard_negatives_rejects_bad_pairs(spark, corpus):
    from plateau_spark.operators.retrieval import mine_hard_negatives

    empty = spark.createDataFrame(
        [], "query_id string, query_text string, positive_id long"
    )
    with pytest.raises(ValueError):
        mine_hard_negatives(corpus, "doc_id", "text", empty)
    dup = spark.createDataFrame(
        [("p", "a", 1), ("p", "b", 2)],
        "query_id string, query_text string, positive_id long",
    )
    with pytest.raises(ValueError):
        mine_hard_negatives(corpus, "doc_id", "text", dup)


def test_text_index_rejects_empty(spark, tmp_path):
    from plateau_spark.core.store import Store
    from plateau_spark.operators.retrieval import build_text_index, query_text_index

    corpus = spark.createDataFrame([(1, "some words here")], "doc_id long, text string")
    store = Store(str(tmp_path / "store"))
    build_text_index(spark, store, "idx", corpus, id_col="doc_id", text_col="text")
    with pytest.raises(ValueError):
        query_text_index(spark, store, "idx", {})
    with pytest.raises(ValueError):
        query_text_index(spark, store, "idx", {"q": "..."})


# ---------------------------------------------------------------------------
# PCA embedding projection (operators/similarity.py)
# ---------------------------------------------------------------------------


@pytest.fixture()
def vecs(spark):
    import numpy as np

    rng = np.random.RandomState(3)
    # anisotropic cloud: variance concentrated in two known directions
    base = rng.randn(80, 2) @ np.array([[5.0, 0, 0, 1.0], [0, 2.0, 0.5, 0]])
    noise = rng.randn(80, 4) * 0.01
    V = base + noise + np.array([1.0, -2.0, 0.5, 3.0])
    rows = [(i, [float(x) for x in V[i]]) for i in range(80)]
    return V, spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def test_pca_fit_matches_numpy(spark, vecs):
    import numpy as np

    from plateau_spark.operators.similarity import pca_fit_embeddings

    V, df = vecs
    model = pca_fit_embeddings(df, dim_out=2)
    assert model["n"] == 80
    np.testing.assert_allclose(model["mean"], V.mean(axis=0), rtol=1e-9)
    cov = np.cov(V, rowvar=False)
    w, Q = np.linalg.eigh(cov)
    order = np.argsort(w)[::-1][:2]
    np.testing.assert_allclose(
        sorted(model["explained_variance"], reverse=True),
        sorted(w[order], reverse=True),
        rtol=1e-8,
    )
    got = np.array(model["components"])
    want = Q[:, order].T
    for g, ref in zip(got, want):
        # same subspace up to sign; model uses the positive-pivot convention
        assert min(np.abs(g - ref).max(), np.abs(g + ref).max()) < 1e-8
        assert g[np.argmax(np.abs(g))] > 0


def test_pca_projection_and_whitening(spark, vecs):
    import numpy as np

    from plateau_spark.operators.similarity import (
        pca_fit_embeddings,
        pca_project_embeddings,
    )

    V, df = vecs
    model = pca_fit_embeddings(df, dim_out=2)
    out = pca_project_embeddings(
        df, "vec_id", "embedding", model=model, round_digits=None
    )
    got = {r.vec_id: np.array(r.projected) for r in out.collect()}
    W = np.array(model["components"]).T
    want = (V - np.array(model["mean"])) @ W
    for i in range(80):
        np.testing.assert_allclose(got[i], want[i], rtol=1e-6, atol=1e-9)

    white = pca_project_embeddings(
        df, "vec_id", "embedding", model=model, whiten=True, round_digits=None
    )
    P = np.array([r.projected for r in white.orderBy("vec_id").collect()])
    np.testing.assert_allclose(P.var(axis=0, ddof=1), [1.0, 1.0], rtol=1e-6)


def test_pca_guards(spark, vecs):
    from plateau_spark.operators.similarity import (
        pca_fit_embeddings,
        pca_project_embeddings,
    )

    _, df = vecs
    with pytest.raises(ValueError):
        pca_fit_embeddings(df, dim_out=0)
    with pytest.raises(ValueError):
        pca_fit_embeddings(df, dim_out=99)
    with pytest.raises(ValueError):
        pca_project_embeddings(df, "vec_id", "embedding")  # neither model nor dim_out
    # whiten on a ~zero-variance component fails loudly
    flat = spark.createDataFrame(
        [(i, [1.0, 2.0]) for i in range(5)], "vec_id long, embedding array<double>"
    )
    model = pca_fit_embeddings(flat, dim_out=1)
    with pytest.raises(ValueError):
        pca_project_embeddings(flat, "vec_id", "embedding", model=model, whiten=True)


# ---------------------------------------------------------------------------
# change-data reads between generations (sources/dataset.py)
# ---------------------------------------------------------------------------


def test_read_dataset_changes_insert_delete_and_pruning(spark, tmp_path):
    from plateau_spark.core.store import Store
    from plateau_spark.sources.dataset import (
        dataset_generation_diff,
        read_dataset_changes,
        store_dataframe_as_dataset,
        update_dataset_from_dataframe,
    )

    store = Store(str(tmp_path / "store"))
    base = spark.createDataFrame(
        [(i, ["a", "b", "c"][i % 3], i * 10) for i in range(9)],
        "k long, part string, v long",
    )
    store_dataframe_as_dataset(spark, store, "ds", base, partition_on=["part"])  # gen 1
    update_dataset_from_dataframe(
        spark, store, "ds",
        spark.createDataFrame([(100, "a", 1), (101, "a", 2)], "k long, part string, v long"),
        delete_scope=[{"part": "b"}],
    )  # gen 2

    changes = read_dataset_changes(spark, store, "ds", from_generation=1)
    got = {(r.k, r._change_type) for r in changes.collect()}
    want = {(100, "insert"), (101, "insert")} | {
        (i, "delete") for i in range(9) if i % 3 == 1
    }
    assert got == want
    # scale contract: only changed partitions' files are read — the
    # untouched 'c' (and surviving 'a') files never enter the plan
    assert all("part=b" in f or "part=a" in f for f in changes.inputFiles())
    assert not any("part=c" in f for f in changes.inputFiles())

    meta_diff = [
        (r.change, r.file)
        for r in dataset_generation_diff(spark, store, "ds", from_generation=1).collect()
    ]
    adds = [f for c, f in meta_diff if c == "added"]
    drops = [f for c, f in meta_diff if c == "removed"]
    assert len(adds) >= 1 and all("part=a" in f for f in adds)
    assert len(drops) >= 1 and all("part=b" in f for f in drops)


def test_read_dataset_changes_multiset_and_noop(spark, tmp_path):
    from plateau_spark.core.store import Store
    from plateau_spark.sources.dataset import (
        read_dataset_changes,
        store_dataframe_as_dataset,
        update_dataset_from_dataframe,
    )

    store = Store(str(tmp_path / "store"))
    df = spark.createDataFrame([(1, "x"), (1, "x"), (2, "y")], "k long, v string")
    store_dataframe_as_dataset(spark, store, "ds", df)  # gen 1
    # append an exact duplicate of an existing row: multiset insert of 1
    update_dataset_from_dataframe(
        spark, store, "ds", spark.createDataFrame([(1, "x")], "k long, v string")
    )  # gen 2
    rows = read_dataset_changes(spark, store, "ds", from_generation=1).collect()
    assert [(r.k, r.v, r._change_type) for r in rows] == [(1, "x", "insert")]

    # same generation both sides → empty diff
    assert (
        read_dataset_changes(
            spark, store, "ds", from_generation=2, to_generation=2
        ).count()
        == 0
    )


def test_read_dataset_changes_schema_evolution_nullfills(spark, tmp_path):
    from plateau_spark.core.store import Store
    from plateau_spark.sources.dataset import (
        read_dataset_changes,
        store_dataframe_as_dataset,
        update_dataset_from_dataframe,
        delete_rows_from_dataset,
    )

    store = Store(str(tmp_path / "store"))
    store_dataframe_as_dataset(
        spark, store, "ds", spark.createDataFrame([(1, "a")], "k long, v string")
    )  # gen 1
    update_dataset_from_dataframe(
        spark, store, "ds",
        spark.createDataFrame([(2, "b", 9.5)], "k long, v string, extra double"),
        schema_evolution=True,
    )  # gen 2
    delete_rows_from_dataset(spark, store, "ds", [[("k", "==", 1)]])  # gen 3

    # gen1 → gen3: the pre-evolution deleted row reads with extra NULL
    rows13 = {
        (r.k, r._change_type): r.extra
        for r in read_dataset_changes(
            spark, store, "ds", from_generation=1, to_generation=3
        ).collect()
    }
    assert rows13 == {(2, "insert"): 9.5, (1, "delete"): None}


# ---------------------------------------------------------------------------
# HTML text extraction (operators/web.py)
# ---------------------------------------------------------------------------


def test_html_text_extraction_rules(spark):
    from plateau_spark.operators.web import html_text_col

    rows = [
        (1, '<html><head><script>if (x < 3) { alert("hi") }</script>'
            "<style>.a{color:red}</style></head><body><p>Hello   world</p>"
            "<!-- note --><div>bye</div></body></html>"),
        (2, "no markup at all"),
        (3, "a &amp; b &lt;tag&gt; &quot;q&quot; &#39;s&#39; x&nbsp;y"),
        (4, "double &amp;lt; escape"),
        (5, None),
        (6, ""),
    ]
    df = spark.createDataFrame(rows, "i long, html string")
    got = {r.i: r.t for r in df.select("i", html_text_col("html").alias("t")).collect()}
    assert got[1] == "Hello world bye"  # script/style/comment gone, tags to spaces
    assert got[2] == "no markup at all"
    assert got[3] == 'a & b <tag> "q" \'s\' x y'
    assert got[4] == "double &lt; escape"  # double-escape decodes ONE level
    assert got[5] is None
    assert got[6] == ""


def test_html_boilerplate_signals(spark):
    from plateau_spark.operators.web import html_boilerplate_signals

    df = spark.createDataFrame(
        [(1, '<p>text</p><a href="x">l</a><A HREF="y">L</A>'), (2, "")],
        "i long, html string",
    )
    out = {r.i: r for r in html_boilerplate_signals(df, "html").collect()}
    assert out[1].n_tags == 6 and out[1].n_links == 2  # case-insensitive <a
    assert out[1].extracted_text == "text l L"
    assert out[2].n_tags == 0 and out[2].text_ratio is None  # 0-length raw


# ---------------------------------------------------------------------------
# near-dup-on-ingest (streaming/events.py:stream_ingest_neardup)
# ---------------------------------------------------------------------------


def _py_shingles(text, n=3):
    """Pure-Python twin of the shared shingle contract (incl. the
    short-text single-shingle degenerate case)."""
    import re

    toks = [w for w in re.split(r"[^\w]+|_+", (text or "").strip().lower()) if w]
    if len(toks) <= n:
        return [" ".join(toks)]
    return list(dict.fromkeys(" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)))


def _py_bandsigs(text, *, num_perm=16, bands=4, shingle_size=3):
    import hashlib

    sh = _py_shingles(text, shingle_size)
    mins = [
        min(
            int(hashlib.md5(f"{p}|{s}".encode()).hexdigest()[:15], 16)
            for s in sh
        )
        for p in range(num_perm)
    ]
    rpb = num_perm // bands
    return {
        (b, ",".join(str(mins[b * rpb + j]) for j in range(rpb)))
        for b in range(bands)
    }


def _py_seen_index_kept(rows, **kw):
    """The seen-index contract: doc dropped iff it shares a band sig
    with ANY earlier-arrival doc (kept or dropped)."""
    seen: set = set()
    kept = []
    for i, text in rows:
        sigs = _py_bandsigs(text, **kw)
        if not (sigs & seen):
            kept.append(i)
        seen |= sigs
    return kept


def test_md5_band_signatures_match_python_twin(spark):
    from plateau_spark.operators.dedup import md5_band_signatures

    rows = [
        (1, "the quick brown fox jumps over the lazy dog again and again"),
        (2, "short doc"),
        (3, ""),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = md5_band_signatures(df, "doc_id", "text", num_perm=8, bands=4)
    got = {}
    for r in out.collect():
        got.setdefault(r.doc_id, set()).add((r.band, r.bandsig))
    for i, text in rows:
        assert got[i] == _py_bandsigs(text, num_perm=8, bands=4), f"doc {i}"


def _run_neardup(spark, tmp_path, batches, **neardup_kw):
    import glob
    import os
    import shutil

    from plateau_spark.core.store import Store
    from plateau_spark.sources.dataset import read_table
    from plateau_spark.streaming.events import stream_ingest_neardup

    src = tmp_path / "src"
    src.mkdir()
    for i, rows in enumerate(batches):
        stage = tmp_path / f"stage{i}"
        spark.createDataFrame(rows, "doc_id long, text string").coalesce(
            1
        ).write.parquet(str(stage))
        part = glob.glob(str(stage / "part-*.parquet"))[0]
        dst = str(src / f"{i}.parquet")
        shutil.copy(part, dst)
        os.utime(dst, (1_700_000_000 + i, 1_700_000_000 + i))  # force batch order
    schema = spark.read.parquet(str(src)).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    store = Store(str(tmp_path / "store"))
    q = stream_ingest_neardup(
        stream,
        store,
        "docs",
        id_col="doc_id",
        text_col="text",
        checkpoint_dir=str(tmp_path / "ck"),
        fingerprint_dataset="docs_fp",
        available_now=True,
        **neardup_kw,
    )
    q.awaitTermination(180)
    return store, read_table(spark, store, "docs")


def test_neardup_ingest_matches_seen_index_contract(spark, tmp_path):
    """Randomized-but-seeded corpus with exact repeats, mutations, and
    short docs across 3 batches — the committed kept set must equal the
    pure-Python seen-index reference (catches chain semantics: a match
    with a DROPPED doc also drops)."""
    import random

    rng = random.Random(7)
    vocab = "alpha beta gamma delta epsilon zeta eta theta iota kappa".split()
    base_texts = [
        " ".join(rng.choice(vocab) for _ in range(rng.randint(12, 25)))
        for _ in range(8)
    ]
    rows = []
    for i in range(30):
        kind = rng.random()
        if kind < 0.4:  # exact or near repeat of an earlier base
            t = base_texts[rng.randrange(len(base_texts))]
            if rng.random() < 0.5:
                words = t.split()
                words[rng.randrange(len(words))] = rng.choice(vocab)
                t = " ".join(words)
        elif kind < 0.5:  # short doc
            t = " ".join(rng.choice(vocab) for _ in range(rng.randint(0, 3)))
        else:  # fresh text
            t = " ".join(rng.choice(vocab) for _ in range(rng.randint(12, 25)))
        rows.append((i, t))
    batches = [rows[:10], rows[10:20], rows[20:]]
    _, out = _run_neardup(spark, tmp_path, batches)
    got = sorted(r.doc_id for r in out.collect())
    assert got == _py_seen_index_kept(rows)


def test_neardup_ingest_basic_and_fingerprint_state(spark, tmp_path):
    long_a = "one two three four five six seven eight nine ten eleven twelve"
    long_b = "red orange yellow green blue indigo violet ultra infra deep dark light"
    batches = [
        [(1, long_a), (2, long_a)],               # 2 drops within batch
        [(3, long_a), (4, long_b), (5, long_b)],  # 3 drops cross-batch, 5 within
    ]
    store, out = _run_neardup(spark, tmp_path, batches)
    assert sorted(r.doc_id for r in out.collect()) == [1, 4]

    # the fingerprint dataset remembers ALL seen docs' bands (kept or
    # dropped): distinct sigs of docs 1..5 = sigs(long_a) ∪ sigs(long_b)
    from plateau_spark.sources.dataset import read_table

    fp = read_table(spark, store, "docs_fp")
    got_sigs = {(r.band, r.bandsig) for r in fp.collect()}
    assert got_sigs == _py_bandsigs(long_a) | _py_bandsigs(long_b)


@pytest.mark.slow  # exhaustive fuzz/property tier; fast-tier coverage remains (pytest.ini)
def test_neardup_ingest_restart_is_noop(spark, tmp_path):
    long_a = "one two three four five six seven eight nine ten eleven twelve"
    batches = [[(1, long_a)], [(2, long_a + " extra"), (3, "fresh words entirely different tokens here now today indeed truly")]]
    store, out = _run_neardup(spark, tmp_path, batches)
    first = sorted(r.doc_id for r in out.collect())

    # second run over the same checkpoint: replays nothing, result stable
    from plateau_spark.sources.dataset import read_table
    from plateau_spark.streaming.events import stream_ingest_neardup

    schema = out.schema
    stream2 = (
        spark.readStream.schema(
            spark.read.parquet(str(tmp_path / "src")).schema
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(str(tmp_path / "src"))
    )
    q2 = stream_ingest_neardup(
        stream2, store, "docs",
        id_col="doc_id", text_col="text",
        checkpoint_dir=str(tmp_path / "ck"),
        fingerprint_dataset="docs_fp", available_now=True,
    )
    q2.awaitTermination(180)
    assert sorted(r.doc_id for r in read_table(spark, store, "docs").collect()) == first


@pytest.mark.slow  # exhaustive fuzz/property tier; fast-tier coverage remains (pytest.ini)
def test_neardup_ingest_siphash_production_tier(spark, tmp_path):
    """hash_family='siphash' runs the same pipeline with seeded-murmur3
    minhash atoms: exact-duplicate texts still collide cross-batch and
    within batch; fresh texts survive."""
    long_a = "one two three four five six seven eight nine ten eleven twelve"
    long_b = "red orange yellow green blue indigo violet ultra infra deep dark light"
    batches = [[(1, long_a), (2, long_a)], [(3, long_a), (4, long_b)]]
    _, out = _run_neardup(spark, tmp_path, batches, hash_family="siphash")
    assert sorted(r.doc_id for r in out.collect()) == [1, 4]


@pytest.mark.slow  # exhaustive fuzz/property tier; fast-tier coverage remains (pytest.ini)
def test_neardup_ingest_legacy_untagged_fingerprint_dataset(spark, tmp_path):
    """A fingerprint dataset committed before the __batch_id__ tag
    existed (plain band/bandsig columns) must keep working on resume:
    the sink detects the missing column, reads it unfiltered, appends
    untagged rows (schema-compatible), and keeps the serial commit
    order. Docs colliding with the pre-seeded legacy sigs still drop."""
    from plateau_spark.core.store import Store
    from plateau_spark.sources.dataset import (
        read_table,
        store_dataframe_as_dataset,
    )

    long_a = "one two three four five six seven eight nine ten eleven twelve"
    long_b = "red orange yellow green blue indigo violet ultra infra deep dark light"
    store = Store(str(tmp_path / "store"))
    legacy_sigs = spark.createDataFrame(
        sorted(_py_bandsigs(long_a)), "band int, bandsig string"
    )
    store_dataframe_as_dataset(spark, store, "docs_fp", legacy_sigs)

    batches = [[(1, long_a), (2, long_b)]]
    _, out = _run_neardup(spark, tmp_path, batches)
    # doc 1 collides with the legacy seen index; doc 2 is fresh
    assert sorted(r.doc_id for r in out.collect()) == [2]
    fp = read_table(spark, store, "docs_fp")
    assert "__batch_id__" not in fp.columns  # stays untagged
    got = {(r.band, r.bandsig) for r in fp.collect()}
    assert got == _py_bandsigs(long_a) | _py_bandsigs(long_b)


def test_neardup_ingest_replay_after_partial_commit(spark, tmp_path, monkeypatch):
    """Crash window between the two OVERLAPPED commits: the fingerprint
    commit lands, the survivors commit fails. The replayed batch must
    commit the SAME survivors — the seen read excludes the batch's own
    landed fingerprints (__batch_id__ < batch_id), so the replay's dedup
    decision is identical. Without the self-excluding filter every batch
    doc collides with its own fingerprints on replay and the batch's
    kept docs are silently lost (r14 advice, high)."""
    import plateau_spark.streaming.events as ev
    from plateau_spark.core.metadata import DatasetMetadata
    from plateau_spark.core.store import Store
    from plateau_spark.sources.dataset import read_table

    long_a = "one two three four five six seven eight nine ten eleven twelve"
    long_b = "red orange yellow green blue indigo violet ultra infra deep dark light"
    batches = [[(1, long_a)], [(2, long_a), (3, long_b)]]
    real = ev.commit_stream_batch
    inject = {"on": True}

    def failing(spark_, st, uuid, df, batch_id, **kw):
        if inject["on"] and uuid == "docs" and batch_id == 1:
            # the sink's executor-shutdown join still completes the
            # concurrent fingerprint commit after this raises — exactly
            # the advice's crash window
            raise RuntimeError("injected survivors-commit failure")
        return real(spark_, st, uuid, df, batch_id, **kw)

    monkeypatch.setattr(ev, "commit_stream_batch", failing)
    with pytest.raises(Exception, match="injected|Query"):
        _run_neardup(spark, tmp_path, batches)

    store = Store(str(tmp_path / "store"))
    # batch 1's fingerprints landed, its survivors did not
    fp_meta = DatasetMetadata.load(store, "docs_fp")
    assert "1" in fp_meta.metadata["stream_batches"]
    assert sorted(
        r.doc_id for r in read_table(spark, store, "docs").collect()
    ) == [1]

    # restart over the same checkpoint: batch 1 replays and commits [3]
    inject["on"] = False
    stream2 = (
        spark.readStream.schema(spark.read.parquet(str(tmp_path / "src")).schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(tmp_path / "src"))
    )
    q2 = ev.stream_ingest_neardup(
        stream2, store, "docs",
        id_col="doc_id", text_col="text",
        checkpoint_dir=str(tmp_path / "ck"),
        fingerprint_dataset="docs_fp", available_now=True,
    )
    q2.awaitTermination(180)
    assert sorted(
        r.doc_id for r in read_table(spark, store, "docs").collect()
    ) == [1, 3]


def test_band_signatures_rejects_bad_family(spark):
    from plateau_spark.operators.dedup import md5_band_signatures

    df = spark.createDataFrame([(1, "a b c d")], "doc_id long, text string")
    with pytest.raises(ValueError):
        md5_band_signatures(df, "doc_id", "text", hash_family="xxhash")


@pytest.mark.slow  # exhaustive fuzz/property tier; fast-tier coverage remains (pytest.ini)
def test_neardup_ingest_compaction_cadence(spark, tmp_path):
    """compact_fingerprint_every=1 → the fingerprint dataset compacts
    after batch 1+: still one row per distinct sig, readable, and the
    final batch's commit survives the swap."""
    texts = [
        "aa bb cc dd ee ff gg hh ii jj kk ll",
        "mm nn oo pp qq rr ss tt uu vv ww xx",
        "yy zz a1 b2 c3 d4 e5 f6 g7 h8 i9 j0",
    ]
    batches = [[(i, texts[i])] for i in range(3)]
    store, out = _run_neardup(
        spark, tmp_path, batches, compact_fingerprint_every=1
    )
    assert sorted(r.doc_id for r in out.collect()) == [0, 1, 2]
    from plateau_spark.sources.dataset import read_table

    fp = read_table(spark, store, "docs_fp")
    expect = set()
    for t in texts:
        expect |= _py_bandsigs(t)
    assert {(r.band, r.bandsig) for r in fp.collect()} == expect


# ---------------------------------------------------------------------------
# compression-ratio quality signal


def test_compression_signal_matches_zlib_twin(spark):
    import zlib

    from plateau_spark.operators.text import compression_ratio_signals

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    out = compression_ratio_signals(docs, "doc_id", "text").collect()
    texts = {r.doc_id: r.text for r in docs.collect()}
    assert len(out) == len(texts)
    for r in out:
        raw = texts[r.doc_id].encode("utf-8")
        assert r.raw_bytes == len(raw)
        assert r.deflate_bytes == (len(zlib.compress(raw, 6)) if raw else 0)
        if raw:
            assert r.compression_ratio == r.deflate_bytes / r.raw_bytes


def test_compression_signal_edges(spark):
    from plateau_spark.operators.text import compression_ratio_signals

    edge = spark.createDataFrame(
        [(1, ""), (2, "spam " * 2000), (3, None),
         (4, "A short but plainly ordinary English sentence level sample.")],
        "doc_id long, text string",
    )
    rows = {r.doc_id: r for r in
            compression_ratio_signals(edge, "doc_id", "text").collect()}
    # empty/NULL text: NULL ratio, keep=false (never NULL)
    assert rows[1].compression_ratio is None and rows[1].keep_compression is False
    assert rows[3].compression_ratio is None and rows[3].keep_compression is False
    # degenerate repetition deflates below any sane low bound
    assert rows[2].compression_ratio < 0.05 and rows[2].keep_compression is False
    # short natural prose barely compresses but stays under high=1.2
    assert rows[4].keep_compression is True


def test_compression_signal_level_changes_bytes_not_contract(spark):
    from plateau_spark.operators.text import compression_ratio_signals

    df = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog. " * 200)],
        "doc_id long, text string",
    )
    fast = compression_ratio_signals(df, "doc_id", "text", level=1).collect()[0]
    best = compression_ratio_signals(df, "doc_id", "text", level=9).collect()[0]
    assert fast.raw_bytes == best.raw_bytes
    assert best.deflate_bytes <= fast.deflate_bytes


# ---------------------------------------------------------------------------
# Unicode normalization


def test_normalize_documents_forms_and_nulls(spark):
    import unicodedata

    from plateau_spark.operators.text import (
        normalize_documents,
        normalize_text_col_udf,
    )

    decomposed = "café naïve Å"
    compat = "Ⅳ Ａ ﬁ"  # Ⅳ Ａ ﬁ
    df = spark.createDataFrame(
        [(1, decomposed), (2, compat), (3, None)], "id long, text string"
    )
    nfc = {r.id: r.text for r in normalize_documents(df, "text").collect()}
    assert nfc[1] == unicodedata.normalize("NFC", decomposed) == "café naïve Å"
    assert nfc[2] == compat  # NFC leaves compatibility chars alone
    assert nfc[3] is None
    nfkc = {r.id: r.text
            for r in normalize_documents(df, "text", form="NFKC").collect()}
    assert nfkc[2] == "IV A fi"
    # out_col leaves the source column untouched
    both = normalize_documents(df, "text", out_col="norm").collect()
    assert {r.id: (r.text, r.norm) for r in both}[1][0] == decomposed
    import pytest as _pytest

    with _pytest.raises(ValueError):
        normalize_text_col_udf("NFX")


# ---------------------------------------------------------------------------
# product quantization


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")


def test_pq_fit_deterministic_and_guards(spark, emb):
    from plateau_spark.operators.similarity import fit_pq_model

    m1 = fit_pq_model(emb, m=8, k=16, refine_iterations=1)
    m2 = fit_pq_model(emb, m=8, k=16, refine_iterations=1)
    assert m1 == m2
    assert m1["sub_dim"] == 8 and len(m1["codebooks"]) == 8
    assert all(len(b) == 16 for b in m1["codebooks"])
    with pytest.raises(ValueError):
        fit_pq_model(emb, m=7, k=16)  # 64 % 7 != 0


def test_pq_encode_matches_numpy_twin(spark, emb):
    import numpy as np

    from plateau_spark.operators.similarity import encode_pq, fit_pq_model

    model = fit_pq_model(emb, m=8, k=16, refine_iterations=1)
    codes = {r.vec_id: r.pq_code for r in encode_pq(emb, model).collect()}
    books = [np.array(b) for b in model["codebooks"]]
    sub = model["sub_dim"]
    for r in emb.limit(50).collect():
        v = np.array(r.embedding, dtype=np.float64)
        want = [
            int(((v[j * sub:(j + 1) * sub] - books[j]) ** 2).sum(axis=1).argmin())
            for j in range(8)
        ]
        assert codes[r.vec_id] == want


def test_pq_encode_rejects_bad_passthrough_cols(spark, emb):
    """passthrough_cols naming a missing column or one of the
    id/vec/out columns must fail fast with a clear error, not a
    duplicate mapInPandas schema or an opaque KeyError inside the
    Arrow pass (r14 ADVICE, low)."""
    from plateau_spark.operators.similarity import encode_pq, fit_pq_model

    model = fit_pq_model(emb, m=8, k=16, refine_iterations=1)
    with pytest.raises(ValueError, match="missing=\\['nope'\\]"):
        encode_pq(emb, model, passthrough_cols=["nope"])
    with pytest.raises(ValueError, match="clashing=\\['vec_id'\\]"):
        encode_pq(emb, model, passthrough_cols=["vec_id"])
    with pytest.raises(ValueError, match="clashing"):
        encode_pq(emb, model, passthrough_cols=["embedding"])


def test_pq_topk_adc_matches_python_twin(spark, emb):
    import numpy as np

    from plateau_spark.operators.similarity import (
        encode_pq,
        fit_pq_model,
        pq_topk,
    )

    model = fit_pq_model(emb, m=8, k=16, refine_iterations=1)
    codes = encode_pq(emb, model)
    queries = emb.orderBy("vec_id").limit(3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    top = pq_topk(codes, queries, model, k=10)
    got = {}
    for r in top.orderBy("query_id", "rank").collect():
        got.setdefault(r.query_id, []).append(r.vec_id)

    books = [np.array(b) for b in model["codebooks"]]
    sub = model["sub_dim"]
    all_codes = {r.vec_id: r.pq_code for r in codes.collect()}
    for q in queries.collect():
        qv = np.array(q.embedding, dtype=np.float64)
        tables = [
            ((qv[j * sub:(j + 1) * sub] - books[j]) ** 2).sum(axis=1)
            for j in range(8)
        ]
        dist = {
            i: sum(tables[j][c[j]] for j in range(8))
            for i, c in all_codes.items()
        }
        want = [i for _, i in sorted((round(d, 6), i) for i, d in dist.items())[:10]]
        assert got[q.query_id] == want


def test_pq_rerank_lifts_recall(spark, emb):
    import numpy as np

    from plateau_spark.operators.similarity import (
        encode_pq,
        fit_pq_model,
        pq_topk,
    )

    V = np.array([r.embedding for r in emb.collect()], dtype=np.float64)
    ids = [r.vec_id for r in emb.collect()]
    queries = emb.orderBy("vec_id").limit(5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    model = fit_pq_model(emb, m=8, k=64, refine_iterations=2)
    codes = encode_pq(emb, model)

    def recall(top):
        got = {}
        for r in top.collect():
            got.setdefault(r.query_id, []).append(r.vec_id)
        recs = []
        for q in queries.collect():
            qv = np.array(q.embedding, dtype=np.float64)
            d = ((V - qv) ** 2).sum(axis=1)
            exact = {ids[i] for i in np.argsort(d)[:10]}
            recs.append(len(exact & set(got[q.query_id])) / 10)
        return sum(recs) / len(recs)

    adc = recall(pq_topk(codes, queries, model, k=10))
    rer = recall(
        pq_topk(codes, queries, model, k=10, refine_with=emb, overfetch=8)
    )
    assert rer >= 0.9
    assert rer >= adc


def test_pq_index_persist_query_and_incremental_append(spark, emb, tmp_path):
    """Persisted index query equals the direct pq_topk; appending new
    vectors with the frozen codebooks equals a full re-encode."""
    from plateau_spark.operators.similarity import (
        build_pq_index,
        encode_pq,
        fit_pq_model,
        pq_topk,
        query_pq_index,
        update_pq_index,
    )

    store = str(tmp_path / "s")
    half = emb.where("vec_id % 2 = 0")
    build_pq_index(spark, store, "pq", half, m=8, k=16, refine_iterations=1)
    queries = emb.orderBy("vec_id").limit(3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    got = sorted(
        tuple(r)
        for r in query_pq_index(spark, store, "pq", queries, k=5).collect()
    )
    model = fit_pq_model(half, m=8, k=16, refine_iterations=1)
    want = sorted(
        tuple(r)
        for r in pq_topk(encode_pq(half, model), queries, model, k=5).collect()
    )
    assert got == want and got

    # incremental append with frozen codebooks == full re-encode
    update_pq_index(spark, store, "pq", emb.where("vec_id % 2 = 1"))
    got2 = sorted(
        tuple(r)
        for r in query_pq_index(spark, store, "pq", queries, k=5).collect()
    )
    want2 = sorted(
        tuple(r)
        for r in pq_topk(encode_pq(emb, model), queries, model, k=5).collect()
    )
    assert got2 == want2
    # rerank tier through the index
    rer = query_pq_index(
        spark, store, "pq", queries, k=5, refine_with=emb, overfetch=4
    )
    assert rer.count() == 15


def test_ivfpq_index_recall_pruning_and_no_float_vectors(spark, emb, tmp_path):
    """IVF-PQ capstone: the index stores ONLY (cell, id, code) — no
    float vectors; probing prunes the file list to the probed cells;
    recall with exact re-rank ≥0.9 when probing all cells (pure
    PQ+rerank) and ≥0.6 at half the cells."""
    import numpy as np

    from plateau_spark.operators.similarity import (
        build_ivfpq_index,
        query_ivfpq_index,
    )
    from plateau_spark.sources.dataset import read_dataset_as_dataframe

    store = str(tmp_path / "s")
    build_ivfpq_index(spark, store, "ix", emb, n_centroids=16, m=8, pq_k=64)
    idx = read_dataset_as_dataframe(spark, store, "ix")
    assert set(idx.columns) == {"cell", "vec_id", "pq_code"}
    all_files = len(idx.inputFiles())
    pruned = len(
        read_dataset_as_dataframe(
            spark, store, "ix", predicates=[[("cell", "in", [0, 1, 2, 3])]]
        ).inputFiles()
    )
    assert pruned < all_files

    queries = emb.orderBy("vec_id").limit(5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    V = np.array([r.embedding for r in emb.collect()], dtype=np.float64)
    ids = [r.vec_id for r in emb.collect()]

    def recall(nprobe):
        top = query_ivfpq_index(
            spark, store, "ix", queries, k=10, nprobe=nprobe,
            refine_with=emb, overfetch=8,
        )
        got = {}
        for r in top.collect():
            got.setdefault(r.query_id, []).append(r.vec_id)
        recs = []
        for q in queries.collect():
            qv = np.array(q.embedding, dtype=np.float64)
            d = ((V - qv) ** 2).sum(axis=1)
            exact = {ids[i] for i in np.argsort(d)[:10]}
            recs.append(len(exact & set(got[q.query_id])) / 10)
        return sum(recs) / len(recs)

    assert recall(16) >= 0.9   # all cells probed: pure PQ+rerank quality
    assert recall(8) >= 0.6    # half the cells: coarse-quantizer recall


def test_pq_fit_on_sample_encodes_full_corpus(spark, emb, tmp_path):
    """fit_corpus= trains codebooks on a sample while the FULL corpus
    is encoded — index row count covers everything, and re-ranked
    recall stays high (codebook quality, not coverage, takes the
    hit)."""
    import numpy as np

    from plateau_spark.operators.similarity import (
        build_ivfpq_index,
        query_ivfpq_index,
    )
    from plateau_spark.sources.dataset import read_dataset_as_dataframe

    store = str(tmp_path / "s")
    build_ivfpq_index(
        spark, store, "ix", emb, n_centroids=16, m=8, pq_k=64,
        fit_corpus=emb.where("vec_id % 4 = 0"),
    )
    assert read_dataset_as_dataframe(spark, store, "ix").count() == emb.count()
    queries = emb.orderBy("vec_id").limit(5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    top = query_ivfpq_index(
        spark, store, "ix", queries, k=10, nprobe=16,
        refine_with=emb, overfetch=8,
    )
    V = np.array([r.embedding for r in emb.collect()], dtype=np.float64)
    ids = [r.vec_id for r in emb.collect()]
    got = {}
    for r in top.collect():
        got.setdefault(r.query_id, []).append(r.vec_id)
    recs = []
    for q in queries.collect():
        qv = np.array(q.embedding, dtype=np.float64)
        d = ((V - qv) ** 2).sum(axis=1)
        exact = {ids[i] for i in np.argsort(d)[:10]}
        recs.append(len(exact & set(got[q.query_id])) / 10)
    assert sum(recs) / len(recs) >= 0.8


@pytest.mark.parametrize("sampled", [False, True], ids=["full_fit", "fit_on_sample"])
def test_ivfpq_build_releases_pins_and_pool_when_fit_fails(
    spark, emb, tmp_path, monkeypatch, sampled
):
    """A failing PQ fit must not leak the residual pin, the fit caches
    or the 1-thread materialization pool."""
    import threading

    from plateau_spark.core.caching import release_shared_caches, shared_cache_count
    from plateau_spark.operators import similarity

    def failing_fit(*args, **kwargs):
        raise RuntimeError("injected fit failure")

    monkeypatch.setattr(similarity, "fit_pq_model", failing_fit)
    release_shared_caches()  # frames earlier tests left in the registry
    jsc = spark.sparkContext._jsc
    pinned_before = jsc.getPersistentRDDs().size()
    threads_before = set(threading.enumerate())
    with pytest.raises(RuntimeError, match="injected fit failure"):
        similarity.build_ivfpq_index(
            spark, str(tmp_path / "s"), "ix", emb, n_centroids=4, m=8, pq_k=16,
            fit_corpus=emb.where("vec_id % 4 = 0") if sampled else None,
        )
    assert shared_cache_count() == 0
    assert jsc.getPersistentRDDs().size() == pinned_before
    leaked = [
        t for t in set(threading.enumerate()) - threads_before
        if t.name.startswith("ThreadPoolExecutor") and t.is_alive()
    ]
    assert leaked == []
