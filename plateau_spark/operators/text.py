"""Text analysis operators for training-data pipelines.

North-star extension operators (SURVEY.md §7 Phase 3): language ID,
quality scoring, token counting, document fingerprinting — all as
column expressions over built-in pyspark.sql.functions so the whole
pipeline stays inside whole-stage codegen (one narrow pass per
document, no shuffle, no Python).

Every expression has a 1:1 ANSI-SQL twin (used by the DuckDB oracle),
so results are bit-reproducible across engines.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from plateau_spark.core.caching import persist_shared
from plateau_spark.core.exprs import bind_col

# Tiny stopword inventories for the n-gram/stopword language heuristic.
# Deliberately small & hard-coded: the point is deterministic, cheap,
# JVM-side scoring, not linguistic completeness.
LANG_STOPWORDS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "in", "is", "that", "with", "for", "was"],
    "de": ["der", "die", "das", "und", "ist", "von", "mit", "nicht", "ein", "zu"],
    "fr": ["le", "la", "les", "et", "est", "dans", "pour", "que", "une", "des"],
    "es": ["el", "la", "los", "que", "de", "en", "es", "por", "con", "para"],
}


def token_count_col(text_col: str) -> Column:
    """Whitespace token count (codegen'd regexp split)."""
    t = F.trim(F.col(text_col))
    return F.when(t == "", F.lit(0)).otherwise(F.size(F.split(t, r"\s+"))).cast("long")


def bpe_ish_token_count_col(text_col: str) -> Column:
    """BPE-ish subword proxy: count of letter-runs plus runs of
    non-letter-non-space chars (a stable upper-ish bound on BPE token
    count). Extract-runs instead of lookaround-split: Java's split keeps
    the delimiter runs as pieces when zero-width boundaries fire on both
    sides, which double-counts — extraction is unambiguous and has an
    exact RE2/DuckDB twin."""
    return F.size(
        F.regexp_extract_all(F.col(text_col), F.lit(r"\p{L}+|[^\p{L}\s]+"), F.lit(0))
    ).cast("long")


def punct_ratio_col(text_col: str) -> Column:
    t = F.col(text_col)
    n = F.length(t)
    punct = n - F.length(F.regexp_replace(t, r"[\.,;:!\?]", ""))
    return F.when(n > 0, punct.cast("double") / n.cast("double")).otherwise(F.lit(0.0))


def stopword_ratio_col(text_col: str, lang: str = "en") -> Column:
    words = F.filter(
        F.split(F.lower(F.col(text_col)), r"[^\p{L}\p{N}]+"), lambda w: w != ""
    )
    stop = F.array(*[F.lit(w) for w in LANG_STOPWORDS[lang]])
    hits = F.size(F.filter(words, lambda w: F.array_contains(stop, w)))
    return F.when(F.size(words) > 0, hits.cast("double") / F.size(words).cast("double")).otherwise(
        F.lit(0.0)
    )


def quality_score_col(text_col: str) -> Column:
    """Composite quality score in [0,1]: length band + punctuation sanity
    + stopword density (the classic cheap pre-filters before expensive
    model-based scoring)."""
    n = F.length(F.col(text_col))
    length_ok = F.when((n >= 200) & (n <= 20000), F.lit(1.0)).otherwise(
        F.when(n >= 50, F.lit(0.5)).otherwise(F.lit(0.0))
    )
    punct = punct_ratio_col(text_col)
    punct_ok = F.when((punct > 0.001) & (punct < 0.2), F.lit(1.0)).otherwise(F.lit(0.0))
    stop_ok = F.when(stopword_ratio_col(text_col) > 0.05, F.lit(1.0)).otherwise(F.lit(0.0))
    return (length_ok + punct_ok + stop_ok) / F.lit(3.0)


def lang_id_col(text_col: str) -> Column:
    """Stopword-hit language heuristic: argmax language by stopword hits,
    'und' (undetermined) when nothing matches."""
    words = F.filter(
        F.split(F.lower(F.col(text_col)), r"[^\p{L}\p{N}]+"), lambda w: w != ""
    )
    result = F.lit("und")
    best = F.lit(0)
    # iterate in fixed order; strictly-greater keeps the first language on ties
    for lang, stopwords in LANG_STOPWORDS.items():
        stop = F.array(*[F.lit(w) for w in stopwords])
        hits = F.size(F.filter(words, lambda w: F.array_contains(stop, w)))
        result = F.when(hits > best, F.lit(lang)).otherwise(result)
        best = F.when(hits > best, hits).otherwise(best)
    return result


def fingerprint_col(text_col: str) -> Column:
    """Deterministic document fingerprint: md5 of the normalized text
    (lowercase, collapsed whitespace). Cross-engine reproducible."""
    normalized = F.regexp_replace(F.lower(F.trim(F.col(text_col))), r"\s+", " ")
    return F.md5(normalized)


def winnow_fingerprints_col(text_col: str, *, k: int = 8, w: int = 4) -> Column:
    """Winnowing fingerprint set (Schleimer et al., SIGMOD'03 — the
    MOSS local document-fingerprinting algorithm): hash every k-char
    gram of the normalized text, slide a w-gram window over the hash
    sequence, keep each window's minimum hash, dedup. Guarantee: any
    shared substring of length >= k + w - 1 between two documents
    yields at least one shared fingerprint, so a fingerprint equi-join
    finds verbatim-overlap candidates without an all-pairs compare.

    Reference analog: none (plateau has no fingerprinting); this is a
    north-star extension operator (SURVEY.md §7 Phase 3 text tier).

    Scale shape: pure per-row array HOFs (transform / sequence / slice
    / array_min) — embarrassingly parallel, ZERO shuffle; at 100 TB
    it's one narrow map over the corpus and the downstream candidate
    join is an equi-join on the exploded fingerprint (bucketable,
    never a nested loop). The paper's rolling hash is a single-core
    micro-optimization; hashing each k-gram independently (md5 prefix)
    vectorizes, and has a bit-identical DuckDB twin.

    Short docs degenerate gracefully: substr past end truncates
    identically in Spark and DuckDB, so every document — even the
    empty one — has >= 1 fingerprint.

    Each stage's input is bound once per row (``core.exprs.bind_col``):
    HOF lambdas re-evaluate captured non-attribute subtrees per
    element, so the unbound form re-normalized per gram and re-hashed
    the gram array per window — O(len²). Bound, this Column form
    matches the staged :func:`winnow_fingerprints` DataFrame form in
    both semantics and O(len) cost.
    """
    t = F.regexp_replace(
        F.lower(F.trim(F.coalesce(F.col(text_col), F.lit("")))), "[^a-z0-9]+", " "
    )
    return bind_col(
        t,
        lambda tb: bind_col(
            _winnow_grams(tb, k),
            lambda grams: F.array_distinct(_winnow_mins(grams, w)),
        ),
    )


def _winnow_grams(t: Column, k: int) -> Column:
    """md5-prefix hash of every k-char gram of ``t`` (1 gram minimum —
    substr past end truncates identically in Spark and DuckDB)."""
    n_g = F.greatest(F.length(t) - F.lit(k) + 1, F.lit(1))
    return F.transform(
        F.sequence(F.lit(1), n_g), lambda i: F.md5(t.substr(i, F.lit(k))).substr(1, 8)
    )


def _winnow_mins(grams: Column, w: int) -> Column:
    """Minimum hash of each w-wide sliding window over the gram array."""
    n_w = F.greatest(F.size(grams) - F.lit(w) + 1, F.lit(1))
    return F.transform(
        F.sequence(F.lit(1), n_w), lambda j: F.array_min(F.slice(grams, j, w))
    )


def winnow_fingerprints(
    df: DataFrame, id_col: str, text_col: str, *, k: int = 8, w: int = 4
) -> DataFrame:
    """Winnowing fingerprints as a DataFrame op: ``(id_col,
    fingerprints array<string>)`` — semantics of
    :func:`winnow_fingerprints_col`, but each stage (normalize → gram
    hashes → window minima) is materialized as its own projection so it
    is evaluated ONCE per row. A single nested expression re-evaluates
    the captured subtree per HOF element (normalize per gram, the whole
    gram array per window) — O(len²) md5/regex calls per document;
    staging makes it O(len). The intermediate aliases are referenced
    twice downstream (sequence bound + lambda body), which blocks
    CollapseProject from re-inlining the expensive expression.

    Still ZERO shuffle — three stacked narrow projections.
    """
    t = F.regexp_replace(
        F.lower(F.trim(F.coalesce(F.col(text_col), F.lit("")))), "[^a-z0-9]+", " "
    )
    staged = df.select(F.col(id_col), t.alias("__t__"))
    staged = staged.select(
        F.col(id_col), _winnow_grams(F.col("__t__"), k).alias("__grams__")
    )
    return staged.select(
        F.col(id_col),
        F.array_distinct(_winnow_mins(F.col("__grams__"), w)).alias("fingerprints"),
    )


def _word_tokens(text_col: str) -> Column:
    """Non-empty lowercased word tokens (same tokenizer as the dedup
    shingles and the DuckDB oracle's regexp_split_to_array twin)."""
    return F.filter(
        F.split(F.lower(F.trim(F.col(text_col))), r"[^\p{L}\p{N}]+"),
        lambda t: t != "",
    )


def word_ngrams_col(text_col: str, n: int = 2) -> Column:
    """Word n-grams WITH duplicates (repetition analysis needs the
    multiset; the dedup path's ``shingles_col`` dedups). Interpreted
    HOF — per-doc compute, embarrassingly parallel, no shuffle. The
    token array is bound once per row (``bind_col``): referenced inline
    it would re-tokenize per n-gram position — O(len²), measured 6.5×
    on the repetition signal at sf0.1."""
    return bind_col(
        _word_tokens(text_col),
        lambda toks: F.transform(
            F.sequence(F.lit(0), F.greatest(F.size(toks) - n, F.lit(0))),
            lambda i: F.concat_ws(" ", F.slice(toks, i + 1, n)),
        ),
    )


def duplicate_ngram_fraction_col(text_col: str, n: int = 2) -> Column:
    """Gopher-style repetition signal: fraction of word n-grams that are
    repeats of an earlier one (1 - distinct/total). 0 for pathological
    empty inputs. Pure per-row expression."""
    grams = word_ngrams_col(text_col, n)
    total = F.size(grams)
    distinct = F.size(F.array_distinct(grams))
    return F.when(
        total > 0, F.lit(1.0) - distinct * F.lit(1.0) / total
    ).otherwise(F.lit(0.0))


def unique_word_ratio_col(text_col: str) -> Column:
    """Distinct words / total words (1.0 for empty docs — nothing
    repeats). Low values flag keyword-stuffed / looping text."""
    toks = _word_tokens(text_col)
    return F.when(
        F.size(toks) > 0, F.size(F.array_distinct(toks)) * F.lit(1.0) / F.size(toks)
    ).otherwise(F.lit(1.0))


def _repetition_counts_udf(n: int):
    """Arrow-batched counting pass: word/n-gram totals, distinct counts,
    and the top n-gram's count per document. COUNTING ONLY — every
    fraction (and its rounding) happens JVM-side so cross-engine float
    behavior is owned by one engine pair (Spark HALF_UP round vs Python
    banker's rounding would otherwise diverge on exact-tie digits).

    Tokenizer is the established Python twin of the JVM/DuckDB
    ``[^\\p{L}\\p{N}]+`` split (see dedup._shingle_texts, parity-proven
    by the hash-checked ngram_jaccard query)."""
    import re
    from collections import Counter

    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    split_re = re.compile(r"[^\w]+|_+", re.UNICODE)

    def counts(texts):
        rows = []
        for t in texts:
            toks = [w for w in split_re.split((t or "").strip().lower()) if w]
            grams = [
                " ".join(toks[i : i + n]) for i in range(max(len(toks) - n, 0) + 1)
            ]
            c = Counter(grams)
            rows.append(
                (len(grams), len(c), max(c.values()), len(toks), len(set(toks)))
            )
        return pd.DataFrame(
            rows, columns=["tg", "dg", "top", "tt", "dt"], dtype="int64"
        )

    return pandas_udf(
        counts, "tg long, dg long, top long, tt long, dt long"
    )


def repetition_signals(
    df: DataFrame, id_col: str, text_col: str, *, ngram_n: int = 2
) -> DataFrame:
    """Per-document repetition profile for quality filtering
    (Gopher/C4-style): duplicate n-gram fraction, unique-word ratio, and
    the fraction of n-grams claimed by the single most frequent one.

    Pure map — ZERO shuffle: one Arrow-batched counting pass per
    document (an explode + groupBy(id, gram) formulation would shuffle
    the corpus's entire token stream; at 100 TB that shuffle IS the
    job). Fractions are JVM-side divisions of the returned counts,
    rounded to 6 so cross-engine hashes match; empty docs count one
    degenerate '' n-gram (same as the column-expression semantics).
    """
    c = _repetition_counts_udf(ngram_n)(F.col(text_col))
    one = F.lit(1.0)
    return df.select(
        F.col(id_col), c.alias("__c__")
    ).select(
        F.col(id_col),
        F.round(one - F.col("__c__.dg") * one / F.col("__c__.tg"), 6).alias(
            "duplicate_ngram_fraction"
        ),
        F.when(
            F.col("__c__.tt") > 0,
            F.round(F.col("__c__.dt") * one / F.col("__c__.tt"), 6),
        )
        .otherwise(F.lit(1.0))
        .alias("unique_word_ratio"),
        F.round(F.col("__c__.top") * one / F.col("__c__.tg"), 6).alias(
            "top_ngram_fraction"
        ),
    )


# PII patterns kept to constructs with identical semantics in Java
# regex (Spark codegen) and RE2 (DuckDB oracle): plain character
# classes and greedy counted repeats — no lookaround, no backrefs.
PII_PATTERNS: dict[str, tuple[str, str]] = {
    "email": (r"[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}", "<EMAIL>"),
    "phone": (r"\+[0-9]{7,15}", "<PHONE>"),
    "ip": (r"([0-9]{1,3}\.){3}[0-9]{1,3}", "<IP>"),
}


def pii_count_col(text_col: str, kind: str) -> Column:
    """Number of PII matches of ``kind`` in the document (codegen'd
    regexp_extract_all; DuckDB twin: len(regexp_extract_all(...)))."""
    pattern, _ = PII_PATTERNS[kind]
    return F.size(F.regexp_extract_all(F.col(text_col), F.lit(pattern), F.lit(0))).cast(
        "long"
    )


def scrub_pii_col(text_col: str, kinds: tuple[str, ...] = ("email", "phone", "ip")) -> Column:
    """Replace every PII match with its placeholder token. Replacement
    order is the ``kinds`` tuple (fixed, so results are deterministic
    across engines — Spark regexp_replace is replace-all, matching
    DuckDB's 'g' flag). Pure per-row expression, no Python."""
    out = F.col(text_col)
    for kind in kinds:
        pattern, token = PII_PATTERNS[kind]
        out = F.regexp_replace(out, pattern, token)
    return out


def analyze_documents(df: DataFrame, text_col: str = "text") -> DataFrame:
    """One-pass text-analysis projection over a documents table."""
    return df.select(
        "*",
        token_count_col(text_col).alias("token_count"),
        punct_ratio_col(text_col).alias("punct_ratio"),
        stopword_ratio_col(text_col).alias("stopword_ratio"),
        quality_score_col(text_col).alias("quality_score"),
        lang_id_col(text_col).alias("lang_pred"),
        fingerprint_col(text_col).alias("fingerprint"),
    )


def tfidf_top_terms(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    k: int = 5,
) -> DataFrame:
    """Top-k characteristic terms per document by TF-IDF.

    tf = in-document term count; idf = ln(N / df) over the corpus.
    Shape: one explode + two keyed aggregations (term frequencies,
    document frequencies; both map-side combined) + one broadcast-able
    join on term + one windowed top-k — no Python anywhere.

    Ranking uses round(tfidf, 6) with the term as tie-break so the
    selected rows are deterministic across engines (raw ln() can differ
    in the last ulp between libm implementations).

    Returns (id, term, tfidf, rank), tfidf rounded to 6.
    """
    from pyspark.sql import Window

    toks = F.filter(
        F.split(F.lower(F.trim(F.col(text_col))), r"[^\p{L}\p{N}]+"), lambda t: t != ""
    )
    exploded = df.select(F.col(id_col).alias("__id__"), F.explode(toks).alias("term"))
    n_docs = df.agg(F.countDistinct(id_col).alias("__n__"))  # 1 row, broadcast below
    tf = exploded.groupBy("__id__", "term").agg(F.count("*").alias("__tf__"))
    dfreq = tf.groupBy("term").agg(F.count("*").alias("__df__"))
    scored = (
        tf.join(dfreq, "term")
        .crossJoin(F.broadcast(n_docs))
        .select(
            "__id__",
            "term",
            F.round(
                F.col("__tf__")
                * F.log(F.col("__n__").cast("double") / F.col("__df__")),
                6,
            ).alias("tfidf"),
        )
    )
    w = Window.partitionBy("__id__").orderBy(F.col("tfidf").desc(), F.col("term").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(F.col("__id__").alias(id_col), "term", "tfidf", "rank")
    )


def bm25_topk(
    df: DataFrame,
    id_col: str,
    text_col: str,
    queries,
    *,
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    query_id_col: str = "query_id",
) -> DataFrame:
    """BM25 sparse-retrieval top-k: for each query, the ``k``
    highest-scoring documents under Okapi BM25 (Lucene idf variant:
    ``ln(1 + (N - df + 0.5)/(df + 0.5))``) — the classic lexical
    retrieval counterpart to the dense ANN tier in
    ``operators/similarity.py``.

    ``queries`` is a small mapping ``{query_id: query_text}`` (or an
    iterable of ``(query_id, query_text)``) — the query side of a
    retrieval workload is human-scale, so it rides the plan as a
    broadcast. Query text is tokenized IN Spark with the same
    expression as the corpus side, so both sides stay bit-identical
    with zero driver-side string processing.

    Scale shape (the part that matters at 100 TB corpus):
    one tokenize+explode over documents (doc length = the token-array
    size rides each exploded row, so no per-doc aggregation or join
    exists anywhere) → ONE map-side-combined keyed agg (per-(doc,term)
    tf) → a BROADCAST semi-join on the query terms that prunes the tf
    frame to matching terms before both the df aggregation and the
    scoring, so the df exchange carries query-term rows, never the
    vocabulary → broadcasts of the (query-term-bounded) df frame and
    the 2-scalar corpus stats row → windowed top-k per query. No
    Python anywhere; the only wide exchanges are the tf agg and the
    final per-query agg, both combine map-side. N counts all
    documents; empty documents contribute 0 length to avgdl.

    Ranking uses round(score, 6) with doc id as tie-break so the
    selected rows are deterministic across engines.

    Returns (query_id, <id_col>, score, rank).
    """
    from pyspark.sql import Window

    qrows = list(queries.items()) if isinstance(queries, dict) else list(queries)
    if not qrows:
        raise ValueError("queries must be non-empty")
    spark = df.sparkSession
    qdf = spark.createDataFrame(qrows, f"{query_id_col} string, __qtext__ string")

    toks = F.filter(
        F.split(F.lower(F.trim(F.col(text_col))), r"[^\p{L}\p{N}]+"), lambda t: t != ""
    )
    qtoks = F.filter(
        F.split(F.lower(F.trim(F.col("__qtext__"))), r"[^\p{L}\p{N}]+"),
        lambda t: t != "",
    )
    qterms = qdf.select(
        query_id_col, F.explode(qtoks).alias("term")
    ).dropDuplicates([query_id_col, "term"])

    # materialize the token array once per row (explode_outer skips the
    # inferred size>0 pre-filter that re-expands the tokenizer, so each
    # document tokenizes exactly once); doc length = size of that array
    # rides the explode so no per-doc aggregation or join is ever needed
    exploded = (
        df.select(F.col(id_col).alias("__id__"), toks.alias("__toks__"))
        .select(
            "__id__",
            F.size("__toks__").cast("long").alias("__dl__"),
            F.explode_outer("__toks__").alias("term"),
        )
        .where(F.col("term").isNotNull())
    )
    # tf feeds two consumers (scores, corpus df) — checkpoint so the
    # explode+agg computes once and reuses from block storage
    tf = (
        exploded.groupBy("__id__", "term")
        .agg(F.count("*").alias("__tf__"), F.first("__dl__").alias("__dl__"))
        .localCheckpoint(eager=False)
    )
    stats = df.agg(
        F.countDistinct(id_col).alias("__n__"),
    ).crossJoin(
        tf.agg(F.sum("__tf__").alias("__toklen__"))
    ).select(
        "__n__",
        (F.coalesce(F.col("__toklen__"), F.lit(0)) / F.col("__n__")).alias("__avgdl__"),
    )

    idf = F.log(
        F.lit(1.0)
        + (F.col("__n__") - F.col("__df__") + 0.5) / (F.col("__df__") + 0.5)
    )
    tf_part = (F.col("__tf__") * (k1 + 1)) / (
        F.col("__tf__")
        + k1 * (1 - b + b * F.col("__dl__") / F.col("__avgdl__"))
    )
    # df per term is only consumed for query terms: prune tf with a
    # broadcast semi-join FIRST so the df computation carries
    # query-term rows, never the vocabulary
    pruned = tf.join(
        F.broadcast(qterms.select("term").dropDuplicates()), "term", "semi"
    )
    # df = a tiny map-side-combined per-term count off the tf
    # checkpoint, broadcast back: the tf rows cross exactly ONE wide
    # exchange (the scoring agg) and the df exchange carries
    # query-term-scale partial counts only. The r15 count(*)-window
    # form saved the aggregation job but paid a full exchange+sort of
    # the tf rows by term — measured 20-36% slower warm at sf0.1
    # (quiet r15 close-out records; reverted r16, plans/r16/*_before
    # hold the window-form plans).
    dfreq = pruned.groupBy("term").agg(F.count("*").alias("__df__"))
    pruned = pruned.join(F.broadcast(dfreq), "term")
    scored = (
        pruned.join(F.broadcast(qterms), "term")
        .crossJoin(F.broadcast(stats))
        .groupBy(query_id_col, "__id__")
        .agg(F.round(F.sum(idf * tf_part), 6).alias("score"))
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("score").desc(), F.col("__id__").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(query_id_col, F.col("__id__").alias(id_col), "score", "rank")
    )


def chunk_documents(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    chunk_chars: int = 2048,
    stride: int | None = None,
    chunk_id_col: str = "chunk_id",
    chunk_col: str = "chunk",
    keep_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Split documents into fixed-width character windows for
    context-length training prep: chunk i covers
    ``[i*stride, i*stride + chunk_chars)``; ``stride < chunk_chars``
    gives overlapping windows, default non-overlapping. The final chunk
    may be short; empty/NULL documents emit no chunks.

    Pure codegen — ``sequence()`` over chunk indices + ``posexplode`` +
    ``substring`` — a narrow per-row explode with no shuffle at all;
    downstream repartitioning decides chunk placement. SQL-expressible
    (DuckDB twin: ``range()`` + ``substr``), so oracle-checkable.
    """
    if chunk_chars <= 0:
        raise ValueError(f"chunk_chars must be positive, got {chunk_chars}")
    stride = chunk_chars if stride is None else stride
    if not 0 < stride <= chunk_chars:
        raise ValueError(
            f"stride must be in (0, chunk_chars={chunk_chars}], got {stride}"
        )
    n = F.length(F.col(text_col))
    # number of windows starting before end-of-text: ceil((n-chunk)/stride)+1,
    # clamped so a text shorter than one chunk still yields exactly one.
    # Empty/NULL docs are filtered BEFORE the sequence is built —
    # sequence(0, -1) would descend, not produce nothing.
    n_chunks = F.greatest(
        F.ceil((n - F.lit(chunk_chars)) / F.lit(stride)) + 1, F.lit(1)
    ).cast("int")
    nonempty = df.where(n > 0)
    exploded = nonempty.select(
        F.col(id_col),
        *[F.col(c) for c in keep_cols],
        F.col(text_col).alias("__t__"),
        F.posexplode(F.sequence(F.lit(0), n_chunks - F.lit(1))).alias(
            "__i__", "__start__"
        ),
    )
    return exploded.select(
        F.col(id_col),
        *[F.col(c) for c in keep_cols],
        F.col("__i__").cast("int").alias(chunk_id_col),
        F.substring(
            F.col("__t__"), F.col("__i__") * F.lit(stride) + F.lit(1), F.lit(chunk_chars)
        ).alias(chunk_col),
    )


def _hashed_features_col(text_col: str, n_buckets: int) -> Column:
    """Distinct unigram+bigram features → hash buckets (array<long>).

    fastText-style feature extraction with a cross-engine hash: bucket =
    first 15 hex digits of md5(feature) mod ``n_buckets`` (md5 agrees
    between Spark and DuckDB; 15 hex digits < 2^60 so the conv result is
    a positive long — no sign divergence). Distinct features (set
    semantics) keep the score length-normalized and the SQL twin simple.
    """
    def _feats(toks: Column) -> Column:
        # toks is a bound lambda variable (bind_col): the tokenization
        # runs once per row instead of once per bigram position
        bigrams = F.transform(
            F.sequence(F.lit(0), F.greatest(F.size(toks) - 2, F.lit(0))),
            lambda i: F.concat_ws(" ", F.slice(toks, i + 1, 2)),
        )
        feats = F.filter(
            F.array_distinct(F.concat(toks, bigrams)), lambda s: s != ""
        )
        return F.transform(
            feats,
            lambda s: F.pmod(
                F.conv(
                    F.substring(F.md5(F.encode(s, "UTF-8")), 1, 15), 16, 10
                ).cast("long"),
                F.lit(n_buckets),
            ),
        )

    return bind_col(_word_tokens(text_col), _feats)


def classifier_score(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    n_buckets: int = 4096,
    weights: DataFrame | None = None,
    bias: float = 0.0,
    logit_scale: float = 8.0,
    score_col: str = "quality_prob",
    label_col: str = "label",
) -> DataFrame:
    """fastText-style linear quality classifier: hashed bag of word
    uni+bigrams → mean bucket weight → sigmoid probability + 0.5 label.

    ``weights`` is the trained model as a (bucket: long, weight: double)
    DataFrame — broadcast into the scoring join, so the model size is
    bounded by ``n_buckets`` (KBs–MBs), never by the corpus; buckets
    absent from the table score 0. With ``weights=None`` a deterministic
    pseudo-weight is DERIVED from the bucket id in closed form
    (``((b*2654435761 + 12345) mod 1000003)/1000003 - 0.5``) — same
    expression in the DuckDB oracle, which makes the whole operator
    hash-checkable without shipping a model file.

    Shape at 100 TB: one narrow pass per document (feature hashing is
    all codegen), one explode + keyed agg back to the document id —
    the same profile as tf-idf; no Python anywhere.
    """
    ex = df.select(
        F.col(id_col), F.explode(_hashed_features_col(text_col, n_buckets)).alias("__b__")
    )
    if weights is None:
        w = (
            F.pmod(F.col("__b__") * F.lit(2654435761) + F.lit(12345), F.lit(1000003))
            / F.lit(1000003.0)
            - F.lit(0.5)
        )
        weighted = ex.select(F.col(id_col), w.alias("__w__"))
    else:
        weighted = (
            ex.join(F.broadcast(weights), ex["__b__"] == weights["bucket"], "left")
            .select(
                F.col(id_col), F.coalesce(F.col("weight"), F.lit(0.0)).alias("__w__")
            )
        )
    agg = weighted.groupBy(id_col).agg(F.avg("__w__").alias("__z__"))
    logit = F.coalesce(F.col("__z__"), F.lit(0.0)) * F.lit(logit_scale) + F.lit(bias)
    prob = F.lit(1.0) / (F.lit(1.0) + F.exp(-logit))
    return (
        df.select(id_col)
        .join(agg, id_col, "left")
        .select(
            F.col(id_col),
            F.round(prob, 6).alias(score_col),
            (prob >= 0.5).cast("long").alias(label_col),
        )
    )


def unigram_logprob(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    model: DataFrame | None = None,
    score_col: str = "nll",
    oov_logp: float | None = None,
    oov_col: str | None = None,
    round_digits: int = 6,
) -> DataFrame:
    """CCNet-style language-model quality score: per-document mean
    negative log-probability under a unigram LM (low = fluent/common
    wording, high = rare/garbled text — the signal CCNet buckets by
    perplexity; a unigram model keeps it closed-form and oracle-able).

    ``model`` is a (token: string, logp: double) DataFrame; with
    ``model=None`` the MLE unigram model is fit on ``df`` itself
    (logp = ln(count/total)) — self-scoring, every observed token is in
    the vocab so no smoothing is needed. Documents with zero tokens get
    NULL (undefined perplexity; filter or coalesce at the call site).

    Out-of-vocabulary tokens (external ``model`` only) are charged a
    FLOOR penalty instead of being dropped: a document full of rare or
    garbled tokens must score WORSE, not better — an inner join would
    silently exclude OOV mass and invert the quality signal. The
    penalty is ``-oov_logp`` when given, else ``-(min model logp) −
    ln(10)`` (one decade less likely than the rarest in-vocab token; a
    scalar min-agg on the model, collected once driver-side). Pass
    ``oov_col`` to also emit each document's OOV token fraction.

    Shape at 100 TB: one explode pass, a keyed count agg for the vocab
    (map-side combine absorbs hot tokens like "the"), one LEFT hash
    join token→logp (vocab side has ONE row per token — probe-side
    skew is harmless in a hash join), and a keyed mean back to the
    document id. No window, no Python, no driver state beyond the
    scalar OOV floor.
    """
    import math

    toks = df.select(F.col(id_col), F.explode(_word_tokens(text_col)).alias("__t__"))
    if model is None:
        counts = toks.groupBy("__t__").agg(F.count("*").alias("__c__"))
        total = counts.agg(F.sum("__c__").alias("__n__"))
        model = counts.crossJoin(F.broadcast(total)).select(
            F.col("__t__").alias("token"),
            (F.log("__c__") - F.log("__n__")).alias("logp"),
        )
        penalty = 0.0  # unreachable: self-fit vocab covers every token
    elif oov_logp is not None:
        penalty = -float(oov_logp)
    else:
        floor = model.agg(F.min("logp")).first()[0]
        penalty = (-float(floor) if floor is not None else 0.0) + math.log(10.0)
    joined = toks.join(model, toks["__t__"] == model["token"], "left")
    nll = F.coalesce(-F.col("logp"), F.lit(float(penalty)))
    aggs = [F.avg(nll).alias("__avg__")]
    if oov_col is not None:
        aggs.append(
            F.avg(F.col("logp").isNull().cast("double")).alias("__oov__")
        )
    agg = joined.groupBy(id_col).agg(*aggs)
    out_cols = [
        F.col(id_col),
        F.round(F.col("__avg__"), round_digits).alias(score_col),
    ]
    if oov_col is not None:
        out_cols.append(F.round(F.col("__oov__"), round_digits).alias(oov_col))
    return df.select(id_col).join(agg, id_col, "left").select(*out_cols)


def bigram_logprob(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    lam: float = 0.7,
    score_col: str = "nll2",
    round_digits: int = 6,
) -> DataFrame:
    """Interpolated-bigram LM quality score — one rung up the CCNet
    perplexity ladder from ``unigram_logprob``: per-document mean
    negative log-probability of each bigram position under

        p(w2 | w1) = lam · c(w1,w2)/c(w1·) + (1-lam) · c(w2)/N

    (Jelinek-Mercer interpolation with the corpus-MLE unigram as the
    backoff — closed-form, smoothing-free for self-scoring since every
    observed bigram is in the model, and bit-reproducible in SQL).
    Documents with < 2 tokens score NULL.

    100 TB shape (mirrors the unigram operator): one explode pass into
    (w1, w2) position pairs, TWO keyed count aggs (bigram and
    left-context — both map-side combined, so "of the" collapses per
    task), one hash join position→bigram-model (one model row per
    distinct bigram; probe skew harmless), one broadcast of the scalar
    N, and a keyed mean. No window, no Python, no driver state; model
    size is O(distinct bigrams) ROWS, never driver-resident.
    """
    toks = df.select(F.col(id_col), _word_tokens(text_col).alias("__ts__"))
    pairs = toks.select(
        F.col(id_col),
        F.explode(
            F.when(
                F.size("__ts__") >= 2,
                F.zip_with(
                    F.slice("__ts__", 1, F.size("__ts__") - 1),
                    F.slice("__ts__", 2, F.size("__ts__") - 1),
                    lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
                ),
            ).otherwise(F.array())
        ).alias("__p__"),
    ).select(id_col, F.col("__p__.w1").alias("__w1__"), F.col("__p__.w2").alias("__w2__"))

    # vocabulary-scale aggregates cached (same class as the dsir fix;
    # persist(), not localCheckpoint — see winnow_overlap_pairs): `big`
    # feeds the model join AND the left-context rollup, `uni` feeds the
    # model AND the scalar total — without the caches each consumer
    # re-ran the tokenize+zip+explode corpus scan underneath (6 scans
    # in the executed plan). The position-pair stream itself is
    # corpus-sized and deliberately NOT cached; its two evaluations
    # (fit, scoring join) are the floor.
    big = pairs.groupBy("__w1__", "__w2__").agg(F.count("*").alias("__cb__"))
    big = persist_shared(big)
    left = big.groupBy("__w1__").agg(F.sum("__cb__").alias("__cl__"))
    uni = df.select(F.explode(_word_tokens(text_col)).alias("__t__")).groupBy(
        "__t__"
    ).agg(F.count("*").alias("__cu__"))
    uni = persist_shared(uni)
    total = uni.agg(F.sum("__cu__").alias("__n__"))
    model = (
        big.join(left, "__w1__")
        .join(uni.withColumnRenamed("__t__", "__w2__"), "__w2__")
        .crossJoin(F.broadcast(total))
        .select(
            "__w1__",
            "__w2__",
            (
                -F.log(
                    F.lit(float(lam)) * (F.col("__cb__") / F.col("__cl__"))
                    + F.lit(1.0 - float(lam)) * (F.col("__cu__") / F.col("__n__"))
                )
            ).alias("__nll__"),
        )
    )
    scored = pairs.join(model, ["__w1__", "__w2__"]).groupBy(id_col).agg(
        F.avg("__nll__").alias("__avg__")
    )
    return (
        df.select(id_col)
        .join(scored, id_col, "left")
        .select(F.col(id_col), F.round("__avg__", round_digits).alias(score_col))
    )


def c4_clean_lines(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    min_words_per_line: int = 5,
    min_lines: int = 3,
    line_sep: str = "\n",
    cleaned_col: str = "clean_text",
    kept_col: str = "kept_lines",
    page_ok_col: str = "page_ok",
) -> DataFrame:
    """C4-style line-level cleaning (Raffel et al. 2020 §2.2, public
    rules): keep only lines that end in terminal punctuation (. ! ? "),
    have at least ``min_words_per_line`` words, and don't mention
    "javascript"; emit the reassembled document, the surviving line
    count, and a page-level gate (``page_ok``: at least ``min_lines``
    surviving lines, no "lorem ipsum", no curly braces).

    Pure codegen — split + HOF filter + array_join — zero shuffle,
    per-row only; at 100 TB the cost is one scan. NULL text propagates
    NULL outputs (both engines agree under SQL 3VL).
    """

    def _line_ok(line: Column) -> Column:
        t = F.trim(line)
        words = F.size(F.filter(F.split(t, r"\s+"), lambda w: w != ""))
        return (
            (words >= F.lit(min_words_per_line))
            & F.substring(t, -1, 1).isin(".", "!", "?", '"')
            & ~F.lower(line).contains("javascript")
        )

    import re as _re

    kept = F.filter(F.split(F.col(text_col), _re.escape(line_sep), -1), _line_ok)
    page_ok = (
        (F.size(kept) >= F.lit(min_lines))
        & ~F.lower(F.col(text_col)).contains("lorem ipsum")
        & ~F.col(text_col).contains("{")
    )
    return df.select(
        F.col(id_col),
        F.array_join(kept, line_sep).alias(cleaned_col),
        F.size(kept).alias(kept_col),
        page_ok.cast("long").alias(page_ok_col),
    )


def ccnet_perplexity_buckets(
    df: DataFrame,
    id_col: str,
    text_col: str,
    group_col: str,
    *,
    tiers=(("head", 1.0 / 3), ("middle", 2.0 / 3), ("tail", 1.0)),
    scale: int = 100,
    score_col: str = "nll",
    tier_col: str = "bucket",
) -> DataFrame:
    """CCNet corpus bucketing (Wenzek et al. 2020): fit a PER-GROUP
    (per-language) unigram LM on the corpus itself, score every
    document's mean NLL under its own group's model, and split each
    group into head/middle/tail thirds by the group-local NLL CDF —
    head = the LOWEST-perplexity (most fluent) slice. CCNet uses KenLM
    5-grams; the unigram model keeps the whole fit + scoring
    closed-form and cross-engine checkable while preserving the
    bucketing semantics (monotone in the LM score).

    100 TB shape: one explode pass; per-(group, token) count agg →
    per-group totals (both map-side combined); one hash join
    token→logp keyed on (group, token); keyed per-doc mean; then the
    histogram-CDF tier split of ``quality_tiers(best="low",
    group_cols=[group])`` — no global sort anywhere, no Python, no
    driver state. Zero-token documents are excluded (undefined
    perplexity — CCNet drops empty lines before scoring too).
    """
    from plateau_spark.operators.sampling import quality_tiers

    toks = df.select(
        F.col(id_col),
        F.col(group_col),
        F.explode(_word_tokens(text_col)).alias("__t__"),
    )
    counts = toks.groupBy(group_col, "__t__").agg(F.count("*").alias("__c__"))
    # the per-(group, token) counts feed the totals AND the model join,
    # and each consumer re-runs the tokenize+explode scan underneath
    # (no exchange reuse — same class as the dsir fix). Cache the
    # VOCABULARY-scale aggregate (never the corpus-scale token stream;
    # persist(), not localCheckpoint — see winnow_overlap_pairs): the
    # scoring join below still re-tokenizes once, which is the floor
    # without corpus-sized storage.
    counts = persist_shared(counts)
    totals = counts.groupBy(group_col).agg(F.sum("__c__").alias("__n__"))
    model = counts.join(totals, group_col).select(
        F.col(group_col),
        F.col("__t__"),
        (F.log("__c__") - F.log("__n__")).alias("__logp__"),
    )
    scored = (
        toks.join(model, [group_col, "__t__"])
        .groupBy(id_col, group_col)
        .agg(F.round(F.avg(-F.col("__logp__")), 6).alias(score_col))
    )
    return quality_tiers(
        scored, score_col,
        tiers=tiers, scale=scale, tier_col=tier_col,
        best="low", group_cols=[group_col],
    )


# Gopher's published stop-word presence set (Rae et al. 2021 A1.1).
GOPHER_STOPWORDS = ("the", "be", "to", "of", "and", "that", "have", "with")


def gopher_quality_signals(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    min_words: int = 50,
    max_words: int = 100_000,
    min_mean_word_len: float = 3.0,
    max_mean_word_len: float = 10.0,
    max_symbol_word_ratio: float = 0.1,
    max_bullet_line_frac: float = 0.9,
    max_ellipsis_line_frac: float = 0.3,
    min_alpha_word_frac: float = 0.8,
    min_stopword_hits: int = 2,
    keep_col: str = "gopher_keep",
    round_digits: int = 6,
) -> DataFrame:
    """Gopher document-quality rules (Rae et al. 2021, Appendix A1.1 —
    the public ruleset): per-document word count, mean word length,
    symbol-to-word ratio ('#', '…' and literal '...'), bullet-line and
    ellipsis-line fractions, fraction of words containing a letter, and
    the count of distinct Gopher stop words present — plus the combined
    ``gopher_keep`` gate over the published thresholds.

    Distinct from :func:`quality_score_col` (an ad-hoc blend) and
    :func:`c4_clean_lines` (line-level edits): this is the document-
    level KEEP/DROP filter stage of a Gopher/MassiveText-style pipeline.

    Pure codegen — split + HOF reductions per row, ZERO shuffle; at
    100 TB the cost is one scan and the filter composes with parquet
    predicate pushdown on the emitted columns when materialized.
    Fractions are rounded (default 6) and the gate compares the ROUNDED
    values so a DuckDB oracle replays bit-identically.
    """
    toks = _word_tokens(text_col)
    wc = F.size(toks)
    one = F.lit(1.0)

    chars = F.aggregate(
        toks, F.lit(0).cast("long"), lambda acc, x: acc + F.length(x)
    )
    mean_wlen = F.when(wc > 0, F.round(chars * one / wc, round_digits)).otherwise(
        F.lit(0.0)
    )

    t = F.col(text_col)
    n_hash = F.length(t) - F.length(F.replace(t, F.lit("#"), F.lit("")))
    n_hell = F.length(t) - F.length(F.replace(t, F.lit("…"), F.lit("")))
    n_dots = F.size(F.regexp_extract_all(t, F.lit(r"\.\.\."), F.lit(0)))
    sym_ratio = F.when(
        wc > 0, F.round((n_hash + n_hell + n_dots) * one / wc, round_digits)
    ).otherwise(F.lit(0.0))

    lines = F.split(t, "\n", -1)
    n_lines = F.size(lines)
    bullet_frac = F.round(
        F.size(F.filter(lines, lambda l: F.ltrim(l).rlike(r"^[•*-]")))
        * one
        / n_lines,
        round_digits,
    )
    ellipsis_frac = F.round(
        F.size(F.filter(lines, lambda l: F.rtrim(l).rlike(r"(\.\.\.|…)$")))
        * one
        / n_lines,
        round_digits,
    )

    alpha_frac = F.when(
        wc > 0,
        F.round(
            F.size(F.filter(toks, lambda w: w.rlike(r"\p{L}"))) * one / wc,
            round_digits,
        ),
    ).otherwise(F.lit(0.0))

    stop_hits = F.size(
        F.array_intersect(
            toks, F.array(*[F.lit(w) for w in GOPHER_STOPWORDS])
        )
    )

    out = df.select(
        F.col(id_col),
        wc.alias("word_count"),
        mean_wlen.alias("mean_word_len"),
        sym_ratio.alias("symbol_word_ratio"),
        bullet_frac.alias("bullet_line_frac"),
        ellipsis_frac.alias("ellipsis_line_frac"),
        alpha_frac.alias("alpha_word_frac"),
        stop_hits.alias("stopword_hits"),
    )
    keep = (
        F.col("word_count").between(min_words, max_words)
        & F.col("mean_word_len").between(min_mean_word_len, max_mean_word_len)
        & (F.col("symbol_word_ratio") <= max_symbol_word_ratio)
        & (F.col("bullet_line_frac") <= max_bullet_line_frac)
        & (F.col("ellipsis_line_frac") <= max_ellipsis_line_frac)
        & (F.col("alpha_word_frac") >= min_alpha_word_frac)
        & (F.col("stopword_hits") >= min_stopword_hits)
    )
    return out.withColumn(keep_col, keep.cast("long"))


# (Java regex spelling, RE2/DuckDB spelling) per script — same Unicode
# script property, different syntax in the two engines.
SCRIPT_CLASSES: dict[str, tuple[str, str]] = {
    "latin": (r"\p{IsLatin}", r"\p{Latin}"),
    "cyrillic": (r"\p{IsCyrillic}", r"\p{Cyrillic}"),
    "han": (r"\p{IsHan}", r"\p{Han}"),
    "arabic": (r"\p{IsArabic}", r"\p{Arabic}"),
}


def script_profile(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    scripts: tuple[str, ...] = ("latin", "cyrillic", "han", "arabic"),
    round_digits: int = 6,
) -> DataFrame:
    """Unicode-script composition per document: the letter count and,
    per requested script, the fraction of letters in that script, plus
    the dominant script (most letters; ties broken by the ``scripts``
    order; 'none' for letterless docs). The standard multilingual
    curation signal next to :func:`lang_id_col` — mixed-script documents
    (spam, mojibake, wrong-language boilerplate) show up as fractions
    far from 1.0.

    Pure codegen — each count is one ``regexp_replace`` strip +
    ``length`` (Java ``\\p{IsXxx}`` script classes; the DuckDB oracle
    uses RE2's ``\\p{Xxx}`` spelling of the same Unicode property) —
    zero shuffle, one scan at any corpus size.
    """
    unknown = [s for s in scripts if s not in SCRIPT_CLASSES]
    if unknown:
        raise ValueError(f"unknown scripts {unknown}; known: {list(SCRIPT_CLASSES)}")
    t = F.col(text_col)
    letters = F.length(F.regexp_replace(t, r"[^\p{L}]", ""))
    counts = {
        s: F.length(F.regexp_replace(t, f"[^{SCRIPT_CLASSES[s][0]}]", ""))
        for s in scripts
    }
    one = F.lit(1.0)
    cols = [F.col(id_col), letters.alias("n_letters")]
    for s in scripts:
        cols.append(
            F.when(letters > 0, F.round(counts[s] * one / letters, round_digits))
            .otherwise(F.lit(0.0))
            .alias(f"{s}_frac")
        )
    dominant = F.lit("none")
    best = F.lit(0)
    for s in scripts:  # later script wins only on STRICTLY greater count
        dominant = F.when(counts[s] > best, F.lit(s)).otherwise(dominant)
        best = F.greatest(best, counts[s])
    cols.append(F.when(letters > 0, dominant).otherwise(F.lit("none")).alias("dominant"))
    return df.select(*cols)


def _deflate_sizes_udf(level: int):
    """Arrow-batched zlib pass: (raw_bytes, deflate_bytes) per document.
    BYTE COUNTS ONLY — the ratio division and the keep gate happen
    JVM-side so float semantics are owned by the engine (same split as
    _repetition_counts_udf). zlib output is deterministic for a given
    (input, level) — the DEFLATE stream is fully specified by the
    reference implementation's fixed heuristics — so the signal is
    rerun- and cluster-stable."""
    import zlib

    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    def sizes(texts):
        rows = []
        for t in texts:
            raw = (t or "").encode("utf-8")
            rows.append((len(raw), len(zlib.compress(raw, level)) if raw else 0))
        return pd.DataFrame(rows, columns=["raw", "comp"], dtype="int64")

    return pandas_udf(sizes, "raw long, comp long")


def compression_ratio_signals(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    level: int = 6,
    low: float = 0.30,
    high: float = 1.20,
) -> DataFrame:
    """Compressibility quality signal (the classic zlib/gzip-ratio
    filter used by large-scale web-corpus curation): documents whose
    UTF-8 bytes deflate too well are boilerplate/template/repetitive
    spam (a ratio near 0 means the text is mostly self-repetition);
    documents that barely compress — or expand — are binary junk,
    base64 blobs, or already-compressed payloads masquerading as text.
    Natural prose lands in a broad middle band (~0.3–0.8 at level 6).

    Output: (id_col, raw_bytes, deflate_bytes, compression_ratio,
    keep_compression) — ratio is NULL (and keep false) for empty text.
    The Arrow kernel emits byte COUNTS only; the ratio and the
    [low, high] gate are JVM expressions.

    Scale shape: one Arrow-batched linear pass, no shuffle, no state;
    the zlib window (32 KB) bounds per-row memory regardless of
    document size. 100 TB cost is the deflate CPU itself — level 1
    halves it where the gate (not the exact ratio) is the product.
    """
    sizes = _deflate_sizes_udf(level)(F.col(text_col))
    with_sizes = df.select(
        F.col(id_col), sizes.alias("__z__")
    ).select(
        id_col,
        F.col("__z__.raw").alias("raw_bytes"),
        F.col("__z__.comp").alias("deflate_bytes"),
    )
    ratio = F.when(
        F.col("raw_bytes") > 0,
        F.col("deflate_bytes").cast("double") / F.col("raw_bytes"),
    )
    return with_sizes.select(
        id_col,
        "raw_bytes",
        "deflate_bytes",
        ratio.alias("compression_ratio"),
        F.coalesce(
            (ratio >= F.lit(low)) & (ratio <= F.lit(high)), F.lit(False)
        ).alias("keep_compression"),
    )


def normalize_text_col_udf(form: str = "NFC"):
    """Arrow-batched Unicode normalization kernel (NFC/NFD/NFKC/NFKD
    via python's unicodedata — the Unicode-standard algorithm, so NFC
    output is bit-identical to DuckDB's ``nfc_normalize``, which makes
    the op oracle-checkable). Spark has no built-in normalizer; a
    raw web crawl mixes precomposed and combining-sequence encodings
    of the SAME text, which silently breaks exact dedup, shingling,
    and every string equi-join — normalize FIRST, then fingerprint.
    """
    import unicodedata

    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    if form not in ("NFC", "NFD", "NFKC", "NFKD"):
        raise ValueError(f"unknown normalization form {form!r}")

    def norm(texts):
        return texts.map(
            lambda t: unicodedata.normalize(form, t) if t is not None else None
        )

    return pandas_udf(norm, "string")


def normalize_documents(
    df: DataFrame,
    text_col: str,
    *,
    form: str = "NFC",
    out_col: str | None = None,
) -> DataFrame:
    """Normalize a text column to a canonical Unicode form (default
    NFC; NFKC additionally folds compatibility characters — ligatures,
    fullwidth forms, Roman numerals — the usual choice before
    tokenization). One linear Arrow pass, no shuffle; NULL passes
    through. Writes ``out_col`` (default: in place)."""
    out = out_col or text_col
    return df.withColumn(out, normalize_text_col_udf(form)(F.col(text_col)))


def bpe_merge_candidates(
    df: DataFrame,
    text_col: str,
    *,
    k: int = 20,
    min_pair_count: int = 2,
) -> DataFrame:
    """Tokenizer induction, step one: the top-``k`` adjacent-symbol
    pairs by corpus frequency — exactly the statistic a BPE trainer
    greedily merges (Sennrich et al. 2016). Training a tokenizer on a
    100 TB corpus is a pipeline job, not a notebook job: the counting
    pass must be distributed, and this is that pass, fully codegen.

    Shape: one scan → words (split) → per-word count agg (map-side
    combine collapses the Zipf head — "the" arrives at the reducer
    once per partition, not once per occurrence) → each DISTINCT word
    contributes its adjacent character pairs (``transform`` over a
    ``sequence`` — no Python) weighted by the word's count → keyed sum
    → one top-k. The pair-counting join runs over the VOCABULARY
    (≈10⁵–10⁷ rows), not the corpus — the classic BPE-training
    optimization.

    Pair counts are within-word, over the same lowercased word
    tokenizer as the rest of the text tier (``_word_tokens``).
    Deterministic tie-break: (count DESC, pair ASC). Returns
    (pair, pair_count, rank).
    """
    if k < 1:
        raise ValueError("k must be >= 1")
    words = (
        df.select(F.explode(_word_tokens(text_col)).alias("__w__"))
        .groupBy("__w__")
        .agg(F.count("*").alias("__wc__"))
        .where(F.length("__w__") >= 2)
    )
    pairs = words.select(
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.length("__w__") - 1),
                lambda i: F.col("__w__").substr(i, F.lit(2)),
            )
        ).alias("pair"),
        F.col("__wc__"),
    )
    counted = (
        pairs.groupBy("pair")
        .agg(F.sum("__wc__").alias("pair_count"))
        .where(F.col("pair_count") >= int(min_pair_count))
    )
    # orderBy().limit() plans as TakeOrdered (a per-task top-k, then a
    # merge of k rows per task), so the window only numbers k rows
    order = [F.col("pair_count").desc(), F.col("pair").asc()]
    top = counted.orderBy(*order).limit(int(k))
    return top.select(
        "pair",
        "pair_count",
        F.row_number().over(Window.orderBy(*order)).cast("int").alias("rank"),
    )


def train_unigram_lm(
    spark,
    store,
    lm_uuid: str,
    df: DataFrame,
    text_col: str,
    *,
    add_k: float = 0.5,
    overwrite: bool = False,
):
    """Train an add-k-smoothed unigram LM and persist it as a plateau
    dataset — the train→persist→serve tier of the CCNet quality-scoring
    ladder (``unigram_logprob`` with ``model=None`` is the
    fit-on-self notebook tier; a production pipeline trains the LM ONCE
    on a reference corpus and scores every incoming batch against it).

    Model rows are (token, count, logp) with
    ``logp = ln((count + k) / (N + k·V))``; the out-of-vocabulary
    log-probability ``ln(k / (N + k·V))`` — the same formula at
    count 0 — plus N/V/k live in the commit metadata, so serving needs
    no extra pass over the model.

    Scale shape: one explode + one keyed count agg (map-side combine
    absorbs the Zipf head), one tiny stats agg, one write. The model
    dataset is vocabulary-sized.
    """
    import math

    from plateau_spark.sources.dataset import store_dataframe_as_dataset

    if add_k <= 0:
        raise ValueError("add_k must be positive (zero restores MLE with OOV holes)")
    toks = df.select(F.explode(_word_tokens(text_col)).alias("token"))
    counts = toks.groupBy("token").agg(F.count("*").alias("count"))
    stats = counts.agg(
        F.sum("count").alias("n"), F.count("*").alias("v")
    ).first()
    n = int(stats["n"] or 0)
    v = int(stats["v"] or 0)
    denom = float(n) + float(add_k) * float(v)
    model = counts.select(
        "token",
        "count",
        F.log((F.col("count") + F.lit(float(add_k))) / F.lit(denom)).alias("logp"),
    )
    oov_logp = math.log(float(add_k) / denom) if v else 0.0
    return store_dataframe_as_dataset(
        spark,
        store,
        lm_uuid,
        model,
        overwrite=overwrite,
        metadata={
            "unigram_lm": {
                "total_tokens": n,
                "vocab_size": v,
                "add_k": float(add_k),
                "oov_logp": oov_logp,
            }
        },
    )


def score_from_unigram_lm(
    spark,
    store,
    lm_uuid: str,
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    score_col: str = "nll",
    oov_col: str | None = None,
    round_digits: int = 6,
) -> DataFrame:
    """Score documents against a persisted ``train_unigram_lm`` model:
    per-document mean NLL with OOV tokens charged the model's smoothed
    zero-count log-probability (from commit metadata — no model scan).
    One model read + the ``unigram_logprob`` join shape."""
    from plateau_spark.core.metadata import DatasetMetadata
    from plateau_spark.sources.dataset import _ensure_store, read_table

    st = _ensure_store(store)
    lm_meta = DatasetMetadata.load(st, lm_uuid).metadata.get("unigram_lm")
    if not lm_meta:
        raise ValueError(f"dataset {lm_uuid!r} carries no unigram_lm metadata")
    model = read_table(spark, st, lm_uuid).select("token", "logp")
    return unigram_logprob(
        df,
        id_col,
        text_col,
        model=model,
        score_col=score_col,
        oov_logp=float(lm_meta["oov_logp"]),
        oov_col=oov_col,
        round_digits=round_digits,
    )


def vocab_coverage(
    df: DataFrame,
    text_col: str,
    *,
    ks: tuple = (100, 1000, 10000),
) -> DataFrame:
    """Tokenizer-design diagnostic: corpus token coverage of the top-k
    vocabulary for each requested k — "how much of the corpus does a
    10k-word vocab explain?" (the curve that sizes a vocabulary before
    committing to a tokenizer train).

    One token-count agg (map-side combined), then per k one
    distributed top-k (``orderBy().limit()`` plans as TakeOrdered —
    never a single-task global sort) and one scalar sum. Integer-exact
    counts; coverage is one double division. Deterministic tie-break
    (count DESC, token ASC). Returns (vocab_k, n_tokens_covered,
    n_tokens_total, coverage).
    """
    if not ks or any(k < 1 for k in ks):
        raise ValueError("ks must be positive")
    counts = (
        df.select(F.explode(_word_tokens(text_col)).alias("__t__"))
        .groupBy("__t__")
        .agg(F.count("*").alias("__c__"))
        .localCheckpoint(eager=False)
    )
    total = counts.agg(F.sum("__c__")).first()[0] or 0
    rows = []
    for k in ks:
        top = (
            counts.orderBy(F.col("__c__").desc(), F.col("__t__").asc())
            .limit(int(k))
            .agg(F.sum("__c__"))
            .first()[0]
            or 0
        )
        rows.append(
            (int(k), int(top), int(total), float(top) / float(total) if total else None)
        )
    return df.sparkSession.createDataFrame(
        rows,
        "vocab_k int, n_tokens_covered long, n_tokens_total long, coverage double",
    )


def blocked_words_signals(
    df: DataFrame,
    id_col: str,
    text_col: str,
    blocked_words: Sequence[str],
    *,
    max_hits: int = 0,
    literal_cap: int = 100,
) -> DataFrame:
    """C4-style bad-words document gate (Raffel et al. 2020 drop any
    page containing a word from the blocklist): per document, the
    number of tokens that hit the blocklist, the hit ratio, and a keep
    flag (``n_blocked <= max_hits``).

    Two tiers on blocklist size (same IN-cap lesson as the streaming
    key predicate): up to ``literal_cap`` words the blocklist ships as
    a literal array and matching is one codegen HOF pass per document,
    zero shuffle. Above the cap (the canonical C4 badwords list is ~2k
    terms per language) the per-token O(|blocklist|) literal scan and
    the plan literal that grows with the list are both wrong — the
    blocklist becomes a (deduplicated) single-column frame, tokens are
    exploded and matched with a BROADCAST hash join, and hits are
    re-aggregated per document: O(tokens) work, KB-scale broadcast,
    one keyed agg. Both tiers share the lowercased word tokenizer and
    produce identical results.
    """
    if max_hits < 0:
        raise ValueError("max_hits must be >= 0")
    if literal_cap < 1:
        raise ValueError("literal_cap must be >= 1")
    # NULL text counts as zero tokens in BOTH tiers (F.size(NULL) is -1
    # with legacy sizeOfNull, and the join tier's explode would silently
    # drop the row — either way the tiers would disagree)
    toks = F.coalesce(_word_tokens(text_col), F.array().cast("array<string>"))
    n = F.size(toks)
    words = sorted({w.lower() for w in blocked_words})
    if len(words) <= literal_cap:
        blocked = F.array(*[F.lit(w) for w in words])
        hits = F.size(F.filter(toks, lambda t: F.array_contains(blocked, t)))
        return df.select(
            F.col(id_col),
            hits.alias("n_blocked"),
            F.when(n > 0, hits.cast("double") / n.cast("double"))
            .otherwise(F.lit(0.0))
            .alias("blocked_ratio"),
            (hits <= F.lit(int(max_hits))).alias("keep"),
        )
    spark = df.sparkSession
    import pandas as pd  # Arrow path for the driver-side list

    bl = spark.createDataFrame(pd.DataFrame({"__bw__": words})).withColumn(
        "__hit__", F.lit(1)
    )
    # explode_outer keeps zero-token docs, the LEFT broadcast join marks
    # blocklist tokens, and ONE keyed agg recovers per-doc hit counts —
    # no corpus-side join-back (that shape cost a second full shuffle +
    # sort-merge join of the corpus against its own aggregate)
    # a per-row tag keeps the re-aggregation one-output-row-per-input-row
    # even for duplicate or NULL ids (a groupBy on id_col alone would
    # collapse them, silently diverging from the literal tier at the cap)
    exploded = df.withColumn("__rid__", F.monotonically_increasing_id()).select(
        "__rid__", F.col(id_col), n.alias("__n__"), F.explode_outer(toks).alias("__bw__")
    )
    agg = (
        exploded.join(F.broadcast(bl), "__bw__", "left")
        .groupBy("__rid__", id_col, "__n__")
        # int, matching the literal tier's F.size dtype exactly
        .agg(F.sum(F.coalesce(F.col("__hit__"), F.lit(0))).cast("int").alias("__hits__"))
    )
    hits = F.col("__hits__")
    return agg.select(
        F.col(id_col),
        hits.alias("n_blocked"),
        F.when(F.col("__n__") > 0, hits.cast("double") / F.col("__n__").cast("double"))
        .otherwise(F.lit(0.0))
        .alias("blocked_ratio"),
        (hits <= F.lit(int(max_hits))).alias("keep"),
    )
