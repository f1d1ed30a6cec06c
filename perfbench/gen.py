"""Seeded input generators for the benchmark workloads.

Everything here is driven by a ``numpy.random.Generator`` built from the
run's ``--seed``, so the same seed gives the same inputs, and returns
plain Python values or pyarrow tables. The library under test only ever
sees these generated inputs.

Shapes follow the sf0.1 ``lineitem`` and ``documents`` tables, with two
deliberate differences:

* ``(l_orderkey, l_linenumber)`` is unique, and new order keys are drawn
  from a counter, so micro-batches never repeat a key tuple (keyed
  upserts reject updates that carry duplicate merge keys).
* order keys grow with the ship month, as an order-id sequence does in a
  live system, so zone maps on ``l_orderkey`` can prune.
"""

from __future__ import annotations

import datetime
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa

FIRST_YEAR = 2015
N_SUPPLIERS = 1000
N_PARTS = 20000
KEY_SHIFT = 8  # l_linenumber <= 7, so ok * 8 + ln is a unique row key

LINEITEM_SCHEMA = pa.schema(
    [
        ("l_orderkey", pa.int64()),
        ("l_partkey", pa.int64()),
        ("l_suppkey", pa.int64()),
        ("l_linenumber", pa.int32()),
        ("l_quantity", pa.float64()),
        ("l_extendedprice", pa.float64()),
        ("l_discount", pa.float64()),
        ("l_tax", pa.float64()),
        ("l_returnflag", pa.string()),
        ("l_linestatus", pa.string()),
        ("l_shipdate", pa.date32()),
        ("l_shipmonth", pa.string()),
    ]
)


def month_label(m: int) -> str:
    year, month = divmod(int(m), 12)
    return f"{FIRST_YEAR + year:04d}-{month + 1:02d}"


def _lineitem_table(rng: np.random.Generator, first_orderkey: int, order_months) -> pa.Table:
    """Rows for consecutive orders starting at ``first_orderkey``; order
    ``i`` ships in month ``order_months[i]`` and has 1-7 lines."""
    order_months = np.asarray(order_months, dtype=np.int64)
    lines = rng.integers(1, 8, size=len(order_months))
    n = int(lines.sum())
    orderkey = np.repeat(first_orderkey + np.arange(len(order_months)), lines)
    linenumber = np.concatenate([np.arange(1, k + 1) for k in lines]).astype(np.int32)
    month = np.repeat(order_months, lines)
    quantity = rng.integers(1, 51, size=n).astype(np.float64)
    price = np.round(quantity * rng.uniform(900.0, 2100.0, size=n), 2)
    year, mon = np.divmod(month, 12)
    first_day = np.array(
        [datetime.date(FIRST_YEAR + y, m + 1, 1).toordinal() for y, m in zip(year, mon)],
        dtype=np.int64,
    )
    epoch = datetime.date(1970, 1, 1).toordinal()
    shipdate = (first_day - epoch + rng.integers(0, 28, size=n)).astype(np.int32)
    return pa.table(
        [
            pa.array(orderkey, pa.int64()),
            pa.array(rng.integers(1, N_PARTS + 1, size=n), pa.int64()),
            pa.array(rng.integers(1, N_SUPPLIERS + 1, size=n), pa.int64()),
            pa.array(linenumber, pa.int32()),
            pa.array(quantity),
            pa.array(price),
            pa.array(np.round(rng.integers(0, 11, size=n) / 100.0, 2)),
            pa.array(np.round(rng.integers(0, 9, size=n) / 100.0, 2)),
            pa.array(rng.choice(np.array(["A", "N", "R"]), size=n)),
            pa.array(rng.choice(np.array(["O", "F"]), size=n)),
            pa.array(shipdate, pa.date32()),
            pa.array([month_label(m) for m in month], pa.string()),
        ],
        schema=LINEITEM_SCHEMA,
    )


def initial_lineitem(rng: np.random.Generator, n_orders: int, months: int) -> pa.Table:
    """The base table: orders spread evenly over ``months`` ship months
    starting 2015-01, order keys increasing with the month."""
    months = np.sort(rng.integers(0, months, size=n_orders))
    return _lineitem_table(rng, 1, months)


@dataclass
class BatchStream:
    """Micro-batches of new lineitem rows with fresh order keys.

    Most batches land in the newest two months (recent keys are
    favoured). Exactly one batch in every ``late_every`` is a late batch
    whose orders are spread over the newest ``late_span`` months; its
    position in the block is seeded. Fixing the share keeps the tail made
    of the same kind of batch from seed to seed."""

    rng: np.random.Generator
    next_orderkey: int
    months: int
    orders_per_batch: int = 75
    late_every: int = 8
    late_span: int = 12
    _late_slot: int = field(default=-1, init=False)
    _count: int = field(default=0, init=False)

    def fresh_rows(self, months) -> pa.Table:
        table = _lineitem_table(self.rng, self.next_orderkey, months)
        self.next_orderkey += len(months)
        return table

    def next_batch(self) -> tuple[pa.Table, bool]:
        slot = self._count % self.late_every
        if slot == 0:
            self._late_slot = int(self.rng.integers(0, self.late_every))
        self._count += 1
        late = slot == self._late_slot
        if late:
            months = self.rng.integers(self.months - self.late_span, self.months, size=self.orders_per_batch)
        else:
            months = self.months - 1 - (self.rng.random(self.orders_per_batch) < 0.3)
        return self.fresh_rows(np.sort(months)), late


def zipf_choices(rng: np.random.Generator, candidates: list, size: int, a: float = 1.1) -> list:
    """``size`` draws from ``candidates`` with Zipf(a) popularity; which
    candidate is hottest is itself seeded."""
    n = len(candidates)
    weights = 1.0 / np.arange(1, n + 1) ** a
    ranks = rng.choice(n, size=size, p=weights / weights.sum())
    order = rng.permutation(n)
    return [candidates[int(order[r])] for r in ranks]


PREDICATE_KINDS = ("partition", "index", "zonemap")


def predicate_stream(rng: np.random.Generator, table: pa.Table, size: int, *, zone_width: int):
    """A list of ``(kind, predicates)``: the three kinds in a fixed cycle,
    each kind's literal Zipf-skewed over values present in ``table``.
    Literals are Python ``int``/``str``, never numpy scalars."""
    months = sorted(set(table.column("l_shipmonth").to_pylist()))
    supps = sorted(set(table.column("l_suppkey").to_pylist()))
    max_key = int(table.column("l_orderkey").to_numpy().max())
    starts = sorted({int(x) for x in rng.integers(1, max_key - zone_width, size=500)})
    per_kind = size // len(PREDICATE_KINDS) + 1
    drawn = {
        "partition": [[[("l_shipmonth", "==", m)]] for m in zipf_choices(rng, months, per_kind)],
        "index": [[[("l_suppkey", "==", int(s))]] for s in zipf_choices(rng, supps, per_kind)],
        "zonemap": [
            [[("l_orderkey", ">=", lo), ("l_orderkey", "<", lo + zone_width)]]
            for lo in zipf_choices(rng, starts, per_kind)
        ],
    }
    return [
        (kind, drawn[kind][i // len(PREDICATE_KINDS)])
        for i in range(size)
        for kind in [PREDICATE_KINDS[i % len(PREDICATE_KINDS)]]
    ]


# -- near-duplicate corpus ---------------------------------------------------

STOPWORDS = ["the", "and", "of", "to", "in", "is", "that", "with", "for", "was"]
LANGS = ["de", "en", "es", "fr"]
_SYLLABLES = ["ka", "lo", "mi", "nu", "pe", "ri", "so", "ta", "ve", "zu", "ba", "de", "fo", "gi"]


def _vocabulary() -> list[str]:
    """A fixed 600-word vocabulary (independent of the seed)."""
    rng = np.random.default_rng(0)
    words: set[str] = set()
    while len(words) < 600:
        k = int(rng.integers(2, 4))
        words.add("".join(_SYLLABLES[int(i)] for i in rng.integers(0, len(_SYLLABLES), size=k)))
    return sorted(words)


VOCAB = _vocabulary()


_STOP = np.array(STOPWORDS)
_VOCAB = np.array(VOCAB)


def _good_text(rng: np.random.Generator) -> list[str]:
    """5-8 sentences of 7-10 words, about a fifth stopwords: passes the
    length, punctuation and stopword quality gates."""
    lengths = rng.integers(7, 11, size=int(rng.integers(5, 9)))
    n = int(lengths.sum())
    words = np.where(
        rng.random(n) < 0.2,
        _STOP[rng.integers(0, len(_STOP), size=n)],
        _VOCAB[rng.integers(0, len(_VOCAB), size=n)],
    ).tolist()
    for end in np.cumsum(lengths) - 1:
        words[end] += "."
    return words


def _junk_text(rng: np.random.Generator) -> str:
    """Short, unpunctuated, no stopwords: fails every quality gate."""
    return " ".join(VOCAB[int(i)] for i in rng.integers(0, len(VOCAB), size=int(rng.integers(3, 6))))


@dataclass
class CorpusShard:
    """One pipeline input plus its ground truth."""

    table: pa.Table  # doc_id, text, lang, source, n_chars
    junk: set[int]  # docs the quality filter must drop
    duplicates: set[int]  # injected exact or near copies of a kept doc


def corpus_shard(
    rng: np.random.Generator, first_id: int, n_docs: int, *, junk_frac: float = 0.1, dup_frac: float = 0.2
) -> CorpusShard:
    """``n_docs`` documents. Originals come first, so every injected copy
    has a larger id than the doc it copies and keep-smallest-id dedup
    keeps the original. A quarter of the copies are exact, the rest
    change one word in about sixty (word-3-shingle Jaccard about 0.9)."""
    n_dup = int(n_docs * dup_frac)
    n_orig = n_docs - n_dup
    texts: list[str] = []
    junk: set[int] = set()
    good_words: list[list[str]] = []
    for i in range(n_orig):
        if rng.random() < junk_frac:
            texts.append(_junk_text(rng))
            junk.add(first_id + i)
        else:
            words = _good_text(rng)
            good_words.append(words)
            texts.append(" ".join(words))
    duplicates = set()
    for j in range(n_dup):
        words = list(good_words[int(rng.integers(len(good_words)))])
        if rng.random() >= 0.25:
            pos = int(rng.integers(len(words)))
            tail = "." if words[pos].endswith(".") else ""
            words[pos] = VOCAB[int(rng.integers(len(VOCAB)))] + tail
        texts.append(" ".join(words))
        duplicates.add(first_id + n_orig + j)
    ids = np.arange(first_id, first_id + n_docs, dtype=np.int64)
    table = pa.table(
        {
            "doc_id": pa.array(ids),
            "text": pa.array(texts),
            "lang": pa.array(rng.choice(np.array(LANGS), size=n_docs)),
            "source": pa.array([f"src{int(i) % 7}" for i in ids]),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )
    return CorpusShard(table, junk, duplicates)
