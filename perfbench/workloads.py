"""The benchmark workloads.

Each workload drives the public API from one client in a closed loop:
the next operation starts only after the previous one and its
correctness check have finished. Work is issued in whole rounds (a fixed
mix of operations); the number of rounds is ``--seconds`` divided by the
workload's nominal round time, so every run measures the same work and
background work never lands in only some runs.

* ``append_stream``: micro-batch appends with read-your-write and
  selective reads, keyed upserts, row deletes, and compaction plus GC
  (write path, planning and pruning).
* ``dedup_pipeline``: quality filter, exact dedup, MinHash-LSH, keep one
  per cluster, store with a bloom sidecar, bloom lookups (engine and
  operators).
"""

from __future__ import annotations

import contextlib
import operator
import os
import sys
import time
import traceback
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

from perfbench import gen
from perfbench.tracing import disk_bytes
from plateau_spark.core import naming
from plateau_spark.core.caching import shared_cache_count
from plateau_spark.core.metadata import DatasetMetadata
from plateau_spark.sources import dataset as ds

KEY_COLS = ["l_orderkey", "l_linenumber"]


@dataclass
class Op:
    """One timed operation; ``kind`` names what was called."""

    kind: str
    start: float
    end: float
    rows: int = 0
    ok: bool = True
    tag: str = ""  # predicate kind of a read, "late" for a late batch
    op_id: str = ""
    store_calls: dict | None = None  # counting-store deltas, traced runs only

    @property
    def seconds(self) -> float:
        return self.end - self.start


@dataclass
class Run:
    """What one workload did in its timed loop."""

    ops: list[Op] = field(default_factory=list)
    rounds: list[tuple[float, float]] = field(default_factory=list)
    failures: list[str] = field(default_factory=list)
    extra: dict = field(default_factory=dict)

    def kind(self, *kinds: str) -> list[Op]:
        return [o for o in self.ops if o.kind in kinds]


class Client:
    """Calls into the library, one op at a time, with an op span around
    each call when a recorder is attached."""

    def __init__(self, spark, store, recorder=None):
        self.spark, self.store, self.recorder = spark, store, recorder
        self.run = Run()
        self._n = 0

    @contextlib.contextmanager
    def op(self, kind: str, tag: str = ""):
        """Time one op. The body yields an ``Op``; an exception or a
        failed check marks it failed and the loop goes on."""
        self._n += 1
        op_id = f"{kind}-{self._n}"
        self.spark.sparkContext.setJobDescription(op_id)
        rec = self.recorder.span(kind, op=op_id, tag=tag) if self.recorder else contextlib.nullcontext()
        record = Op(kind, time.time(), 0.0, tag=tag, op_id=op_id)
        before = self.store.snapshot() if hasattr(self.store, "snapshot") else None
        try:
            with rec:
                yield record
        except Exception as e:  # one failed op must not end the run
            record.ok = False
            self.run.failures.append(f"{op_id}: {type(e).__name__}: {e}")
            traceback.print_exc(file=sys.stderr)
        finally:
            record.end = time.time()
            self.spark.sparkContext.setJobDescription(None)
        if before is not None:
            after = self.store.snapshot()
            record.store_calls = {k: after[k] - before[k] for k in after}
        if record.ok and shared_cache_count() != 0:
            record.ok = False
            self.run.failures.append(f"{op_id}: {shared_cache_count()} shared cache frames left")
        self.run.ops.append(record)

    def span(self, name: str):
        return self.recorder.span(name) if self.recorder else contextlib.nullcontext()

    def check(self, record: Op, ok: bool, what: str) -> None:
        if not ok:
            record.ok = False
            self.run.failures.append(f"{record.kind}: check failed: {what}")


def read_rows(client: Client, uuid: str, **kwargs) -> list:
    """One read: ``read_table`` (driver-side planning) then collect."""
    with client.span("sources.dataset.read.plan"):
        df = ds.read_table(client.spark, client.store, uuid, **kwargs)
    with client.span("sources.dataset.read.exec"):
        return df.collect()


def _collected_sums(rows) -> tuple[int, int, int]:
    """Row count, sum of row keys and sum of quantities of collected rows."""
    keys = [r["l_orderkey"] * gen.KEY_SHIFT + r["l_linenumber"] for r in rows]
    return len(keys), sum(keys), sum(int(r["l_quantity"]) for r in rows)


def dataset_bytes(store, uuid: str) -> int:
    """Bytes of the commit file and of everything under the dataset prefix."""
    return disk_bytes(store.path(naming.metadata_key(uuid))) + disk_bytes(store.path(uuid))


# -- append_stream --------------------------------------------------------------


class LiveRows:
    """The rows the dataset should hold, by row key, with the columns
    the workload's predicates test."""

    COLUMNS = ("l_orderkey", "l_suppkey", "l_shipmonth", "l_quantity")
    OPS = {"==": operator.eq, ">=": operator.ge, "<=": operator.le, "<": operator.lt}

    def __init__(self, table: pa.Table):
        self.rows: dict[int, dict] = {}
        self.add(table)

    def add(self, table: pa.Table) -> None:
        cols = [table.column(c).to_pylist() for c in self.COLUMNS]
        for values, ln in zip(zip(*cols), table.column("l_linenumber").to_pylist()):
            row = dict(zip(self.COLUMNS, values))
            row["l_quantity"] = int(row["l_quantity"])
            self.rows[row["l_orderkey"] * gen.KEY_SHIFT + ln] = row

    def _matching(self, conjunction) -> list[int]:
        return [
            k
            for k, row in self.rows.items()
            if all(self.OPS[op](row[col], val) for col, op, val in conjunction)
        ]

    def delete(self, conjunction) -> None:
        for k in self._matching(conjunction):
            del self.rows[k]

    def sums(self, conjunction=()) -> tuple[int, int, int]:
        keys = self._matching(conjunction)
        return len(keys), sum(keys), sum(self.rows[k]["l_quantity"] for k in keys)


def _key_range(lo: int, hi: int) -> list:
    return [("l_orderkey", ">=", lo), ("l_orderkey", "<=", hi)]


class AppendStream:
    """Setup stores the base table by ship month with an index on
    ``l_suppkey`` and zone maps on ``l_orderkey``. Each round sends
    ``ROUND_BATCHES`` micro-batches (one of them late), each followed by a
    read-your-write read; after every second batch one selective read
    (partition key, indexed column and zone-map range in turn, Zipf-skewed
    literals); and one keyed upsert on recent keys. The run ends with
    maintenance: a row delete on recent keys, a compaction, then GC.
    Every read is checked against the rows the dataset should hold."""

    BASE_ORDERS = 6000
    MONTHS = 36
    ROUND_BATCHES = 8
    ROUND_S = 8  # nominal round time on a quiet 4-core box
    # Short, driver-bound ops: with the default C1+C2 tiers the compiler
    # threads used more CPU than the workload (Spark generates fresh
    # classes for every query) and latency followed their progress. C1
    # only halved the JVM's CPU time and made runs shorter and steadier.
    JAVA_OPTIONS = "-XX:TieredStopAtLevel=1"
    ZONE_WIDTH = 60  # order keys per range read, about a third of a month
    UUID = "lineitem_stream"
    PARTITION_ON = ["l_shipmonth"]

    def setup(self, client: Client, seed: int):
        rng = np.random.default_rng(seed)
        base = gen.initial_lineitem(rng, self.BASE_ORDERS, self.MONTHS)
        with client.span("setup.store"):
            ds.store_dataframe_as_dataset(
                client.spark,
                client.store,
                self.UUID,
                client.spark.createDataFrame(base),
                partition_on=self.PARTITION_ON,
                secondary_indices=["l_suppkey"],
                zone_map_columns=["l_orderkey"],
            )
        self.live = LiveRows(base)
        self.batches = gen.BatchStream(rng, int(pc.max(base.column("l_orderkey")).as_py()) + 1, self.MONTHS)
        self.predicates = gen.predicate_stream(rng, base, 1000, zone_width=self.ZONE_WIDTH)
        self.recent: list[pa.Table] = []

    def _read(self, client: Client, conjunction, tag: str, what: str) -> None:
        with client.op("read", tag=tag) as op:
            rows = read_rows(client, self.UUID, predicates=[conjunction])
            op.rows = len(rows)
        if op.ok:
            client.check(op, _collected_sums(rows) == self.live.sums(conjunction), what)

    def _append(self, client: Client, batch: pa.Table, late: bool) -> None:
        df = client.spark.createDataFrame(batch)
        with client.op("append", tag="late" if late else "") as op:
            ds.update_dataset_from_dataframe(
                client.spark, client.store, self.UUID, df, partition_on=self.PARTITION_ON
            )
            op.rows = batch.num_rows
        if not op.ok:
            return
        self.live.add(batch)
        self.recent = (self.recent + [batch])[-3:]
        keys = batch.column("l_orderkey")
        conjunction = _key_range(int(pc.min(keys).as_py()), int(pc.max(keys).as_py()))
        self._read(client, conjunction, "range", "read-your-write rows")

    def _selective_read(self, client: Client) -> None:
        kind, (conjunction,) = self.predicates.pop(0)
        self._read(client, conjunction, kind, f"{kind} read {conjunction}")

    def _check_range(self, client: Client, op: Op, lo: int, hi: int, what: str) -> None:
        with client.span("check.read"):
            rows = ds.read_table(client.spark, client.store, self.UUID, predicates=[_key_range(lo, hi)]).collect()
        client.check(op, _collected_sums(rows) == self.live.sums(_key_range(lo, hi)), what)

    def _upsert(self, client: Client, target: pa.Table) -> None:
        changed = target.slice(0, 20)
        changed = changed.set_column(
            changed.schema.get_field_index("l_quantity"),
            "l_quantity",
            pc.add(pc.bit_wise_and(pc.cast(changed.column("l_quantity"), pa.int64()), 31), 1).cast(
                pa.float64()
            ),
        )
        fresh = self.batches.fresh_rows(np.full(5, self.MONTHS - 1))
        updates = pa.concat_tables([changed, fresh])
        df = client.spark.createDataFrame(updates)
        with client.op("rewrite") as op:
            ds.merge_upsert_into_dataset(client.spark, client.store, self.UUID, df, KEY_COLS)
            op.rows = updates.num_rows
        if op.ok:
            self.live.add(updates)
            keys = updates.column("l_orderkey")
            self._check_range(client, op, int(pc.min(keys).as_py()), int(pc.max(keys).as_py()), "upserted rows")

    def _delete(self, client: Client, target: pa.Table) -> None:
        keys = target.column("l_orderkey").to_numpy()
        first, last = int(keys.min()), int(keys.max())
        doomed = _key_range(first + (last - first) // 3, first + 2 * (last - first) // 3)
        with client.op("rewrite") as op:
            ds.delete_rows_from_dataset(client.spark, client.store, self.UUID, [doomed])
        if op.ok:
            self.live.delete(doomed)
            self._check_range(client, op, first, last, "rows left after delete")

    def round(self, client: Client) -> None:
        for i in range(self.ROUND_BATCHES):
            batch, late = self.batches.next_batch()
            self._append(client, batch, late)
            if i % 2 == 1:
                self._selective_read(client)
            if i == 2 and self.recent:
                self._upsert(client, self.recent[-1])

    def finish(self, client: Client) -> None:
        """Row delete, compaction, then GC, once per run, each checked."""
        if self.recent:
            self._delete(client, self.recent[-1])
        with client.op("compact") as op:
            ds.compact_dataset(client.spark, client.store, self.UUID)
        if op.ok:
            with client.span("check.full_scan"):
                rows = ds.read_table(client.spark, client.store, self.UUID).select(*KEY_COLS, "l_quantity").collect()
            client.check(op, _collected_sums(rows) == self.live.sums(), "row count and checksum after compaction")
        with client.op("gc") as op:
            ds.garbage_collect_dataset(client.store, self.UUID)
        if op.ok:
            stray = unreferenced_keys(client.store, self.UUID)
            client.check(op, not stray, f"keys left after GC that the commit does not reference: {stray[:3]}")

    def warmup(self, client: Client) -> None:
        """Two on-time appends and reads, drawn outside the batch stream
        so every run's rounds see the same late-batch schedule."""
        for _ in range(2):
            self._append(client, self.batches.fresh_rows(np.full(75, self.MONTHS - 1)), False)
            self._selective_read(client)

    def foreground(self) -> str:
        return "append"

    def rows_and_bytes(self, client: Client) -> tuple[int, int]:
        return len(self.live.rows), dataset_bytes(client.store, self.UUID)


def unreferenced_keys(store, uuid: str) -> list[str]:
    """Keys under the dataset prefix that the current commit does not
    reference (data files, index and bloom files, the current history
    snapshot, or members of a referenced parquet directory)."""
    meta = DatasetMetadata.load(store, uuid)
    referenced = {p.file for p in meta.partitions.values()}
    referenced |= set(meta.indices.values())
    referenced |= {b["key"] for b in meta.blooms.values()}
    referenced.add(naming.history_key(uuid, meta.generation))
    return [
        k
        for k in store.iter_keys(f"{uuid}/")
        if k not in referenced
        and not k.endswith("/.commit.lock")
        and not any(k.startswith(r.rstrip("/") + "/") for r in referenced)
    ]


# -- dedup_pipeline -------------------------------------------------------------------


class DedupPipeline:
    """Setup writes ``SHARDS`` seeded corpus shards as parquet sources.
    Each round runs the whole pipeline once on the next shard (the
    warm-up runs the first round), stores the survivors partitioned by
    ``lang``, then reads the committed output back and scores it against
    the shard's ground truth."""

    SHARDS = 3
    DOCS = 1500
    ROUND_S = 4.5  # nominal round time on a quiet 4-core box
    # Long, compute-bound passes pay back C2: with C1 only they were
    # about 20% slower and the warm-up longer.
    JAVA_OPTIONS = ""
    WARMUP_PASSES = 1
    LOOKUPS = 4
    MIN_RECALL = 0.95
    MIN_PRECISION = 0.95

    def setup(self, client: Client, seed: int):
        rng = np.random.default_rng(seed)
        source = os.path.join(client.store.root, "source")
        os.makedirs(source, exist_ok=True)
        self.shards = []
        for k in range(self.SHARDS):
            shard = gen.corpus_shard(rng, k * self.DOCS, self.DOCS)
            path = os.path.join(source, f"shard-{k}.parquet")
            pq.write_table(shard.table, path)
            self.shards.append((path, shard))
        self.pos = 0
        self.outputs = 0
        self.last_uuid: str | None = None
        self.last_rows = 0
        self.scores: list[tuple[float, float]] = []
        self.pending_counts: list[tuple] = []

    def _pass(self, client: Client, path: str, shard: gen.CorpusShard) -> None:
        from plateau_spark.operators.dedup import (
            dedup_keep_representatives,
            exact_dedup,
            minhash_lsh_pairs,
        )
        from plateau_spark.operators.text import quality_score_col

        uuid = f"dedup_out_{self.outputs}"
        self.outputs += 1
        spark = client.spark
        with client.op("pipeline") as pipeline:
            with client.span("operators.text.quality"):
                docs = spark.read.parquet("file://" + path)
                good = docs.where(quality_score_col("text") > 0.5)
            with client.span("operators.dedup.exact"):
                unique = exact_dedup(good, ["text"], tie_breaker="doc_id")
            with client.span("operators.dedup.lsh"):
                pairs = minhash_lsh_pairs(unique, "doc_id", "text")
            with client.span("operators.dedup.keep"):
                kept = dedup_keep_representatives(unique, pairs, "doc_id")
            with client.span("operators.dedup.store"):
                ds.store_dataframe_as_dataset(
                    spark, client.store, uuid, kept, partition_on=["lang"], bloom_filter_columns=["doc_id"]
                )
            pipeline.rows = shard.table.num_rows
        if not pipeline.ok:
            return
        with client.op("read") as read:
            out = {r["doc_id"] for r in read_rows(client, uuid, columns=["doc_id"])}
            read.rows = len(out)
        if not read.ok:
            return
        self._lookups(client, uuid, shard)
        all_ids = set(shard.table.column("doc_id").to_pylist())
        removed = all_ids - shard.junk - out
        true_removed = len(removed & shard.duplicates)
        recall = true_removed / len(shard.duplicates)
        precision = true_removed / len(removed) if removed else 1.0
        self.scores.append((recall, precision))
        client.check(pipeline, not (out & shard.junk), "junk docs survived the quality filter")
        client.check(pipeline, recall >= self.MIN_RECALL, f"dedup recall {recall:.3f}")
        client.check(pipeline, precision >= self.MIN_PRECISION, f"dedup precision {precision:.3f}")
        if client.recorder is not None:  # counted in finish(), outside the rounds
            self.pending_counts.append((good, unique, pairs, len(out)))
        if self.last_uuid is not None:
            ds.delete_dataset(client.store, self.last_uuid)
        self.last_uuid, self.last_rows = uuid, len(out)

    def _lookups(self, client: Client, uuid: str, shard: gen.CorpusShard) -> None:
        """Point lookups of original documents through the bloom sidecar;
        each must come back exactly once, text unchanged."""
        originals = sorted(set(shard.table.column("doc_id").to_pylist()) - shard.junk - shard.duplicates)
        first_id = shard.table.column("doc_id")[0].as_py()
        for k in range(self.LOOKUPS):
            doc_id = originals[(len(self.scores) * self.LOOKUPS + k) * 7919 % len(originals)]
            with client.op("read", tag="bloom") as op:
                rows = read_rows(client, uuid, predicates=[[("doc_id", "==", doc_id)]])
                op.rows = len(rows)
            if op.ok:
                text = shard.table.column("text")[doc_id - first_id].as_py()
                client.check(op, [r["text"] for r in rows] == [text], f"bloom lookup of doc {doc_id}")

    def round(self, client: Client) -> None:
        self._pass(client, *self.shards[self.pos % len(self.shards)])
        self.pos += 1

    def finish(self, client: Client) -> None:
        client.run.extra["stage_counts"] = [stage_counts(*p) for p in self.pending_counts]

    def warmup(self, client: Client) -> None:
        for _ in range(self.WARMUP_PASSES):
            self.round(client)
        self.pending_counts.clear()

    def foreground(self) -> str:
        return "pipeline"

    def rows_and_bytes(self, client: Client) -> tuple[int, int]:
        return self.last_rows, dataset_bytes(client.store, self.last_uuid)


def stage_counts(good, unique, pairs, kept: int) -> dict:
    """Exact per-stage counts for the traced run (extra jobs, run after
    the timed rounds)."""
    quality_kept = good.count()
    unique_n = unique.count()
    edges = [(r["id_a"], r["id_b"]) for r in pairs.select("id_a", "id_b").collect()]
    parent: dict = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        parent[find(a)] = find(b)
    return {
        "quality_kept": quality_kept,
        "exact_removed": quality_kept - unique_n,
        "lsh_pairs": len(edges),
        "clusters": len({find(x) for x in list(parent)}),
        "kept_docs": kept,
    }


WORKLOADS = {
    "append_stream": AppendStream,
    "dedup_pipeline": DedupPipeline,
}
