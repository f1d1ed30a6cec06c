"""Per-layer metrics of a traced run.

Everything is computed from the traced run's spans, counting-store
deltas and folded event log; ``plain_wall_s`` is the loop wall time of
an untraced run of the same workload, seed and rounds, used only for
``trace.overhead_frac``. Metrics that do not apply
to a workload read 0. Per-op figures are means over the workload's
foreground op unless the name says otherwise; ``perfbench/README.md``
lists what each metric should move.
"""

from __future__ import annotations

import statistics

from perfbench import tracing
from plateau_spark.core import naming
from plateau_spark.core.caching import shared_cache_count

PRUNING_KINDS = ("partition", "index", "zonemap", "range", "bloom")
STORE_FIELDS = (
    "get_calls",
    "put_calls",
    "move_calls",
    "delete_calls",
    "list_calls",
    "exists_calls",
    "get_bytes",
    "put_bytes",
    "lock_wait_s",
)
SPARK_FIELDS = (
    "jobs",
    "stages",
    "tasks",
    "job_wall_s",
    "driver_outside_jobs_s",
    "executor_run_s",
    "executor_cpu_s",
    "input_bytes",
    "input_records",
    "output_bytes",
    "shuffle_read_bytes",
    "shuffle_write_bytes",
    "spill_bytes",
)
SPARK_READ_FIELDS = ("jobs", "tasks", "job_wall_s", "input_bytes", "input_records")
WORKLOAD_FIGURES = (
    "op_tail_s",
    "read_tail_s",
    "rewrite_p50_s",
    "compact_gc_s",
    "dedup_recall",
    "dedup_precision",
    "failed_frac",
    "peak_rss_mb",
)
DEDUP_COUNTS = ("exact_removed", "lsh_pairs", "clusters", "kept_docs")
DEDUP_STAGES = ("exact", "lsh", "keep", "store")

# name -> unit, in report order
UNITS: dict[str, str] = {
    "sources.dataset.update.self_s": "s",
    "sources.dataset.read.plan_s": "s",
    "sources.dataset.read.exec_s": "s",
    "sources.dataset.rewrite.self_s": "s",
    "sources.dataset.compact_s": "s",
    "sources.dataset.gc_s": "s",
    "sources.dataset.compact.bytes_rewritten": "B",
    "sources.serializers.write_staged_s": "s",
    "sources.serializers.read_files_s": "s",
    "core.metadata.load_calls": "count",
    "core.metadata.load_s": "s",
    "core.metadata.commit_calls": "count",
    "core.metadata.commit_s": "s",
    "core.metadata.doc_bytes": "B",
    **{f"core.store.{f}": ("s" if f.endswith("_s") else "B" if f.endswith("bytes") else "count") for f in STORE_FIELDS},
    "core.store.busy_s": "s",
    "core.store.calls_per_read": "count",
    "core.store.calls_per_append": "count",
    "plans.pruning.plan_s": "s",
    "plans.pruning.files_total": "count",
    **{f"plans.pruning.{k}.files_surviving": "count" for k in PRUNING_KINDS},
    **{f"plans.pruning.{k}.files_surviving_frac": "fraction" for k in PRUNING_KINDS},
    **{f"plans.pruning.{k}.plan_s": "s" for k in PRUNING_KINDS},
    "plans.pruning.rows_returned_per_row_scanned": "fraction",
    "plans.index.load_s": "s",
    "plans.index.load_calls": "count",
    "plans.index.persist_s": "s",
    "plans.zonemaps.harvest_s": "s",
    "plans.zonemaps.harvest_files": "count",
    "plans.zonemaps.harvest_jobs": "count",
    "plans.blooms.build_s": "s",
    "operators.text.quality_kept": "count",
    "operators.text.quality_s": "s",
    **{f"operators.dedup.{c}": "count" for c in DEDUP_COUNTS},
    **{f"operators.dedup.{s}_s": "s" for s in DEDUP_STAGES},
    "core.caching.frames_left": "count",
    **{f"spark.{f}": ("s" if f.endswith("_s") else "B" if f.endswith("bytes") else "count") for f in SPARK_FIELDS},
    **{f"spark.read.{f}": ("s" if f.endswith("_s") else "B" if f.endswith("bytes") else "count") for f in SPARK_READ_FIELDS},
    "python.data_sent_bytes": "B",
    "python.data_received_bytes": "B",
    "trace.overhead_frac": "fraction",
    "trace.accounted_frac": "fraction",
    **{f"workload.{f}": ("s" if f.endswith("_s") else "MB" if f.endswith("_mb") else "fraction") for f in WORKLOAD_FIGURES},
}


def _mean(values) -> float:
    values = list(values)
    return statistics.mean(values) if values else 0.0


class Trace:
    """Spans, ops and jobs of one traced phase, indexed for lookups."""

    def __init__(self, res):
        self.spans = res["recorder"].spans
        self.kids = tracing.children_of(self.spans)
        self.self_s = tracing.self_times(self.spans)
        self.run = res["run"]
        self.log = res["event_log"]
        root_of = {s.op: i for i, s in enumerate(self.spans) if s.parent is None and s.op}
        self.root = {o.op_id: root_of[o.op_id] for o in self.run.ops}
        by_description = {o.op_id for o in self.run.ops}
        self.jobs: dict[str, list[tracing.Job]] = {o.op_id: [] for o in self.run.ops}
        for job in self.log.jobs:
            if job.description in by_description:
                self.jobs[job.description].append(job)
                continue
            for o in self.run.ops:
                if o.start <= job.submit <= o.end:
                    self.jobs[o.op_id].append(job)
                    break

    def named(self, op, name: str) -> list[int]:
        return [i for i in tracing.subtree(self.spans, self.root[op.op_id], self.kids) if self.spans[i].name == name]

    def seconds(self, op, name: str) -> float:
        return sum(self.spans[i].end - self.spans[i].start for i in self.named(op, name))

    def job_wall(self, op) -> float:
        return tracing.union_length([(j.submit, j.end) for j in self.jobs[op.op_id]], op.start, op.end)

    def accounted(self, op) -> float:
        """Share of the op's wall time covered by its child spans or its
        Spark jobs; the rest is driver time outside any traced layer."""
        root = self.root[op.op_id]
        intervals = [(self.spans[k].start, self.spans[k].end) for k in self.kids.get(root, [])]
        intervals += [(j.submit, j.end) for j in self.jobs[op.op_id]]
        return tracing.union_length(intervals, op.start, op.end) / op.seconds


def layer_metrics(res, plain_wall_s: float, figures: dict) -> dict:
    """Per-layer metrics of the traced run ``res``; ``figures`` are its
    workload figures (``run.summary``)."""
    t = Trace(res)
    run, wl = t.run, res["workload"]
    in_rounds = [o for o in run.ops if any(a <= o.start <= b for a, b in run.rounds)]
    rounds = len(run.rounds)
    fg = [o for o in run.kind(wl.foreground()) if o.ok]
    reads = [o for o in run.kind("read") if o.ok]
    appends = [o for o in run.kind("append") if o.ok]
    m: dict[str, float] = {}

    def per_op(ops, fn) -> float:
        return _mean(fn(o) for o in ops)

    def per_round(fn) -> float:
        return sum(fn(o) for o in in_rounds) / rounds

    def root_self(o) -> float:
        return t.self_s[t.root[o.op_id]]

    m["sources.dataset.update.self_s"] = per_op(appends, root_self)
    m["sources.dataset.read.plan_s"] = per_op(reads, lambda o: t.seconds(o, "sources.dataset.read.plan"))
    m["sources.dataset.read.exec_s"] = per_op(reads, lambda o: t.seconds(o, "sources.dataset.read.exec"))
    m["sources.dataset.rewrite.self_s"] = per_op(run.kind("rewrite"), root_self)
    m["sources.dataset.compact_s"] = per_op(run.kind("compact"), lambda o: o.seconds)
    m["sources.dataset.gc_s"] = per_op(run.kind("gc"), lambda o: o.seconds)
    m["sources.dataset.compact.bytes_rewritten"] = per_op(
        run.kind("compact"), lambda o: tracing.job_totals(t.log, t.jobs[o.op_id])["output_bytes"]
    )
    m["sources.serializers.write_staged_s"] = per_op(fg, lambda o: t.seconds(o, "sources.serializers.write_staged"))
    m["sources.serializers.read_files_s"] = per_op(reads, lambda o: t.seconds(o, "sources.serializers.read_files"))
    m["core.metadata.load_calls"] = per_round(lambda o: len(t.named(o, "core.metadata.load")))
    m["core.metadata.load_s"] = per_round(lambda o: t.seconds(o, "core.metadata.load"))
    m["core.metadata.commit_calls"] = per_round(lambda o: len(t.named(o, "core.metadata.commit")))
    m["core.metadata.commit_s"] = per_round(lambda o: t.seconds(o, "core.metadata.commit"))
    uuid = getattr(wl, "UUID", None) or wl.last_uuid
    m["core.metadata.doc_bytes"] = float(tracing.disk_bytes(res["store"].path(naming.metadata_key(uuid))))
    for f in STORE_FIELDS:
        m[f"core.store.{f}"] = per_round(lambda o: o.store_calls[f])
    m["core.store.busy_s"] = per_round(
        lambda o: sum(t.seconds(o, f"core.store.{k}") for k in tracing.STORE_KINDS)
    )

    def calls(o) -> float:
        return sum(v for k, v in o.store_calls.items() if k.endswith("_calls"))

    m["core.store.calls_per_read"] = per_op(reads, calls)
    m["core.store.calls_per_append"] = per_op(appends, calls)

    plans = [(o, i) for o in reads for i in t.named(o, "plans.pruning.plan_scan")]
    m["plans.pruning.plan_s"] = _mean(t.spans[i].end - t.spans[i].start for _, i in plans)
    m["plans.pruning.files_total"] = _mean(t.spans[i].attrs["files_total"] for _, i in plans)
    for kind in PRUNING_KINDS:
        mine = [i for o, i in plans if o.tag == kind]
        m[f"plans.pruning.{kind}.files_surviving"] = _mean(t.spans[i].attrs["files_surviving"] for i in mine)
        m[f"plans.pruning.{kind}.files_surviving_frac"] = _mean(
            t.spans[i].attrs["files_surviving"] / max(1, t.spans[i].attrs["files_total"]) for i in mine
        )
        m[f"plans.pruning.{kind}.plan_s"] = _mean(t.spans[i].end - t.spans[i].start for i in mine)
    scanned = sum(tracing.job_totals(t.log, t.jobs[o.op_id])["input_records"] for o in reads)
    m["plans.pruning.rows_returned_per_row_scanned"] = sum(o.rows for o in reads) / scanned if scanned else 0.0

    m["plans.index.load_s"] = per_op(reads, lambda o: t.seconds(o, "plans.index.load"))
    m["plans.index.load_calls"] = per_op(reads, lambda o: len(t.named(o, "plans.index.load")))
    m["plans.index.persist_s"] = per_op(fg, lambda o: t.seconds(o, "plans.index.persist"))
    m["plans.zonemaps.harvest_s"] = per_op(fg, lambda o: t.seconds(o, "plans.zonemaps.harvest"))
    harvests = [i for o in fg for i in t.named(o, "plans.zonemaps.harvest")]
    m["plans.zonemaps.harvest_files"] = _mean(t.spans[i].attrs["files"] for i in harvests)
    m["plans.zonemaps.harvest_jobs"] = per_op(
        fg,
        lambda o: sum(
            1
            for i in t.named(o, "plans.zonemaps.harvest")
            for j in t.jobs[o.op_id]
            if t.spans[i].start <= j.submit <= t.spans[i].end
        ),
    )
    m["plans.blooms.build_s"] = per_op(fg, lambda o: t.seconds(o, "plans.blooms.build"))

    counts = run.extra.get("stage_counts", [])
    m["operators.text.quality_kept"] = _mean(c["quality_kept"] for c in counts)
    m["operators.text.quality_s"] = per_op(run.kind("pipeline"), lambda o: t.seconds(o, "operators.text.quality"))
    for c in DEDUP_COUNTS:
        m[f"operators.dedup.{c}"] = _mean(x[c] for x in counts)
    for s in DEDUP_STAGES:
        m[f"operators.dedup.{s}_s"] = per_op(run.kind("pipeline"), lambda o: t.seconds(o, f"operators.dedup.{s}"))
    m["core.caching.frames_left"] = float(shared_cache_count())

    def spark_totals(o) -> dict:
        tot = tracing.job_totals(t.log, t.jobs[o.op_id])
        tot["job_wall_s"] = t.job_wall(o)
        tot["driver_outside_jobs_s"] = o.seconds - tot["job_wall_s"]
        return tot

    totals = [spark_totals(o) for o in fg]
    for f in SPARK_FIELDS:
        m[f"spark.{f}"] = _mean(x[f] for x in totals)
    read_totals = [spark_totals(o) for o in reads]
    for f in SPARK_READ_FIELDS:
        m[f"spark.read.{f}"] = _mean(x[f] for x in read_totals)
    m["python.data_sent_bytes"] = _mean(x["python_sent_bytes"] for x in totals)
    m["python.data_received_bytes"] = _mean(x["python_received_bytes"] for x in totals)

    m["trace.overhead_frac"] = sum(b - a for a, b in run.rounds) / plain_wall_s - 1.0
    m["trace.accounted_frac"] = statistics.median(t.accounted(o) for o in fg) if fg else 0.0

    for name in WORKLOAD_FIGURES:
        m[f"workload.{name}"] = float(figures.get(name, 0.0))
    return {name: {"value": float(m[name]), "unit": unit} for name, unit in UNITS.items()}


def accounting_rows(res) -> list[dict]:
    """For the first traced op of each kind and tag: wall time, the part
    covered by child spans, Spark job wall time, and their union."""
    t = Trace(res)
    seen, out = set(), []
    for o in t.run.ops:
        if (o.kind, o.tag) in seen or not o.ok:
            continue
        seen.add((o.kind, o.tag))
        root = t.root[o.op_id]
        kids = t.kids.get(root, [])
        out.append(
            {
                "op": o.op_id,
                "tag": o.tag,
                "wall_s": round(o.seconds, 4),
                "child_self_s": round(sum(t.self_s[i] for k in kids for i in tracing.subtree(t.spans, k, t.kids)), 4),
                "root_self_s": round(t.self_s[root], 4),
                "job_wall_s": round(t.job_wall(o), 4),
                "accounted_frac": round(t.accounted(o), 4),
            }
        )
    return out
