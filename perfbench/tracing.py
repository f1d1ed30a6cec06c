"""Tracing for the benchmark's traced runs.

Three parts, all outside the library:

* ``Recorder``: spans (name, start, end, parent, op id) kept in memory
  and written out when the run ends, plus self-time arithmetic.
* ``CountingStore``: a ``Store`` subclass that counts metadata-plane
  calls and bytes; the benchmark passes it into every public call.
* ``fold_event_log``: reads Spark's uncompressed event log into jobs,
  stages and task metrics, so Spark work can be tied to spans.

``install_layer_spans`` wraps the public functions of each layer at the
names their callers use, so a traced run records a span per layer call
without any change to the library.
"""

from __future__ import annotations

import contextlib
import functools
import json
import os
import threading
import time
from dataclasses import dataclass, field

from plateau_spark.core.store import Store


@dataclass
class Span:
    name: str
    start: float
    end: float | None
    parent: int | None
    op: str | None
    attrs: dict = field(default_factory=dict)


class Recorder:
    """In-memory span recorder. Spans opened on a thread with no open
    span of its own (a library pool thread) are parented to the current
    op's root span, so a call tree stays whole across threads."""

    def __init__(self):
        self.spans: list[Span] = []
        self._local = threading.local()
        self._lock = threading.Lock()
        self._op_root: int | None = None

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextlib.contextmanager
    def span(self, name: str, op: str | None = None, **attrs):
        stack = self._stack()
        parent = stack[-1] if stack else self._op_root
        if op is None and parent is not None:
            op = self.spans[parent].op
        with self._lock:
            idx = len(self.spans)
            self.spans.append(Span(name, time.time(), None, parent, op, dict(attrs)))
        is_root = parent is None
        if is_root:
            self._op_root = idx
        stack.append(idx)
        try:
            yield self.spans[idx]
        finally:
            stack.pop()
            self.spans[idx].end = time.time()
            if is_root:
                self._op_root = None

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s.__dict__) + "\n")


def union_length(intervals, lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    total, cur_start, cur_end = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_end is None or a > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = a, b
        else:
            cur_end = max(cur_end, b)
    if cur_end is not None:
        total += cur_end - cur_start
    return total


def children_of(spans: list[Span]) -> dict[int, list[int]]:
    out: dict[int, list[int]] = {}
    for i, s in enumerate(spans):
        if s.parent is not None:
            out.setdefault(s.parent, []).append(i)
    return out


def self_times(spans: list[Span]) -> list[float]:
    """A span's duration minus the part of it its child spans cover."""
    kids = children_of(spans)
    return [
        (s.end - s.start)
        - union_length([(spans[k].start, spans[k].end) for k in kids.get(i, [])], s.start, s.end)
        for i, s in enumerate(spans)
    ]


def subtree(spans: list[Span], root: int, kids: dict[int, list[int]] | None = None) -> list[int]:
    kids = children_of(spans) if kids is None else kids
    out, todo = [], [root]
    while todo:
        i = todo.pop()
        out.append(i)
        todo.extend(kids.get(i, []))
    return out


# -- store counting ------------------------------------------------------------

STORE_KINDS = ("get", "put", "move", "delete", "list", "exists")


def disk_bytes(path: str) -> int:
    """Bytes of a file, or of every file under a directory."""
    if os.path.isdir(path):
        return sum(
            os.path.getsize(os.path.join(d, f)) for d, _, files in os.walk(path) for f in files
        )
    return os.path.getsize(path) if os.path.exists(path) else 0


class CountingStore(Store):
    """Counts metadata-plane calls (and their bytes) by kind and, with a
    recorder, opens a ``core.store.<kind>`` span around each. Bulk data
    goes through Spark on ``url()`` and is not counted here; Spark's own
    input and output bytes come from the event log."""

    def __init__(self, root: str, recorder: Recorder | None = None):
        super().__init__(root)
        self.recorder = recorder
        self._lock = threading.Lock()
        self.counts = {k: 0 for k in STORE_KINDS}
        self.get_bytes_total = 0
        self.put_bytes_total = 0
        self.lock_wait_s = 0.0

    def snapshot(self) -> dict:
        with self._lock:
            return {
                **{f"{k}_calls": v for k, v in self.counts.items()},
                "get_bytes": self.get_bytes_total,
                "put_bytes": self.put_bytes_total,
                "lock_wait_s": self.lock_wait_s,
            }

    @contextlib.contextmanager
    def _call(self, kind: str):
        """Span and count one call; the body may add bytes to the
        yielded dict."""
        moved = {"get": 0, "put": 0}
        with self.recorder.span(f"core.store.{kind}") if self.recorder else contextlib.nullcontext():
            yield moved
        with self._lock:
            self.counts[kind] += 1
            self.get_bytes_total += moved["get"]
            self.put_bytes_total += moved["put"]

    def get_json(self, key):
        with self._call("get") as moved:
            out = super().get_json(key)
            moved["get"] = disk_bytes(self.path(key))
        return out

    def get_bytes(self, key):
        with self._call("get") as moved:
            out = super().get_bytes(key)
            moved["get"] = len(out)
        return out

    def read_parquet(self, key, filters=None, columns=None):
        with self._call("get") as moved:
            out = super().read_parquet(key, filters=filters, columns=columns)
            moved["get"] = disk_bytes(self.path(key))
        return out

    def parquet_schema(self, key):
        with self._call("get"):
            return super().parquet_schema(key)

    def put_json(self, key, payload, *, atomic=True):
        with self._call("put") as moved:
            super().put_json(key, payload, atomic=atomic)
            moved["put"] = disk_bytes(self.path(key))

    def put_bytes(self, key, data):
        with self._call("put") as moved:
            super().put_bytes(key, data)
            moved["put"] = len(data)

    def move(self, src_key, dst_key):
        with self._call("move"):
            super().move(src_key, dst_key)

    def delete(self, key):
        with self._call("delete"):
            super().delete(key)

    def exists(self, key):
        with self._call("exists"):
            return super().exists(key)

    def size(self, key):
        with self._call("exists"):
            return super().size(key)

    def iter_keys(self, prefix=""):
        with self._call("list"):  # listed eagerly so the span covers the walk
            keys = list(super().iter_keys(prefix))
        return iter(keys)

    def commit_lock(self, dataset_uuid, **kwargs):
        inner = super().commit_lock(dataset_uuid, **kwargs)

        @contextlib.contextmanager
        def timed():
            t0 = time.perf_counter()
            with inner as refresh:
                with self._lock:
                    self.lock_wait_s += time.perf_counter() - t0
                yield refresh

        return timed()


# -- layer spans -----------------------------------------------------------------


def _wrap(recorder: Recorder, name: str, fn, attrs_of=None):
    @functools.wraps(fn)
    def wrapped(*args, **kwargs):
        with recorder.span(name) as span:
            out = fn(*args, **kwargs)
            if attrs_of is not None:
                span.attrs.update(attrs_of(args, kwargs, out))
            return out

    return wrapped


def install_layer_spans(recorder: Recorder) -> None:
    """Wrap each layer's public functions where their callers look them
    up. Module-level imports are patched in the importing module;
    function-local imports read the defining module at call time."""
    from plateau_spark.core.metadata import DatasetMetadata
    from plateau_spark.plans import index, zonemaps
    from plateau_spark.plans.index import SecondaryIndex
    from plateau_spark.sources import dataset as ds

    def plan_attrs(args, kwargs, out):
        return {"files_total": len(args[0].partitions), "files_surviving": len(out)}

    def harvest_attrs(args, kwargs, out):
        return {"files": len(args[2])}

    for name, attr in [
        ("sources.serializers.write_staged", "write_staged"),
        ("sources.serializers.read_files", "read_files"),
        ("plans.index.persist", "persist_index_dataframe"),
        ("plans.blooms.build", "_build_blooms"),
        ("plans.blooms.build", "_merge_committed_blooms"),
    ]:
        setattr(ds, attr, _wrap(recorder, name, getattr(ds, attr)))
    ds.plan_scan = _wrap(recorder, "plans.pruning.plan_scan", ds.plan_scan, plan_attrs)
    index.persist_index_dict = _wrap(recorder, "plans.index.persist", index.persist_index_dict)
    zonemaps.collect_partition_stats = _wrap(
        recorder, "plans.zonemaps.harvest", zonemaps.collect_partition_stats, harvest_attrs
    )
    DatasetMetadata.load = classmethod(
        _wrap(recorder, "core.metadata.load", DatasetMetadata.load.__func__)
    )
    DatasetMetadata.commit = _wrap(recorder, "core.metadata.commit", DatasetMetadata.commit)
    SecondaryIndex.load = classmethod(
        _wrap(recorder, "plans.index.load", SecondaryIndex.load.__func__)
    )


# -- Spark event log ----------------------------------------------------------------


@dataclass
class Job:
    job_id: int
    submit: float  # epoch seconds
    end: float
    description: str | None
    stages: list[int]


@dataclass
class EventLog:
    jobs: list[Job]
    stage_tasks: dict[int, int]  # stage id -> tasks finished
    stage_metrics: dict[int, dict[str, float]]  # stage id -> summed task metrics


TASK_METRICS = (
    "executor_run_s",
    "executor_cpu_s",
    "input_bytes",
    "input_records",
    "output_bytes",
    "shuffle_read_bytes",
    "shuffle_write_bytes",
    "spill_bytes",
    "python_sent_bytes",
    "python_received_bytes",
)

_PYTHON_ACCUMULABLES = {
    "data sent to Python workers": "python_sent_bytes",
    "data returned from Python workers": "python_received_bytes",
}


def _task_metrics(event: dict) -> dict[str, float]:
    m = event.get("Task Metrics") or {}
    shuffle_read = m.get("Shuffle Read Metrics") or {}
    out = {
        "executor_run_s": m.get("Executor Run Time", 0) / 1e3,
        "executor_cpu_s": m.get("Executor CPU Time", 0) / 1e9,
        "input_bytes": (m.get("Input Metrics") or {}).get("Bytes Read", 0),
        "input_records": (m.get("Input Metrics") or {}).get("Records Read", 0),
        "output_bytes": (m.get("Output Metrics") or {}).get("Bytes Written", 0),
        "shuffle_read_bytes": shuffle_read.get("Remote Bytes Read", 0)
        + shuffle_read.get("Local Bytes Read", 0),
        "shuffle_write_bytes": (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0),
        "spill_bytes": m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0),
        "python_sent_bytes": 0,
        "python_received_bytes": 0,
    }
    for acc in (event.get("Task Info") or {}).get("Accumulables", []):
        key = _PYTHON_ACCUMULABLES.get(acc.get("Name"))
        if key is not None:
            out[key] += int(acc.get("Update") or 0)
    return out


def _event_lines(path: str):
    """Lines of one uncompressed event log: a single file, or a rolling
    log directory of ``events_<n>_<app>`` files read in order."""
    if os.path.isdir(path):
        parts = [n for n in os.listdir(path) if n.startswith("events_")]
        files = [os.path.join(path, n) for n in sorted(parts, key=lambda n: int(n.split("_")[1]))]
    else:
        files = [path]
    for name in files:
        with open(name) as f:
            yield from f


def fold_event_log(path: str) -> EventLog:
    """Jobs with their wall interval and stages, and per-stage task
    counts and summed task metrics, from one uncompressed event log."""
    jobs: dict[int, Job] = {}
    stage_tasks: dict[int, int] = {}
    stage_metrics: dict[int, dict[str, float]] = {}
    for line in _event_lines(path):
        event = json.loads(line)
        kind = event.get("Event")
        if kind == "SparkListenerJobStart":
            props = event.get("Properties") or {}
            jobs[event["Job ID"]] = Job(
                event["Job ID"],
                event["Submission Time"] / 1e3,
                event["Submission Time"] / 1e3,
                props.get("spark.job.description"),
                list(event.get("Stage IDs", [])),
            )
        elif kind == "SparkListenerJobEnd":
            jobs[event["Job ID"]].end = event["Completion Time"] / 1e3
        elif kind == "SparkListenerTaskEnd":
            sid = event["Stage ID"]
            stage_tasks[sid] = stage_tasks.get(sid, 0) + 1
            acc = stage_metrics.setdefault(sid, dict.fromkeys(TASK_METRICS, 0.0))
            for k, v in _task_metrics(event).items():
                acc[k] += v
    return EventLog(sorted(jobs.values(), key=lambda j: j.job_id), stage_tasks, stage_metrics)


def job_totals(log: EventLog, jobs: list[Job]) -> dict[str, float]:
    """Job, stage and task counts and summed task metrics over ``jobs``.
    A stage counts when it ran tasks (skipped stages are listed in the
    job but never run)."""
    stages = {s for j in jobs for s in j.stages if s in log.stage_tasks}
    out = {"jobs": len(jobs), "stages": len(stages), "tasks": sum(log.stage_tasks[s] for s in stages)}
    for k in TASK_METRICS:
        out[k] = sum(log.stage_metrics[s][k] for s in stages)
    return out


def find_event_log(directory: str) -> str:
    """The single application log in ``directory``."""
    names = [n for n in os.listdir(directory) if not n.startswith(".")]
    if len(names) != 1:
        raise RuntimeError(f"expected one event log in {directory}, found {names}")
    return os.path.join(directory, names[0])
