"""Self-tests for the benchmark's own code.

    python3 -m pytest perfbench -q

Run from the repository root. The event-log test starts a small local
Spark session.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pyarrow as pa
import pytest

from perfbench import gen, tracing


# -- generator -------------------------------------------------------------------


def _stream(seed: int):
    rng = np.random.default_rng(seed)
    base = gen.initial_lineitem(rng, 500, 12)
    batches = gen.BatchStream(rng, base.column("l_orderkey").to_numpy().max() + 1, 12)
    out = [batches.next_batch() for _ in range(16)]
    preds = gen.predicate_stream(rng, base, 40, zone_width=20)
    shard = gen.corpus_shard(rng, 0, 200)
    return base, out, preds, shard


def test_generator_is_deterministic_per_seed():
    a, b, c = _stream(7), _stream(7), _stream(8)
    assert a[0].equals(b[0])
    assert all(x[0].equals(y[0]) and x[1] == y[1] for x, y in zip(a[1], b[1]))
    assert a[2] == b[2]
    assert a[3].table.equals(b[3].table)
    assert (a[3].junk, a[3].duplicates) == (b[3].junk, b[3].duplicates)
    assert not a[0].equals(c[0])
    assert a[2] != c[2]


def test_batches_have_fresh_unique_keys_and_a_fixed_late_share():
    base, batches, _, _ = _stream(3)
    tables = [base] + [t for t, _ in batches]
    keys = pa.concat_tables(tables).select(["l_orderkey", "l_linenumber"]).to_pylist()
    assert len({(k["l_orderkey"], k["l_linenumber"]) for k in keys}) == len(keys)
    late = [is_late for _, is_late in batches]
    assert late[:8].count(True) == 1 and late[8:].count(True) == 1
    on_time = [t for t, is_late in batches if not is_late]
    assert all(set(t.column("l_shipmonth").to_pylist()) <= {gen.month_label(10), gen.month_label(11)} for t in on_time)


def test_predicate_literals_are_python_scalars():
    _, _, preds, _ = _stream(5)
    assert [k for k, _ in preds[:3]] == list(gen.PREDICATE_KINDS)
    for _, dnf in preds:
        for _, _, value in dnf[0]:
            assert type(value) in (int, str)


def test_corpus_ground_truth():
    shard = gen.corpus_shard(np.random.default_rng(1), 100, 300)
    ids = shard.table.column("doc_id").to_pylist()
    texts = dict(zip(ids, shard.table.column("text").to_pylist()))
    assert shard.duplicates and shard.junk and not (shard.duplicates & shard.junk)
    originals = {i for i in ids if i not in shard.duplicates}
    assert max(originals) < min(shard.duplicates)
    assert all(len(texts[i]) < 50 for i in shard.junk)


# -- spans -------------------------------------------------------------------------


def _span(name, start, end, parent):
    return tracing.Span(name, start, end, parent, "op-1")


def test_self_time_subtracts_the_union_of_children():
    spans = [
        _span("root", 0.0, 10.0, None),
        _span("a", 1.0, 4.0, 0),
        _span("b", 3.0, 6.0, 0),  # overlaps a (another thread)
        _span("a.1", 2.0, 3.0, 1),
        _span("late", 9.0, 12.0, 0),  # runs past its parent: clipped
    ]
    assert tracing.self_times(spans) == pytest.approx([10 - 5 - 1, 2.0, 3.0, 1.0, 3.0])
    assert tracing.union_length([(1, 4), (3, 6), (8, 20)], 0, 10) == pytest.approx(7.0)
    assert sorted(tracing.subtree(spans, 1)) == [1, 3]


def test_recorder_nests_and_parents_pool_threads_to_the_op():
    import threading

    rec = tracing.Recorder()
    with rec.span("op", op="op-1"):
        with rec.span("child"):
            pass
        worker = []

        def in_thread():
            with rec.span("pool"):
                worker.append(True)

        t = threading.Thread(target=in_thread)
        t.start()
        t.join(timeout=10)
        assert not t.is_alive() and worker
    names = {s.name: s for s in rec.spans}
    assert names["child"].parent == 0 and names["child"].op == "op-1"
    assert names["pool"].parent == 0 and names["pool"].op == "op-1"
    assert all(s.end is not None for s in rec.spans)


# -- store counting ----------------------------------------------------------------


def test_counting_store_counts_calls_and_bytes(tmp_path):
    store = tracing.CountingStore(str(tmp_path))
    store.put_bytes("a/x", b"12345")
    store.put_json("a/y.json", {"k": 1})
    assert store.get_bytes("a/x") == b"12345"
    store.exists("a/x")
    list(store.iter_keys("a/"))
    store.move("a/x", "a/z")
    store.delete("a/z")
    with store.commit_lock("a"):
        pass
    snap = store.snapshot()
    assert {k: snap[f"{k}_calls"] for k in tracing.STORE_KINDS} == {
        "get": 1, "put": 2, "move": 1, "delete": 1, "list": 1, "exists": 1,
    }
    assert snap["get_bytes"] == 5
    assert snap["put_bytes"] == 5 + os.path.getsize(tmp_path / "a" / "y.json")
    assert snap["lock_wait_s"] >= 0.0


# -- event log ---------------------------------------------------------------------


def _task_end(stage, run_ms, cpu_ns, read_bytes, records, sent):
    return {
        "Event": "SparkListenerTaskEnd",
        "Stage ID": stage,
        "Task Info": {"Accumulables": [{"Name": "data sent to Python workers", "Update": sent}]},
        "Task Metrics": {
            "Executor Run Time": run_ms,
            "Executor CPU Time": cpu_ns,
            "Input Metrics": {"Bytes Read": read_bytes, "Records Read": records},
            "Output Metrics": {"Bytes Written": 0},
            "Shuffle Read Metrics": {"Remote Bytes Read": 0, "Local Bytes Read": 7},
            "Shuffle Write Metrics": {"Shuffle Bytes Written": 11},
            "Memory Bytes Spilled": 0,
            "Disk Bytes Spilled": 0,
        },
    }


def test_fold_of_a_written_log_is_exact(tmp_path):
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 1000, "Stage IDs": [0, 1],
         "Properties": {"spark.job.description": "read-1"}},
        _task_end(0, 100, 2_000_000, 64, 4, 10),
        _task_end(0, 300, 4_000_000, 36, 6, 20),
        _task_end(1, 50, 1_000_000, 0, 0, 0),
        {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 2500},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": 3000, "Stage IDs": [2, 3]},
        _task_end(3, 10, 0, 0, 0, 0),
        {"Event": "SparkListenerJobEnd", "Job ID": 1, "Completion Time": 3100},
    ]
    path = tmp_path / "events"
    path.write_text("".join(json.dumps(e) + "\n" for e in events))
    log = tracing.fold_event_log(str(path))
    first, second = log.jobs
    assert (first.submit, first.end, first.description) == (1.0, 2.5, "read-1")
    tot = tracing.job_totals(log, [first])
    assert (tot["jobs"], tot["stages"], tot["tasks"]) == (1, 2, 3)
    assert tot["executor_run_s"] == pytest.approx(0.45)
    assert tot["executor_cpu_s"] == pytest.approx(0.007)
    assert (tot["input_bytes"], tot["input_records"], tot["python_sent_bytes"]) == (100, 10, 30)
    assert (tot["shuffle_read_bytes"], tot["shuffle_write_bytes"]) == (21, 33)
    # stage 2 never ran (skipped): it is not counted
    assert tracing.job_totals(log, [second])["stages"] == 1


def test_fold_of_a_tiny_spark_job(tmp_path):
    from pyspark.sql import SparkSession

    events = tmp_path / "events"
    events.mkdir()
    spark = (
        SparkSession.builder.master("local[2]")
        .appName("perfbench-selftest")
        .config("spark.eventLog.enabled", "true")
        .config("spark.eventLog.dir", "file://" + str(events))
        .config("spark.eventLog.compress", "false")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.local.dir", str(tmp_path / "local"))
        .getOrCreate()
    )
    try:
        sc = spark.sparkContext
        text = tmp_path / "lines.txt"
        text.write_text("".join(f"line {i:04d}\n" for i in range(100)))
        sc.setJobDescription("count")
        assert sc.textFile("file://" + str(text), 3).count() == 100
        sc.setJobDescription("shuffle")
        pairs = sc.parallelize(range(1000), 4).map(lambda x: (x % 10, 1)).reduceByKey(lambda a, b: a + b, 3)
        assert sorted(pairs.collect()) == [(k, 100) for k in range(10)]
    finally:
        spark.stop()
    log = tracing.fold_event_log(tracing.find_event_log(str(events)))
    by_name = {j.description: j for j in log.jobs}
    count = tracing.job_totals(log, [by_name["count"]])
    assert (count["jobs"], count["stages"], count["tasks"]) == (1, 1, 3)
    assert count["input_records"] == 100
    assert count["input_bytes"] >= text.stat().st_size
    shuffle = tracing.job_totals(log, [by_name["shuffle"]])
    assert (shuffle["jobs"], shuffle["stages"], shuffle["tasks"]) == (1, 2, 7)
    assert shuffle["shuffle_write_bytes"] > 0
    assert shuffle["shuffle_read_bytes"] == shuffle["shuffle_write_bytes"]


def test_tail_percentile_rule():
    from perfbench.run import tail

    values = [float(i) for i in range(1, 101)]
    q, v = tail(values)
    assert q == pytest.approx(0.9)
    assert sum(x > v for x in values) == 10
    assert tail([float(i) for i in range(19)]) == (1.0, 18.0)


def test_benchmark_json_matches_the_code():
    from perfbench.layers import UNITS
    from perfbench.run import E2E_UNITS
    from perfbench.workloads import WORKLOADS

    with open(os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert [w["name"] for w in bench["workloads"]] == list(WORKLOADS)
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == E2E_UNITS
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == UNITS
