"""The driver tier of ``_write_files``: a frame whose rows already sit in
driver memory (``createDataFrame`` from Arrow) is written with pyarrow,
with zero Spark jobs, and must commit exactly what the Spark write job
commits for the same rows."""

from __future__ import annotations

import datetime
import posixpath

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import types as T

from plateau_spark.core.metadata import DatasetMetadata
from plateau_spark.core.store import Store
from plateau_spark.plans.index import index_as_flat_dataframe
from plateau_spark.sources import dataset as dsmod
from plateau_spark.sources.dataset import (
    ConstraintViolationError,
    garbage_collect_dataset,
    read_dataset_as_dataframe,
    store_dataframe_as_dataset,
    update_dataset_from_dataframe,
)
from plateau_spark.sources.serializers import rows_to_arrow

SCHEMA = (
    "k int, s string, d date, v long, t tinyint, h smallint, "
    "fl float, f double, b boolean, note string"
)
ZONE_COLS = ["v", "t", "h", "fl", "f", "d"]
ESCAPED = ["a/b", "x=y", "50%", "12:00", "é", "a b"]


def _rows(n: int = 40, strings=("red", "green", "blue")) -> list[tuple]:
    out = []
    for i in range(n):
        out.append(
            (
                i % 3,
                strings[i % len(strings)],
                datetime.date(2020, 1 + i % 2, 1),
                None if i % 11 == 5 else (i * 7919) % 101,
                i % 5 - 2,
                i * 3,
                i / 4,
                None if i % 13 == 4 else i / 8 - 2.0,
                i % 2 == 0,
                None if i % 7 == 3 else f"n{i % 9}",
            )
        )
    return out


def _schema(ddl: str) -> T.StructType:
    return T._parse_datatype_string(ddl)


def _local_df(spark, rows, ddl=SCHEMA):
    return spark.createDataFrame(rows_to_arrow(rows, _schema(ddl)))


def _spark_df(spark, rows, ddl=SCHEMA):
    return spark.createDataFrame(rows, ddl).repartition(3)


@pytest.fixture()
def staged_writes(monkeypatch):
    """Counts calls of the Spark tier's ``write_staged``."""
    calls = []
    real = dsmod.write_staged

    def counting(*args, **kwargs):
        calls.append(args[2])
        return real(*args, **kwargs)

    monkeypatch.setattr(dsmod, "write_staged", counting)
    return calls


def _merge_stats(a, b):
    if a is None:
        return list(b)
    lo = [x for x in (a[0], b[0]) if x is not None]
    hi = [x for x in (a[1], b[1]) if x is not None]
    return [min(lo, default=None), max(hi, default=None), a[2] + b[2]]


def _snapshot(spark, store, uuid, index_cols=()):
    """What a commit holds, per hive directory: the Spark tier may write
    several files for one directory (a keyless frame over several
    tasks), so labels are compared by their directory part and zone
    maps merged per directory."""
    meta = DatasetMetadata.load(store, uuid)
    dirs: dict[str, dict] = {}
    for p in meta.partitions.values():
        d = dirs.setdefault(
            posixpath.dirname(p.label), {"key_values": p.key_values, "stats": {}}
        )
        assert d["key_values"] == p.key_values
        for col, st in p.stats.items():
            d["stats"][col] = _merge_stats(d["stats"].get(col), st)
    df = read_dataset_as_dataframe(spark, store, uuid)
    rows = sorted(
        (tuple(r) for r in df.select(*sorted(df.columns)).collect()), key=repr
    )
    index = {
        col: sorted(
            {
                (r[col], posixpath.dirname(r["partition"]))
                for r in index_as_flat_dataframe(spark, store, meta, col).collect()
            },
            key=repr,
        )
        for col in index_cols
    }
    return {"dirs": dirs, "rows": rows, "index": index}


def _assert_tier_parity(spark, tmp_path, staged_writes, rows, ddl=SCHEMA, **kwargs):
    kwargs.setdefault("zone_map_columns", ZONE_COLS)
    index_cols = kwargs.get("secondary_indices") or ()
    out = {}
    for tier, make in (("driver", _local_df), ("spark", _spark_df)):
        store = Store(str(tmp_path / tier))
        before = len(staged_writes)
        store_dataframe_as_dataset(spark, store, "ds", make(spark, rows, ddl), **kwargs)
        assert len(staged_writes) - before == (tier == "spark"), tier
        out[tier] = (store, _snapshot(spark, store, "ds", index_cols))
    assert out["driver"][1] == out["spark"][1]
    return out


@pytest.mark.parametrize(
    "partition_on,index",
    [(["k"], ["s"]), (["s"], ["k"]), (["d"], ["v"]), (["k", "s"], ["note"])],
    ids=["int_key", "string_key", "date_key", "two_keys"],
)
def test_tier_parity_keyed(spark, tmp_path, staged_writes, partition_on, index):
    snap = _assert_tier_parity(
        spark, tmp_path, staged_writes, _rows(),
        partition_on=partition_on, secondary_indices=index,
    )["driver"][1]
    assert len(snap["dirs"]) > 1


def test_tier_parity_escaped_key_values(spark, tmp_path, staged_writes):
    out = _assert_tier_parity(
        spark, tmp_path, staged_writes, _rows(24, strings=ESCAPED),
        partition_on=["s"], secondary_indices=["k"],
    )
    snap = out["driver"][1]
    assert sorted(d["key_values"]["s"] for d in snap["dirs"].values()) == sorted(ESCAPED)
    assert {"s=a%2Fb", "s=x%3Dy", "s=50%25", "s=12%3A00", "s=é", "s=a b"} == set(snap["dirs"])


def test_tier_parity_keyless(spark, tmp_path, staged_writes):
    _assert_tier_parity(
        spark, tmp_path, staged_writes, _rows(), secondary_indices=["k"]
    )


@pytest.mark.parametrize("partition_on", [[], ["k"]], ids=["keyless", "keyed"])
def test_tier_parity_empty_frame(spark, tmp_path, staged_writes, partition_on):
    snap = _assert_tier_parity(
        spark, tmp_path, staged_writes, [], partition_on=partition_on
    )["driver"][1]
    assert snap["rows"] == []
    # Spark writes one empty file for a keyless frame and none per key
    assert len(snap["dirs"]) == (0 if partition_on else 1)


@pytest.mark.parametrize("partition_on", [[], ["k"]], ids=["keyless", "keyed"])
def test_tier_parity_sort_partitions_by(spark, tmp_path, staged_writes, partition_on):
    out = _assert_tier_parity(
        spark, tmp_path, staged_writes, _rows(60),
        partition_on=partition_on, sort_partitions_by=["v", "note"],
    )
    for tier, (store, _) in out.items():
        meta = DatasetMetadata.load(store, "ds")
        for p in meta.partitions.values():
            t = pq.read_table(store.path(p.file), columns=["v", "note"])
            got = list(zip(t.column("v").to_pylist(), t.column("note").to_pylist()))
            # ascending, nulls first — sortWithinPartitions order
            assert got == sorted(got, key=lambda r: [(x is not None, x) for x in r]), tier


# -- job-count gate and fallbacks -------------------------------------------------


def _jobs_in(spark, group: str, fn) -> int:
    sc = spark.sparkContext
    sc.setJobGroup(group, "driver-tier job count")
    try:
        fn()
    finally:
        sc.setJobGroup(None, None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_local_append_runs_no_spark_job(spark, store, staged_writes):
    base = _rows(60)
    store_dataframe_as_dataset(
        spark, store, "ds", _local_df(spark, base),
        partition_on=["k"], secondary_indices=["s"], zone_map_columns=["v"],
    )
    batch = _local_df(spark, _rows(300))
    jobs = _jobs_in(
        spark,
        "__driver_tier_append__",
        lambda: update_dataset_from_dataframe(spark, store, "ds", batch, partition_on=["k"]),
    )
    assert jobs == 0
    assert staged_writes == []
    assert read_dataset_as_dataframe(spark, store, "ds").count() == 360
    # the probe sees jobs at all: the same append of a non-local frame
    spark_jobs = _jobs_in(
        spark,
        "__spark_tier_append__",
        lambda: update_dataset_from_dataframe(
            spark, store, "ds", _spark_df(spark, _rows(300)), partition_on=["k"]
        ),
    )
    assert spark_jobs > 0
    assert len(staged_writes) == 1


@pytest.mark.parametrize(
    "case", ["timestamp", "bucketed", "csv", "over_budget", "non_local", "nan"]
)
def test_driver_tier_fallbacks(spark, store, staged_writes, monkeypatch, case):
    rows, kwargs = _rows(), {"partition_on": ["k"]}
    if case == "nan":
        rows[3] = rows[3][:7] + (float("nan"),) + rows[3][8:]
        kwargs["zone_map_columns"] = ["f"]
    df = _local_df(spark, rows)
    if case == "timestamp":
        ts = pa.array([datetime.datetime(2020, 1, 1, 12)] * len(rows), pa.timestamp("us", "UTC"))
        df = spark.createDataFrame(rows_to_arrow(rows, _schema(SCHEMA)).append_column("ts", ts))
    elif case == "bucketed":
        kwargs.update(num_buckets=2, bucket_by=["v"])
    elif case == "csv":
        kwargs["file_format"] = "csv"
    elif case == "over_budget":
        monkeypatch.setenv("PLATEAU_SPARK_INDEX_DRIVER_BYTES", "64")
    elif case == "non_local":
        df = _spark_df(spark, rows)
    meta = store_dataframe_as_dataset(spark, store, "ds", df, **kwargs)
    assert len(staged_writes) == 1
    assert read_dataset_as_dataframe(spark, store, "ds").count() == len(rows)
    if case == "nan":
        # the NaN row keeps its file unbounded, as parquet-mr writes it
        assert [p.stats["f"][:2] for p in meta.partitions.values()].count([None, None]) == 1


# -- error paths -------------------------------------------------------------------


def _staging_keys(store, uuid="ds"):
    return list(store.iter_keys(f"{uuid}/.staging/"))


def test_check_violation_on_local_frame(spark, store, staged_writes):
    meta = store_dataframe_as_dataset(
        spark, store, "ds", _local_df(spark, _rows(9)), partition_on=["k"],
        check_constraints={"v_nonneg": "v >= 0"},
    )
    bad = _rows(9)
    bad[4] = bad[4][:3] + (-7,) + bad[4][4:]
    with pytest.raises(ConstraintViolationError, match="v_nonneg"):
        update_dataset_from_dataframe(spark, store, "ds", _local_df(spark, bad))
    assert staged_writes == []
    assert _staging_keys(store) == []
    after = DatasetMetadata.load(store, "ds")
    assert after.generation == meta.generation
    assert set(after.partitions) == set(meta.partitions)


@pytest.mark.parametrize("bad_key", [None, ""], ids=["null", "empty_string"])
def test_null_and_empty_keys_raise_like_spark(spark, tmp_path, staged_writes, bad_key):
    rows = _rows(6)
    rows[2] = rows[2][:1] + (bad_key,) + rows[2][2:]
    errors = {}
    for tier, make in (("driver", _local_df), ("spark", _spark_df)):
        store = Store(str(tmp_path / tier))
        with pytest.raises(ValueError) as info:
            store_dataframe_as_dataset(spark, store, "ds", make(spark, rows), partition_on=["s"])
        errors[tier] = str(info.value)
        assert _staging_keys(store) == []
        assert not DatasetMetadata.exists(store, "ds")
    assert staged_writes and len(staged_writes) == 1
    assert errors["driver"] == errors["spark"]
    assert "null values in partition columns" in errors["driver"]


class _FailingPutStore(Store):
    """Raises on the ``fail_at``-th ``put_bytes`` call (1-based)."""

    def __init__(self, root: str, fail_at: int):
        super().__init__(root)
        self.fail_at = fail_at
        self.puts = 0

    def put_bytes(self, key: str, data: bytes) -> None:
        self.puts += 1
        if self.puts == self.fail_at:
            raise OSError(f"injected put_bytes failure on {key}")
        super().put_bytes(key, data)


def _unreferenced(store, uuid="ds"):
    referenced = DatasetMetadata.load(store, uuid).referenced_keys()
    return [
        k
        for k in store.iter_keys(f"{uuid}/")
        if k not in referenced
        and not k.endswith("/.commit.lock")
        and not any(k.startswith(r.rstrip("/") + "/") for r in referenced)
    ]


@pytest.mark.parametrize("fail_at", [1, 2])
def test_failed_put_leaves_commit_unchanged(spark, tmp_path, staged_writes, fail_at):
    root = str(tmp_path / "store")
    store = Store(root)
    meta = store_dataframe_as_dataset(
        spark, store, "ds", _local_df(spark, _rows(12)), partition_on=["k"],
        secondary_indices=["s"],
    )
    failing = _FailingPutStore(root, fail_at)
    with pytest.raises(OSError, match="injected"):
        update_dataset_from_dataframe(
            spark, failing, "ds", _local_df(spark, _rows(30)), partition_on=["k"]
        )
    assert staged_writes == []
    after = DatasetMetadata.load(store, "ds")
    assert after.generation == meta.generation
    assert set(after.partitions) == set(meta.partitions)
    assert read_dataset_as_dataframe(spark, store, "ds").count() == 12
    assert (fail_at == 2) == bool(_staging_keys(store))
    garbage_collect_dataset(store, "ds")
    assert _unreferenced(store) == []
    assert read_dataset_as_dataframe(spark, store, "ds").count() == 12


def test_keep_staging_gc_between_write_and_promote(spark, store, staged_writes, monkeypatch):
    store_dataframe_as_dataset(
        spark, store, "ds", _local_df(spark, _rows(12)), partition_on=["k"],
        secondary_indices=["s"],
    )
    real = dsmod.write_staged_driver
    removed = []

    def write_then_gc(table, st, staging, *args, **kwargs):
        real(table, st, staging, *args, **kwargs)
        assert list(st.iter_keys(staging + "/"))
        removed.extend(garbage_collect_dataset(st, "ds", keep_staging=True))

    monkeypatch.setattr(dsmod, "write_staged_driver", write_then_gc)
    meta = update_dataset_from_dataframe(
        spark, store, "ds", _local_df(spark, _rows(30)), partition_on=["k"]
    )
    assert staged_writes == []
    assert not set(removed) & meta.referenced_keys()
    assert read_dataset_as_dataframe(spark, store, "ds").count() == 42
