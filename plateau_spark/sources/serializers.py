"""File-format dispatch for dataset payload files.

Mirrors the reference's DataFrameSerializer registry
(/root/reference/plateau/serialization/_generic.py:53-129): the file
*suffix* names the format, each dataset may mix formats per partition,
and readers dispatch per file. Formats:

  ``.parquet``          — the default; Spark's vectorized reader with
                          Catalyst filter/projection pushdown.
  ``.csv`` / ``.csv.gz``— the reference's CsvSerializer contract
                          (/root/reference/plateau/serialization/_csv.py:33-118):
                          ``;`` separator, UTF-8, header row, gzip when
                          compressed. Types come from the dataset's
                          commit-file schema (stronger than the
                          reference's pandas re-inference).
  ``.json``/``.json.gz``— EXTENSION beyond the reference: JSON-lines,
                          the raw-crawl interchange format for LLM
                          corpus ingest. Types restored from the
                          commit-file schema on read (JSON itself is
                          stringly); gzip when compressed.
  ``.orc``              — EXTENSION beyond the reference: ORC, the
                          other Spark-native columnar format
                          (vectorized reader, predicate pushdown);
                          snappy when compressed.

Reading is still one distributed plan: surviving partition files are
grouped by format, each group becomes one scan, groups union —
Catalyst handles each source's pushdown independently. Writing is one
Spark job (``write_staged``), or, for parquet rows already in driver
memory, its pyarrow twin ``write_staged_driver``.
"""

from __future__ import annotations

import datetime
import io
import posixpath
import uuid
from functools import reduce
from typing import Sequence

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, DataFrameReader, SparkSession
from pyspark.sql import types as T

from plateau_spark.core import naming
from plateau_spark.core.store import Store
from plateau_spark.core.urlencode import escape_path_name

CSV_OPTIONS = {"sep": ";", "header": "true", "encoding": "UTF-8"}


def format_of(key: str) -> str:
    """Format name for a payload file key (suffix dispatch)."""
    if key.endswith(naming.PARQUET_SUFFIX):
        return "parquet"
    if key.endswith(naming.CSV_SUFFIXES):
        return "csv"
    if key.endswith(naming.JSON_SUFFIXES):
        return "json"
    if key.endswith(naming.ORC_SUFFIX):
        return "orc"
    raise ValueError(f"The specified file format for '{key}' is not supported")


def is_payload_file(key: str) -> bool:
    return key.endswith(
        (naming.PARQUET_SUFFIX, naming.ORC_SUFFIX)
        + naming.CSV_SUFFIXES
        + naming.JSON_SUFFIXES
    )


def write_staged(
    df: DataFrame,
    url: str,
    partition_on: Sequence[str],
    *,
    file_format: str = "parquet",
    compress: bool = True,
) -> None:
    """One Spark write job into the staging prefix, format-dispatched."""
    writer = df.write.mode("append")
    if partition_on:
        writer = writer.partitionBy(*partition_on)
    if file_format == "parquet":
        writer.parquet(url)
    elif file_format == "csv":
        w = writer.options(**CSV_OPTIONS)
        if compress:
            w = w.option("compression", "gzip")
        w.csv(url)
    elif file_format == "json":
        w = writer
        if compress:
            w = w.option("compression", "gzip")
        w.json(url)
    elif file_format == "orc":
        writer.option("compression", "snappy" if compress else "none").orc(url)
    else:
        raise ValueError(f"Unsupported file_format: {file_format!r}")


# Spark SQL type -> Arrow type of every column type the driver tier
# writes: types whose collected Python values pyarrow stores exactly as
# Spark would. Timestamps stay on Spark (``collect()`` returns naive
# process-local datetimes); decimal, binary and nested types have no
# parity test.
DRIVER_WRITE_TYPES = {
    T.ByteType: pa.int8(),
    T.ShortType: pa.int16(),
    T.IntegerType: pa.int32(),
    T.LongType: pa.int64(),
    T.FloatType: pa.float32(),
    T.DoubleType: pa.float64(),
    T.StringType: pa.string(),
    T.BooleanType: pa.bool_(),
    T.DateType: pa.date32(),
}

HIVE_NULL_DIR = "__HIVE_DEFAULT_PARTITION__"


def rows_to_arrow(rows: Sequence, schema: T.StructType) -> pa.Table:
    """Collected Spark rows → an Arrow table of ``schema``."""
    fields = [
        pa.field(f.name, DRIVER_WRITE_TYPES[type(f.dataType)], f.nullable)
        for f in schema.fields
    ]
    columns = list(zip(*rows)) if rows else [()] * len(fields)
    return pa.table(
        [pa.array(col, type=f.type) for col, f in zip(columns, fields)],
        schema=pa.schema(fields),
    )


def _hive_dir_value(value) -> str:
    if value is None or value == "":
        return HIVE_NULL_DIR  # Spark writes null and "" keys here
    if isinstance(value, datetime.date):
        return value.isoformat()
    return escape_path_name(str(value))


def write_staged_driver(
    table: pa.Table,
    store: Store,
    staging: str,
    partition_on: Sequence[str],
    *,
    sort_by: Sequence[str] | None = None,
) -> None:
    """Driver twin of :func:`write_staged` for a frame whose rows are
    already on the driver: one snappy parquet file per partition key,
    written with pyarrow under the staging prefix in the hive layout a
    Spark write would produce (same escaped directory names, key
    columns in the path and not in the file, rows in input order or
    sorted like ``sortWithinPartitions``). A keyless table is one
    file, even when empty; an empty keyed table writes nothing."""
    if sort_by:
        table = table.take(
            pc.sort_indices(
                table,
                sort_keys=[(c, "ascending") for c in sort_by],
                null_placement="at_start",
            )
        )
    if partition_on:
        groups: dict[str, list[int]] = {}
        keys = zip(*(table.column(k).to_pylist() for k in partition_on))
        for i, values in enumerate(keys):
            dirname = "/".join(
                f"{escape_path_name(k)}={_hive_dir_value(v)}"
                for k, v in zip(partition_on, values)
            )
            groups.setdefault(dirname, []).append(i)
        data = table.drop_columns(list(partition_on))
        parts = [(d, data.take(rows)) for d, rows in groups.items()]
    else:
        parts = [("", table)]
    for dirname, part in parts:
        buf = io.BytesIO()
        # an empty file has no row group, like Spark's
        with pq.ParquetWriter(
            buf, part.schema, compression="snappy", store_schema=False
        ) as writer:
            if part.num_rows:
                writer.write_table(part)
        name = f"part-00000-{uuid.uuid4()}.c000.snappy{naming.PARQUET_SUFFIX}"
        store.put_bytes(posixpath.join(staging, dirname, name), buf.getvalue())


def _reader(spark: SparkSession, schema, base: str) -> DataFrameReader:
    # schema=None: reference-written dataset whose commit file carries no
    # inline schema — parquet self-describes, and basePath lets Spark
    # derive the hive partition columns from the explicit path list
    rdr = spark.read.option("basePath", base)
    return rdr if schema is None else rdr.schema(schema)


def read_files(
    spark: SparkSession,
    schema,
    base: str,
    file_keys_to_urls: dict[str, str],
) -> DataFrame:
    """Format-dispatched scan over explicit file paths → one DataFrame."""
    groups: dict[str, list[str]] = {}
    for key, url in file_keys_to_urls.items():
        groups.setdefault(format_of(key), []).append(url)
    parts: list[DataFrame] = []
    for fmt, urls in sorted(groups.items()):
        rdr = _reader(spark, schema, base)
        if fmt == "parquet":
            parts.append(rdr.parquet(*urls))
        elif fmt == "csv":
            parts.append(rdr.options(**CSV_OPTIONS).csv(urls))
        elif fmt == "orc":
            # DataFrameReader.orc takes one path-or-list (not varargs)
            parts.append(rdr.orc(urls))
        else:
            parts.append(rdr.json(urls))
    return reduce(lambda a, b: a.unionByName(b), parts)
