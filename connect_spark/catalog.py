"""Table loaders for the driver-provided parquet test tables.

The reference is schemaless-by-default (message trees, SURVEY.md §1.1);
our engine is DataFrame-native so tables are first-class. Loaders go
through ``spark.read.parquet`` so Catalyst gets predicate pushdown,
column pruning and partition pruning for free on every query.

``load_table`` accepts sessions built elsewhere (the round driver
builds its own), so it calls ``session.ensure_session`` first: that
pins the runtime confs the loader relies on (nanosAsLong, UTC) and
ships the package to the Python workers.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from connect_spark.session import ensure_session

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; known: {TABLES}")
    ensure_session(spark)
    df = spark.read.parquet(table_path(sf_dir, name))
    # events.ts is parquet TIMESTAMP(NANOS); with nanosAsLong it arrives
    # as int64 nanos — truncate to micros (what DuckDB does) and restore
    # the timestamp type. Narrow expression, stays codegen'd.
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    for field in df.schema.fields:
        if field.name == "ts" and isinstance(field.dataType, T.LongType):
            df = df.withColumn(
                "ts", F.timestamp_micros(F.expr("ts div 1000"))
            )
        elif field.name == "ts" and isinstance(
            field.dataType, T.TimestampNTZType
        ):
            # newer parquet readers surface TIMESTAMP(NANOS) as
            # TIMESTAMP_NTZ (micros-truncated) instead of honoring
            # nanosAsLong; normalize to plain TIMESTAMP (session tz is
            # pinned UTC, so the wall-clock value is unchanged) so every
            # downstream epoch/cast/unix_micros expression sees ONE type
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def _max_partition_bytes(spark: SparkSession) -> int:
    raw = str(
        spark.conf.get("spark.sql.files.maxPartitionBytes", "134217728")
    ).strip().lower()
    mult = 1
    for suf, m in (("kb", 1 << 10), ("mb", 1 << 20), ("gb", 1 << 30),
                   ("k", 1 << 10), ("m", 1 << 20), ("g", 1 << 30),
                   ("b", 1)):
        if raw.endswith(suf):
            raw = raw[: -len(suf)]
            mult = m
            break
    try:
        return max(1, int(raw) * mult)
    except ValueError:
        return 128 << 20


def fanout_scan(spark: SparkSession, df: DataFrame, sf_dir: str,
                *names: str) -> DataFrame:
    """Round-robin fan-out for a compute-heavy stage fed by a scan the
    file layout cannot split (optimization guide §2.5 "input skew":
    the test tables are single-row-group parquet files, so the scan
    stage is ONE task no matter the core count, and everything narrow
    above it — hashing, shingling, codec work, vector math — runs on
    one core).

    Scale-adaptive by construction, not a local[32] constant: the
    expected scan-task count is derived from the input bytes and
    ``spark.sql.files.maxPartitionBytes``.  On any production-sized
    (or merely multi-split) input the estimate reaches the session's
    default parallelism and this is a NO-OP; only an unsplittable
    small input pays one narrow exchange of the pruned columns to use
    the whole machine.  The 16 KiB-per-partition floor keeps the
    fan-out from shredding tiny tables into empty tasks."""
    total = 0
    for n in names:
        try:
            total += os.path.getsize(table_path(sf_dir, n))
        except OSError:
            return df
    par = spark.sparkContext.defaultParallelism
    est_tasks = max(1, -(-total // _max_partition_bytes(spark)))
    if est_tasks >= par:
        return df
    target = min(par, max(1, total >> 14))
    if target <= est_tasks:
        return df
    return df.repartition(target)


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {name: load_table(spark, sf_dir, name) for name in TABLES}


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every test table as a temp view for ``spark.sql`` use."""
    for name, df in load_tables(spark, sf_dir).items():
        df.createOrReplaceTempView(name)
