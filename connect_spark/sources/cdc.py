"""CDC posture (SURVEY.md §2.D CDC suite — the reference's flagship).

The reference's CDC inputs run two phases (internal/impl/postgresql/
input_pg_stream.go:35-46): (1) a parallel PK-partitioned snapshot
(:99-101 `max_parallel_snapshot_tables`, partitioned reads require a
PK), then (2) WAL streaming with offsets (LSN/GTID/SCN) checkpointed
in a cache (internal/impl/mysql/input_mysql_stream.go:48-50).

Spark mapping:
- Snapshot phase → `spark.read.jdbc` with partitionColumn/bounds —
  implemented here as a plan builder (no DB server in this container;
  the builder output is exactly what `DataFrameReader.jdbc` takes).
- Streaming phase → a custom Python DataSource reading the replication
  slot with offsets in Spark's checkpoint dir, or a Debezium→Kafka
  bridge consumed by the Kafka source (sources/kafka.py). The WAL
  decoder itself is server-dependent and is NOT implemented in this
  round; the type mapping below fixes the contract it must satisfy
  (TYPES.md:25-43).
"""

from __future__ import annotations

from dataclasses import dataclass

# Postgres CDC type contract (internal/impl/postgresql/TYPES.md:25-43)
# → Spark SQL types. NUMERIC keeps real decimals (the reference
# downgrades to string, TYPES.md:49-51).
PG_TYPE_MAP: dict[str, str] = {
    "bool": "boolean",
    "int2": "smallint",
    "int4": "int",
    "int8": "bigint",
    "float4": "float",
    "float8": "double",
    "numeric": "decimal(38,18)",
    "text": "string",
    "varchar": "string",
    "bytea": "binary",
    "date": "date",
    "time": "string",
    "timestamp": "timestamp",
    "timestamptz": "timestamp",
    "uuid": "string",
    "json": "string",
    "jsonb": "string",
}

# CDC row envelope metadata (input_pg_stream.go:86-89)
CDC_META_FIELDS = ("operation", "table", "lsn", "commit_ts_ms")


@dataclass(frozen=True)
class SnapshotPlan:
    """Arguments for a parallel PK-partitioned snapshot read — pass
    straight to `spark.read.jdbc(**plan.jdbc_kwargs())`."""

    url: str
    table: str
    pk_column: str
    lower_bound: int
    upper_bound: int
    num_partitions: int

    def jdbc_kwargs(self) -> dict:
        return {
            "url": self.url,
            "table": self.table,
            "column": self.pk_column,
            "lowerBound": self.lower_bound,
            "upperBound": self.upper_bound,
            "numPartitions": self.num_partitions,
        }


def apply_cdc_batch(cache, changes, key: str, op_col: str = "operation"):
    """Materialize a CDC change batch into a keyed table (the sink
    side of the CDC story — what the reference leaves to downstream
    systems, we complete with the generational cache):

    - read/insert/update → upsert (last writer wins within the batch,
      resolved by taking the LAST change per key in `_seq` order)
    - delete → remove key

    `changes` carries the row image + `operation` metadata
    (input_pg_stream.go:86-89) + a `_seq` ordering column (commit LSN /
    commit_ts_ms). The upserts and deletes land in ONE new cache
    generation per batch — set-based, no per-row round-trips.

    Unchanged-TOAST handling (pgoutput tuple category 'u' —
    sources/pgoutput.py::UNCHANGED_TOAST): a string column delivered
    as the marker resolves to its most recent real value — first by a
    forward-fill window WITHIN the batch (same partitioning as the
    last-writer window, no extra exchange), then from the cache's
    existing row for markers with no in-batch predecessor; a marker
    with no previous value anywhere becomes null."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from connect_spark.sources.pgoutput import UNCHANGED_TOAST

    str_cols = [
        c for c, t in changes.dtypes
        if t == "string" and c not in (key, op_col, "_seq")
    ]
    if str_cols:
        w_ff = Window.partitionBy(key).orderBy("_seq").rowsBetween(
            Window.unboundedPreceding, Window.currentRow)
        for c in str_cols:
            is_marker = F.col(c).eqNullSafe(UNCHANGED_TOAST)
            # wrap in a struct so a REAL null value still counts as a
            # present (non-marker) image and is never filled over
            non_marker = F.when(
                ~is_marker, F.struct(F.col(c).alias("v")))
            filled = F.last(non_marker, ignorenulls=True).over(w_ff)
            changes = changes.withColumn(
                c,
                F.when(filled.isNotNull(), filled["v"])
                .otherwise(F.lit(UNCHANGED_TOAST)),
            )

    w = Window.partitionBy(key).orderBy(F.col("_seq").desc())
    latest = (
        changes.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )
    upserts = latest.filter(
        F.col(op_col).isin("read", "insert", "update")
    ).drop(op_col, "_seq")
    if str_cols:
        cur = cache.read()
        prev_cols = [
            c for c in str_cols
            if cur is not None and c in cur.columns
        ]
        if prev_cols:
            prev = cur.select(
                F.col(cache.key).alias(key),
                *[F.col(c).alias(f"_prev_{c}") for c in prev_cols],
            )
            upserts = upserts.join(F.broadcast(prev), key, "left")
        for c in str_cols:
            fallback = (
                F.col(f"_prev_{c}") if c in prev_cols
                else F.lit(None).cast("string")
            )
            upserts = upserts.withColumn(
                c,
                F.when(F.col(c).eqNullSafe(UNCHANGED_TOAST), fallback)
                .otherwise(F.col(c)),
            )
        upserts = upserts.drop(*[f"_prev_{c}" for c in prev_cols])
    deletes = latest.filter(F.col(op_col) == "delete").select(key)
    cache._rewrite(upserts, deletes)


def snapshot_jdbc_plan(
    url: str,
    table: str,
    pk_column: str,
    pk_min: int,
    pk_max: int,
    target_rows_per_partition: int = 500_000,
    row_count: int | None = None,
) -> SnapshotPlan:
    """Compute the partitioned snapshot read, mirroring the reference's
    `snapshot_max_batch_size` sizing (oracledb bench used 160k rows per
    batch, docs/benchmark-results/oracledb-cdc.md:9-35): partitions
    sized so each task's row range fits memory and all executors pull
    concurrently."""
    if pk_max < pk_min:
        raise ValueError("pk_max < pk_min")
    rows = row_count if row_count is not None else (pk_max - pk_min + 1)
    n = max(1, min(1024, (rows + target_rows_per_partition - 1) // target_rows_per_partition))
    return SnapshotPlan(url, table, pk_column, pk_min, pk_max, n)
