"""Structured-Streaming execution checked by the SAME SQL oracle as
its batch twin: the events table is consumed as a file STREAM in
several micro-batches, aggregated with streaming window semantics into
a memory sink, and the drained result must hash-equal the DuckDB
answer — stream == batch, end to end, inside the driver's correctness
gate (not just pytest).

Reference: the system_window buffer's replay/complete semantics
(docs/.../buffers/system_window.adoc); Spark side is readStream →
window agg → complete-mode memory sink.
"""

from __future__ import annotations

import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from connect_spark.catalog import table_path
from connect_spark.queries import QuerySpec
from connect_spark.queries.windows import TUMBLING_SQL
from connect_spark.session import ensure_session


def window_tumbling_streamed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`window_tumbling_hourly` executed as a stream: maxFilesPerTrigger
    forces micro-batching, the windowed aggregation runs in complete
    mode, and the drained memory table is returned as a batch frame.
    Same oracle as the batch query — a streaming-execution bug (window
    assignment, state merge, sink mode) breaks the hash."""
    ensure_session(spark)
    path = table_path(sf_dir, "events")
    schema = spark.read.parquet(path).schema
    # file streams need a directory source: point at sf_dir and glob
    # down to the events table
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    from pyspark.sql import types as T

    if isinstance(stream.schema["ts"].dataType, T.LongType):
        stream = stream.withColumn(
            "ts", F.timestamp_micros(F.expr("ts div 1000"))
        )
    agg = (
        stream.groupBy(
            F.window("ts", "1 hour").alias("w"), F.col("event_type")
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
            # countDistinct is rejected on streams; an exact distinct
            # via collect_set state is the streaming equivalent
            F.size(F.collect_set("user_id")).alias("n_users"),
        )
        .select(
            F.col("w.start").cast("string").alias("win_start"),
            "event_type",
            "n_events",
            "total_value",
            "n_users",
        )
    )
    name = "strq_" + uuid.uuid4().hex[:12]
    q = (
        agg.writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    # the memory sink table is session-scoped and uniquely named; the
    # caller (driver) collects it immediately
    return spark.table(name)


def streaming_dedupe_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`dedupe` executed as a STREAM (dedupe.adoc:26,53-78 — cache-add
    semantics == streaming dropDuplicates state): events stream in,
    each (user_id, event_type) key is emitted exactly once in append
    mode, and the drained sink must equal DuckDB's DISTINCT. Output is
    keys only, so the which-row-survives choice (arbitrary in both the
    reference's cache race and Spark's state store) can't skew the
    hash — this checks the state machinery, not arrival order."""
    ensure_session(spark)
    path = table_path(sf_dir, "events")
    schema = spark.read.parquet(path).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    dedup = stream.dropDuplicates(["user_id", "event_type"]).select(
        "user_id", "event_type"
    )
    name = "strq_" + uuid.uuid4().hex[:12]
    q = (
        dedup.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return spark.table(name)


STREAM_DEDUPE_SQL = """
SELECT DISTINCT user_id, event_type FROM events
"""


def streaming_running_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom STATEFUL streaming state in the gate: the cache-counter
    pattern (cache.adoc:167-169 incrby; streaming/stateful.py
    running_totals / applyInPandasWithState) run as a real multi-batch
    stream. Events are staged into 4 files so maxFilesPerTrigger=1
    forces 4 micro-batches and per-key state genuinely carries across
    batches; the drained update-mode sink keeps each key's LAST emit
    (highest running_count), which must equal the batch groupBy —
    a bug in state carry/merge breaks the hash."""
    import shutil
    import tempfile

    from pyspark.sql import Window

    from connect_spark.streaming.stateful import running_totals

    ensure_session(spark)
    ev = spark.read.parquet(table_path(sf_dir, "events")).select(
        "user_id", "value"
    )
    staged = tempfile.mkdtemp(prefix="rt_stream_")
    try:
        ev.repartition(4).write.mode("overwrite").parquet(staged)
        stream = (
            spark.readStream.schema("user_id long, value double")
            .option("maxFilesPerTrigger", 1)
            .parquet(staged)
        )
        out = running_totals(stream, "user_id", "value")
        name = "strq_" + uuid.uuid4().hex[:12]
        q = (
            out.writeStream.format("memory")
            .queryName(name)
            .outputMode("update")
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        drained = spark.table(name)
    finally:
        shutil.rmtree(staged, ignore_errors=True)
    w = Window.partitionBy("key").orderBy(F.col("running_count").desc())
    return (
        drained.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select(
            F.col("key").cast("bigint").alias("user_id"),
            "running_count",
            "running_total",
        )
    )


RUNNING_TOTALS_SQL = """
SELECT user_id,
       count(*) AS running_count,
       round(sum(value), 2) AS running_total
FROM events
GROUP BY user_id
"""


def streaming_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-gap windows executed as a REAL stream (the reference has
    no session windows — SURVEY §4.2 lists them as a free upgrade; the
    STREAMING execution is what this row pins): events stream in 4
    time-ordered files, `session_window(ts, 30 min)` aggregates per
    user with a zero-delay watermark, and a far-future sentinel row
    pushes the watermark so every session closes and emits in append
    mode. The oracle recomputes sessions relationally (gaps-and-islands
    with the same >= gap boundary rule)."""
    import shutil
    import tempfile

    ensure_session(spark)
    ev = spark.read.parquet(table_path(sf_dir, "events")).select(
        "user_id", "ts", "value", "event_id"
    )
    staged = tempfile.mkdtemp(prefix="sess_stream_")
    try:
        from pyspark.sql import Window as W

        quart = ev.withColumn(
            "_b", F.ntile(4).over(W.orderBy("ts", "event_id"))
        )
        for i in range(1, 5):
            quart.filter(F.col("_b") == i).drop("_b").coalesce(1).write.parquet(
                f"{staged}/b{i}"
            )
        # sentinels: watermark pushers (filtered out of the result).
        # TWO are needed: the first jumps the watermark past every real
        # session, the second triggers the batch in which that new
        # watermark actually closes and emits them (watermarks take
        # effect at the NEXT micro-batch).
        for j, ts in ((5, "2100-01-01 00:00:00"), (6, "2100-01-02 00:00:00")):
            spark.createDataFrame(
                [(-1, None, 0.0, -1)],
                "user_id long, ts timestamp, value double, event_id long",
            ).withColumn("ts", F.to_timestamp(F.lit(ts))).coalesce(
                1
            ).write.parquet(f"{staged}/b{j}")
        stream = (
            spark.readStream.schema(
                "user_id long, ts timestamp, value double, event_id long"
            )
            .option("maxFilesPerTrigger", 1)
            .parquet(staged + "/b*")
        )
        # NOTE: the sentinel filter must NOT be in the streaming plan —
        # user_id is a grouping column, so Catalyst pushes the predicate
        # below the watermark node and the sentinels never advance it
        # (observed: watermark stuck, last session never closes). Filter
        # on the drained batch result instead.
        agg = (
            stream.withWatermark("ts", "0 seconds")
            .groupBy(
                F.session_window("ts", "30 minutes").alias("w"),
                F.col("user_id"),
            )
            .agg(
                F.count(F.lit(1)).alias("n_events"),
                F.round(F.sum("value"), 2).alias("total_value"),
            )
            .select(
                "user_id",
                F.col("w.start").cast("string").alias("session_start"),
                "n_events",
                "total_value",
            )
        )
        name = "strq_" + uuid.uuid4().hex[:12]
        q = (
            agg.writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .start()
        )
        try:
            import time as _time

            # processAllAvailable drains the FILES, but the final
            # eviction can land in a no-data micro-batch that races
            # q.stop(); poll until the emitted row count stabilizes.
            q.processAllAvailable()
            prev = -1
            for _ in range(20):
                cur = spark.table(name).count()
                if cur == prev:
                    break
                prev = cur
                _time.sleep(0.3)
                q.processAllAvailable()
        finally:
            q.stop()
        return spark.table(name).filter(F.col("user_id") >= 0)
    finally:
        shutil.rmtree(staged, ignore_errors=True)


SESSION_WINDOW_SQL = """
WITH o AS (
  SELECT user_id, ts, value, event_id,
         CASE WHEN lag(ts) OVER w IS NULL
                   OR ts - lag(ts) OVER w >= INTERVAL 30 MINUTE
              THEN 1 ELSE 0 END AS new_s
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), s AS (
  SELECT user_id, ts, value,
         sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                          ROWS UNBOUNDED PRECEDING) AS sid
  FROM o
)
SELECT user_id,
       CAST(min(ts) AS VARCHAR) AS session_start,
       count(*) AS n_events,
       round(sum(value), 2) AS total_value
FROM s GROUP BY user_id, sid
"""


def streaming_join_hydration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TWO-stream watermarked join run as a real multi-micro-batch
    Structured Streaming query — the comments⋈articles hydration of
    the reference's worked example (config/examples/
    joining_streams.yaml:23-60, comments hydrated with their parent
    article from a second stream; there the join is a cache
    race, here it is engine state).

    Articles (view events) and comments (click events) are staged into
    4 files EACH and consumed as two independent file streams with
    maxFilesPerTrigger=1, so matches routinely span micro-batches and
    the join state store genuinely carries rows across triggers. Both
    sides carry event-time watermarks and the join condition bounds
    comment time to [article_ts, article_ts + 24h] — the exact shape
    Spark needs to evict state at scale (state per key is bounded by
    the time range, not the stream length). The 90-day watermark
    exceeds the data span, so nothing real is ever dropped and the
    drained append-mode sink must hash-equal the batch oracle."""
    import shutil
    import tempfile

    ensure_session(spark)
    ev = spark.read.parquet(table_path(sf_dir, "events")).select(
        "event_id", "ts", "user_id", "event_type", "value"
    )
    staged = tempfile.mkdtemp(prefix="join_stream_")
    try:
        # key by user_id, not event_id: event ids are assigned in time
        # order (corr ~1 with ts), which would push every same-key pair
        # outside the 24h join window
        articles = ev.filter(F.col("event_type") == "view").select(
            (F.col("user_id") % 300).alias("article_id"),
            F.col("ts").alias("a_ts"),
            F.col("user_id").alias("author_id"),
        )
        comments = ev.filter(F.col("event_type") == "click").select(
            F.col("event_id").alias("comment_id"),
            (F.col("user_id") % 300).alias("article_id"),
            F.col("ts").alias("c_ts"),
        )
        articles.repartition(4).write.parquet(staged + "/articles")
        comments.repartition(4).write.parquet(staged + "/comments")
        a_stream = (
            spark.readStream
            .schema("article_id long, a_ts timestamp, author_id long")
            .option("maxFilesPerTrigger", 1)
            .parquet(staged + "/articles")
            .withWatermark("a_ts", "90 days")
        )
        c_stream = (
            spark.readStream
            .schema("comment_id long, article_id long, c_ts timestamp")
            .option("maxFilesPerTrigger", 1)
            .parquet(staged + "/comments")
            .withWatermark("c_ts", "90 days")
        )
        joined = c_stream.alias("c").join(
            a_stream.alias("a"),
            F.expr(
                "c.article_id = a.article_id AND "
                "c_ts >= a_ts AND c_ts <= a_ts + INTERVAL 24 HOURS"
            ),
        ).select(
            "comment_id",
            F.col("c.article_id").alias("article_id"),
            "author_id",
            F.col("c_ts").cast("string").alias("comment_ts"),
            F.col("a_ts").cast("string").alias("article_ts"),
        )
        name = "strq_" + uuid.uuid4().hex[:12]
        q = (
            joined.writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        return spark.table(name)
    finally:
        shutil.rmtree(staged, ignore_errors=True)


STREAM_JOIN_SQL = """
SELECT c.event_id AS comment_id,
       a.user_id % 300 AS article_id,
       a.user_id AS author_id,
       CAST(c.ts AS VARCHAR) AS comment_ts,
       CAST(a.ts AS VARCHAR) AS article_ts
FROM events c
JOIN events a
  ON c.user_id % 300 = a.user_id % 300
 AND c.ts >= a.ts AND c.ts <= a.ts + INTERVAL 24 HOURS
WHERE c.event_type = 'click' AND a.event_type = 'view'
"""


def streaming_cdc_to_iceberg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's flagship composition end-to-end IN THE GATE:
    CDC snapshot+WAL → Structured Streaming → Iceberg v2 MERGE —
    i.e. `postgres_cdc` input feeding an `iceberg` output
    (input_pg_stream.go snapshot/WAL handoff; the lakehouse CDC sink
    every warehouse pipeline composes).

    Shape: the orders change log from cdc_materialize_orders (snapshot
    reads pinned at LSN 0, then insert/update/delete phases) is
    recorded as a real CdcWal + snapshot parquet; the `cdc_wal`
    streaming source replays it in forced micro-batches
    (max_records_per_batch), and every batch MERGEs into an
    IcebergTable via foreachBatch — within-batch last-writer-wins by
    LSN, final-delete keys equality-deleted, the rest upserted
    (equality-delete + append, two v2 snapshots).  The materialized
    Iceberg read-back must value-hash the SAME oracle as the batch
    materialization — so a bug in offset handoff, batch ordering,
    within-batch conflation, or sequence-number scoping of the
    equality deletes breaks the hash row-for-row.

    Scale notes: fixture RECORDING is a bounded driver-side control
    path (a replication session is one connection, as in the
    reference — cf. cdc_pgoutput_decode's note); the per-batch apply
    is the O(|batch|) iceberg MERGE regardless of table size, and the
    WAL tail is inherently sequential — downstream parallelism comes
    from the per-batch shuffle, exactly the reference's posture."""
    import shutil
    import tempfile

    from pyspark.sql import Window
    from pyspark.sql import types as T

    from connect_spark.catalog import load_table
    from connect_spark.sinks.iceberg_meta import IcebergTable
    from connect_spark.sources.cdc_stream import (
        CdcWal, cdc_changes_to_rows, register)

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice")
    k = F.col("o_orderkey")

    root = tempfile.mkdtemp(prefix="cdc_iceberg_")
    try:
        # --- record the change log (driver-side fixture producer) ---
        snap_path = f"{root}/snapshot"
        (orders.filter(k % 10 < 8)
         .select(k.alias("o_orderkey"), F.lit("read").alias("src_op"),
                 F.col("o_orderstatus").alias("status"),
                 F.col("o_totalprice").alias("price"))
         .coalesce(1).write.parquet(snap_path))
        wal = CdcWal(f"{root}/wal")

        def recs(df, op, row_fn):
            return [{"op": op, **row_fn(r)} for r in df.collect()]

        inserts = recs(
            orders.filter(k % 10 >= 8), "insert",
            lambda r: {"after": {
                "o_orderkey": r["o_orderkey"], "src_op": "insert",
                "status": r["o_orderstatus"],
                "price": r["o_totalprice"]}})
        updates = recs(
            orders.filter(k % 5 == 0), "update",
            lambda r: {"after": {
                "o_orderkey": r["o_orderkey"], "src_op": "update",
                "status": "X", "price": r["o_totalprice"] + 1.0}})
        deletes = recs(
            orders.filter(k % 13 == 0), "delete",
            lambda r: {"before": {"o_orderkey": r["o_orderkey"]},
                       "after": None})
        wal.append(inserts)
        wal.append(updates)
        wal.append(deletes)

        # --- stream → iceberg MERGE per micro-batch ------------------
        row_schema = T.StructType([
            T.StructField("o_orderkey", T.LongType()),
            T.StructField("src_op", T.StringType()),
            T.StructField("status", T.StringType()),
            T.StructField("price", T.DoubleType()),
        ])
        table = IcebergTable(spark, f"{root}/iceberg")
        register(spark)
        stream = (
            spark.readStream.format("cdc_wal")
            .option("path", f"{root}/wal")
            .option("snapshot_path", snap_path)
            .option("snapshot_lsn", 0)
            .option("max_records_per_batch", 4000)  # force >=4 batches
            .load()
        )

        def _apply(batch: DataFrame, _epoch: int) -> None:
            if batch.isEmpty():
                return
            rows = cdc_changes_to_rows(batch, row_schema, "o_orderkey")
            w = Window.partitionBy("o_orderkey").orderBy(
                F.col("_seq").desc())
            latest = (rows.withColumn("_rn", F.row_number().over(w))
                      .filter(F.col("_rn") == 1))
            dels = latest.filter(F.col("operation") == "delete").select(
                "o_orderkey")
            ups = latest.filter(F.col("operation") != "delete").select(
                "o_orderkey", "src_op", "status", "price")
            if not dels.isEmpty():
                if table.metadata() is not None and \
                        table.metadata().get("current-snapshot-id"):
                    table.delete_by_keys(dels)
            if not ups.isEmpty():
                table.upsert(ups, ["o_orderkey"])

        q = (stream.writeStream.foreachBatch(_apply)
             .option("checkpointLocation", f"{root}/ckpt")
             .start())
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        return table.read().select(
            "o_orderkey", "src_op", "status", "price"
        ).localCheckpoint(eager=True)
    finally:
        shutil.rmtree(root, ignore_errors=True)


# identical change semantics to cdc_materialize_orders — LSN order is
# read(0) < insert < update < delete, so phase constants stand in for
# the WAL's sequential LSNs
STREAM_CDC_ICEBERG_SQL = """
WITH log AS (
  SELECT o_orderkey, 'read' AS src_op, 0 AS seq,
         o_orderstatus AS status, o_totalprice AS price
  FROM orders WHERE o_orderkey % 10 < 8
  UNION ALL
  SELECT o_orderkey, 'insert', 1000000000 + o_orderkey,
         o_orderstatus, o_totalprice
  FROM orders WHERE o_orderkey % 10 >= 8
  UNION ALL
  SELECT o_orderkey, 'update', 2000000000 + o_orderkey,
         'X', o_totalprice + 1.0
  FROM orders WHERE o_orderkey % 5 = 0
  UNION ALL
  SELECT o_orderkey, 'delete', 3000000000 + o_orderkey, NULL, NULL
  FROM orders WHERE o_orderkey % 13 = 0
), latest AS (
  SELECT *, row_number() OVER (PARTITION BY o_orderkey
                               ORDER BY seq DESC) AS rn
  FROM log
)
SELECT o_orderkey, src_op, status, price
FROM latest WHERE rn = 1 AND src_op <> 'delete'
"""


QUERIES = [
    QuerySpec("window_tumbling_streamed", window_tumbling_streamed,
              TUMBLING_SQL),
    QuerySpec("streaming_join_hydration", streaming_join_hydration,
              STREAM_JOIN_SQL),
    QuerySpec("streaming_dedupe_keys", streaming_dedupe_keys,
              STREAM_DEDUPE_SQL),
    QuerySpec("streaming_running_totals", streaming_running_totals,
              RUNNING_TOTALS_SQL),
    QuerySpec("streaming_session_window", streaming_session_window,
              SESSION_WINDOW_SQL),
    QuerySpec("streaming_cdc_to_iceberg", streaming_cdc_to_iceberg,
              STREAM_CDC_ICEBERG_SQL),
]
