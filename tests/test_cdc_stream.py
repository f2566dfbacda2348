"""Streaming CDC source: snapshot→WAL handoff, materialization, and
checkpointed resume (the reference's flagship contract —
internal/impl/postgresql/input_pg_stream.go:35-108,
internal/impl/mysql/input_mysql_stream.go:202,313)."""

from __future__ import annotations

from pyspark.sql.types import LongType, StringType, StructField, StructType

from connect_spark.sources.cdc_stream import (
    CdcWal,
    cdc_changes_to_rows,
    materialize_cdc_stream,
    register,
)
from connect_spark.state.cache import ParquetKVCache

ROW_SCHEMA = StructType(
    [StructField("id", LongType()), StructField("val", StringType())]
)


def _row(i, v):
    return {"id": i, "val": v}


def test_cdc_snapshot_then_wal_materializes(spark, tmp_path):
    # snapshot: ids 1..5 pinned at LSN 0
    snap_path = str(tmp_path / "snap.parquet")
    spark.createDataFrame(
        [(i, f"v{i}") for i in range(1, 6)], schema=ROW_SCHEMA
    ).toPandas().to_parquet(snap_path)

    wal = CdcWal(str(tmp_path / "wal"))
    wal.append(
        [
            {"op": "insert", "after": _row(6, "v6")},
            {"op": "update", "before": _row(2, "v2"), "after": _row(2, "v2b")},
            {"op": "delete", "before": _row(3, "v3")},
        ]
    )

    cache = ParquetKVCache(spark, str(tmp_path / "state"), key="id")
    q = materialize_cdc_stream(
        spark,
        wal_path=str(tmp_path / "wal"),
        snapshot_path=snap_path,
        row_schema=ROW_SCHEMA,
        key="id",
        cache=cache,
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    state = {r.id: r.val for r in cache.read().collect()}
    assert state == {1: "v1", 2: "v2b", 4: "v4", 5: "v5", 6: "v6"}
    # each change is read from the source once: 5 snapshot rows + 3 WAL
    # changes, however many scans the per-batch apply makes
    assert sum(p["numInputRows"] for p in q.recentProgress) == 8


def test_cdc_resume_from_checkpoint_no_reprocessing(spark, tmp_path):
    """Stop mid-stream, append more WAL, restart on the same checkpoint:
    the second run must start strictly after the committed LSN."""
    register(spark)
    wal_dir = str(tmp_path / "wal")
    wal = CdcWal(wal_dir)
    wal.append(
        [
            {"op": "insert", "after": _row(1, "a")},
            {"op": "insert", "after": _row(2, "b")},
            {"op": "update", "before": _row(1, "a"), "after": _row(1, "a2")},
        ]
    )

    cache = ParquetKVCache(spark, str(tmp_path / "state"), key="id")
    seen_lsn_ranges: list[tuple[int, int]] = []

    def run_once():
        stream = (
            spark.readStream.format("cdc_wal").option("path", wal_dir).load()
        )

        def _apply(batch, _epoch):
            lsns = [r.lsn for r in batch.select("lsn").collect()]
            if lsns:
                seen_lsn_ranges.append((min(lsns), max(lsns)))
            from connect_spark.sources.cdc import apply_cdc_batch

            apply_cdc_batch(cache, cdc_changes_to_rows(batch, ROW_SCHEMA, "id"), "id")

        q = (
            stream.writeStream.foreachBatch(_apply)
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()

    run_once()
    assert {r.id: r.val for r in cache.read().collect()} == {1: "a2", 2: "b"}
    first_run_max = max(hi for _, hi in seen_lsn_ranges)
    assert first_run_max == 3

    # new WAL entries arrive while the pipeline is down
    wal.append(
        [
            {"op": "delete", "before": _row(2, "b")},
            {"op": "insert", "after": _row(3, "c")},
        ]
    )
    n_before = len(seen_lsn_ranges)
    run_once()

    # resume processed ONLY lsns 4..5 — nothing before the checkpoint
    new_ranges = seen_lsn_ranges[n_before:]
    assert new_ranges and all(lo >= 4 for lo, _ in new_ranges)
    assert {r.id: r.val for r in cache.read().collect()} == {1: "a2", 3: "c"}


def test_cdc_wal_replay_is_deterministic(spark, tmp_path):
    """readBetweenOffsets re-serves a committed range byte-for-byte —
    the failed-batch re-read contract."""
    from connect_spark.sources.cdc_stream import CdcWalStreamReader

    wal = CdcWal(str(tmp_path / "wal"))
    wal.append([{"op": "insert", "after": _row(i, f"v{i}")} for i in range(1, 8)])

    r = CdcWalStreamReader({"path": str(tmp_path / "wal")})
    batch1, off1 = r.read(r.initialOffset())
    consumed = list(batch1)
    replay = list(r.readBetweenOffsets(r.initialOffset(), off1))
    assert consumed == replay


def test_cdc_schema_evolution_mid_stream(spark, tmp_path):
    """A new column appears in the WAL after the pipeline restarts with
    a wider row schema: pre-evolution state gains the column as NULL,
    post-evolution rows carry real values (the lakehouse evolution
    contract applied to CDC materialization)."""
    from pyspark.sql.types import StructType, StructField, LongType, StringType

    wal_dir = str(tmp_path / "wal")
    wal = CdcWal(wal_dir)
    wal.append([{"op": "insert", "after": {"id": 1, "val": "a"}}])

    cache = ParquetKVCache(spark, str(tmp_path / "state"), key="id")

    def run(schema):
        q = materialize_cdc_stream(
            spark,
            wal_path=wal_dir,
            snapshot_path=None,
            row_schema=schema,
            key="id",
            cache=cache,
            checkpoint_dir=str(tmp_path / "ckpt"),
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()

    run(ROW_SCHEMA)

    # source evolves: new column `region` from LSN 2 onward
    wal.append(
        [
            {"op": "insert", "after": {"id": 2, "val": "b", "region": "eu"}},
            {"op": "update", "before": {"id": 1, "val": "a"},
             "after": {"id": 1, "val": "a2", "region": "us"}},
        ]
    )
    wider = StructType(
        list(ROW_SCHEMA.fields) + [StructField("region", StringType())]
    )
    run(wider)

    state = {r.id: (r.val, r.region) for r in cache.read().collect()}
    assert state == {1: ("a2", "us"), 2: ("b", "eu")}
