"""Streaming CDC source: snapshot → WAL with checkpointed offsets.

This is the Spark-native re-expression of the reference's CDC inputs
(internal/impl/postgresql/input_pg_stream.go:35-108 — parallel
snapshot, then WAL streaming with LSN offsets; internal/impl/mysql/
input_mysql_stream.go:48-50,202,313 — binlog position checkpointed in
a cache, resume on restart). No database server ships in this sandbox,
so the transport is a file-backed WAL with identical semantics: a
directory of append-only JSONL segments, each record carrying
(lsn, operation, table, commit_ts_ms, before, after) — the Debezium-
shaped envelope the reference emits (input_pg_stream.go:86-89).

Pieces:

- ``CdcWal`` — writer/reader for the change log. ``append()`` assigns
  monotonically increasing LSNs (the replication-slot position).
- ``CdcWalDataSource`` — a Python streaming DataSource registered as
  ``cdc_wal``. Phase 1 emits the snapshot (operation="read") in
  bounded chunks; phase 2 tails the WAL from the LSN the snapshot was
  taken at. The offset ``{"snap": n, "lsn": m}`` is persisted in
  Spark's offset log, so ``checkpointLocation`` gives the same
  resume-from-committed-position behavior the reference implements
  with its checkpoint cache.
- ``materialize_cdc_stream`` — readStream → foreachBatch upsert/delete
  into a keyed state store (``apply_cdc_batch``), i.e. the full
  snapshot+stream → materialized table pipeline.

Scale: the sandbox snapshot phase streams through the driver reader in
chunks; on a real cluster the snapshot is the PK-partitioned parallel
read planned by ``snapshot_jdbc_plan`` (sources/cdc.py) and only the
WAL tail flows through this reader — same handoff contract (snapshot
pinned at one LSN, stream starts strictly after it). The WAL phase is
sequential by nature (a replication slot is a single ordered stream);
downstream parallelism comes from the per-batch shuffle in
``apply_cdc_batch``.
"""

from __future__ import annotations

import json
import os
from typing import Iterator

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.datasource import DataSource, SimpleDataSourceStreamReader
from pyspark.sql.types import (
    LongType,
    StringType,
    StructField,
    StructType,
)

from connect_spark.session import ensure_session

CDC_ENVELOPE = StructType(
    [
        StructField("lsn", LongType()),
        StructField("operation", StringType()),
        StructField("table", StringType()),
        StructField("commit_ts_ms", LongType()),
        StructField("before", StringType()),  # JSON row image or null
        StructField("after", StringType()),   # JSON row image or null
    ]
)

_SEG_PREFIX = "wal-"
_SEG_SUFFIX = ".jsonl"


class CdcWal:
    """Append-only file-backed WAL with monotonically increasing LSNs.

    Each segment file holds JSONL records. Readers are lock-free: a
    segment is visible only once fully written (os.replace). Writers
    serialize through an O_EXCL lock file so executor-side appenders
    (the mq_bus output publishes per partition) can't clobber each
    other's segment numbers or LSN ranges."""

    def __init__(self, path: str):
        self.path = path
        os.makedirs(path, exist_ok=True)

    def _lock(self):
        import random
        import time

        lock = os.path.join(self.path, ".wal-lock")
        deadline = time.monotonic() + 30.0
        while True:
            try:
                return lock, os.open(
                    lock, os.O_CREAT | os.O_EXCL | os.O_WRONLY
                )
            except FileExistsError:
                # crash recovery: a writer killed between open and
                # unlink leaves the lock forever — break locks older
                # than 60s (well past any legitimate hold)
                try:
                    if time.time() - os.path.getmtime(lock) > 60.0:
                        os.unlink(lock)
                        continue
                except OSError:
                    continue  # someone else just released/broke it
                if time.monotonic() > deadline:
                    raise TimeoutError(f"WAL lock stuck: {lock}")
                time.sleep(0.002 + random.random() * 0.01)

    def _segments(self) -> list[str]:
        return sorted(
            f
            for f in os.listdir(self.path)
            if f.startswith(_SEG_PREFIX) and f.endswith(_SEG_SUFFIX)
        )

    def last_lsn(self) -> int:
        """Max assigned LSN. LSNs are monotonic across segments (each
        append continues from the previous segment's tail), so only
        the LAST segment needs reading — O(segment), not O(WAL),
        which matters because append() calls this under the lock."""
        segs = self._segments()
        if not segs:
            return 0
        lsn = 0
        with open(
            os.path.join(self.path, segs[-1]), encoding="utf-8"
        ) as fh:
            for line in fh:
                line = line.strip()
                if line:
                    lsn = max(lsn, json.loads(line)["lsn"])
        return lsn

    def append(
        self,
        changes: list[dict],
        table: str = "t",
        commit_ts_ms: int = 0,
    ) -> int:
        """Append records (each: op + before/after dicts), assigning
        LSNs. Returns the last assigned LSN. Safe under concurrent
        appenders (lock-file serialized)."""
        lock_path, lock_fd = self._lock()
        try:
            lsn = self.last_lsn()
            segs = self._segments()
            seg_no = len(segs)
            tmp = os.path.join(
                self.path, f".tmp-{seg_no:08d}-{os.getpid()}"
            )
            final = os.path.join(
                self.path, f"{_SEG_PREFIX}{seg_no:08d}{_SEG_SUFFIX}"
            )
            with open(tmp, "w", encoding="utf-8") as fh:
                for ch in changes:
                    lsn += 1
                    rec = {
                        "lsn": lsn,
                        "operation": ch["op"],
                        "table": ch.get("table", table),
                        "commit_ts_ms": ch.get(
                            "commit_ts_ms", commit_ts_ms
                        ),
                        "before": ch.get("before"),
                        "after": ch.get("after"),
                    }
                    fh.write(json.dumps(rec, default=str) + "\n")
            os.replace(tmp, final)
            return lsn
        finally:
            os.close(lock_fd)
            os.unlink(lock_path)

    def records(self, after_lsn: int) -> Iterator[dict]:
        for seg in self._segments():
            with open(os.path.join(self.path, seg), encoding="utf-8") as fh:
                for line in fh:
                    rec = json.loads(line)
                    if rec["lsn"] > after_lsn:
                        yield rec


class PgoutputWal:
    """Read-side twin of ``CdcWal`` over RECORDED pgoutput wire bytes:
    a directory of ``*.pgcopy`` segment files, each holding the
    COPY-BOTH frames of one recorded stretch of a replication session
    (sources/pgoutput.py documents the byte format).  Relation state
    flows across segments through one decoder instance — exactly how
    the reference's single replication connection carries schema
    messages forward (internal/impl/postgresql/pglogicalstream/
    logical_stream.go).  LSNs come from each XLogData's walStart, so
    resume-from-offset filters on the REAL replication position."""

    SUFFIX = ".pgcopy"

    def __init__(self, path: str):
        self.path = path

    def _segments(self) -> list[str]:
        try:
            names = os.listdir(self.path)
        except FileNotFoundError:
            return []
        return sorted(f for f in names if f.endswith(self.SUFFIX))

    def records(self, after_lsn: int) -> Iterator[dict]:
        from connect_spark.sources.pgoutput import (
            PgoutputDecoder,
            decode_pgoutput_file,
        )

        dec = PgoutputDecoder()
        for seg in self._segments():
            for rec in decode_pgoutput_file(
                os.path.join(self.path, seg), dec
            ):
                # transaction markers surface like the reference's
                # include_transaction_markers rows; the input kind
                # filters them by default
                if rec["lsn"] > after_lsn:
                    yield rec

    def last_lsn(self) -> int:
        last = 0
        for rec in self.records(after_lsn=0):
            last = max(last, rec["lsn"])
        return last


class BinlogWal:
    """Read-side twin of ``CdcWal`` over RECORDED MySQL binlog files:
    a directory of ``*.binlog`` files (v4 magic + events) in filename
    order — the files ``mysqlbinlog --raw`` saves.  TABLE_MAP state
    carries across files through one decoder; LSN = (file_seq << 32) |
    log_pos, i.e. the canonical binlog coordinates, so checkpointed
    resume filters on the real replication position exactly like the
    reference's cached binlog offset (internal/impl/mysql/
    input_mysql_stream.go:202,313).  Column names come from
    ``column_names`` (binlog TABLE_MAP carries none by default; the
    reference resolves them from the live schema the same way)."""

    SUFFIX = ".binlog"

    def __init__(self, path: str, column_names: dict | None = None):
        self.path = path
        self.column_names = column_names or {}

    def _segments(self) -> list[str]:
        try:
            names = os.listdir(self.path)
        except FileNotFoundError:
            return []
        return sorted(f for f in names if f.endswith(self.SUFFIX))

    def records(self, after_lsn: int) -> Iterator[dict]:
        from connect_spark.sources.binlog import (
            BinlogDecoder,
            decode_binlog_file,
        )

        dec = BinlogDecoder(column_names=dict(self.column_names))
        for seq, seg in enumerate(self._segments()):
            for rec in decode_binlog_file(
                os.path.join(self.path, seg), dec, file_seq=seq
            ):
                if rec["lsn"] > after_lsn:
                    yield rec

    def last_lsn(self) -> int:
        last = 0
        for rec in self.records(after_lsn=0):
            last = max(last, rec["lsn"])
        return last


class LogMinerWal:
    """Read-side twin of ``CdcWal`` over RECORDED LogMiner output:
    ``*.logmnr.jsonl`` files where each line is one V$LOGMNR_CONTENTS
    row — {"scn": int, "timestamp_ms": int, "operation":
    INSERT|UPDATE|DELETE, "sql_redo": str} — exactly the resultset the
    reference's oracledb_cdc session pages through SCN windows
    (internal/impl/oracledb/logminer/).  Row images come from parsing
    each SQL_REDO statement (sources/sqlredo.py), the same extraction
    step the reference's sqlredo package performs; LSN = SCN so resume
    filters on the real redo position."""

    SUFFIX = ".logmnr.jsonl"

    def __init__(self, path: str):
        self.path = path

    def _segments(self) -> list[str]:
        try:
            names = os.listdir(self.path)
        except FileNotFoundError:
            return []
        return sorted(f for f in names if f.endswith(self.SUFFIX))

    def records(self, after_lsn: int) -> Iterator[dict]:
        from connect_spark.sources.sqlredo import parse_redo

        for seg in self._segments():
            with open(os.path.join(self.path, seg),
                      encoding="utf-8") as fh:
                for line in fh:
                    line = line.strip()
                    if not line:
                        continue
                    row = json.loads(line)
                    scn = int(row["scn"])
                    if scn <= after_lsn:
                        continue
                    st = parse_redo(row["sql_redo"])
                    yield {
                        "lsn": scn,
                        "operation": st.operation,
                        "table": st.table,
                        "commit_ts_ms": int(row.get("timestamp_ms", 0)),
                        "before": st.old_values or None,
                        "after": st.new_values or None,
                    }

    def last_lsn(self) -> int:
        last = 0
        for rec in self.records(after_lsn=0):
            last = max(last, rec["lsn"])
        return last


def _open_wal(path: str, wal_format: str, options: dict | None = None):
    if wal_format == "pgoutput":
        return PgoutputWal(path)
    if wal_format == "logminer":
        return LogMinerWal(path)
    if wal_format == "native":
        from connect_spark.sources.cdc_formats import open_format_wal

        kind = (options or {}).get("cdc_kind", "")
        wal = open_format_wal(kind, path)
        if wal is None:
            raise ValueError(
                f"cdc: no native-format recording for {kind!r} in {path}"
            )
        return wal
    if wal_format == "binlog":
        cols = {}
        raw = (options or {}).get("column_names")
        if raw:
            cols = json.loads(raw) if isinstance(raw, str) else raw
        return BinlogWal(path, column_names=cols)
    return CdcWal(path)


def _rec_to_row(rec: dict) -> tuple:
    return (
        rec["lsn"],
        rec["operation"],
        rec["table"],
        rec.get("commit_ts_ms", 0),
        json.dumps(rec["before"]) if rec.get("before") is not None else None,
        json.dumps(rec["after"]) if rec.get("after") is not None else None,
    )


class CdcWalStreamReader(SimpleDataSourceStreamReader):
    """Snapshot→WAL handoff with a checkpointable composite offset.

    Offset = {"snap": rows_of_snapshot_emitted, "lsn": last_wal_lsn}.
    The snapshot is pinned to the WAL position at stream start
    (``snapshot_lsn`` marker written by the producer): snapshot rows
    carry that LSN and operation "read"; the WAL phase emits strictly
    greater LSNs — the reference's snapshot-consistency contract
    (input_pg_stream.go:35-46)."""

    def __init__(self, options):
        self.wal_path = options["path"]
        self.wal_format = options.get("wal_format", "jsonl")
        self._options = dict(options)
        self.snapshot_path = options.get("snapshot_path")
        self.max_records = int(options.get("max_records_per_batch", 10_000))
        self.snapshot_lsn = int(options.get("snapshot_lsn", 0))
        self._snap_rows: list[tuple] | None = None

    # -- snapshot access (lazy; pyarrow on the driver) ------------------
    def _snapshot(self) -> list[tuple]:
        if self._snap_rows is None:
            if not self.snapshot_path:
                self._snap_rows = []
            else:
                import pyarrow.parquet as pq

                tbl = pq.read_table(self.snapshot_path)
                cols = tbl.column_names
                self._snap_rows = [
                    (
                        self.snapshot_lsn,
                        "read",
                        "snapshot",
                        0,
                        None,
                        json.dumps(
                            dict(zip(cols, row)), default=str
                        ),
                    )
                    for row in zip(
                        *[tbl.column(c).to_pylist() for c in cols]
                    )
                ]
        return self._snap_rows

    def initialOffset(self) -> dict:
        return {"snap": 0, "lsn": self.snapshot_lsn}

    def read(self, start: dict):
        snap = self._snapshot()
        i = start["snap"]
        if i < len(snap):
            j = min(i + self.max_records, len(snap))
            return iter(snap[i:j]), {"snap": j, "lsn": start["lsn"]}
        rows: list[tuple] = []
        last = start["lsn"]
        wal = _open_wal(self.wal_path, self.wal_format, self._options)
        for rec in wal.records(after_lsn=start["lsn"]):
            rows.append(_rec_to_row(rec))
            last = rec["lsn"]
            if len(rows) >= self.max_records:
                break
        return iter(rows), {"snap": i, "lsn": last}

    def readBetweenOffsets(self, start: dict, end: dict):
        """Deterministic replay of a committed range — the re-read
        contract a failed batch relies on (same rows, same order)."""
        rows: list[tuple] = []
        snap = self._snapshot()
        if start["snap"] < end["snap"]:
            rows.extend(snap[start["snap"]:end["snap"]])
        if end["lsn"] > start["lsn"]:
            wal = _open_wal(self.wal_path, self.wal_format,
                            self._options)
            for rec in wal.records(after_lsn=start["lsn"]):
                if rec["lsn"] <= end["lsn"]:
                    rows.append(_rec_to_row(rec))
        return iter(rows)


class CdcWalDataSource(DataSource):
    """``cdc_wal`` streaming source: snapshot+WAL change-data stream."""

    @classmethod
    def name(cls) -> str:
        return "cdc_wal"

    def schema(self):
        return CDC_ENVELOPE

    def simpleStreamReader(self, schema):
        return CdcWalStreamReader(self.options)


def register(spark: SparkSession) -> None:
    """Register the ``cdc_wal`` Python DataSource; its reader runs on
    the Python workers, which must be able to import this package."""
    ensure_session(spark)
    spark.dataSource.register(CdcWalDataSource)


def cdc_changes_to_rows(
    changes: DataFrame, row_schema: StructType, key: str
) -> DataFrame:
    """Decode the JSON row images into typed columns + the `_seq`
    ordering column `apply_cdc_batch` consumes. Deletes keep only the
    key (taken from `before`)."""
    after = F.from_json("after", row_schema)
    before = F.from_json("before", row_schema)
    decoded = changes.select(
        "operation",
        F.col("lsn").alias("_seq"),
        F.when(F.col("operation") == "delete", before[key])
        .otherwise(after[key])
        .alias(key),
        *[
            F.when(F.col("operation") != "delete", after[f.name]).alias(f.name)
            for f in row_schema.fields
            if f.name != key
        ],
    )
    return decoded


def materialize_cdc_stream(
    spark: SparkSession,
    wal_path: str,
    snapshot_path: str | None,
    row_schema: StructType,
    key: str,
    cache,
    checkpoint_dir: str,
    snapshot_lsn: int = 0,
):
    """End-to-end CDC pipeline: snapshot+WAL stream → upsert/delete
    into ``cache`` per micro-batch. Returns the running StreamingQuery;
    drain with ``q.processAllAvailable(); q.stop()`` (Python sources
    don't support Trigger.AvailableNow — it degrades to single-batch).

    Exactly-once: offsets live in Spark's checkpoint; the batch apply
    is idempotent per key (last-writer-wins by LSN), so replay of an
    uncommitted batch converges to the same state — the reference's
    at-least-once delivery + idempotent sink posture."""
    register(spark)
    reader = (
        spark.readStream.format("cdc_wal")
        .option("path", wal_path)
        .option("snapshot_lsn", snapshot_lsn)
    )
    # recorded native formats auto-detect like the input kinds do
    try:
        names = os.listdir(wal_path)
    except FileNotFoundError:
        names = []
    if any(f.endswith(".pgcopy") for f in names):
        reader = reader.option("wal_format", "pgoutput")
    elif any(f.endswith(".binlog") for f in names):
        reader = reader.option("wal_format", "binlog")
    if snapshot_path:
        reader = reader.option("snapshot_path", snapshot_path)
    stream = reader.load()

    def _apply(batch: DataFrame, _epoch: int) -> None:
        from connect_spark.sources.cdc import apply_cdc_batch

        # the apply scans the batch more than once (the upserts, the
        # deleted keys); persisting reads the source once per batch
        rows = cdc_changes_to_rows(batch, row_schema, key).persist()
        try:
            apply_cdc_batch(cache, rows, key)
        finally:
            rows.unpersist()

    return (
        stream.writeStream.foreachBatch(_apply)
        .option("checkpointLocation", checkpoint_dir)
        .start()
    )
