"""Extended input/output component kinds for the YAML surface.

Outputs wire the routing combinators (sinks/routing.py — the
reference's broker / switch / fallback / reject_errored / drop_on /
retry outputs, docs/modules/components/pages/outputs/<name>.adoc) and
cache / file / http_client targets into `output:` configs.  Inputs add
batched, inproc, http_client (injectable transport), sequence with
sharded_join, and sql_select / sql_raw query inputs.

Imported for side effects by plans/pipeline.py.
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from connect_spark.plans.pipeline import (
    PipelineConfigError,
    _build_input,
    _run_output,
    input_kind,
    output_kind,
)


def _writer(child_conf: dict):
    return lambda d: _run_output(d, child_conf)


# --------------------------------------------------------------------
# outputs
# --------------------------------------------------------------------


@output_kind("broker")
def _o_broker(df: DataFrame, c: dict) -> None:
    """outputs/broker.adoc:26 — fan_out (every message to every
    output) or round_robin (messages spread across outputs)."""
    from connect_spark.sinks.routing import broker_fanout

    pattern = c.get("pattern", "fan_out")
    outputs = c["outputs"]
    if pattern == "fan_out":
        broker_fanout(df, [_writer(cc) for cc in outputs])
        return None
    if pattern == "round_robin":
        # deterministic spread: stable row id modulo fan width (the
        # reference's round robin is arrival-order; a set-based plan
        # pins an explicit assignment instead)
        n = len(outputs)
        work = df.withColumn(
            "_rr", F.monotonically_increasing_id() % n
        ).cache()
        try:
            for i, cc in enumerate(outputs):
                _run_output(work.filter(F.col("_rr") == i).drop("_rr"), cc)
        finally:
            work.unpersist()
        return None
    raise PipelineConfigError(f"broker pattern {pattern!r} not supported")


@output_kind("switch")
def _o_switch(df: DataFrame, c: Any) -> None:
    """outputs/switch.adoc:26 — content routing; first matching case
    wins; a case without `check` is the default."""
    from connect_spark.bloblang import compile_expression
    from connect_spark.sinks.routing import switch_output

    cases_conf = c if isinstance(c, list) else c["cases"]
    cases = []
    default = None
    for case in cases_conf:
        w = _writer(case["output"])
        if case.get("check"):
            cases.append((compile_expression(case["check"]), w))
        else:
            default = w
    switch_output(df, cases, default=default)


@output_kind("fallback")
def _o_fallback(df: DataFrame, c: list) -> None:
    """outputs/fallback.adoc:26 — try outputs in order until one
    succeeds."""
    from connect_spark.sinks.routing import fallback_write

    fallback_write(df, [_writer(cc) for cc in c])


@output_kind("reject_errored")
def _o_reject_errored(df: DataFrame, c: dict) -> None:
    """outputs/reject_errored.adoc:26 — healthy rows to the wrapped
    output, `_error`-flagged rows rejected (optionally to a DLQ)."""
    from connect_spark.sinks.routing import reject_errored_split

    reject_errored_split(
        df,
        _writer(c["output"]),
        dlq=_writer(c["dlq"]) if c.get("dlq") else None,
    )


@output_kind("drop_on")
def _o_drop_on(df: DataFrame, c: dict) -> None:
    """outputs/drop_on.adoc:26 — drop the batch when the wrapped
    output errors, but ONLY when `error: true` is configured (the
    reference's opt-in default is to propagate failures)."""
    try:
        _run_output(df, c["output"])
    except Exception:  # noqa: BLE001 — drop_on semantics
        if not c.get("error", False):
            raise


@output_kind("retry")
def _o_retry(df: DataFrame, c: dict) -> None:
    """outputs/retry.adoc:26 — re-attempt the wrapped output with
    exponential backoff; exhausted batches go to the optional DLQ."""
    from connect_spark.sinks.routing import retry_write

    retry_write(
        df,
        _writer(c["output"]),
        max_retries=int(c.get("max_retries", 3)),
        dlq=_writer(c["dlq"]) if c.get("dlq") else None,
    )


@output_kind("cache")
def _o_cache(df: DataFrame, c: dict) -> None:
    """outputs/cache.adoc:26 — upsert rows into a cache resource
    keyed by `key` (state/cache.py ParquetKVCache)."""
    from connect_spark.state.cache import ParquetKVCache

    cache = ParquetKVCache(df.sparkSession, c["path"], key=c["key"])
    cache.set(df)


@output_kind("file")
def _o_file(df: DataFrame, c: dict) -> None:
    """outputs/file.adoc:26 — message content as text lines."""
    field = c.get("field", "content")
    df.select(F.col(field).cast("string").alias("value")).write.mode(
        c.get("mode", "overwrite")
    ).text(c["path"])


@output_kind("http_client")
def _o_http_client(df: DataFrame, c: dict) -> None:
    """outputs/http_client.adoc:26 — POST each partition's rows as one
    batch body through the injectable transport
    (sources/http_client.py http_output_batches)."""
    from connect_spark.plans.processors_ext import _HTTP_TRANSPORTS
    from connect_spark.sources.http_client import http_output_batches

    name = c.get("transport", "urllib")
    row_transport = _HTTP_TRANSPORTS.get(name)
    if row_transport is None:
        raise PipelineConfigError(
            f"http_client output: unknown transport {name!r}; register "
            "one with plans.processors_ext.register_http_transport"
        )

    def transport(req: dict) -> dict:
        try:
            body = row_transport(
                req["url"], req["verb"], req["headers"], req["body"]
            )
            return {"status": 200, "body": body}
        except Exception as exc:  # noqa: BLE001
            return {"status": 500, "body": str(exc)}

    http_output_batches(df, c, transport)




@output_kind("iceberg")
def _o_iceberg(df: DataFrame, c: dict) -> None:
    """outputs/iceberg.adoc:26 — write to an Iceberg v2 table.
    `location` commits catalog-less (sinks/iceberg_meta.py);
    `catalog_url` + `namespace` + `table` routes the commit through
    the REST catalog client (sinks/iceberg_rest.py) with the spec's
    optimistic snapshot requirement. Schema evolution is on by
    default like the reference's schema_evolution.enabled.

    `mode` (location path): `append` (default), `upsert` (equality-
    delete the batch's `keys` then append — the CDC MERGE sink), or
    `delete` (equality-tombstone the batch's key columns only)."""
    if c.get("catalog_url"):
        from connect_spark.plans.processors_ext import get_http_transport
        from connect_spark.sinks.iceberg_rest import RestCatalog

        RestCatalog(
            c["catalog_url"], get_http_transport(c),
            prefix=c.get("catalog_prefix", ""),
        ).commit_append(
            df.sparkSession, c["namespace"], c["table"], df,
            partition_by=c.get("partition_by"),
        )
        return
    from connect_spark.sinks.iceberg_meta import IcebergTable

    t = IcebergTable(df.sparkSession, c["location"])
    mode = c.get("mode", "append")
    if mode == "append":
        t.append(df, partition_by=c.get("partition_by"),
                 schema_evolution=c.get("schema_evolution"),
                 identifier_fields=c.get("identifier_fields"))
    elif mode == "upsert":
        keys = c.get("keys")
        if not keys:
            raise ValueError("iceberg output: upsert mode needs `keys`")
        t.upsert(df, keys)
    elif mode == "delete":
        keys = c.get("keys") or df.columns
        t.delete_by_keys(df.select(*keys))
    else:
        raise ValueError(f"iceberg output: unknown mode {mode!r}")




@output_kind("duckdb")
def _o_duckdb(df: DataFrame, c: dict) -> None:
    """External-DB insert output (outputs/sql_insert.adoc family):
    append the batch into a DuckDB table via Arrow — a real
    out-of-engine database write with its own transaction."""
    import duckdb

    con = duckdb.connect(c["database"])
    try:
        tbl = df.toPandas()
        con.register("_batch", tbl)
        name = c["table"]
        con.execute(
            f"CREATE TABLE IF NOT EXISTS {name} AS "
            "SELECT * FROM _batch WHERE 1=0"
        )
        con.execute(f"INSERT INTO {name} SELECT * FROM _batch")
        con.commit()
    finally:
        con.close()


# --------------------------------------------------------------------
# inputs
# --------------------------------------------------------------------

_INPROC: dict[str, DataFrame] = {}


def register_inproc(name: str, df: DataFrame) -> None:
    """inproc.adoc — share a frame between pipelines by name (also the
    serverless handler's injection point)."""
    _INPROC[name] = df


@input_kind("inproc")
def _i_inproc(spark: SparkSession, c: Any) -> DataFrame:
    name = c if isinstance(c, str) else c["name"]
    if name not in _INPROC:
        raise PipelineConfigError(f"inproc input {name!r} not registered")
    return _INPROC[name]


@input_kind("batched")
def _i_batched(spark: SparkSession, c: dict) -> DataFrame:
    """inputs/batched.adoc:110-162 — wrap a child input with the full
    batching policy (count / byte_size / period / check); rows gain a
    `batch_id` per policy flush (operators/batching.py)."""
    from connect_spark.bloblang import compile_expression
    from connect_spark.operators.batching import BatchPolicy, assign_batches

    child = _build_input(spark, c["child"])
    pol = c.get("policy", {})
    policy = BatchPolicy(
        count=int(pol.get("count", 0)),
        byte_size=int(pol.get("byte_size", 0)),
        period=pol.get("period"),
        check=compile_expression(pol["check"]) if pol.get("check") else None,
        size=(
            F.length(F.to_json(F.struct("*")))
            if pol.get("byte_size")
            else None
        ),
    )
    return assign_batches(
        child,
        policy,
        order_by=c.get("order_by", []),
        partition_by=c.get("partition_by", []),
        ts=c.get("ts"),
    )


@input_kind("http_client")
def _i_http_client(spark: SparkSession, c: dict) -> DataFrame:
    """inputs/http_client.adoc:26 — poll through the injectable
    transport (sources/http_client.py http_poll)."""
    from connect_spark.plans.processors_ext import _HTTP_TRANSPORTS

    name = c.get("transport", "urllib")
    row_transport = _HTTP_TRANSPORTS.get(name)
    if row_transport is None:
        raise PipelineConfigError(
            f"http_client input: unknown transport {name!r}"
        )

    def transport(req: dict) -> dict:
        try:
            body = row_transport(
                req["url"], req["verb"], req["headers"], req["body"]
            )
            return {"status": 200, "body": body}
        except Exception as exc:  # noqa: BLE001
            return {"status": 500, "body": str(exc)}

    from connect_spark.sources.http_client import http_poll

    return http_poll(spark, c, transport, n_polls=int(c.get("n_polls", 1)))


@input_kind("iceberg")
def _i_iceberg(spark: SparkSession, c: dict) -> DataFrame:
    """Iceberg table input: open a catalog-less table by path and scan
    the CURRENT snapshot's data files as resolved through the
    manifest-list → manifest chain (sinks/iceberg_meta.py) — at scale
    this manifest-driven planning is exactly Iceberg's file-pruning
    story; `snapshot_id` reads a historical snapshot (time travel)."""
    from connect_spark.functions.avro_codec import read_ocf
    from connect_spark.sinks.iceberg_meta import IcebergTable

    t = IcebergTable(spark, c["location"])
    if c.get("filters"):
        if c.get("snapshot_id") is not None:
            raise PipelineConfigError(
                "iceberg input: `filters` prunes the CURRENT snapshot; "
                "combining it with `snapshot_id` time travel is not "
                "supported — drop one of the two"
            )
        # manifest-pruned scan: filters = [[column, op, literal], ...]
        return t.scan([tuple(f) for f in c["filters"]])
    if c.get("snapshot_id") is None:
        return t.read()
    meta = t.metadata()
    want = int(c["snapshot_id"])
    snap = next(
        (s_ for s_ in meta["snapshots"] if s_["snapshot-id"] == want),
        None,
    )
    if snap is None:
        raise PipelineConfigError(
            f"iceberg: snapshot {want} not found in "
            f"{c['location']} (known: "
            f"{[s_['snapshot-id'] for s_ in meta['snapshots']]})"
        )
    with open(snap["manifest-list"], "rb") as fh:
        _, manifests = read_ocf(fh.read())
    files = []
    for m in manifests:
        with open(m["manifest_path"], "rb") as fh:
            _, entries = read_ocf(fh.read())
        files += [
            e["data_file"]["file_path"]
            for e in entries
            if e["status"] in (0, 1)
        ]
    import os as _os

    return spark.read.option(
        "basePath", _os.path.join(c["location"], "data")
    ).parquet(*files)


@input_kind("duckdb")
def _i_duckdb(spark: SparkSession, c: dict) -> DataFrame:
    """External-DB query input (the sql_select/sql_raw input family —
    inputs/sql_select.adoc): DuckDB is a REAL external database engine
    with its own storage file, so the query executes out-of-engine and
    the result set lands as the message stream (Arrow transfer).
    `database` is the .duckdb file path (":memory:" for scratch)."""
    import duckdb

    con = duckdb.connect(c.get("database", ":memory:"), read_only=bool(c.get("read_only", False)))
    try:
        tbl = con.execute(c["query"]).fetch_arrow_table()
    finally:
        con.close()
    return spark.createDataFrame(tbl.to_pandas())


@input_kind("sql_select")
def _i_sql_select(spark: SparkSession, c: dict) -> DataFrame:
    """inputs/sql_select.adoc:26 — a SELECT over a table (parquet path
    or temp view) as the stream of messages."""
    if "path" in c:
        df = spark.read.parquet(c["path"])
    else:
        df = spark.table(c["table"])
    if c.get("columns"):
        df = df.select(*c["columns"])
    if c.get("where"):
        df = df.filter(c["where"])
    return df


@input_kind("sql_raw")
def _i_sql_raw(spark: SparkSession, c: Any) -> DataFrame:
    """inputs/sql_raw.adoc:26 — arbitrary SQL as the input."""
    query = c["query"] if isinstance(c, dict) else c
    args = c.get("args") if isinstance(c, dict) else None
    return spark.sql(query, args=args)


@input_kind("http_server")
def _i_http_server(spark: SparkSession, c: dict) -> DataFrame:
    """inputs/http_server.adoc:26 — push endpoint; POST bodies become
    messages via a local spool (sources/http_server.py)."""
    from connect_spark.sources.http_server import http_server_input

    return http_server_input(spark, c)


@input_kind("gateway")
def _i_gateway(spark: SparkSession, c: dict) -> DataFrame:
    """inputs/gateway.adoc:26 — same push shape as http_server."""
    from connect_spark.sources.http_server import http_server_input

    return http_server_input(spark, c)


@output_kind("sync_response")
def _o_sync_response(df: DataFrame, c: Any) -> DataFrame:
    """outputs/sync_response.adoc:26 — return the processed messages to
    the caller as the synchronous response. In this engine the
    "caller" is whoever invoked Pipeline.run()/the serverless handler
    (serverless.py), so the frame simply returns (memory semantics) —
    the same override the reference's serverless handler applies
    (internal/serverless/handler.go:44-60)."""
    return df


_SOCKET_SERVERS: dict[str, tuple] = {}


@input_kind("socket_server")
def _i_socket_server(spark: SparkSession, c: dict) -> DataFrame:
    """inputs/socket_server.adoc:26 — newline-delimited messages pushed
    over TCP land in a spool (same land-then-read shape as
    http_server); batch builds read everything delivered so far."""
    import os
    import socketserver
    import threading
    import time as _time

    label = c.get("label", "default")
    spool_dir = c["spool_dir"]
    os.makedirs(spool_dir, exist_ok=True)
    if label in _SOCKET_SERVERS and _SOCKET_SERVERS[label][2] != spool_dir:
        raise PipelineConfigError(
            f"socket_server label {label!r} already running with "
            f"spool_dir {_SOCKET_SERVERS[label][2]!r}; use a distinct "
            "label per endpoint"
        )
    if label not in _SOCKET_SERVERS:

        class Handler(socketserver.StreamRequestHandler):
            def handle(self):
                lines = []
                for raw in self.rfile:
                    line = raw.rstrip(b"\r\n")
                    if line:
                        lines.append(line)
                if lines:
                    fname = os.path.join(
                        spool_dir, f"msg-{_time.time_ns():020d}.txt"
                    )
                    with open(fname + ".tmp", "wb") as fh:
                        fh.write(b"\n".join(lines) + b"\n")
                    os.rename(fname + ".tmp", fname)

        srv = socketserver.ThreadingTCPServer(
            ("127.0.0.1", int(c.get("port", 0))), Handler
        )
        srv.daemon_threads = True
        threading.Thread(target=srv.serve_forever, daemon=True).start()
        _SOCKET_SERVERS[label] = (srv, srv.server_address[1], spool_dir)
    import os as _os

    if not any(
        f.endswith(".txt") for f in _os.listdir(spool_dir)
    ):
        return spark.createDataFrame([], "content string")
    return spark.read.text(spool_dir + "/*.txt").withColumnRenamed(
        "value", "content"
    )


def socket_server_port(label: str = "default") -> int:
    return _SOCKET_SERVERS[label][1]


def stop_socket_server(label: str = "default") -> None:
    entry = _SOCKET_SERVERS.pop(label, None)
    if entry:
        entry[0].shutdown()


@input_kind("stdin")
def _i_stdin(spark: SparkSession, c: Any) -> DataFrame:
    """inputs/stdin.adoc:26 — one message per line. `path` overrides
    the stream for tests/pipes (the reference reads the process fd;
    a Spark driver's stdin is the same single-reader stream)."""
    import sys

    source = open(c["path"]) if isinstance(c, dict) and c.get("path") else sys.stdin
    try:
        lines = [ln.rstrip("\n") for ln in source if ln.strip()]
    finally:
        if source is not sys.stdin:
            source.close()
    return spark.createDataFrame(
        [(ln,) for ln in lines], "content string"
    )


# --------------------------------------------------------------------
# connector config surfaces (adapters over sources/{kafka,mq,files}.py)
# --------------------------------------------------------------------


@input_kind("kafka")
def _i_kafka(spark: SparkSession, c: dict) -> DataFrame:
    """inputs/kafka.adoc — the reference's Kafka config mapped onto
    Spark's native Kafka source (sources/kafka.py): addresses/topics/
    consumer_group/start_from_oldest/checkpoint_limit. The plan is the
    one a cluster run uses; a live broker is required at start."""
    from connect_spark.sources.kafka import kafka_envelope, kafka_source

    reader = kafka_source(spark, c, streaming=bool(c.get("streaming", True)))
    try:
        df = reader.load()
    except Exception as exc:  # noqa: BLE001 — connector jar probe
        raise PipelineConfigError(
            "kafka input: the spark-sql-kafka connector package is not "
            "on this session's classpath (add "
            "org.apache.spark:spark-sql-kafka-0-10 on a cluster); "
            "config mapping is applied and verified regardless"
        ) from exc
    # the Kafka source schema is static, so load() stays lazy — the
    # broker is contacted at query start, not here
    return kafka_envelope(df)


def _register_alias_inputs():
    from connect_spark.plans.pipeline import INPUT_KINDS as _IK

    for alias in ("kafka_franz", "redpanda", "redpanda_common"):
        _IK[alias] = _i_kafka


_register_alias_inputs()


def _object_store_input(scheme: str):
    """Object-store/file inputs (inputs/{aws_s3,gcp_cloud_storage,
    azure_blob_storage,hdfs}.adoc): bucket+prefix map onto a URI the
    cluster's Hadoop connectors resolve natively (s3a://, gs://,
    abfss://, hdfs://); local paths work as-is. Scanner/codec fields
    reuse the file reader (sources/files.py)."""

    def build(spark: SparkSession, c: dict) -> DataFrame:
        from connect_spark.sources.files import read_file_messages

        path = c.get("path")
        if path is None:
            path = f"{scheme}://{c['bucket']}/{c.get('prefix', '')}"
        return read_file_messages(
            spark,
            path,
            scanner=c.get("scanner", "lines"),
            scanner_conf=c.get("scanner_conf"),
        )

    return build


for _scheme, _name in (
    ("s3a", "aws_s3"),
    ("gs", "gcp_cloud_storage"),
    ("wasbs", "azure_blob_storage"),
    ("hdfs", "hdfs"),
):
    input_kind(_name)(_object_store_input(_scheme))


@input_kind("nats")
def _i_nats(spark: SparkSession, c: dict) -> DataFrame:
    """inputs/nats.adoc — subject-routed messages over the replayable
    local bus (sources/mq.py MessageBus; live broker config maps via
    nats_reader_options).  With `session_path`, decodes RECORDED NATS
    text-protocol streams instead (plans/mq_ext.py)."""
    from connect_spark.sources.mq import MessageBus, nats_envelope

    if c.get("session_path"):
        from connect_spark.plans.mq_ext import _nats_messages, _session_input

        return _session_input(spark, c, "*.nats", _nats_messages)
    bus = MessageBus(c["bus_path"])
    return nats_envelope(
        bus.subscribe(
            spark,
            c.get("subject"),
            streaming=bool(c.get("streaming", False)),
        )
    )


@output_kind("kafka")
def _o_kafka(df: DataFrame, c: dict) -> None:
    """outputs/kafka.adoc — writeStream/write to Spark's Kafka sink
    with the reference's field mapping; requires a live broker."""
    from connect_spark.sources.kafka import kafka_writer_options

    opts = kafka_writer_options(c)
    writer = df.write.format("kafka")
    for k, v in opts.items():
        writer = writer.option(k, v)
    writer.save()


def _object_store_output(scheme: str):
    """Object-store outputs (outputs/{aws_s3,gcp_cloud_storage,
    azure_blob_storage,hdfs}.adoc): bucket+prefix → connector URI;
    format parquet|json|csv|text (default parquet)."""

    def write(df: DataFrame, c: dict) -> None:
        path = c.get("path")
        if path is None:
            path = f"{scheme}://{c['bucket']}/{c.get('prefix', '')}"
        fmt = c.get("format", "parquet")
        writer = df.write.mode(c.get("mode", "overwrite"))
        if fmt == "parquet":
            writer.parquet(path)
        elif fmt == "json":
            writer.json(path)
        elif fmt == "csv":
            writer.options(header="true").csv(path)
        elif fmt == "text":
            field = c.get("field", "content")
            df.select(
                F.col(field).cast("string").alias("value")
            ).write.mode(c.get("mode", "overwrite")).text(path)
        else:
            raise PipelineConfigError(f"unsupported format {fmt!r}")

    return write


for _scheme, _name in (
    ("s3a", "aws_s3"),
    ("gs", "gcp_cloud_storage"),
    ("wasbs", "azure_blob_storage"),
    ("hdfs", "hdfs"),
):
    output_kind(_name)(_object_store_output(_scheme))


@input_kind("kafka_log_segment")
def _i_kafka_log_segment(spark: SparkSession, c: dict) -> DataFrame:
    """Recorded Kafka .log segments (RecordBatch v2 on-disk format) →
    typed rows with CRC verification — the broker-less twin of the
    kafka input for recorded/exported data (sources/kafka.py::
    kafka_log_segment_input)."""
    from connect_spark.sources.kafka import kafka_log_segment_input

    return kafka_log_segment_input(spark, c)
