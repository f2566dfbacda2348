"""Message-queue connector config surfaces as YAML input/output kinds.

Every broker family the reference documents (SURVEY.md §2.D "Message
queues" / §2.E "Queues/brokers"; docs/modules/components/pages/
{inputs,outputs}/<name>.adoc) gets a real kind here. The sandbox has
no live brokers, so — same contract as the existing `nats` kind
(plans/io_ext.py) and `mq_bus` — each kind maps the connector's
documented config fields onto the replayable local bus
(sources/mq.py::MessageBus over the checkpointed cdc_wal stream) and
reproduces the connector's *documented metadata envelope* faithfully:
the metadata key names below are taken from each input's adoc
"metadata" section (and, for aws_kinesis, from
internal/impl/aws/kinesis/input_record_batcher.go:64-68). On a
cluster with live brokers the same configs drive the corresponding
Spark connectors; the plan shape (subject filter → envelope select)
is identical.

Scale note: subscribe is the cdc_wal streaming DataSource (executor
distributed, checkpointed offsets); publish is per-partition WAL
segment appends (nothing collected to the driver) — the same
100 TB-safe shape as the audited mq_bus sink.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Callable

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from connect_spark.boundary import flat_map
from connect_spark.plans.pipeline import (
    PipelineConfigError,
    input_kind,
    output_kind,
)

# Expression factories over the bus envelope
# (lsn BIGINT, operation, table STRING, commit_ts_ms BIGINT, after STRING)
_LSN = lambda: F.col("lsn").cast("string")  # noqa: E731
_SUBJECT = lambda: F.col("table")  # noqa: E731
_TS_MS = lambda: F.col("commit_ts_ms").cast("string")  # noqa: E731
_TS_S = lambda: (F.col("commit_ts_ms") / 1000).cast("long").cast("string")  # noqa: E731
_TS_NANO = lambda: (F.col("commit_ts_ms") * 1000000).cast("string")  # noqa: E731


@dataclass(frozen=True)
class MqKindSpec:
    """One broker connector: where the subject lives in its config and
    which documented metadata keys its envelope carries."""

    subject_keys: tuple[str, ...]  # config keys naming topic/queue/subject
    meta: tuple[tuple[str, Callable[[], Column]], ...] = ()
    # constant metadata copied from config fields: meta_key -> config_key
    conf_meta: tuple[tuple[str, str], ...] = ()
    default_subject: str = "events"


_INPUT_SPECS: dict[str, MqKindSpec] = {
    # inputs/amqp_0_9.adoc metadata section
    "amqp_0_9": MqKindSpec(
        subject_keys=("queue",),
        meta=(
            ("amqp_routing_key", _SUBJECT),
            ("amqp_delivery_tag", _LSN),
            ("amqp_timestamp", _TS_S),
        ),
        conf_meta=(("amqp_consumer_tag", "consumer_tag"),),
    ),
    # inputs/amqp_1.adoc metadata section
    "amqp_1": MqKindSpec(
        subject_keys=("source_address",),
        meta=(("amqp_creation_time", _TS_MS),),
    ),
    # inputs/mqtt.adoc metadata section
    "mqtt": MqKindSpec(
        subject_keys=("topics", "topic"),
        meta=(
            ("mqtt_topic", _SUBJECT),
            ("mqtt_message_id", _LSN),
            ("mqtt_duplicate", lambda: F.lit("false")),
            ("mqtt_retained", lambda: F.lit("false")),
        ),
        conf_meta=(("mqtt_qos", "qos"),),
    ),
    # inputs/nats_jetstream.adoc metadata section
    "nats_jetstream": MqKindSpec(
        subject_keys=("subject",),
        meta=(
            ("nats_subject", _SUBJECT),
            ("nats_sequence_stream", _LSN),
            ("nats_sequence_consumer", _LSN),
            ("nats_num_delivered", lambda: F.lit("1")),
            ("nats_timestamp_unix_nano", _TS_NANO),
        ),
        conf_meta=(("nats_consumer", "durable"),),
    ),
    # inputs/nats_stream.adoc metadata section
    "nats_stream": MqKindSpec(
        subject_keys=("subject",),
        meta=(
            ("nats_stream_subject", _SUBJECT),
            ("nats_stream_sequence", _LSN),
        ),
    ),
    # inputs/nsq.adoc metadata section
    "nsq": MqKindSpec(
        subject_keys=("topic",),
        meta=(
            ("nsq_id", _LSN),
            ("nsq_attempts", lambda: F.lit("1")),
            ("nsq_timestamp", _TS_NANO),
        ),
        conf_meta=(("nsq_nsqd_address", "nsqd_tcp_address"),),
    ),
    # inputs/pulsar.adoc metadata section
    "pulsar": MqKindSpec(
        subject_keys=("topics", "topic"),
        meta=(
            ("pulsar_topic", _SUBJECT),
            ("pulsar_message_id", _LSN),
            ("pulsar_publish_time_unix", _TS_S),
            ("pulsar_event_time_unix", _TS_S),
            ("pulsar_redelivery_count", lambda: F.lit("0")),
        ),
    ),
    # inputs/beanstalkd.adoc — no documented metadata; tube via address
    "beanstalkd": MqKindSpec(subject_keys=("tube",)),
    # inputs/nanomsg.adoc — SUB topic filter; no documented metadata
    "nanomsg": MqKindSpec(subject_keys=("sub_filters", "topic")),
    # inputs/zmq4.adoc — SUB topic filter; no documented metadata
    "zmq4": MqKindSpec(subject_keys=("sub_filters", "topic")),
    # inputs/aws_sqs.adoc metadata section
    "aws_sqs": MqKindSpec(
        subject_keys=("queue", "url"),
        meta=(
            ("sqs_message_id", _LSN),
            ("sqs_receipt_handle", lambda: F.md5(F.col("lsn").cast("string"))),
            ("sqs_approximate_receive_count", lambda: F.lit("1")),
        ),
    ),
    # inputs/gcp_pubsub.adoc metadata section
    "gcp_pubsub": MqKindSpec(
        subject_keys=("subscription", "topic"),
        meta=(
            ("gcp_pubsub_message_id", _LSN),
            ("gcp_pubsub_publish_time_unix", _TS_S),
            ("gcp_pubsub_ordering_key", _SUBJECT),
        ),
    ),
    # inputs/azure_queue_storage.adoc metadata section
    "azure_queue_storage": MqKindSpec(
        subject_keys=("queue_name",),
        meta=(
            ("queue_storage_queue_name", _SUBJECT),
            ("queue_storage_insertion_time", _TS_S),
        ),
    ),
    # internal/impl/aws/kinesis/input_record_batcher.go:64-68
    "aws_kinesis": MqKindSpec(
        subject_keys=("streams", "stream"),
        meta=(
            ("kinesis_shard", lambda: F.concat(
                F.lit("shardId-"),
                F.lpad(F.pmod(F.col("lsn"), F.lit(4)).cast("string"), 12, "0"),
            )),
            ("kinesis_partition_key", _SUBJECT),
            ("kinesis_sequence_number", _LSN),
        ),
    ),
    # inputs/redis_list.adoc — BLPOP on a key; no documented metadata
    "redis_list": MqKindSpec(subject_keys=("key",)),
    # inputs/redis_pubsub.adoc metadata section
    "redis_pubsub": MqKindSpec(
        subject_keys=("channels", "channel"),
        meta=(
            ("redis_pubsub_channel", _SUBJECT),
            ("redis_pubsub_pattern", lambda: F.lit("")),
        ),
    ),
    # inputs/redis_scan.adoc — key/value scan; key lands as metadata
    "redis_scan": MqKindSpec(
        subject_keys=("match",),
        meta=(("redis_key", _SUBJECT),),
    ),
}


def _subject_from(c: dict, spec: MqKindSpec) -> str | None:
    for k in spec.subject_keys:
        v = c.get(k)
        if v is None:
            continue
        if isinstance(v, list):
            if len(v) != 1:
                raise PipelineConfigError(
                    f"exactly one subject supported per input, got {v!r} "
                    "(use a broker input with one child per subject)"
                )
            return str(v[0])
        return str(v)
    return None


def _envelope(df: DataFrame, c: dict, spec: MqKindSpec) -> DataFrame:
    keys: list[Column] = []
    vals: list[Column] = []
    for name, factory in spec.meta:
        keys.append(F.lit(name))
        vals.append(factory())
    for name, conf_key in spec.conf_meta:
        if c.get(conf_key) is not None:
            keys.append(F.lit(name))
            vals.append(F.lit(str(c[conf_key])))
    # raw string payloads arrive JSON-quoted from the WAL; unquote them
    # (object payloads pass through as their JSON encoding)
    cols = [
        F.when(
            F.col("after").startswith('"'),
            F.expr("get_json_object(after, '$')"),
        ).otherwise(F.col("after")).alias("content")
    ]
    if keys:
        cols.append(
            F.map_from_arrays(F.array(*keys), F.array(*vals)).alias("_meta")
        )
    return df.select(*cols)


# Recorded wire-format sessions: `session_path` files hold a kind's
# real protocol bytes, decoded executor-side without a broker.  Each
# decoder below turns one recorded blob into (content, meta) messages
# in the kind's documented metadata envelope.

def _mqtt_messages(blob: bytes):
    """MQTT 3.1.1 sessions (functions/mqtt_codec.py): PUBLISH packets."""
    from connect_spark.functions.mqtt_codec import decode_session

    for pkt in decode_session(blob):
        if pkt.type_name != "publish":
            continue
        yield pkt.payload.decode("utf-8", "replace"), {
            "mqtt_topic": pkt.topic,
            "mqtt_message_id": str(pkt.packet_id or 0),
            "mqtt_duplicate": str(pkt.dup).lower(),
            "mqtt_retained": str(pkt.retain).lower(),
            "mqtt_qos": str(pkt.qos),
        }


def _nats_messages(blob: bytes):
    """NATS text-protocol streams: MSG frames."""
    from connect_spark.functions.mqtt_codec import decode_nats_stream

    for msg in decode_nats_stream(blob):
        meta = {"nats_subject": msg["subject"]}
        if msg.get("reply"):
            meta["nats_reply_subject"] = msg["reply"]
        yield msg["payload"].decode("utf-8", "replace"), meta


def _amqp_messages(blob: bytes):
    """AMQP 0-9-1 sessions (functions/amqp_codec.py): basic.deliver +
    content frames reassembled."""
    from connect_spark.functions.amqp_codec import decode_session

    for d in decode_session(blob):
        meta = {
            "amqp_routing_key": d.routing_key,
            "amqp_delivery_tag": str(d.delivery_tag),
            "amqp_consumer_tag": d.consumer_tag,
            "amqp_exchange": d.exchange,
            "amqp_redelivered": str(d.redelivered).lower(),
        }
        if d.content_type:
            meta["amqp_content_type"] = d.content_type
        if d.timestamp is not None:
            meta["amqp_timestamp"] = str(d.timestamp)
        for hk, hv in (d.headers or {}).items():
            meta[f"amqp_header_{hk}"] = str(hv)
        yield d.body.decode("utf-8", "replace"), meta


def _redis_pubsub_messages(blob: bytes):
    """RESP pub/sub sessions (functions/resp_codec.py): message and
    pmessage pushes."""
    from connect_spark.functions.resp_codec import pubsub_messages

    for m in pubsub_messages(blob):
        payload = m["payload"]
        yield (
            payload.decode("utf-8", "replace")
            if isinstance(payload, bytes) else str(payload),
            {
                "redis_pubsub_channel": m["channel"],
                "redis_pubsub_pattern": m["pattern"] or "",
            },
        )


def _redis_streams_messages(blob: bytes, body_key: str):
    """Recorded XREAD replies: stream entries with the adoc's
    body_key/metadata split."""
    from connect_spark.functions.resp_codec import xread_entries

    for e in xread_entries(blob):
        fields = dict(e["fields"])
        content = fields.pop(body_key, None)
        fields["redis_stream"] = e["stream"]
        fields["redis_stream_id"] = e["id"]
        yield content, fields


def _nsq_messages(blob: bytes):
    """nsqd→client V2 streams (functions/broker_codecs.py): message
    frames (inputs/nsq.adoc: nsq_id / nsq_attempts / nsq_timestamp)."""
    from connect_spark.functions.broker_codecs import decode_nsq_stream

    for m in decode_nsq_stream(blob):
        yield m["body"].decode("utf-8", "replace"), {
            "nsq_id": m["message_id"],
            "nsq_attempts": str(m["attempts"]),
            "nsq_timestamp": str(m["timestamp_ns"]),
        }


def _beanstalkd_messages(blob: bytes):
    """beanstalkd reserve sessions: RESERVED jobs (inputs/
    beanstalkd.adoc documents no metadata; the job id is carried for
    completeness)."""
    from connect_spark.functions.broker_codecs import (
        decode_beanstalkd_stream,
    )

    for j in decode_beanstalkd_stream(blob):
        yield (j["body"].decode("utf-8", "replace"),
               {"beanstalkd_job_id": str(j["job_id"])})


def _zmq_messages(blob: bytes):
    """ZMTP 3.x streams (zmq4 input): multipart messages, the leading
    part the SUB topic when present (inputs/zmq4.adoc documents no
    metadata)."""
    from connect_spark.functions.broker_codecs import decode_zmtp_stream

    for parts in decode_zmtp_stream(blob):
        meta = {"zmq_parts": str(len(parts))}
        if len(parts) > 1:
            meta["zmq_topic"] = parts[0].decode("utf-8", "replace")
        yield parts[-1].decode("utf-8", "replace"), meta


def _nanomsg_messages(blob: bytes):
    """nanomsg SP-over-TCP streams (inputs/nanomsg.adoc documents no
    metadata)."""
    from connect_spark.functions.broker_codecs import decode_sp_stream

    for payload in decode_sp_stream(blob):
        yield payload.decode("utf-8", "replace"), {}


def _pulsar_messages(blob: bytes):
    """Pulsar binary-protocol sessions (functions/pulsar_codec.py):
    MESSAGE frames (inputs/pulsar.adoc: pulsar_message_id /
    pulsar_publish_time_unix / pulsar_key / pulsar_producer_name) plus
    message properties."""
    from connect_spark.functions.pulsar_codec import decode_stream

    for m in decode_stream(blob):
        meta = dict(m["properties"])
        meta.update({
            "pulsar_message_id": f"{m['ledger_id']}:{m['entry_id']}",
            "pulsar_publish_time_unix": str(m["publish_time_ms"] // 1000),
            "pulsar_producer_name": m["producer_name"],
            "pulsar_redelivery_count": "0",
        })
        if m["partition_key"]:
            meta["pulsar_key"] = m["partition_key"]
        yield m["payload"].decode("utf-8", "replace"), meta


def _amqp1_messages(blob: bytes):
    """AMQP 1.0 sessions (functions/amqp1_codec.py): transfer frames
    reassembled into bare messages; application properties merge into
    the metadata like the reference's amqp_1 input, plus the documented
    amqp_content_type / amqp_creation_time keys when present."""
    from connect_spark.functions.amqp1_codec import (
        Timestamp,
        decode_session,
    )

    for m in decode_session(blob):
        body = m.data if m.data else (
            str(m.value).encode() if m.value is not None else b"")
        meta = {str(k): str(v) for k, v in m.application_properties.items()}
        if m.subject is not None:
            meta["amqp_subject"] = str(m.subject)
        if m.content_type is not None:
            meta["amqp_content_type"] = str(m.content_type)
        props = m.properties
        if len(props) > 9 and isinstance(props[9], Timestamp):
            meta["amqp_creation_time"] = str(props[9].millis)
        meta["amqp_delivery_id"] = str(m.delivery_id)
        yield body.decode("utf-8", "replace"), meta


def _websocket_messages(blob: bytes):
    """RFC 6455 wire bytes (functions/websocket_codec.py): handshake
    skip, masked payloads, fragment reassembly."""
    from connect_spark.functions.websocket_codec import (
        OP_TEXT,
        decode_session,
    )

    for m in decode_session(blob):
        yield m.payload.decode("utf-8", "replace"), {
            "websocket_opcode": "text" if m.opcode == OP_TEXT else "binary"}


def _sessions_df(spark: SparkSession, c: dict, default_glob: str):
    return (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", c.get("glob", default_glob))
        .load(c["session_path"])
        .select("content")
    )


_SESSION_SCHEMA = "content STRING, _meta MAP<STRING, STRING>"


def _session_input(spark: SparkSession, c: dict, default_glob: str,
                   messages) -> DataFrame:
    """One message row per (content, meta) that `messages(blob)` yields
    from each recorded file under `session_path`."""
    return flat_map(_sessions_df(spark, c, default_glob), _SESSION_SCHEMA,
                    lambda blob: messages(bytes(blob)))


# kind -> (default session file glob, per-blob decoder)
_SESSION_INPUTS = {
    "mqtt": ("*.mqtt", _mqtt_messages),
    "amqp_0_9": ("*.amqp", _amqp_messages),
    "redis_pubsub": ("*.resp", _redis_pubsub_messages),
    "nsq": ("*.nsq", _nsq_messages),
    "beanstalkd": ("*.beanstalkd", _beanstalkd_messages),
    "zmq4": ("*.zmtp", _zmq_messages),
    "nanomsg": ("*.sp", _nanomsg_messages),
    "pulsar": ("*.pulsar", _pulsar_messages),
    "amqp_1": ("*.amqp1", _amqp1_messages),
}


def _mq_input(kind: str, spec: MqKindSpec):
    def build(spark: SparkSession, c: dict) -> DataFrame:
        # recorded wire-format sessions (round 5): the kind's REAL
        # protocol bytes, decoded without a broker
        if c.get("session_path"):
            if kind in _SESSION_INPUTS:
                return _session_input(spark, c, *_SESSION_INPUTS[kind])
            raise PipelineConfigError(
                f"{kind}: session_path recordings are supported for "
                "amqp_0_9, amqp_1, mqtt, nats, redis_pubsub, "
                "redis_streams, nsq, beanstalkd, pulsar, zmq4 and "
                "nanomsg"
            )
        from connect_spark.sources.mq import MessageBus

        bus = MessageBus(c.get("bus_path") or c["path"])
        subject = _subject_from(c, spec)
        df = bus.subscribe(
            spark,
            subject_pattern=subject,
            streaming=bool(c.get("streaming", False)),
        )
        return _envelope(df, c, spec)

    build.__name__ = f"_i_{kind}"
    build.__doc__ = (
        f"inputs/{kind}.adoc — config mapping + documented metadata "
        "envelope over the replayable local bus (module docstring)."
    )
    return build


for _kind, _spec in _INPUT_SPECS.items():
    input_kind(_kind)(_mq_input(_kind, _spec))


@input_kind("redis_streams")
def _i_redis_streams(spark: SparkSession, c: dict) -> DataFrame:
    """inputs/redis_streams.adoc — stream entries are key/value pairs;
    `body_key` names the field that becomes the message body and every
    OTHER key/value pair lands as a metadata field (the adoc's exact
    contract), plus the entry id as `redis_stream_id`."""
    from connect_spark.sources.mq import MessageBus

    if c.get("session_path"):
        body_key = c.get("body_key", "body")
        return _session_input(
            spark, c, "*.resp",
            lambda blob: _redis_streams_messages(blob, body_key))
    bus = MessageBus(c.get("bus_path") or c["path"])
    streams = c.get("streams", [])
    subject = None
    if streams:
        if len(streams) != 1:
            raise PipelineConfigError(
                "exactly one stream per input (broker-combine for more)"
            )
        subject = str(streams[0])
    body_key = c.get("body_key", "body")
    df = bus.subscribe(
        spark, subject_pattern=subject,
        streaming=bool(c.get("streaming", False)),
    )
    entry = F.from_json(F.col("after"), "map<string,string>")
    meta = F.map_filter(entry, lambda k, _: k != F.lit(body_key))
    return df.select(
        F.element_at(entry, body_key).alias("content"),
        F.map_concat(
            meta,
            F.create_map(
                F.lit("redis_stream"), F.col("table"),
                F.lit("redis_stream_id"),
                F.concat(F.col("commit_ts_ms"), F.lit("-"), F.col("lsn")),
            ),
        ).alias("_meta"),
    )


def _tcp_address(address: str, kind: str) -> tuple[str, int]:
    """host:port with explicit errors (a bare host or bare port is a
    config mistake, not something to guess around)."""
    host, sep, port = address.rpartition(":")
    if not sep or not host or not port.isdigit():
        raise PipelineConfigError(
            f"{kind}: address must be host:port, got {address!r}"
        )
    return host, int(port)


@input_kind("socket")
def _i_socket(spark: SparkSession, c: dict) -> DataFrame:
    """inputs/socket.adoc — CLIENT socket: connect to `address`
    (tcp://host:port or unix://path), read newline-delimited messages
    until the server closes the stream. A real network read (driver
    side — the reference's socket input is a single local connection
    too)."""
    import socket as _socket

    network = c.get("network", "tcp")
    address = c["address"]
    if network == "unix":
        sock = _socket.socket(_socket.AF_UNIX, _socket.SOCK_STREAM)
        sock.connect(address)
    else:
        sock = _socket.create_connection(_tcp_address(address, "socket"))
    chunks = []
    try:
        sock.settimeout(float(c.get("timeout", 10)))
        while True:
            try:
                data = sock.recv(65536)
            except TimeoutError:
                # idle-but-open connection: what was read so far IS
                # the batch (the bounded-read analog of the
                # reference's until-close stream)
                break
            if not data:
                break
            chunks.append(data)
    finally:
        sock.close()
    lines = b"".join(chunks).split(b"\n")
    rows = [(ln.decode("utf-8", "replace"),) for ln in lines if ln]
    return spark.createDataFrame(rows or [], "content string")


# --------------------------------------------------------------------
# outputs — publish per executor partition to the bus WAL
# --------------------------------------------------------------------

# output subject config key per kind (outputs/<kind>.adoc field names)
_OUTPUT_SUBJECT_KEYS: dict[str, tuple[str, ...]] = {
    "amqp_0_9": ("key", "exchange"),
    "amqp_1": ("target_address",),
    "mqtt": ("topic",),
    "nats": ("subject",),
    "nats_jetstream": ("subject",),
    "nats_stream": ("subject",),
    "nsq": ("topic",),
    "pulsar": ("topic",),
    "beanstalkd": ("tube",),
    "nanomsg": ("topic",),
    "zmq4": ("topic",),
    "aws_sqs": ("queue", "url"),
    "aws_sns": ("topic_arn",),
    "aws_kinesis": ("stream", "partition_key"),
    "aws_kinesis_firehose": ("stream",),
    "gcp_pubsub": ("topic",),
    "azure_queue_storage": ("queue_name",),
    "redis_list": ("key",),
    "redis_pubsub": ("channel",),
    "redis_streams": ("stream",),
}


def publish_df(df: DataFrame, bus_path: str, subject: str | Column,
               payload_cols: list[str] | None = None) -> None:
    """Publish every row of `df` to the bus: a single `content`
    payload column publishes raw payloads, otherwise the row
    serializes as a JSON object (the outputs/nats.adoc shape).
    `subject` is a fixed string or a per-row Column (the `${! expr }`
    interpolated-topic case — rows group by evaluated subject within
    each partition; a row whose subject evaluates to null fails the
    publish with a clear error, matching the reference's
    interpolation-error semantics). Appends happen per executor
    partition — nothing is collected. This is the one partition-
    publish implementation — the `mq_bus` output delegates here."""
    scol = F.lit(subject) if isinstance(subject, str) else subject
    cols = payload_cols or df.columns
    raw = cols == ["content"]
    payload = F.to_json(F.struct(*cols))
    out = df.select(scol.cast("string").alias("_s"),
                    payload.alias("_p"))

    def _publish(rows):
        import json as _json

        from connect_spark.sources.mq import MessageBus

        by_subject: dict[str, list] = {}
        for r in rows:
            if r._s is None:
                raise ValueError(
                    "publish: a row's subject interpolated to null — "
                    "give every message a routable subject (coalesce "
                    "in the interpolation or filter the rows)"
                )
            obj = _json.loads(r._p)
            # to_json omits null fields, so a null content row arrives
            # as {} — publish an explicit null payload (delete/tombstone
            # semantics), not a KeyError
            by_subject.setdefault(r._s, []).append(
                obj.get("content") if raw else obj
            )
        if by_subject:
            bus = MessageBus(bus_path)
            for subj, payloads in sorted(by_subject.items()):
                bus.publish(subj, payloads)

    out.foreachPartition(_publish)


def _mq_output(kind: str, subject_keys: tuple[str, ...]):
    def write(df: DataFrame, c: dict) -> None:
        subject: str | Column | None = None
        for k in subject_keys:
            if c.get(k) is not None:
                subject = str(c[k])
                break
        if subject is None:
            raise PipelineConfigError(
                f"{kind} output: one of {subject_keys} is required"
            )
        if "${!" in subject:
            # interpolated per-message topic (outputs/<kind>.adoc —
            # every topic/subject field is an interpolated string)
            from connect_spark.bloblang.compiler import (
                compile_interpolation,
            )

            subject = compile_interpolation(subject)
        publish_df(df, c.get("bus_path") or c["path"], subject)

    write.__name__ = f"_o_{kind}"
    write.__doc__ = (
        f"outputs/{kind}.adoc — config mapping onto per-partition bus "
        "publishes (module docstring)."
    )
    return write


for _kind, _keys in _OUTPUT_SUBJECT_KEYS.items():
    output_kind(_kind)(_mq_output(_kind, _keys))


@output_kind("socket")
def _o_socket(df: DataFrame, c: dict) -> None:
    """outputs/socket.adoc — CLIENT socket: connect and write messages
    newline-delimited. Driver-side single connection, matching the
    reference's one-socket output; rows stream through toLocalIterator
    (no full collect)."""
    import socket as _socket

    network = c.get("network", "tcp")
    address = c["address"]
    if network == "unix":
        sock = _socket.socket(_socket.AF_UNIX, _socket.SOCK_STREAM)
        sock.connect(address)
    else:
        sock = _socket.create_connection(_tcp_address(address, "socket"))
    field_name = c.get("field", "content")
    try:
        for row in df.select(
            F.col(field_name).cast("string").alias("v")
        ).toLocalIterator():
            sock.sendall((row.v or "").encode() + b"\n")
    finally:
        sock.close()


@output_kind("websocket")
def _o_websocket(df: DataFrame, c: dict) -> None:
    """outputs/websocket.adoc — one message per frame through the
    injectable HTTP transport (no live ws server in the sandbox; a
    cluster impl swaps a websocket client in the same seam)."""
    from connect_spark.plans.processors_ext import _HTTP_TRANSPORTS

    name = c.get("transport", "urllib")
    transport = _HTTP_TRANSPORTS.get(name)
    if transport is None:
        raise PipelineConfigError(
            f"websocket output: unknown transport {name!r}"
        )
    field_name = c.get("field", "content")
    for row in df.select(
        F.col(field_name).cast("string").alias("v")
    ).toLocalIterator():
        transport(c["url"], "POST", c.get("headers", {}), row.v or "")


@input_kind("websocket")
def _i_websocket(spark: SparkSession, c: dict) -> DataFrame:
    """inputs/websocket.adoc — poll frames through the injectable
    transport (same seam as the output; `open_message` sent first when
    configured, matching the adoc's connect-handshake field).  With
    `session_path`, recorded RFC 6455 wire bytes decode executor-side
    instead (functions/websocket_codec.py — handshake skip, masked
    payloads, fragment reassembly)."""
    if c.get("session_path"):
        return _session_input(spark, c, "*.ws", _websocket_messages)

    from connect_spark.plans.processors_ext import _HTTP_TRANSPORTS

    name = c.get("transport", "urllib")
    transport = _HTTP_TRANSPORTS.get(name)
    if transport is None:
        raise PipelineConfigError(
            f"websocket input: unknown transport {name!r}"
        )
    if c.get("open_message"):
        transport(c["url"], "POST", c.get("headers", {}), c["open_message"])
    body = transport(c["url"], "GET", c.get("headers", {}), "")
    lines = [ln for ln in str(body).split("\n") if ln]
    return spark.createDataFrame([(ln,) for ln in lines] or [],
                                 "content string")
