"""Round-4 connector-layer semantics as oracle-checked queries.

Three pieces of this round's connector surface are pure Column
algebra, so they gate directly against DuckDB on the driver tables:

- `amqp_envelope_events` — the per-connector metadata envelope
  builder (plans/mq_ext.py::_envelope, the shared core of every MQ
  input kind) applied to a deterministic bus-shaped frame derived
  from `events`: raw-payload unquoting + the nats_jetstream metadata
  keys (nats_subject / nats_sequence_stream / nats_timestamp_unix_nano
  per inputs/nats_jetstream.adoc).
- `mongo_filter_orders` — the MongoDB find-filter → Column translation
  (plans/db_ext.py::_mongo_filter_to_column) with $gte/$lt/$in and an
  $or branch, pushed down onto the `orders` scan.
- `buffer_window_stamp` — the system_window buffer's window stamping
  (plans/state_ext.py::apply_buffer; buffers/system_window.adoc
  window_end_timestamp metadata) aggregated per window over `events`.

Scale notes: all three are narrow projections/filters over a single
scan — no joins, no UDFs; the window stamp adds zero shuffles (the
aggregation after it is the usual single hash exchange).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from connect_spark.boundary import flat_map
from connect_spark.catalog import fanout_scan, load_table
from connect_spark.queries import QuerySpec


def amqp_envelope_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    from connect_spark.plans.mq_ext import _INPUT_SPECS, _envelope

    ev = load_table(spark, sf_dir, "events")
    # deterministic bus-shaped frame: the WAL stores string payloads
    # JSON-quoted (sources/mq.py::MessageBus.publish)
    bus = ev.select(
        F.col("event_id").alias("lsn"),
        F.lit("insert").alias("operation"),
        F.concat(F.lit("events."), F.col("event_type")).alias("table"),
        F.unix_millis("ts").alias("commit_ts_ms"),
        F.lit(None).cast("string").alias("before"),
        # JSON-quoted string payload (event types are alphanumeric,
        # no escaping needed)
        F.concat(F.lit('"'), F.col("event_type"), F.lit('"'))
        .alias("after"),
    )
    env = _envelope(bus, {}, _INPUT_SPECS["nats_jetstream"])
    return env.select(
        F.col("content"),
        F.element_at("_meta", "nats_subject").alias("subject"),
        F.element_at("_meta", "nats_sequence_stream").cast("bigint")
        .alias("seq"),
        F.element_at("_meta", "nats_timestamp_unix_nano").cast("bigint")
        .alias("ts_nano"),
    )


AMQP_ENVELOPE_SQL = """
SELECT event_type AS content,
       'events.' || event_type AS subject,
       event_id AS seq,
       epoch_ms(ts) * 1000000 AS ts_nano
FROM events
"""


def mongo_filter_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    from connect_spark.plans.db_ext import _mongo_filter_to_column

    orders = load_table(spark, sf_dir, "orders")
    flt = _mongo_filter_to_column({
        "$or": [
            {"o_orderstatus": "F",
             "o_totalprice": {"$gte": 100000, "$lt": 200000}},
            {"o_orderpriority": {"$in": ["1-URGENT", "2-HIGH"]},
             "o_totalprice": {"$lt": 5000}},
        ],
    })
    return orders.filter(flt).select(
        "o_orderkey", "o_orderstatus", "o_orderpriority",
        F.col("o_totalprice").alias("price"),
    )


MONGO_FILTER_SQL = """
SELECT o_orderkey, o_orderstatus, o_orderpriority,
       o_totalprice AS price
FROM orders
WHERE (o_orderstatus = 'F'
       AND o_totalprice >= 100000 AND o_totalprice < 200000)
   OR (o_orderpriority IN ('1-URGENT', '2-HIGH')
       AND o_totalprice < 5000)
"""


def buffer_window_stamp(spark: SparkSession, sf_dir: str) -> DataFrame:
    from connect_spark.plans.state_ext import apply_buffer

    ev = load_table(spark, sf_dir, "events")
    stamped = apply_buffer(ev, {"system_window": {
        "timestamp_field": "ts", "size": "6 hours"}})
    return (
        stamped.groupBy(
            F.col("window_end_timestamp").cast("string").alias("win_end"),
            "event_type",
        )
        .agg(
            F.count("*").alias("n"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
    )


BUFFER_WINDOW_SQL = """
SELECT CAST(time_bucket(INTERVAL '6 hours', ts)
            + INTERVAL '6 hours' AS VARCHAR) AS win_end,
       event_type,
       COUNT(*) AS n,
       ROUND(SUM(value), 2) AS total_value
FROM events
GROUP BY 1, 2
"""


def kafka_recordbatch_roundtrip(spark: SparkSession,
                                sf_dir: str) -> DataFrame:
    """Kafka RecordBatch v2 wire roundtrip (round 5,
    functions/kafka_records.py): events become keyed records, encode
    into LZ4-compressed v2 batches and decode back — ENTIRELY
    executor-side (two mapInPandas passes, one batch per Arrow chunk,
    no driver collect), CRC32C verified on decode.  The oracle is the
    base table, so any wire bug (varint, bitmaps, CRC, compression,
    offset/timestamp delta math) breaks the value hash.  This is the
    byte format every reference kafka/redpanda connector and the
    migrator moves (public Kafka protocol, "Record Batch")."""
    import json as _json

    # opt guide §2.5/§4: the codec is Python CPU per record and the
    # local events scan is 3 splits — fan out so every core encodes
    ev = fanout_scan(
        spark,
        load_table(spark, sf_dir, "events").select(
            "event_id", "event_type", "value"),
        sf_dir, "events")

    def encode(batches):
        import pandas as _pd

        from connect_spark.functions.kafka_records import (
            CODEC_LZ4,
            KafkaRecord,
            encode_batch,
        )

        for pdf in batches:
            if not len(pdf):
                continue
            recs = []
            base = int(pdf["event_id"].min())
            for eid, etype, val in zip(pdf["event_id"],
                                       pdf["event_type"], pdf["value"]):
                recs.append(KafkaRecord(
                    offset=int(eid),
                    timestamp_ms=1_700_000_000_000 + int(eid),
                    key=str(int(eid)).encode(),
                    value=_json.dumps(
                        {"event_type": etype, "value": float(val)}
                    ).encode(),
                    headers=[("src", b"events")],
                ))
            yield _pd.DataFrame({
                "segment": [encode_batch(recs, base_offset=base,
                                         codec=CODEC_LZ4)],
            })

    def decode(blob):
        from connect_spark.functions.kafka_records import decode_segment

        for rec in decode_segment(bytes(blob)):
            doc = _json.loads(rec.value)
            yield int(rec.key), doc["event_type"], doc["value"]

    segments = ev.mapInPandas(encode, "segment BINARY")
    return flat_map(segments,
                    "event_id LONG, kf_type STRING, kf_value DOUBLE", decode)


KAFKA_RB_SQL = """
SELECT event_id, event_type AS kf_type, value AS kf_value
FROM events
"""


def amqp1_envelope_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AMQP 1.0 wire roundtrip (functions/amqp1_codec.py — OASIS AMQP
    1.0, the reference's amqp_1 input internal/impl/amqp1/): events
    encode into bare messages (properties + application-properties +
    data sections) carried by transfer frames — small frame budget so
    messages SPLIT across frames and decode exercises multi-transfer
    reassembly — then decode back.  Entirely executor-side (two
    mapInPandas passes, no collect); the oracle is the base table, so
    any type-system or framing bug breaks the value hash."""
    import json as _json
    import math as _math

    # opt guide §2.5/§4: Python codec work — fan the scan out
    ev = fanout_scan(
        spark,
        load_table(spark, sf_dir, "events").select(
            "event_id", "event_type", "value"),
        sf_dir, "events")

    def encode(batches):
        import pandas as _pd

        from connect_spark.functions.amqp1_codec import (
            encode_message,
            encode_transfer,
        )

        for pdf in batches:
            if not len(pdf):
                continue
            buf = bytearray()
            for k, (eid, etype, val) in enumerate(
                    zip(pdf["event_id"], pdf["event_type"],
                        pdf["value"])):
                msg = encode_message(
                    message_id=int(eid),
                    to="queue://events",
                    subject=str(etype),
                    content_type="application/json",
                    application_properties={
                        "value_x100": _math.floor(float(val) * 100)},
                    data=_json.dumps({"event_type": str(etype)}).encode(),
                )
                buf += encode_transfer(
                    channel=k % 4, handle=1, delivery_id=int(eid),
                    delivery_tag=b"dt-%d" % int(eid), message=msg,
                    max_frame_payload=96)
            yield _pd.DataFrame({"session": [bytes(buf)]})

    def decode(blob):
        from connect_spark.functions.amqp1_codec import decode_session

        for m in decode_session(bytes(blob)):
            doc = _json.loads(m.data)
            yield (m.delivery_id, m.subject, doc["event_type"],
                   m.application_properties["value_x100"])

    sessions = ev.mapInPandas(encode, "session BINARY")
    return flat_map(
        sessions,
        "event_id LONG, subject STRING, a1_type STRING,"
        " a1_value_x100 LONG",
        decode,
    )


AMQP1_DECODE_SQL = """
SELECT event_id,
       event_type AS subject,
       event_type AS a1_type,
       CAST(floor(value * 100) AS BIGINT) AS a1_value_x100
FROM events
"""


def kafka_read_committed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kafka read_committed isolation (KIP-98,
    functions/kafka_records.py): events split by event_id % 4 into an
    ABORTED transaction (0), a COMMITTED transaction (1), plain
    non-transactional batches (2) and a transaction left OPEN with no
    marker (3).  Each Arrow chunk encodes all four as interleaved
    RecordBatches + control markers into one .log segment, then
    decodes with read_committed — only classes 1 and 2 may survive
    (the oracle filter).  A decoder that ignores abort markers, marker
    producer scoping, or the last-stable-offset rule hash-mismatches.
    Executor-side end to end."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "event_type")

    def roundtrip(batches):
        import pandas as _pd

        from connect_spark.functions.kafka_records import (
            KafkaRecord,
            decode_segment_read_committed,
            encode_batch,
            encode_control_batch,
        )

        for pdf in batches:
            if not len(pdf):
                continue
            groups: dict[int, list[KafkaRecord]] = {0: [], 1: [],
                                                    2: [], 3: []}
            for eid, etype in zip(pdf["event_id"], pdf["event_type"]):
                groups[int(eid) % 4].append(KafkaRecord(
                    offset=int(eid),
                    timestamp_ms=1_700_000_000_000 + int(eid),
                    key=str(int(eid)).encode(),
                    value=str(etype).encode()))
            top = int(pdf["event_id"].max()) + 1
            seg = bytearray()
            # interleave: aborted + committed + open txn batches all
            # in flight before any marker lands
            for cls, pid in ((0, 100), (1, 200), (3, 300)):
                if groups[cls]:
                    seg += encode_batch(
                        groups[cls],
                        base_offset=min(r.offset for r in groups[cls]),
                        producer_id=pid, transactional=True)
            if groups[2]:
                seg += encode_batch(
                    groups[2],
                    base_offset=min(r.offset for r in groups[2]))
            if groups[0]:
                seg += encode_control_batch(top, 100, commit=False)
            if groups[1]:
                seg += encode_control_batch(top + 1, 200, commit=True)
            # producer 300's transaction never gets a marker: open
            out = {"event_id": [], "rc_type": []}
            for rec in decode_segment_read_committed(bytes(seg)):
                out["event_id"].append(int(rec.key))
                out["rc_type"].append(rec.value.decode())
            yield _pd.DataFrame(out)

    return ev.mapInPandas(roundtrip, "event_id LONG, rc_type STRING")


KAFKA_RC_SQL = """
SELECT event_id, event_type AS rc_type
FROM events
WHERE event_id % 4 IN (1, 2)
"""


def pulsar_envelope_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pulsar binary-protocol roundtrip (functions/pulsar_codec.py —
    the public Pulsar wire spec the reference's pulsar input consumes
    via its client library): events encode into MESSAGE payload
    frames (BaseCommand + MessageMetadata protobufs, CRC32C-stamped)
    and decode back, executor-side.  Any protobuf-descriptor, framing
    or checksum bug breaks the value hash against the base table."""
    # opt guide §2.5/§4: Python codec work — fan the scan out
    ev = fanout_scan(
        spark,
        load_table(spark, sf_dir, "events").select(
            "event_id", "event_type", "user_id"),
        sf_dir, "events")

    def roundtrip(batches):
        import pandas as _pd

        from connect_spark.functions.pulsar_codec import (
            decode_stream,
            encode_message_frame,
        )

        for pdf in batches:
            if not len(pdf):
                continue
            buf = bytearray()
            for eid, etype, uid in zip(pdf["event_id"],
                                       pdf["event_type"],
                                       pdf["user_id"]):
                buf += encode_message_frame(
                    consumer_id=1,
                    ledger_id=int(eid) // 1000,
                    entry_id=int(eid) % 1000,
                    producer_name="bench",
                    sequence_id=int(eid),
                    publish_time_ms=1_700_000_000_000 + int(eid),
                    partition_key=str(uid),
                    properties={"event_type": str(etype)},
                    payload=str(etype).encode())
            out = {"event_id": [], "p_type": [], "p_key": []}
            for m in decode_stream(bytes(buf)):
                out["event_id"].append(m["sequence_id"])
                out["p_type"].append(m["properties"]["event_type"])
                out["p_key"].append(m["partition_key"])
            yield _pd.DataFrame(out)

    return ev.mapInPandas(
        roundtrip, "event_id LONG, p_type STRING, p_key STRING")


PULSAR_DECODE_SQL = """
SELECT event_id,
       event_type AS p_type,
       CAST(user_id AS VARCHAR) AS p_key
FROM events
"""


def broker_wire_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The remaining broker wire formats in one gate
    (functions/broker_codecs.py): each event rides the codec picked
    by event_id % 4 — NSQ V2 frame, beanstalkd RESERVED reply, ZMTP
    multipart message (topic + payload), nanomsg SP message — encoded
    into one recorded stream per codec per Arrow chunk and decoded
    back.  The oracle is the base table plus the same mod-4 codec
    label, so any framing bug in any of the four breaks the hash."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "event_type")
    codecs = ["nsq", "beanstalkd", "zmtp", "sp"]

    def roundtrip(batches):
        import pandas as _pd

        from connect_spark.functions import broker_codecs as bc

        for pdf in batches:
            if not len(pdf):
                continue
            streams = {k: bytearray() for k in codecs}
            streams["zmtp"] += bc.encode_zmtp_greeting()
            streams["sp"] += bc.encode_sp_handshake()
            for eid, etype in zip(pdf["event_id"], pdf["event_type"]):
                body = (b"%d:%s" % (int(eid), str(etype).encode()))
                k = codecs[int(eid) % 4]
                if k == "nsq":
                    streams[k] += bc.encode_nsq_message(
                        int(eid), 1, "%016x" % int(eid), body)
                elif k == "beanstalkd":
                    streams[k] += bc.encode_beanstalkd_reserved(
                        int(eid), body)
                elif k == "zmtp":
                    streams[k] += bc.encode_zmtp_message(
                        [b"events", body])
                else:
                    streams[k] += bc.encode_sp_message(body)
            out = {"event_id": [], "wire_codec": [], "w_type": []}

            def emit(eid_bytes, codec):
                eid, _, etype = bytes(eid_bytes).partition(b":")
                out["event_id"].append(int(eid))
                out["wire_codec"].append(codec)
                out["w_type"].append(etype.decode())

            for m in bc.decode_nsq_stream(bytes(streams["nsq"])):
                emit(m["body"], "nsq")
            for j in bc.decode_beanstalkd_stream(
                    bytes(streams["beanstalkd"])):
                emit(j["body"], "beanstalkd")
            for parts in bc.decode_zmtp_stream(bytes(streams["zmtp"])):
                emit(parts[-1], "zmtp")
            for payload in bc.decode_sp_stream(bytes(streams["sp"])):
                emit(payload, "sp")
            yield _pd.DataFrame(out)

    return ev.mapInPandas(
        roundtrip, "event_id LONG, wire_codec STRING, w_type STRING")


BROKER_WIRE_SQL = """
SELECT event_id,
       CASE event_id % 4 WHEN 0 THEN 'nsq' WHEN 1 THEN 'beanstalkd'
            WHEN 2 THEN 'zmtp' ELSE 'sp' END AS wire_codec,
       event_type AS w_type
FROM events
"""


def snowflake_bdec_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snowpipe Streaming bdec blob path, executor-side and verified
    in-flight (sinks/snowflake_ingest.py vs the reference's
    internal/impl/snowflake/streaming/streaming.go:462-545,
    compat.go:55-137, rest.go:222-236): every `orders` partition is
    built into a zstd-parquet chunk with primaryFileId + EP stats,
    AES-256-CTR-encrypted with the path-diversified key, then
    decrypted and parquet-read back with chunk-MD5 / uncompressed-size
    / EP re-verification before the rows are yielded. A green oracle
    row therefore pins the full encode+encrypt+register metadata
    contract bit-exactly. Scale: no shuffle — one Arrow pass per
    partition, identical to the reference's per-channel builders."""
    import base64

    from connect_spark.sinks.snowflake_ingest import bdec_roundtrip

    key = base64.b64encode(bytes(range(32))).decode()
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")
    return bdec_roundtrip(orders, key)


SNOWFLAKE_BDEC_SQL = """
SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice FROM orders
"""


QUERIES = [
    QuerySpec("snowflake_bdec_roundtrip", snowflake_bdec_roundtrip,
              SNOWFLAKE_BDEC_SQL),
    QuerySpec("amqp_envelope_events", amqp_envelope_events,
              AMQP_ENVELOPE_SQL),
    QuerySpec("mongo_filter_orders", mongo_filter_orders,
              MONGO_FILTER_SQL),
    QuerySpec("buffer_window_stamp", buffer_window_stamp,
              BUFFER_WINDOW_SQL),
    QuerySpec("kafka_recordbatch_roundtrip", kafka_recordbatch_roundtrip,
              KAFKA_RB_SQL),
    QuerySpec("amqp1_envelope_decode", amqp1_envelope_decode,
              AMQP1_DECODE_SQL),
    QuerySpec("kafka_read_committed", kafka_read_committed,
              KAFKA_RC_SQL),
    QuerySpec("pulsar_envelope_decode", pulsar_envelope_decode,
              PULSAR_DECODE_SQL),
    QuerySpec("broker_wire_roundtrip", broker_wire_roundtrip,
              BROKER_WIRE_SQL),
]


_RPCPLUGIN_SCRIPT = '''\
import json, sys
CFG = {}
for line in sys.stdin:
    if not line.strip():
        continue
    req = json.loads(line)
    rid, m, p = req["id"], req["method"], req.get("params") or {}
    res = {}
    if m == "init":
        CFG.update(p.get("config") or {})
    elif m == "process_batch":
        out = []
        for msg in (p.get("batch") or {}).get("messages") or []:
            d = msg["structured"]
            t = d.get("text") or ""
            out.append({"structured": {
                "doc_id": d["doc_id"],
                "head_rev": t[:12][::-1] + CFG.get("tag", ""),
                "n_upper": sum(1 for c in t
                               if "A" <= c <= "Z"),
                "text_chars": len(t),
            }, "metadata": {}})
        res = {"batches": [{"messages": out}]}
    sys.stdout.write(json.dumps(
        {"id": rid, "result": res, "error": None}) + "\\n")
    sys.stdout.flush()
    if m == "close":
        break
'''


def rpcplugin_processor_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Out-of-process RPC plugin processor
    (plans/rpcplugin.py::make_processor_plugin; reference
    internal/rpcplugin/processor.go): a REAL child python process per
    partition stream transforms every document over the NDJSON-stdio
    protocol — reversed 12-char head + a config-field tag, ASCII
    uppercase count, char count.  The oracle recomputes all three in
    SQL, so the whole manifest → field-spec → host → wire → typed
    output_schema chain is value-checked.

    Scale: one child per executor-core partition stream (narrow
    mapInPandas, zero shuffle) — the reference hosts ONE plugin
    process for the whole stream; this scales out per core."""
    import os
    import sys
    import tempfile

    from connect_spark.plans.rpcplugin import (
        make_processor_plugin, parse_manifest)

    pdir = os.path.join(tempfile.gettempdir(), "cs_rpcplugin_gate")
    os.makedirs(pdir, exist_ok=True)
    script = os.path.join(pdir, "main.py")
    with open(script, "w", encoding="utf-8") as fh:
        fh.write(_RPCPLUGIN_SCRIPT)
    manifest = parse_manifest({
        "name": "doc_stats_plugin",
        "command": [sys.executable, script],
        "type": "processor",
        "fields": [{"name": "tag", "type": "string", "default": ""}],
        "output_schema": ("doc_id BIGINT, head_rev STRING, "
                          "n_upper INT, text_chars INT"),
    })
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text")
    return make_processor_plugin(manifest)(docs, {"tag": "|r12"})


RPCPLUGIN_SQL = """
SELECT doc_id,
       reverse(substr(text, 1, 12)) || '|r12' AS head_rev,
       CAST(length(regexp_replace(text, '[^A-Z]', '', 'g')) AS INT)
           AS n_upper,
       CAST(length(text) AS INT) AS text_chars
FROM documents
"""


QUERIES.append(
    QuerySpec("rpcplugin_processor_docs", rpcplugin_processor_docs,
              RPCPLUGIN_SQL))


_ARROW_PLUGIN_SCRIPT = '''\
import json, sys
import pyarrow as pa
import pyarrow.compute as pc

stdin = sys.stdin.buffer
stdout = sys.stdout.buffer
CFG = {}


def reply(rid, result=None, error=None, body=None):
    hdr = {"id": rid, "result": result, "error": error}
    payload = b""
    if body is not None:
        sink = pa.BufferOutputStream()
        with pa.ipc.new_stream(sink, body.schema) as w:
            w.write_table(body)
        payload = sink.getvalue().to_pybytes()
        hdr["body_len"] = len(payload)
    stdout.write(json.dumps(hdr).encode() + b"\\n")
    if payload:
        stdout.write(payload)
    stdout.flush()


while True:
    line = stdin.readline()
    if not line:
        break
    if not line.strip():
        continue
    req = json.loads(line)
    rid, m, p = req["id"], req["method"], req.get("params") or {}
    n = int(req.get("body_len") or 0)
    tbl = pa.ipc.open_stream(stdin.read(n)).read_all() if n else None
    if m == "init":
        CFG.update(p.get("config") or {})
        reply(rid, {})
    elif m == "process_batch":
        text = pc.coalesce(tbl.column("text"), pa.scalar(""))
        out = pa.table({
            "doc_id": tbl.column("doc_id"),
            "head_rev": pc.binary_join_element_wise(
                pc.utf8_reverse(
                    pc.utf8_slice_codeunits(text, 0, 12)),
                CFG.get("tag", ""), ""),
            "n_upper": pc.cast(pc.utf8_length(
                pc.replace_substring_regex(text, "[^A-Z]", "")),
                pa.int32()),
            "text_chars": pc.cast(pc.utf8_length(text), pa.int32()),
        })
        reply(rid, {}, None, out)
    elif m == "close":
        reply(rid, {})
        break
    else:
        reply(rid, {})
'''


def rpcplugin_arrow_protocol(spark: SparkSession,
                             sf_dir: str) -> DataFrame:
    """`protocol: arrow` RPC plugin (plans/rpcplugin.py::
    ArrowPluginClient + _arrow_partition_runner; the binary twin of
    the reference's runtimepb wire): the partition's Arrow batch
    crosses to a REAL child as one Arrow-IPC stream — no per-row
    JSON, no base64 — and the child answers with a typed columnar
    batch computed via pyarrow.compute.  Same output contract as
    `rpcplugin_processor_docs`, so the two gates value-check both
    framings against one oracle family.

    Scale: the framing cost is O(bytes) with zero per-row python on
    the host; the child computes vectorized.  SCALE.md r13 carries
    the 16x ndjson-vs-arrow A/B (scripts/ab_rpcplugin_arrow.py)."""
    import os
    import sys
    import tempfile

    from connect_spark.plans.rpcplugin import (
        make_processor_plugin, parse_manifest)

    pdir = os.path.join(tempfile.gettempdir(), "cs_rpcplugin_arrow")
    os.makedirs(pdir, exist_ok=True)
    script = os.path.join(pdir, "main.py")
    with open(script, "w", encoding="utf-8") as fh:
        fh.write(_ARROW_PLUGIN_SCRIPT)
    manifest = parse_manifest({
        "name": "doc_stats_arrow",
        "command": [sys.executable, script],
        "type": "processor",
        "protocol": "arrow",
        "fields": [{"name": "tag", "type": "string", "default": ""}],
        "output_schema": ("doc_id BIGINT, head_rev STRING, "
                          "n_upper INT, text_chars INT"),
    })
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text")
    return make_processor_plugin(manifest)(docs, {"tag": "|arrow"})


RPCPLUGIN_ARROW_SQL = """
SELECT doc_id,
       reverse(substr(text, 1, 12)) || '|arrow' AS head_rev,
       CAST(length(regexp_replace(text, '[^A-Z]', '', 'g')) AS INT)
           AS n_upper,
       CAST(length(text) AS INT) AS text_chars
FROM documents
"""


QUERIES.append(
    QuerySpec("rpcplugin_arrow_protocol", rpcplugin_arrow_protocol,
              RPCPLUGIN_ARROW_SQL))


_AGENT_GATE_SCRIPT = '''\
import json, os, sys, urllib.request

BASE = os.environ["CONNECT_SPARK_AGENT_MCP_SERVER"].rstrip(
    "/").rsplit("/tools", 1)[0]


def call(path, body=None):
    data = json.dumps(body).encode() if body is not None else None
    req = urllib.request.Request(BASE + path, data=data,
                                 method="POST" if data else "GET")
    with urllib.request.urlopen(req, timeout=60) as resp:
        return json.loads(resp.read())


for line in sys.stdin:
    if not line.strip():
        continue
    req = json.loads(line)
    rid, m, p = req["id"], req["method"], req.get("params") or {}
    res = {}
    if m == "invoke_agent":
        doc = (p.get("message") or {}).get("structured") or {}
        text = doc.get("text") or ""
        shouted = call("/tools/shout", {"content": text})["content"]
        head = call("/tools/rev_head",
                    {"content": shouted})["content"]
        res = {"message": {"structured": {
            "doc_id": doc["doc_id"],
            "agent_head": head,
            "shout_chars": len(shouted),
        }, "metadata": {}}}
    sys.stdout.write(json.dumps(
        {"id": rid, "result": res, "error": None}) + "\\n")
    sys.stdout.flush()
    if m == "close":
        break
'''


def agent_runtime_tool_loop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """redpanda_agent_runtime end-to-end
    (connect_spark/agent_mode.py; reference internal/agent/
    agent_processor.go + agent.go RunAgent): a REAL agent child per
    partition walks TWO MCP tool calls per document — `shout`
    (uppercase) then `rev_head` (reverse + 10-char head), both served
    by the in-process tool registry over HTTP — and composes the
    final answer.  The oracle recomputes reverse(upper(text))[0:10]
    and the char count in SQL, so the agent loop, the tool server,
    the wire protocol and the typed output all sit in the value hash.

    Scale (r13): both tools are mapping-only, so they ship to the
    partitions as `tools_inline` — each partition runner serves them
    from an executor-local shim (agent_mode._serve_partition_shim)
    and NO central server exists; tool-call throughput scales with
    cores instead of serializing on one driver-side registry (the
    r12 11s→186s super-linear curve, SCALE.md).  Stateful tool
    chains are the only remaining central-server clients."""
    import os
    import sys
    import tempfile

    from connect_spark.plans.pipeline import PROCESSORS

    pdir = os.path.join(tempfile.gettempdir(), "cs_agent_gate")
    os.makedirs(pdir, exist_ok=True)
    script = os.path.join(pdir, "agent.py")
    with open(script, "w", encoding="utf-8") as fh:
        fh.write(_AGENT_GATE_SCRIPT)
    from connect_spark.catalog import fanout_scan

    # one agent child per PARTITION (agent_mode.py hosting model) and
    # the test file scans as a single split — without the fan-out one
    # child walks every document serially (opt guide §2.5)
    docs = fanout_scan(
        spark,
        load_table(spark, sf_dir, "documents").select("doc_id", "text"),
        sf_dir, "documents")
    out = PROCESSORS["redpanda_agent_runtime"](docs, {
        "command": [sys.executable, script],
        "tools_inline": {
            "shout": {"mappings": ["root = this.uppercase()"],
                      "description": "uppercase"},
            "rev_head": {
                "mappings": ["root = this.reverse().slice(0, 10)"],
                "description": "reverse then take 10 chars"},
        },
        "output_schema": ("doc_id BIGINT, agent_head STRING, "
                          "shout_chars INT"),
    })
    return out.localCheckpoint(eager=True)


AGENT_RUNTIME_SQL = """
SELECT doc_id,
       substr(reverse(upper(text)), 1, 10) AS agent_head,
       CAST(length(text) AS INT) AS shout_chars
FROM documents
"""


QUERIES.append(
    QuerySpec("agent_runtime_tool_loop", agent_runtime_tool_loop,
              AGENT_RUNTIME_SQL))
