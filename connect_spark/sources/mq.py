"""Message-queue source/sink adapters: NATS, AMQP 0.9, MQTT.

Same posture as sources/kafka.py: the reference ships live clients
(internal/impl/nats/ 3.7k LoC, internal/impl/amqp09/, internal/impl/
mqtt/); no broker runs in this container, so each adapter provides

1. the config mapping from the reference's fields to a transport spec
   (what a cluster deployment feeds the real client),
2. the message ENVELOPE projection (metadata columns the reference
   documents for each input), and
3. a replayable local transport so the full pipeline — publish,
   subscribe, filter, route — runs and is tested end-to-end: messages
   persist in the same append-only log the CDC WAL uses (sources/
   cdc_stream.CdcWal), with the MQ subject carried in the record's
   `table` field and the payload in `after`. Offsets checkpoint through
   the cdc_wal DataSource, which is exactly the deliver-at-least-once +
   resume contract a durable NATS/AMQP consumer has.

NATS subject filtering (`*` = one token, `>` = trailing tokens —
docs/modules/components/pages/inputs/nats.adoc) compiles to pure
Column algebra, no UDF.
"""

from __future__ import annotations

import json

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from connect_spark.sources.cdc_stream import CdcWal, register

# ---------------------------------------------------------- config maps


def nats_reader_options(conf: dict) -> dict[str, str]:
    """`nats` / `nats_jetstream` input fields → transport spec
    (docs/.../inputs/nats.adoc: urls, subject, queue, durable,
    deliver, max_ack_pending)."""
    opts = {
        "servers": ",".join(conf["urls"]),
        "subject": conf["subject"],
        "deliver": conf.get("deliver", "all"),
    }
    if conf.get("queue"):
        opts["queue_group"] = conf["queue"]
    if conf.get("durable"):
        opts["durable_name"] = conf["durable"]
    if conf.get("max_ack_pending"):
        opts["max_in_flight"] = str(conf["max_ack_pending"])
    return opts


def amqp09_reader_options(conf: dict) -> dict[str, str]:
    """`amqp_0_9` input fields → transport spec
    (docs/.../inputs/amqp_0_9.adoc: urls, queue, consumer_tag,
    prefetch_count, bindings_declare)."""
    opts = {
        "urls": ",".join(conf["urls"]),
        "queue": conf["queue"],
    }
    if conf.get("consumer_tag"):
        opts["consumer_tag"] = conf["consumer_tag"]
    if conf.get("prefetch_count"):
        # batching knob — the analogue of kafka checkpoint_limit
        opts["max_records_per_batch"] = str(conf["prefetch_count"])
    return opts


def mqtt_reader_options(conf: dict) -> dict[str, str]:
    """`mqtt` input fields → transport spec (docs/.../inputs/mqtt.adoc:
    urls, topics, qos, client_id, clean_session)."""
    return {
        "urls": ",".join(conf["urls"]),
        "topics": ",".join(conf["topics"]),
        "qos": str(conf.get("qos", 1)),
        "client_id": conf.get("client_id", ""),
        "clean_session": str(conf.get("clean_session", True)).lower(),
    }


# ------------------------------------------------------------ envelopes


def nats_envelope(df: DataFrame) -> DataFrame:
    """cdc_wal-transported NATS messages → engine envelope. Metadata
    matches the reference's nats input: nats_subject + sequence."""
    return df.select(
        F.col("after").cast("binary").alias("content"),
        F.map_from_arrays(
            F.array(F.lit("nats_subject"), F.lit("nats_sequence")),
            F.array(F.col("table"), F.col("lsn").cast("string")),
        ).alias("_meta"),
    )


# ----------------------------------------------------- subject matching


def subject_matches(subject: Column | str, pattern: str) -> Column:
    """NATS-style subject filter as Column algebra: tokens split on
    '.', `*` matches exactly one token, `>` (last position) matches one
    or more trailing tokens."""
    s = F.col(subject) if isinstance(subject, str) else subject
    toks = F.split(s, r"\.")
    pt = pattern.split(".")
    conds: list[Column] = []
    if pt and pt[-1] == ">":
        head = pt[:-1]
        conds.append(F.size(toks) >= len(head) + 1)
        for i, p in enumerate(head):
            if p != "*":
                conds.append(F.element_at(toks, i + 1) == p)
    else:
        conds.append(F.size(toks) == len(pt))
        for i, p in enumerate(pt):
            if p != "*":
                conds.append(F.element_at(toks, i + 1) == p)
    out = F.lit(True)
    for c in conds:
        out = out & c
    return out


# ------------------------------------------------- replayable transport


class MessageBus:
    """Local replayable broker: publish appends to the shared WAL
    (subject → `table` field), subscribe reads a checkpointed stream
    through the cdc_wal DataSource."""

    def __init__(self, path: str):
        self.path = path
        self.wal = CdcWal(path)

    def publish(self, subject: str, payloads: list[str | dict]) -> int:
        # store payloads structurally — the stream reader JSON-encodes
        # exactly once on the way out (strings arrive JSON-quoted,
        # objects arrive as objects)
        return self.wal.append(
            [
                {"op": "insert", "table": subject, "after": p}
                for p in payloads
            ]
        )

    def subscribe(
        self,
        spark: SparkSession,
        subject_pattern: str | None = None,
        streaming: bool = True,
    ) -> DataFrame:
        register(spark)
        if streaming:
            df = spark.readStream.format("cdc_wal").option(
                "path", self.path
            ).load()
        else:
            # mirror the streaming reader's FULL envelope (all six
            # columns) so toggling `streaming` never changes the
            # input schema
            rows = [
                (
                    r["lsn"],
                    r.get("operation", "insert"),
                    r["table"],
                    r.get("commit_ts_ms", 0),
                    json.dumps(r["before"])
                    if r.get("before") is not None
                    else None,
                    json.dumps(r["after"]) if r["after"] is not None else None,
                )
                for r in self.wal.records(after_lsn=0)
            ]
            df = spark.createDataFrame(
                rows,
                "lsn BIGINT, operation STRING, table STRING, "
                "commit_ts_ms BIGINT, before STRING, after STRING",
            )
        if subject_pattern:
            df = df.filter(subject_matches(F.col("table"), subject_pattern))
        return df
