"""Kafka-family inputs/outputs (SURVEY.md §2.D Kafka row; reference
internal/impl/kafka/, ordered reader franz_reader_ordered.go:73-74).

Maps the reference's `kafka`/`redpanda` config fields onto Spark's
native Kafka source options. Offset management, consumer ordering and
group semantics are Spark-native (checkpointed offsets replace the
reference's ack-based commit, giving exactly-once to idempotent
sinks instead of at-least-once — SURVEY.md §4.2).

No broker exists in this container, so tests cover the option mapping
and envelope projection only; the reader construction is the same call
a cluster run would use.
"""

from __future__ import annotations

import os
import re

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from connect_spark.boundary import flat_map


def kafka_reader_options(conf: dict) -> dict[str, str]:
    """Reference config → Spark Kafka options.

    Supported fields (docs/.../inputs/kafka.adoc): `addresses`,
    `topics`, `consumer_group`, `client_id`, `start_from_oldest`,
    `checkpoint_limit` (→ maxOffsetsPerTrigger, the rate-limit/batching
    knob)."""
    opts: dict[str, str] = {
        "kafka.bootstrap.servers": ",".join(conf["addresses"]),
        "subscribe": ",".join(conf["topics"]),
        "startingOffsets": (
            "earliest" if conf.get("start_from_oldest", True) else "latest"
        ),
        # headers ride along by default (the reference forwards them;
        # without this option Spark's reader omits the column and any
        # `headers` projection fails at analysis)
        "includeHeaders": "true",
    }
    if conf.get("consumer_group"):
        opts["kafka.group.id"] = conf["consumer_group"]
    if conf.get("client_id"):
        opts["kafka.client.id"] = conf["client_id"]
    if conf.get("checkpoint_limit"):
        opts["maxOffsetsPerTrigger"] = str(conf["checkpoint_limit"])
    return opts


def kafka_envelope(df: DataFrame) -> DataFrame:
    """Project the Kafka source columns into the engine's message
    envelope: `content` (bytes) + `_meta` map carrying topic/
    partition/offset/timestamp/key — the reference's metadata fields
    (kafka input metadata: kafka_topic, kafka_partition, kafka_offset,
    kafka_timestamp, kafka_key)."""
    return df.select(
        F.col("value").alias("content"),
        F.map_from_arrays(
            F.array(
                F.lit("kafka_topic"),
                F.lit("kafka_partition"),
                F.lit("kafka_offset"),
                F.lit("kafka_timestamp_ms"),
                F.lit("kafka_key"),
            ),
            F.array(
                F.col("topic"),
                F.col("partition").cast("string"),
                F.col("offset").cast("string"),
                F.unix_millis("timestamp").cast("string"),
                F.col("key").cast("string"),
            ),
        ).alias("_meta"),
    )


def kafka_source(spark: SparkSession, conf: dict, streaming: bool = True):
    """Build the (lazy) Kafka reader; call `.load()` → `kafka_envelope`
    on a cluster with brokers reachable."""
    reader = spark.readStream if streaming else spark.read
    reader = reader.format("kafka")
    for k, v in kafka_reader_options(conf).items():
        if not streaming and k == "startingOffsets" and v == "latest":
            # batch reads reject startingOffsets=latest (empty range);
            # the batch analog of "start from newest" is the full range
            v = "earliest"
        reader = reader.option(k, v)
    return reader


def kafka_writer_options(conf: dict) -> dict[str, str]:
    """Reference `kafka` output config → Spark sink options
    (docs/.../outputs/kafka.adoc); `max_in_flight` maps to producer
    in-flight batching which Spark's Kafka sink manages internally."""
    return {
        "kafka.bootstrap.servers": ",".join(conf["addresses"]),
        "topic": conf["topic"],
    }


def kafka_log_segment_input(spark: SparkSession, conf: dict) -> DataFrame:
    """Decode RECORDED Kafka .log segment files (RecordBatch v2 — the
    broker's on-disk format, byte-identical to Fetch payloads) into
    typed rows: partition, offset, timestamp_ms, key, value, headers
    (JSON).  Decode runs executor-side (binaryFile + mapInPandas, one
    task per segment — partition-parallel exactly like real segment
    files); CRC32C verified per batch; control batches skipped like a
    consumer.  `isolation_level: read_committed` additionally drops
    records of aborted transactions by replaying KIP-98 control
    markers per producerId (the reference's franz-go reader honors the
    same option on every kafka input).  `functions/kafka_records.py`
    documents the format; the reference moves the same bytes through
    franz-go."""
    import json as _json

    path = conf["path"]
    partition_from_name = bool(conf.get("partition_from_filename", True))
    isolation = conf.get("isolation_level", "read_uncommitted")
    if isolation not in ("read_uncommitted", "read_committed"):
        raise ValueError(
            f"kafka_log_segment: unknown isolation_level {isolation!r}")
    schema = (
        "partition INT, offset LONG, timestamp_ms LONG, "
        "key BINARY, value BINARY, headers STRING"
    )

    def decode(fpath, blob):
        from connect_spark.functions.kafka_records import (
            decode_segment,
            decode_segment_read_committed,
        )

        part = 0
        if partition_from_name:
            # Kafka log dirs are <topic>-<partition>: anchor to the
            # TRAILING digits so topics containing digits
            # (events2024-0) resolve correctly
            m = re.search(r"-(\d+)$", os.path.basename(
                os.path.dirname(fpath)) or "")
            if m:
                part = int(m.group(1))
        if isolation == "read_committed":
            recs = decode_segment_read_committed(bytes(blob))
        else:
            recs = decode_segment(bytes(blob))
        for rec in recs:
            yield (part, rec.offset, rec.timestamp_ms, rec.key, rec.value,
                   _json.dumps([[k, (v.decode("utf-8", "replace")
                                     if v is not None else None)]
                                for k, v in rec.headers]))

    segments = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", conf.get("glob", "*.log"))
        .option("recursiveFileLookup", "true")
        .load(path)
        .select("path", "content")
    )
    return flat_map(segments, schema, decode)
