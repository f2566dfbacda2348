"""File-family inputs + the full scanner set (SURVEY.md §2.D
object-store row; docs/modules/components/pages/scanners/).

The reference decomposes byte streams with 12 scanners. Spark file
formats subsume the row-oriented ones (`lines`, `csv`,
`json_documents`) as native reads — pushdown and schema inference for
free; the byte-level ones (`chunker`, `decompress`, `skip_bom`,
`re_match`, `tar`, `avro`, `to_the_end`, `switch`) read whole files
via `binaryFile` and decompose the content column — Column algebra
where the format allows, Arrow-batched pandas UDFs for tar/avro
containers.

Cloud stores (s3a://, abfss://, gs://) use the same API — only the
path scheme changes, so everything here is cluster-ready as-is. Scale:
one file = one task for container scanners (tar/avro/to_the_end);
splittable formats go through the native readers which already
parallelize within files.
"""

from __future__ import annotations

import io
import json
import tarfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from connect_spark.boundary import flat_map

SCANNERS = (
    "lines",
    "csv",
    "json_documents",
    "chunker",
    "to_the_end",
    "decompress",
    "skip_bom",
    "re_match",
    "tar",
    "avro",
    "switch",
)


def _decompose(df: DataFrame, scanner: str, conf: dict) -> DataFrame:
    """Decompose a (path, content binary) frame into messages under
    `scanner`. Returns columns (path, content)."""
    if scanner == "to_the_end":
        return df.select("path", "content")
    if scanner == "chunker":
        size = int(conf.get("size", 1024))
        n = F.ceil(F.octet_length("content") / size).cast("int")
        return df.select(
            "path",
            F.explode(
                F.transform(
                    F.sequence(F.lit(0), F.greatest(n - 1, F.lit(0))),
                    lambda i: F.substring(F.col("content"), i * size + 1, size),
                )
            ).alias("content"),
        )
    if scanner == "lines":
        return df.select(
            "path",
            F.explode(F.split(F.col("content").cast("string"), r"\n"))
            .alias("line"),
        ).select("path", F.col("line").cast("binary").alias("content"))
    if scanner == "skip_bom":
        # strip a UTF-8 BOM then delegate to the child scanner
        stripped = df.select(
            "path",
            F.when(
                F.hex(F.substring("content", 1, 3)) == "EFBBBF",
                F.substring("content", 4, (1 << 31) - 1),
            )
            .otherwise(F.col("content"))
            .alias("content"),
        )
        child = conf.get("into", {"scanner": "lines"})
        return _decompose(stripped, child["scanner"], child.get("conf", {}))
    if scanner == "decompress":
        from connect_spark.functions.formats import decompress_udf

        algo = conf.get("algorithm", "gzip")
        inflated = df.select(
            "path", decompress_udf(algo)(F.col("content")).alias("content")
        )
        child = conf.get("into", {"scanner": "lines"})
        return _decompose(inflated, child["scanner"], child.get("conf", {}))
    if scanner == "re_match":
        # each message starts where the pattern matches (record-start
        # anchor, e.g. a timestamp for multiline logs)
        pattern = conf["pattern"]
        return (
            df.select(
                "path",
                F.explode(
                    F.split(F.col("content").cast("string"), f"(?={pattern})")
                ).alias("s"),
            )
            .filter(F.length("s") > 0)
            .select("path", F.col("s").cast("binary").alias("content"))
        )
    if scanner == "tar":
        return _tar_members(df)
    if scanner == "avro":
        return _avro_records(df)
    raise ValueError(f"unknown content scanner {scanner!r}")


def _tar_members(df: DataFrame) -> DataFrame:
    """tar scanner: one message per archive member
    (scanners/tar.adoc); member name joins the path metadata."""

    def members(path, blob):
        with tarfile.open(fileobj=io.BytesIO(bytes(blob))) as tf:
            for member in tf.getmembers():
                if member.isfile():
                    yield (f"{path}!{member.name}",
                           tf.extractfile(member).read())

    return flat_map(df.select("path", "content"),
                    "path STRING, content BINARY", members)


def _avro_records(df: DataFrame) -> DataFrame:
    """avro scanner: object-container-file blocks → one JSON message
    per record (scanners/avro.adoc), built on the pure-Python codec."""

    def records(path, blob):
        from connect_spark.functions.avro_codec import read_ocf

        _, recs = read_ocf(bytes(blob))
        for rec in recs:
            yield path, json.dumps(rec, sort_keys=True).encode("utf-8")

    return flat_map(df.select("path", "content"),
                    "path STRING, content BINARY", records)


def read_file_messages(
    spark: SparkSession,
    paths: str | list[str],
    scanner: str = "lines",
    scanner_conf: dict | None = None,
) -> DataFrame:
    """`file` input (docs/.../inputs/file.adoc:26) + scanner
    (docs/modules/components/pages/scanners/): rows of `content` plus
    `_meta.path` — the reference attaches the source path as metadata.
    """
    conf = scanner_conf or {}
    if scanner == "lines" and not conf.get("force_binary"):
        df = spark.read.text(paths)
        out = df.select(F.col("value").alias("content"))
        return out.withColumn(
            "_meta",
            F.map_from_arrays(
                F.array(F.lit("path")), F.array(F.input_file_name())
            ),
        )
    if scanner == "csv":
        out = spark.read.options(
            header=str(conf.get("parse_header_row", True)).lower(),
            inferSchema="true",
        ).csv(paths)
        return out.withColumn(
            "_meta",
            F.map_from_arrays(
                F.array(F.lit("path")), F.array(F.input_file_name())
            ),
        )
    if scanner == "json_documents":
        out = spark.read.json(paths)
        return out.withColumn(
            "_meta",
            F.map_from_arrays(
                F.array(F.lit("path")), F.array(F.input_file_name())
            ),
        )
    if scanner == "switch":
        # route each file to the FIRST child scanner whose pattern
        # matches; files matching no case are an error
        # (scanners/switch.adoc: cases are tried in order, a source
        # matching none is rejected). A case without `re_match_name`
        # is a catch-all default.
        binary = spark.read.format("binaryFile").load(paths)
        if not conf.get("cases"):
            raise ValueError("switch scanner needs at least one case")
        parts = []
        claimed = None  # Column: path matched by an earlier case
        for case in conf["cases"]:
            pat = case.get("re_match_name")
            cond = F.lit(True) if pat is None else F.col("path").rlike(pat)
            mine = cond if claimed is None else (cond & ~claimed)
            sub = binary.filter(mine)
            parts.append(
                _decompose(sub, case["scanner"], case.get("conf", {}))
            )
            claimed = cond if claimed is None else (claimed | cond)
        unmatched = [
            r.path
            for r in binary.filter(~claimed)
            .select("path")
            .limit(5)
            .collect()
        ]
        if unmatched:
            raise ValueError(
                f"switch scanner: files matched no case: {unmatched}"
            )
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
    elif scanner in SCANNERS:
        binary = spark.read.format("binaryFile").load(paths)
        out = _decompose(binary, scanner, conf)
    else:
        raise ValueError(f"unknown scanner {scanner!r}; known: {SCANNERS}")
    return out.select(
        "content",
        F.map_from_arrays(
            F.array(F.lit("path")), F.array(F.col("path"))
        ).alias("_meta"),
    )


def stream_files(
    spark: SparkSession,
    path: str,
    schema,
    fmt: str = "parquet",
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Streaming file input; `max_files_per_trigger` is the batching-
    policy knob (docs/.../inputs/batched.adoc:110-162 count-based
    batching → trigger sizing)."""
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return getattr(reader, fmt)(path)
