"""YAML pipeline loader: the reference's `input → pipeline.processors
→ output` topology (README.md:15, SURVEY.md §3.1) compiled to one lazy
DataFrame plan.

Where the reference executes one component per config node with no
rewriting ("the YAML is the physical plan", SURVEY.md §3.1.4), here
every processor contributes Column expressions / DataFrame transforms
to a single logical plan and Catalyst optimizes across processor
boundaries — filters written as the 5th processor still push down to
the parquet scan.

Processor semantics cited per builder; config field names follow the
reference's docs (docs/modules/components/pages/processors/*.adoc).
"""

from __future__ import annotations

import os
from dataclasses import dataclass
from typing import Any, Callable

import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from connect_spark.bloblang import compile_expression, compile_mapping
from connect_spark.operators.core import (
    archive_concat,
    archive_json_array,
    bounds_check,
    dedupe,
    select_parts,
    unarchive,
)
from connect_spark.session import ensure_session

try:  # PyYAML is optional; JSON-style dict specs always work
    import yaml  # type: ignore

    _HAVE_YAML = True
except Exception:  # pragma: no cover
    _HAVE_YAML = False


class PipelineConfigError(ValueError):
    pass


# --------------------------------------------------------------------
# processors
# --------------------------------------------------------------------

ProcessorFn = Callable[[DataFrame, Any], DataFrame]
PROCESSORS: dict[str, ProcessorFn] = {}

# extension registries for input/output component kinds (populated by
# plans/io_ext.py; checked after the built-in dispatch chains)
INPUT_KINDS: dict[str, Callable[..., DataFrame]] = {}
OUTPUT_KINDS: dict[str, Callable[..., Any]] = {}

# output kinds whose delivery unit is partition-granular (one request
# per partition) AND that split requests per `_cs_batch_id` when the
# output's batching policy formed batches — they receive the reserved
# column; every other kind has it dropped before dispatch
BATCH_SPLIT_KINDS: set[str] = set()


def input_kind(name: str):
    def deco(fn):
        INPUT_KINDS[name] = fn
        return fn

    return deco


def output_kind(name: str):
    def deco(fn):
        OUTPUT_KINDS[name] = fn
        return fn

    return deco


def processor(name: str):
    def deco(fn: ProcessorFn):
        PROCESSORS[name] = fn
        return fn

    return deco


import contextvars as _contextvars

# directory of the config/suite file currently being built — relative
# resource paths (protobuf import_paths, .blobl files) resolve by
# walking up from here, matching the reference's run-from-repo-root
# convention for its own test corpus
_CONFIG_BASE_DIR: _contextvars.ContextVar[str | None] = (
    _contextvars.ContextVar("config_base_dir", default=None)
)


def config_base_dir() -> str | None:
    return _CONFIG_BASE_DIR.get()


def set_config_base_dir(path: str | None):
    """Returns a reset token for the caller's finally block."""
    return _CONFIG_BASE_DIR.set(path)


def reset_config_base_dir(token) -> None:
    _CONFIG_BASE_DIR.reset(token)


def _fallback_payload(df: DataFrame):
    """The document handed to the dynamic evaluator as `this`: on a
    raw-envelope frame (single `content` column) the MESSAGE CONTENT
    itself — reference semantics, where `this` is the parsed message,
    never a column wrapper (the r14 d6fd1df defect class; the inline
    tool evaluator already behaves this way) — and the serialized row
    struct on structured frames."""
    doc_cols = [c for c in df.columns if not c.startswith("_")]
    if doc_cols == ["content"]:
        return F.col("content")
    return F.to_json(F.struct(*df.columns))


def _dynamic_apply(df: DataFrame, src: str, mode: str) -> DataFrame:
    """Dynamic-evaluator path for mapping/mutation the Column compiler
    can't type statically (raw-content documents, whole-document
    expressions, batch reduces over unparsed JSON).

    Distributed shape: batch = the frame's batch-stamp columns
    (group_key / batch_id / window stamps — BATCH_KEY_COLS); each
    batch's messages come to ONE task as an Arrow group via
    applyInPandas, evaluate in arrival order through
    pyeval.eval_batch (full message model: metadata, batch functions,
    deleted(), `failed assignment (line N)` flags), and leave as
    content-envelope rows. Batches are bounded by the batching policy
    that stamped them, so per-group memory is bounded; with no stamps
    the whole input is ONE batch (the reference's input-batch
    semantics — config unit tests and bounded generate inputs, not
    the 100-TB scan path, which compiles to Columns)."""
    import os

    from pyspark.sql.types import (
        LongType,
        MapType,
        StringType,
        StructField,
        StructType,
    )

    from connect_spark.bloblang.compiler import BATCH_KEY_COLS, META_COL
    from connect_spark.errors import current_source

    if df.isStreaming:
        # grouped applyInPandas is not available on an unaggregated
        # stream — evaluate per message via the Arrow-batched
        # `bloblang` method instead (batch functions degrade to
        # single-message semantics there; a streaming mapping that
        # needs real batch scope should land behind a batching
        # buffer, which materializes micro-batch frames)
        from connect_spark.bloblang.methods import METHODS

        src_eval = (
            src if mode == "mapping" else "root = this\n" + src
        )
        return df.select(
            METHODS["bloblang"](
                _fallback_payload(df), F.lit(src_eval)
            ).alias("content")
        )

    cols = df.columns
    doc_cols = [
        c for c in cols
        if not c.startswith("_") and c != META_COL
        and c not in BATCH_KEY_COLS
    ]
    content_col = (
        F.col("content").cast("string")
        if doc_cols == ["content"]
        else F.to_json(F.struct(*[F.col(c) for c in doc_cols]))
    )
    meta_col = (
        F.col(META_COL)
        if META_COL in cols
        else F.lit(None).cast("map<string,string>")
    )
    err_col = (
        F.col("_error") if "_error" in cols
        else F.lit(None).cast("string")
    )
    esrc_col = (
        F.col("_error_source") if "_error_source" in cols
        else F.lit(None).cast(
            "struct<label:string,name:string,path:string>")
    )
    if "_arrival_order" in cols:
        ord_col = F.col("_arrival_order").cast("long")
    elif "_gen_index" in cols:
        ord_col = F.col("_gen_index").cast("long")
    else:
        ord_col = F.monotonically_increasing_id()
    keys = [c for c in BATCH_KEY_COLS if c in cols]
    consumed = set(doc_cols) | set(keys) | {
        META_COL, "_error", "_error_source", "_arrival_order",
        "_gen_index",
    }
    # engine bookkeeping columns (branch document snapshots,
    # batching ids, ...) ride through per ROW — the evaluator never
    # sees them, deleted messages drop theirs
    carry = [c for c in cols if c not in consumed]
    work = df.select(
        *[F.col(c) for c in keys],
        *[F.col(c) for c in carry],
        content_col.alias("__content"),
        meta_col.alias("__meta"),
        err_col.alias("__err"),
        esrc_col.alias("__esrc"),
        ord_col.alias("__ord"),
    )
    if not keys:
        work = work.withColumn("__g", F.lit(0))
        group_cols = ["__g"]
    else:
        group_cols = keys
    # env() resolves against the PLAN-TIME driver environment (the
    # reference resolves env at config parse; executor workers must
    # not consult their own) — snapshot it into the closure
    env_snapshot = dict(os.environ)
    name, label, path = current_source()
    source = (label, name, path)
    esrc_struct = StructType([
        StructField("label", StringType()),
        StructField("name", StringType()),
        StructField("path", StringType()),
    ])
    out_fields = [
        work.schema[c] for c in keys
    ] + [
        work.schema[c] for c in carry
    ] + [
        StructField("content", StringType()),
        StructField(META_COL, MapType(StringType(), StringType())),
        StructField("_error", StringType()),
        StructField("_error_source", esrc_struct),
        StructField("_arrival_order", LongType()),
    ]
    out_schema = StructType(out_fields)

    def run(pdf):
        import pandas as pd

        from connect_spark.bloblang.pyeval import (
            Message,
            eval_batch,
            render_json,
        )

        pdf = pdf.sort_values("__ord").reset_index(drop=True)
        ords = list(pdf["__ord"])
        msgs = []
        for c, m, e, s in zip(
            pdf["__content"], pdf["__meta"], pdf["__err"], pdf["__esrc"]
        ):
            es = None
            if isinstance(s, dict):
                es = (s.get("label"), s.get("name"), s.get("path"))
            msgs.append(Message(
                c, dict(m) if m is not None else {},
                e if isinstance(e, str) else None, es,
            ))
        res = eval_batch(src, msgs, mode=mode, env=env_snapshot,
                         source=source)
        rows = []
        for out in res:
            meta_ser = {
                str(k): v if isinstance(v, str) else render_json(v)
                for k, v in out.meta.items()
            }
            es_val = None
            if out.error_source:
                es_val = {
                    "label": out.error_source[0],
                    "name": out.error_source[1],
                    "path": out.error_source[2],
                }
            row = {
                "content": out.content,
                META_COL: meta_ser,
                "_error": out.error,
                "_error_source": es_val,
                "_arrival_order": int(ords[out.index]),
            }
            for k in keys:
                row[k] = pdf[k].iloc[0]
            for k in carry:
                row[k] = pdf[k].iloc[out.index]
            rows.append(row)
        return pd.DataFrame(
            rows, columns=[f.name for f in out_fields]
        )

    # Pin the grouping exchange to the configured shuffle width: the
    # evaluator's cost is Python CPU per message, invisible to AQE,
    # which coalesces this shuffle by its (tiny) byte size — measured
    # at sf0.1: the whole interpreted stage collapsed onto 3 tasks.
    # An explicit numPartitions repartition on the group key is
    # exactly the pre-AQE plan (the groupBy reuses the partitioning,
    # no extra exchange) and spark.sql.shuffle.partitions stays the
    # deployment-sized knob at scale.
    n_shuffle = int(df.sparkSession.conf.get(
        "spark.sql.shuffle.partitions", "200"))
    # ... except when the frame carries no batch keys (r16): the
    # evaluator then groups by the constant __g, i.e. ONE pandas group
    # by construction — the hash exchange lands every row in a single
    # partition no matter the width, and each extra partition is an
    # empty applyInPandas task paying a Python-worker round trip
    # (measured: every interpreted step of a one-document reference
    # suite burned ~32 empty tasks; the same waste rides along at any
    # deployment size).  Keyed frames (batch ids) keep the full
    # deployment width — that spread is the r15 dynamic_batch_reduce
    # fix and the keys are many at scale.
    if group_cols == ["__g"]:
        n_shuffle = 1
    return (
        work.repartition(n_shuffle, *group_cols)
        .groupBy(*group_cols)
        .applyInPandas(run, schema=out_schema)
    )


def _compile_or_fallback(df: DataFrame, conf: Any, mode: str) -> DataFrame:
    """A `mapping`/`mutation` processor body: compile the Bloblang to
    Columns (the fast path Catalyst optimizes); forms the Column
    compiler can't express fall back to the dynamic per-message
    evaluator (bloblang/pyeval.py via the `bloblang` method's Arrow-
    batched UDF), producing the schemaless `content` JSON envelope.
    The fallback is announced once on the driver: it is the slow
    path, and a mapping meant for the hot path should compile."""
    if not isinstance(conf, str):
        raise PipelineConfigError(f"{mode} expects a Bloblang string")
    from pyspark.errors import AnalysisException

    from connect_spark.bloblang.compiler import BloblangError

    try:
        return compile_mapping(df, conf, mode=mode)
    except (BloblangError, AnalysisException) as exc:
        # fail fast if the dynamic evaluator can't parse it either —
        # a syntax error must not masquerade as a fallback — or uses
        # methods the evaluator lacks (a typo'd method would otherwise
        # degrade to silent per-row nulls)
        from connect_spark.bloblang.pyeval import unsupported_methods

        try:
            missing = unsupported_methods(conf)
        except Exception:
            raise exc from None
        if missing:
            raise BloblangError(
                f"{exc}; dynamic fallback unavailable too (methods not "
                f"implemented by the evaluator: {sorted(missing)})"
            ) from exc
        print(
            f"[connect_spark] {mode} fell back to the dynamic "
            f"evaluator (not Column-compilable: {exc}); output is the "
            "schemaless `content` JSON envelope"
        )
        return _dynamic_apply(df, conf, mode)


@processor("mapping")
def _p_mapping(df: DataFrame, conf: Any) -> DataFrame:
    """mapping.adoc:26 — Bloblang map producing a new document; e.g. a
    whole-document `root = <arbitrary expr>` falls back."""
    return _compile_or_fallback(df, conf, "mapping")


@processor("mutation")
def _p_mutation(df: DataFrame, conf: Any) -> DataFrame:
    """mutation.adoc:26 — in-place Bloblang transform; mutation is a
    mapping whose root starts as the document (eval_batch
    mode='mutation' materializes root as a lazy deep copy on first
    write)."""
    return _compile_or_fallback(df, conf, "mutation")


@processor("bloblang")
def _p_bloblang(df: DataFrame, conf: Any) -> DataFrame:
    """bloblang.adoc:26 — legacy alias of mapping."""
    return _p_mapping(df, conf)


def compile_check(src: str, df: DataFrame) -> Column:
    """A Bloblang boolean predicate bound to a frame: compiles to a
    Column when the frame's schema supports it; on raw content
    envelopes where this.<field> has no static schema, evaluates
    dynamically per message through the Arrow-batched value evaluator
    (the check/filter/switch/group_by predicate seam)."""
    from connect_spark.bloblang.compiler import (
        META_COL,
        BloblangError,
    )

    try:
        return compile_expression(src, df=df)
    except BloblangError:
        from pyspark.sql.functions import pandas_udf

        meta = (
            F.col(META_COL) if META_COL in df.columns
            else F.lit(None).cast("map<string,string>")
        )
        err = (
            F.col("_error") if "_error" in df.columns
            else F.lit(None).cast("string")
        )

        @pandas_udf("boolean")
        def _pred(content: pd.Series, m: pd.Series,
                  e: pd.Series) -> pd.Series:
            from connect_spark.bloblang.pyeval import eval_predicate

            out = []
            for c, mm, ee in zip(content, m, e):
                try:
                    v = eval_predicate(
                        src, c,
                        meta=mm if isinstance(mm, dict) else {},
                        error=ee,
                    )
                except Exception:  # noqa: BLE001 — failed check
                    v = None
                out.append(v is True)
            return pd.Series(out, dtype=bool)

        return _pred(F.col("content").cast("string"), meta, err)


@processor("filter")
def _p_filter(df: DataFrame, conf: Any) -> DataFrame:
    """Keep rows where the Bloblang predicate holds (the `mapping` +
    deleted() idiom, bloblang/about.adoc:355-363, as a convenience)."""
    return df.filter(compile_check(conf, df))


@processor("switch")
def _p_switch(df: DataFrame, conf: Any) -> DataFrame:
    """switch.adoc:38-73 — first matching `check` wins; each case's
    processors apply to its rows; unmatched rows pass through.

    Compiled as disjoint filters + per-case sub-pipelines + unionByName
    — Catalyst merges common scan subtrees, so the source is still
    read once under AQE."""
    if not isinstance(conf, list):
        raise PipelineConfigError("switch expects a list of cases")
    remaining = F.lit(True)
    branches: list[DataFrame] = []
    fallback_consumed = False
    for case in conf:
        check = case.get("check")
        procs = case.get("processors", [])
        cond = (
            compile_check(check, df) if check else F.lit(True)
        )
        branch = df.filter(remaining & cond)
        for p in procs:
            branch = apply_processor(branch, p)
        branches.append(branch)
        if check is None:
            fallback_consumed = True
            break
        remaining = remaining & ~F.coalesce(cond, F.lit(False))
    if not fallback_consumed:
        branches.append(df.filter(remaining))
    out = branches[0]
    for b in branches[1:]:
        out = out.unionByName(b, allowMissingColumns=True)
    return out


@processor("dedupe")
def _p_dedupe(df: DataFrame, conf: Any) -> DataFrame:
    """dedupe.adoc:53-78 — drop rows whose key was already seen;
    `order_by` makes the distributed winner deterministic.

    With a `cache:` resource (the reference's REQUIRED field), seen
    keys persist across pipeline invocations: within-frame first
    occurrence wins (arrival order when stamped), then keys already
    in the cache drop via a broadcast anti-join, and the surviving
    keys register. The cache transaction collects the frame's
    DISTINCT keys driver-side — the cache is the bounded shared
    state by design (caches/memory.adoc semantics); the streaming
    dedupe (streaming/dedupe.py) is the unbounded-corpus path."""
    from connect_spark.bloblang.compiler import compile_interpolation

    key = conf["key"] if isinstance(conf, dict) else conf
    key_col = (
        compile_interpolation(key, df=df)
        if isinstance(key, str) and "${!" in key
        else compile_expression(key, df=df)
    )
    if isinstance(conf, dict) and conf.get("cache"):
        from pyspark.sql import Window

        from connect_spark.plans.state_ext import get_cache_resource

        cache = get_cache_resource(conf["cache"])
        work = df.withColumn("_dd_key", key_col.cast("string"))
        order = (
            F.col("_arrival_order")
            if "_arrival_order" in df.columns
            else F.monotonically_increasing_id()
        )
        w = Window.partitionBy("_dd_key").orderBy(order)
        work = (
            work.withColumn("_dd_rn", F.row_number().over(w))
            .filter(F.col("_dd_rn") == 1)
            .drop("_dd_rn")
        )
        stored = cache.read()
        if stored is not None:
            seen = stored.select(
                F.col(cache.key).cast("string").alias("_dd_key")
            ).distinct()
            work = work.join(F.broadcast(seen), "_dd_key", "left_anti")
        work = work.localCheckpoint(eager=True)
        cache.add(
            work.select(F.col("_dd_key").alias(cache.key)).distinct()
        )
        return work.drop("_dd_key")
    order_by = None
    if isinstance(conf, dict) and conf.get("order_by"):
        order_by = [compile_expression(e) for e in conf["order_by"]]
    return dedupe(df, [key_col], order_by=order_by)


@processor("bounds_check")
def _p_bounds_check(df: DataFrame, conf: Any) -> DataFrame:
    """bounds_check.adoc:26."""
    field = compile_expression(conf.get("field", "this.content"))
    return bounds_check(
        df,
        field,
        min_len=conf.get("min_length"),
        max_len=conf.get("max_length"),
    )


@processor("select_parts")
def _p_select_parts(df: DataFrame, conf: Any) -> DataFrame:
    """select_parts.adoc:26 — batch == partition_by group here."""
    return select_parts(
        df,
        n=int(conf.get("count", 1)),
        partition_by=[compile_expression(e) for e in conf.get("partition_by", ["1"])],
        order_by=[compile_expression(e) for e in conf["order_by"]],
    )


@processor("archive")
def _p_archive(df: DataFrame, conf: Any) -> DataFrame:
    """archive.adoc:46-58 — fold groups into single messages."""
    fmt = conf.get("format", "lines")
    group_by = [compile_expression(e) for e in conf.get("group_by", [])] or [
        F.lit(1)
    ]
    value = compile_expression(conf.get("value", "this.content"))
    if fmt in ("lines", "concatenate"):
        sep = conf.get("separator", "\n" if fmt == "lines" else "")
        return archive_concat(df, group_by, value, sep=sep)
    if fmt == "json_array":
        return archive_json_array(df, group_by, value)
    if fmt in ("binary", "tar", "zip"):
        # file-based + blob formats (operators/archive_formats.py);
        # `path` interpolation names each entry, batch order is pinned
        # by `order_by` (a set-based plan must make it explicit)
        from connect_spark.operators.archive_formats import archive_format

        names = [f"_agrp{i}" for i in range(len(group_by))]
        work = df
        for n, g in zip(names, group_by):
            work = work.withColumn(n, g)
        path = (
            compile_expression(conf["path"]) if conf.get("path") else None
        )
        order = (
            compile_expression(conf["order_by"])
            if conf.get("order_by")
            else None
        )
        return archive_format(
            work, fmt, group_by=names, content=value, path=path,
            order_by=order,
        )
    raise PipelineConfigError(f"unsupported archive format {fmt!r}")


@processor("unarchive")
def _p_unarchive(df: DataFrame, conf: Any) -> DataFrame:
    """unarchive.adoc:26 — one message → many. On a raw content
    envelope (no explicit field) the message payload itself is the
    archive, and exploded elements BECOME the messages — json_array
    elements re-marshal individually (the reference's json.Marshal
    per element), carrying metadata/error/order columns through."""
    fmt = conf.get("format", "json_array")
    from connect_spark.bloblang.compiler import META_COL

    doc_cols = [
        c for c in df.columns
        if not c.startswith("_") and c != META_COL
    ]
    if doc_cols == ["content"] and not conf.get("field"):
        if fmt == "json_array":
            import json

            from connect_spark.bloblang.pyeval import render_json
            from connect_spark.boundary import row_udf

            def split_json(x):
                try:
                    arr = json.loads(x)
                except Exception:  # noqa: BLE001
                    return None
                if not isinstance(arr, list):
                    return None
                return [render_json(el) for el in arr]

            arr = row_udf("array<string>", split_json)(F.col("content"))
        elif fmt == "lines":
            arr = F.split(F.col("content"), "\n")
        else:
            arr = None
        if arr is not None:
            other = [c for c in df.columns if c != "content"]
            return df.select(
                *[F.col(c) for c in other],
                F.explode(arr).alias("content"),
            )
    field = compile_expression(conf.get("field", "this.archived"))
    if fmt == "json_array":
        arr = F.from_json(field, "array<string>")
        return unarchive(df, arr, out=conf.get("out", "part"))
    if fmt == "lines":
        return unarchive(
            df, F.split(field, "\n"), out=conf.get("out", "part")
        )
    if fmt in ("binary", "tar", "zip"):
        from connect_spark.operators.archive_formats import unarchive_format

        work = df.withColumn("_ablob", field.cast("binary"))
        return unarchive_format(
            work, fmt, col="_ablob", out=conf.get("out", "part")
        )
    raise PipelineConfigError(f"unsupported unarchive format {fmt!r}")


@processor("split")
def _p_split(df: DataFrame, conf: Any) -> DataFrame:
    """split.adoc:26 — re-chunk batches to at most `count` messages or
    `byte_size` bytes each. Batch == partition in this engine, so the
    target partition count derives from the actual row/byte total (one
    cheap agg — split is a sink-side sizing knob, the plan runs anyway)
    and the data is round-robin repartitioned to that many chunks."""
    if not isinstance(conf, dict):
        conf = {"count": int(conf)}
    count = int(conf.get("count", 0))
    byte_size = int(conf.get("byte_size", 0))
    if count <= 0 and byte_size <= 0:
        raise PipelineConfigError("split needs count or byte_size")
    if byte_size > 0:
        size_expr = conf.get("size", None)
        sz = (
            compile_expression(size_expr)
            if size_expr
            else F.length(F.to_json(F.struct(*df.columns)))
        )
        # ONE driver action for both totals (bytes + rows); when count
        # is also set, both limits apply — whichever needs more chunks
        # wins (split.adoc: each batch obeys every configured bound).
        row = df.agg(
            F.sum(sz).alias("b"), F.count(F.lit(1)).alias("n")
        ).collect()[0]
        total, n_rows = int(row["b"] or 0), int(row["n"])
        parts = max(1, -(-total // byte_size))
        if count > 0:
            parts = max(parts, -(-n_rows // count))
    else:
        parts = max(1, -(-df.count() // count))
    return df.repartition(parts)


@processor("insert_part")
def _p_insert_part(df: DataFrame, conf: Any) -> DataFrame:
    """insert_part.adoc:26 — inject a literal message (index semantics
    don't survive set-based plans; the row is simply unioned)."""
    from connect_spark.bloblang.compiler import Compiler
    from connect_spark.bloblang.parser import parse_expression

    comp = Compiler()
    row = {
        k: comp.col(parse_expression(v)) if isinstance(v, str) else F.lit(v)
        for k, v in conf["content"].items()
    }
    one = df.limit(0).sparkSession.range(1).select(
        *[c.alias(k) for k, c in row.items()]
    )
    return df.unionByName(one, allowMissingColumns=True)


@processor("while")
def _p_while(df: DataFrame, conf: Any) -> DataFrame:
    """while.adoc:26 — apply child processors to rows matching `check`
    until none match (or max_loops). Driver-side fixpoint loop over a
    lazy plan; each iteration is one narrow pass, the count() is the
    only action. The joining-streams intra-batch parent resolution
    (config/examples/joining_streams.yaml:23-60) is this pattern."""
    check = compile_check(conf["check"], df)
    max_loops = int(conf.get("max_loops", 10))
    procs = conf.get("processors", [])
    # r15: every iteration ends in a LAZY localCheckpoint that the
    # next round's check count materializes — one linear pass per
    # round.  The previous cadence (eager checkpoint every 4 rounds)
    # made each check count re-execute the filter+union chain since
    # the last cut: quadratic work between checkpoints, and a second
    # full materialization on top of the eager write.  checkpoint_
    # every is kept for configs that want longer lineage (0 = never).
    checkpoint_every = int(conf.get("checkpoint_every", 1))
    # passed ∪ matched doubles the partition count every iteration
    # (union concatenates partition lists, filters are narrow), which
    # compounds to 2^iters × base tasks — invisible at 1 base
    # partition, catastrophic at 32+. Coalesce (narrow, no shuffle)
    # pins every iteration back to the input's partition count.
    base_parts = max(1, df.rdd.getNumPartitions())
    for i in range(max_loops):
        if df.filter(check).limit(1).count() == 0:
            break
        matched = df.filter(check)
        passed = df.filter(~F.coalesce(check, F.lit(False)))
        for p in procs:
            matched = apply_processor(matched, p)
        df = passed.unionByName(
            matched, allowMissingColumns=True
        ).coalesce(base_parts)
        if checkpoint_every > 0 and (i + 1) % checkpoint_every == 0:
            df = df.localCheckpoint(eager=False)
    return df


@processor("compress")
def _p_compress(df: DataFrame, conf: Any) -> DataFrame:
    """compress.adoc:26 — gzip/zlib/bz2/lzma over a binary/string
    column via Arrow-batched UDF."""
    from connect_spark.functions.formats import compress_udf

    algo = conf.get("algorithm", "gzip") if isinstance(conf, dict) else conf
    field = conf.get("field", "content") if isinstance(conf, dict) else "content"
    return df.withColumn(field, compress_udf(algo)(F.col(field).cast("binary")))


@processor("decompress")
def _p_decompress(df: DataFrame, conf: Any) -> DataFrame:
    """decompress.adoc:26."""
    from connect_spark.functions.formats import decompress_udf

    algo = conf.get("algorithm", "gzip") if isinstance(conf, dict) else conf
    field = conf.get("field", "content") if isinstance(conf, dict) else "content"
    return df.withColumn(field, decompress_udf(algo)(F.col(field)))


@processor("grok")
def _p_grok(df: DataFrame, conf: Any) -> DataFrame:
    """grok.adoc:26 — %{PATTERN:name} extraction into top-level
    columns (the reference replaces the doc with the parsed object)."""
    from connect_spark.functions.formats import grok_extract, grok_to_regex

    field = conf.get("field", "content")
    patterns = (
        list(conf["expressions"])
        if "expressions" in conf
        else [conf["pattern"]]
    )
    # reference semantics: try each expression IN ORDER; the first
    # whose regex matches provides the extraction
    parsed_by_pat = []
    all_names: list[str] = []
    for pat in patterns:
        regex, names = grok_to_regex(pat)
        parsed_by_pat.append(
            (F.col(field).rlike(regex), grok_extract(F.col(field), pat), names)
        )
        all_names += [n for n in names if n not in all_names]
    cols = {}
    for n in all_names:
        expr = None
        for matched, parsed, names in parsed_by_pat:
            val = parsed[n] if n in names else F.lit(None)
            expr = (
                F.when(matched, val)
                if expr is None
                else expr.when(matched, val)
            )
        cols[n] = expr
    return df.withColumns(cols)


@processor("text_chunker")
def _p_text_chunker(df: DataFrame, conf: Any) -> DataFrame:
    """text_chunker.adoc:85-101: replaces each doc with one row per
    chunk in a `chunk` column. Strategies: `token` (default; pure
    Column algebra), `recursive_character` (separator-hierarchy
    recursion + overlap), `markdown` (header sections — chunk column
    is the body, a `chunk_header` column carries the header)."""
    field = conf.get("field", "content")
    size = int(conf.get("chunk_size", 64))
    strategy = conf.get("strategy", "token")
    if strategy == "token":
        from connect_spark.functions.formats import text_chunks

        return df.withColumn(
            "chunk", F.explode(text_chunks(F.col(field), size))
        ).drop(field)
    from connect_spark.text.chunker import chunk_column

    overlap = int(conf.get("chunk_overlap", 100))
    chunks = chunk_column(
        F.col(field).cast("string"),
        strategy,
        chunk_size=size,
        chunk_overlap=overlap,
        separators=conf.get("separators"),
    )
    if strategy == "markdown":
        return (
            df.withColumn("_sec", F.explode(chunks))
            .withColumn("chunk_header", F.col("_sec.header"))
            .withColumn("chunk", F.col("_sec.body"))
            .drop("_sec", field)
        )
    return df.withColumn("chunk", F.explode(chunks)).drop(field)


@processor("json_schema")
def _p_json_schema(df: DataFrame, conf: Any) -> DataFrame:
    """json_schema.adoc:26 — validation failures set _error."""
    from connect_spark.functions.jsonschema import json_schema_validate

    return json_schema_validate(
        df, conf.get("field", "content"), conf["schema"]
    )


@processor("catch")
def _p_catch(df: DataFrame, conf: Any) -> DataFrame:
    """catch.adoc:26 — child processors run only on errored rows, then
    the error flag clears."""
    from connect_spark.errors import catch_processor

    steps = [
        (lambda d, s=spec: apply_processor(d, s)) for spec in (conf or [])
    ]
    return catch_processor(df, *steps)


@processor("try")
def _p_try(df: DataFrame, conf: Any) -> DataFrame:
    """try.adoc:26 — children apply only to healthy rows."""
    from connect_spark.errors import try_processor

    steps = [
        (lambda d, s=spec: apply_processor(d, s)) for spec in (conf or [])
    ]
    return try_processor(df, *steps)


@processor("string_split")
def _p_string_split(df: DataFrame, conf: Any) -> DataFrame:
    """string_split (internal/impl/text/processor_string_split.go):
    split a string column into one message per piece."""
    field = conf.get("field", "content") if isinstance(conf, dict) else "content"
    delim = conf.get("delimiter", "\n") if isinstance(conf, dict) else conf
    import re as _re

    return df.withColumn(
        field, F.explode(F.split(F.col(field), _re.escape(delim)))
    )


@processor("try_catch")
def _p_try_catch(df: DataFrame, conf: Any) -> DataFrame:
    """try_catch.adoc:26 — try block + catch block in one processor."""
    df = _p_try(df, conf.get("try", []))
    return _p_catch(df, conf.get("catch", []))


@processor("cache")
def _p_cache(df: DataFrame, conf: Any) -> DataFrame:
    """cache processor (cache.adoc:167-169) against a path-backed
    cache resource: operators get (lookup join) / set / add (insert
    side-effect, rows pass through) / delete. `ttl` (seconds —
    cached.adoc:26) expires entries; `multilevel: true` fronts the
    parquet store with a driver-memory snapshot."""
    from connect_spark.state import ParquetKVCache, TwoLevelKVCache

    if conf.get("resource"):
        # labeled backend from `cache_resources:` (caches/*.adoc)
        from connect_spark.plans.state_ext import get_cache_resource

        cache = get_cache_resource(conf["resource"])
        op = conf.get("operator", "get")
        if op == "get":
            return cache.get(df, on=conf.get("on", cache.key))
        if op in ("set", "add"):
            key_col = conf.get("on", cache.key)
            rows = df.select(
                F.col(key_col).alias(cache.key),
                *[F.col(c) for c in conf.get("value_columns", [])],
            )
            (cache.set if op == "set" else cache.add)(rows)
            return df
        if op == "delete":
            key_col = conf.get("on", cache.key)
            cache.delete(df.select(F.col(key_col).alias(cache.key)))
            return df
        raise PipelineConfigError(f"unknown cache operator {op!r}")

    cls = TwoLevelKVCache if conf.get("multilevel") else ParquetKVCache
    # cache instances are process-global per (class, path, key, ttl):
    # a fresh TwoLevelKVCache every plan build would never serve an L1
    # hit — the memory tier only pays off when it outlives the build
    ckey = (cls.__name__, conf["path"], conf.get("key_column", "key"),
            conf.get("ttl"))
    cache = _CACHE_INSTANCES.get(ckey)
    if cache is None:
        cache = _CACHE_INSTANCES.setdefault(ckey, cls(
            df.sparkSession,
            conf["path"],
            key=conf.get("key_column", "key"),
            ttl=conf.get("ttl"),
        ))
    op = conf.get("operator", "get")
    if op == "get":
        return cache.get(df, on=conf.get("on", cache.key))
    if op in ("set", "add"):
        key_col = conf.get("on", cache.key)
        rows = df.select(
            F.col(key_col).alias(cache.key),
            *[F.col(c) for c in conf.get("value_columns", [])],
        )
        (cache.set if op == "set" else cache.add)(rows)
        return df
    if op == "delete":
        key_col = conf.get("on", cache.key)
        cache.delete(df.select(F.col(key_col).alias(cache.key)))
        return df
    raise PipelineConfigError(f"unknown cache operator {op!r}")


@processor("javascript")
def _p_javascript(df: DataFrame, conf: Any) -> DataFrame:
    """javascript.adoc:26 — run an ES5-subset script per message with
    the benthos.v0_msg_* API (operators/javascript.py)."""
    from connect_spark.operators.javascript import javascript_udf

    code = conf["code"] if isinstance(conf, dict) else conf
    field = conf.get("field", "content") if isinstance(conf, dict) else "content"
    return df.withColumn(field, javascript_udf(code)(F.col(field).cast("string")))


@processor("crash")
def _p_crash(df: DataFrame, conf: Any) -> DataFrame:
    """crash.adoc:26 — deliberately abort the pipeline when a row
    matches (or unconditionally). Lazy + distributed: the check rides
    in a filter via raise_error, so it fires wherever the data is."""
    msg = conf.get("message", "crash processor triggered") if isinstance(
        conf, dict
    ) else (conf or "crash processor triggered")
    cond = (
        F.coalesce(compile_expression(conf["when"]), F.lit(False))
        if isinstance(conf, dict) and "when" in conf
        else F.lit(True)
    )
    guard = F.when(cond, F.raise_error(F.lit(msg)).cast("boolean")).otherwise(
        F.lit(True)
    )
    return df.filter(guard)


@processor("resource")
def _p_resource(df: DataFrame, conf: Any) -> DataFrame:
    """resource.adoc:26 — apply a named processor from the config's
    `processor_resources` list."""
    name = conf if isinstance(conf, str) else conf["name"]
    spec = _RESOURCES.get(name)
    if spec is None:
        raise PipelineConfigError(
            f"unknown processor resource {name!r}; known: {sorted(_RESOURCES)}"
        )
    return apply_processor(df, spec)


# populated by Pipeline.dataframe() from config[processor_resources]
_RESOURCES: dict[str, Any] = {}
_CACHE_INSTANCES: dict[tuple, Any] = {}

# sql_insert writes registered at plan-build time, performed at action
# time by Pipeline.run()/flush_writes() — never by dataframe() itself.
_PENDING_WRITES: list[tuple[DataFrame, dict]] = []


@processor("jq")
def _p_jq(df: DataFrame, conf: Any) -> DataFrame:
    """jq.adoc:26 — run a jq filter over each message's JSON content;
    multiple filter outputs expand the batch (explode)."""
    from connect_spark.functions.jq import jq_udf

    query = conf["query"] if isinstance(conf, dict) else conf
    field = conf.get("field", "content") if isinstance(conf, dict) else "content"
    from connect_spark.errors import flag_error

    src = F.col(field).cast("string")
    out = df.withColumn("_jq", jq_udf(query)(src))
    # jq.adoc:77 — on failure (udf yields null: filter error or
    # malformed JSON) the message remains UNCHANGED and is flagged,
    # surviving for DLQ routing; explode_outer (not explode) so
    # zero-output filters don't silently drop rows either.
    out = flag_error(
        out, F.col("_jq").isNull(), f"jq: query failed: {query}"
    )
    return (
        out.withColumn(
            field,
            F.explode_outer(
                F.when(F.col("_jq").isNull(), F.array(src)).otherwise(
                    F.col("_jq")
                )
            ),
        )
        .drop("_jq")
    )


@processor("jmespath")
def _p_jmespath(df: DataFrame, conf: Any) -> DataFrame:
    """jmespath.adoc:26 — execute a JMESPath query on each message's
    JSON content and replace the message with the result document.
    One result per message (no batch expansion, unlike jq); a failed
    query/parse leaves the message unchanged and flags `_error`."""
    from connect_spark.errors import flag_error
    from connect_spark.functions.jmespath_eval import jmespath_udf

    query = conf["query"] if isinstance(conf, dict) else conf
    field = conf.get("field", "content") if isinstance(conf, dict) else "content"
    src = F.col(field).cast("string")
    out = df.withColumn("_jmes", jmespath_udf(query)(src))
    out = flag_error(
        out, F.col("_jmes").isNull(), f"jmespath: query failed: {query}"
    )
    return out.withColumn(
        field, F.coalesce(F.col("_jmes"), src)
    ).drop("_jmes")


@processor("awk")
def _p_awk(df: DataFrame, conf: Any) -> DataFrame:
    """awk.adoc:26 — run an AWK program over each message's content
    (pure-Python interpreter, operators/awk.py)."""
    from connect_spark.operators.awk import awk_process

    return awk_process(
        df,
        conf["program"],
        col=conf.get("field", "content"),
        fs=conf.get("fs"),
    )


@processor("subprocess")
def _p_subprocess(df: DataFrame, conf: Any) -> DataFrame:
    """subprocess.adoc:26 — pipe a column through an external program
    (line-per-row contract)."""
    from connect_spark.operators.subprocess_op import pipe_through

    return pipe_through(
        df,
        conf.get("field", "content"),
        [conf["name"], *conf.get("args", [])],
        out=conf.get("out", "piped"),
    )


@processor("noop")
def _p_noop(df: DataFrame, conf: Any) -> DataFrame:
    """noop.adoc:25."""
    return df


@processor("metric")
def _p_metric(df: DataFrame, conf: Any) -> DataFrame:
    """metric.adoc:26 — custom metrics from message values, computed
    JVM-side via df.observe during the pipeline's own action (see
    observability.metric_observe); read with get_metric(name)."""
    from connect_spark.observability import metric_observe

    value = (
        compile_expression(conf["value"]) if conf.get("value") else None
    )
    return metric_observe(df, conf["name"], conf["type"], value)


@processor("log")
def _p_log(df: DataFrame, conf: Any) -> DataFrame:
    """log.adoc:26 — observability is a plan no-op here (Spark
    listeners carry metrics); kept for config compatibility."""
    return df


@processor("sleep")
def _p_sleep(df: DataFrame, conf: Any) -> DataFrame:
    """sleep.adoc:26 — delay message flow by `duration`. Per-message
    sleeps in a vectorized engine serialize to per-Arrow-batch sleeps
    (the batch is the flow unit); rows pass through unchanged. A
    duration of 0 / missing keeps the old no-op behavior."""
    from connect_spark.operators.batching import parse_period

    duration = (
        conf.get("duration", "") if isinstance(conf, dict) else str(conf)
    )
    seconds = parse_period(duration) if duration else 0.0
    if seconds <= 0:
        return df
    schema = df.schema

    def run(batches):
        import time as _t

        for pdf in batches:
            _t.sleep(seconds)
            yield pdf

    return df.mapInPandas(run, schema)


@processor("sql_raw")
def _p_sql_raw(df: DataFrame, conf: Any) -> DataFrame:
    """sql_raw.adoc:26 — arbitrary SQL over the flowing data. The
    reference targets an external DB via driver/dsn; this engine IS
    the query engine, so the batch registers as a temp view (`batch`,
    override with `view`) and the query runs through spark.sql —
    Catalyst optimizes it like any other plan. Positional `?` args
    bind LITERALS (Spark parameterized SQL); per-message args are a
    join by construction (see operators/joins.py enrichment_join).
    `exec_only: true` runs the statement for effect and passes the
    batch through (sql_raw.adoc exec_only)."""
    view = conf.get("view", "batch")
    df.createOrReplaceTempView(view)
    args = conf.get("args")
    res = df.sparkSession.sql(conf["query"], args=args)
    if conf.get("exec_only"):
        return df
    return res


@processor("sql_insert")
def _p_sql_insert(df: DataFrame, conf: Any) -> DataFrame:
    """sql_insert.adoc:26 — append rows into a table. The engine's
    tables are parquet paths (lakehouse convention); `columns` selects
    what lands. Passes the batch through unchanged, matching the
    reference's processor (not output) semantics.

    The write is DEFERRED to action time: plan build only registers
    it, and ``Pipeline.run()`` / ``flush_writes()`` performs it once
    per execution. Writing at build time would re-append on every
    ``dataframe()`` call or dynamic-plan rebuild — duplicate rows in
    the target — and would write even for plans never executed."""
    cols = conf.get("columns")
    out = df.select(*cols) if cols else df
    _PENDING_WRITES.append((out, dict(conf)))
    return df


@processor("rate_limit")
def _p_rate_limit(df: DataFrame, conf: Any) -> DataFrame:
    """rate_limit.adoc:26 — throttle by a named rate_limit resource
    (rate_limits/local.adoc). The labeled (count, interval) config is
    resolved driver-side; each executor worker runs its own bucket,
    matching the reference's per-instance scoping (state/ratelimit.py).
    """
    from connect_spark.state.ratelimit import get_rate_limit, throttle

    label = conf["resource"] if isinstance(conf, dict) else str(conf)
    res = get_rate_limit(label)
    return throttle(df, count=res.count, interval=res.interval, label=label)


def apply_processor(df: DataFrame, spec: Any) -> DataFrame:
    # the reference's YAML puts `label` beside the component key in
    # the same mapping (`- label: foo\n  mapping: ...`); strip it
    label = None
    if isinstance(spec, dict) and "label" in spec and len(spec) == 2:
        label = spec["label"]
        spec = {k: v for k, v in spec.items() if k != "label"}
    if not isinstance(spec, dict) or len(spec) != 1:
        raise PipelineConfigError(
            f"processor spec must be a single-key mapping, got {spec!r}"
        )
    (name, conf), = spec.items()
    if label is None and isinstance(conf, dict):
        label = conf.get("label")
    from connect_spark.plans.templates import expand_component

    name, conf = expand_component(name, conf, "processor")
    fn = PROCESSORS.get(name)
    if fn is None:
        raise PipelineConfigError(
            f"unknown processor {name!r}; known: {sorted(PROCESSORS)}"
        )
    # component provenance for error_source_* (functions.adoc:523-583):
    # any flag_error inside this dispatch records which component
    # (kind + user label) flagged the row
    from connect_spark.errors import source_context

    with source_context(name=name, label=label):
        return fn(df, conf)


# --------------------------------------------------------------------
# inputs
# --------------------------------------------------------------------


def _build_input(spark: SparkSession, conf: dict[str, Any]) -> DataFrame:
    # `label` and an attached `processors` list may sit BESIDE the
    # kind (inputs/<any>.adoc; the reference's site_analytics /
    # joining_streams examples) — normalize to the nested shape
    if isinstance(conf, dict) and len(conf) > 1 and (
        "processors" in conf or "label" in conf
    ):
        conf = dict(conf)
        conf.pop("label", None)
        sibling_procs = conf.pop("processors", None)
        if sibling_procs:
            (kind, c), = conf.items()
            c = dict(c) if isinstance(c, dict) else c
            if isinstance(c, dict):
                c["processors"] = list(
                    c.get("processors", [])) + list(sibling_procs)
            conf = {kind: c}
    if len(conf) != 1:
        raise PipelineConfigError("input must have exactly one component")
    (kind, c), = conf.items()
    # input-attached processors (every input documents a `processors`
    # list that runs before the shared pipeline — inputs/<any>.adoc):
    # strip them here, apply after the input builds. A template
    # expansion may itself emit a `processors` list — those run first
    # (they belong to the input), then the user-attached ones.
    input_procs: list = []
    if isinstance(c, dict) and c.get("processors"):
        c = dict(c)
        input_procs = c.pop("processors")
    from connect_spark.plans.templates import expand_component

    kind, c = expand_component(kind, c, "input")
    if isinstance(c, dict) and c.get("processors"):
        c = dict(c)
        input_procs = c.pop("processors") + input_procs
    if input_procs:
        df = _build_input(spark, {kind: c})
        for spec in input_procs:
            df = apply_processor(df, spec)
        return df
    if kind == "read_until":
        # read_until (docs/.../inputs/read_until.adoc:26): consume the
        # child input until the check fires. A set-based plan needs an
        # explicit order; rows strictly before the first match survive
        # (include_last keeps the triggering row, matching the
        # reference's default).
        child = _build_input(spark, c["input"])
        order = compile_expression(c["order_by"])
        check = compile_expression(c["check"])
        include_last = bool(c.get("include_last", True))
        marked = child.withColumn("_ord", order)
        first_match = marked.filter(check).agg(
            F.min("_ord").alias("_first")
        )
        joined = marked.crossJoin(F.broadcast(first_match))
        cond = (
            F.col("_first").isNull()
            | (F.col("_ord") <= F.col("_first"))
            if include_last
            else F.col("_first").isNull() | (F.col("_ord") < F.col("_first"))
        )
        return joined.filter(cond).drop("_ord", "_first")
    if kind == "dynamic":
        # dynamic input (docs/.../inputs/dynamic.adoc): a labeled
        # broker whose component set is runtime-mutable via the REST
        # control plane in plans/dynamic.py; each plan (re)build reads
        # the current set.
        from connect_spark.plans.dynamic import build_dynamic_input

        return build_dynamic_input(spark, c)
    if kind in ("broker", "sequence"):
        # broker (parallel merge) / sequence (serial concat) inputs
        # (docs/.../inputs/{broker,sequence}.adoc:26): both become a
        # union of the child plans — order has no meaning in a
        # set-based plan, so the two collapse to the same operator.
        children = [
            _build_input(spark, child) for child in c["inputs"]
        ]
        out = children[0]
        for child in children[1:]:
            out = out.unionByName(child, allowMissingColumns=True)
        return out
    if kind == "parquet":
        return spark.read.parquet(c["path"])
    if kind == "csv":
        return spark.read.options(
            header=str(c.get("parse_header_row", True)).lower(),
            inferSchema="true",
        ).csv(c["path"])
    if kind == "json_documents":
        return spark.read.json(c["path"])
    if kind == "file":
        # docs/.../inputs/file.adoc:26 with lines scanner: one row per
        # line, content column — the reference's raw-bytes message.
        return spark.read.text(c["path"]).withColumnRenamed(
            "value", "content"
        )
    if kind == "generate":
        # docs/.../inputs/generate.adoc:96-155 — Bloblang-generated rows.
        count = int(c.get("count", 1))
        df = spark.range(count).withColumnRenamed("id", "_gen_index")
        return compile_mapping(df, c["mapping"], mode="mapping")
    if kind == "table":
        from connect_spark.catalog import load_table

        return load_table(spark, c["sf_dir"], c["name"])
    if kind == "generate_stream":
        # streaming generate input (docs/.../inputs/generate.adoc) via
        # the custom Python DataSource (sources/generate_stream.py)
        from connect_spark.sources.generate_stream import GenerateDataSource

        spark.dataSource.register(GenerateDataSource)
        reader = spark.readStream.format("generate_stream")
        for k, v in c.items():
            reader = reader.option(k, v)
        return reader.load()
    if kind == "cdc_wal":
        # the streaming CDC source (sources/cdc_stream.py): snapshot →
        # WAL with checkpointed {snap, lsn} offsets. Options: path
        # (WAL dir), snapshot_path, snapshot_lsn, max_records_per_batch.
        from connect_spark.sources.cdc_stream import register as _reg_cdc

        _reg_cdc(spark)
        reader = spark.readStream.format("cdc_wal")
        for k, v in c.items():
            reader = reader.option(k, v)
        return reader.load()
    if kind == "subprocess":
        # subprocess input (docs/.../inputs/subprocess.adoc:26): run a
        # command once, one message per stdout line. Driver-side and
        # bounded by design — the reference's input is a single local
        # process too.
        import subprocess as _sp

        res = _sp.run(
            [c["name"], *c.get("args", [])],
            capture_output=True, text=True, check=True,
        )
        lines = [
            (line,) for line in res.stdout.split("\n") if line != ""
        ]
        return spark.createDataFrame(lines, "content STRING")
    if kind == "mq_bus":
        # replayable local broker (sources/mq.py::MessageBus): consume
        # with an optional NATS-style subject filter
        from connect_spark.sources.mq import MessageBus

        bus = MessageBus(c["path"])
        return bus.subscribe(
            spark,
            subject_pattern=c.get("subject"),
            streaming=bool(c.get("streaming", True)),
        )
    if kind == "parquet_stream":
        schema = spark.read.parquet(c["path"]).schema
        reader = spark.readStream.schema(schema)
        if c.get("max_files_per_trigger"):
            reader = reader.option(
                "maxFilesPerTrigger", c["max_files_per_trigger"]
            )
        return reader.parquet(c["path"])
    if kind in INPUT_KINDS:
        return INPUT_KINDS[kind](spark, c)
    raise PipelineConfigError(f"unknown input {kind!r}")


# --------------------------------------------------------------------
# outputs
# --------------------------------------------------------------------


def _apply_output_batching(df: DataFrame, bconf: dict) -> DataFrame:
    """Per-output batching policy (every output documents a `batching`
    block: count/byte_size/period/check + post-batch processors —
    e.g. outputs/kafka.adoc). Batches are assigned set-based
    (operators/batching.py), post-batch processors run with the
    `batch_id` column in scope, and the frame is repartitioned on
    batch_id so a partition-granular sink (one request per partition —
    the transport outputs' delivery unit) never splits a batch across
    requests."""
    from connect_spark.operators.batching import BatchPolicy, assign_batches

    if bconf.get("period") and not bconf.get("ts"):
        raise PipelineConfigError(
            "output batching with `period` needs `ts: <timestamp "
            "column>` — a set-based plan buckets by event time, not "
            "arrival time"
        )
    try:
        policy = BatchPolicy(
            count=int(bconf.get("count", 0)),
            byte_size=int(bconf.get("byte_size", 0)),
            period=bconf.get("period"),
            check=(
                compile_expression(bconf["check"])
                if bconf.get("check") else None
            ),
            size=(
                F.length(F.to_json(F.struct("*")))
                if bconf.get("byte_size") else None
            ),
        )
    except ValueError as exc:
        raise PipelineConfigError(f"output batching: {exc}") from exc
    # the reference's batching block has no ordering field (arrival
    # order); the set-based analog defaults to the frame's physical
    # order when none is configured
    order_by = bconf.get("order_by") or [F.monotonically_increasing_id()]
    out = assign_batches(
        df,
        policy,
        order_by=order_by,
        partition_by=bconf.get("partition_by", []),
        ts=bconf.get("ts"),
    )
    for spec in bconf.get("processors", []):
        # the reference runs post-batch processors on EACH formed
        # batch; the batch-level aggregate (archive) therefore folds
        # per batch unless the user grouped explicitly
        if isinstance(spec, dict) and "archive" in spec:
            aconf = dict(spec["archive"] or {})
            if not aconf.get("group_by"):
                aconf["group_by"] = ["this.batch_id"]
            spec = {**spec, "archive": aconf}
        out = apply_processor(out, spec)
    if "batch_id" in out.columns:
        out = out.repartition(F.col("batch_id"))
        if not bconf.get("keep_batch_id"):
            # hash partitioning keeps each batch WHOLE in one partition
            # but can co-locate several batches per partition, so
            # partition-granular sinks (one request per partition) need
            # the id to split requests per batch (round-4 ADVICE #3).
            # Carry it under a reserved name; _run_output drops it for
            # sinks that don't split (file writers etc.).
            out = out.withColumnRenamed("batch_id", "_cs_batch_id")
    return out


def _streaming_safe_output(
    conf: dict[str, Any], resources: dict[str, dict] | None = None
) -> dict[str, Any]:
    """Rewrite an output tree for continuous per-micro-batch delivery
    (Pipeline.start): file writers default to append so micro-batches
    ACCUMULATE (their batch default, overwrite, would erase prior
    batches), memory outputs are rejected (silently discarding every
    batch), combinators (broker/switch/fallback/retry/...) rewrite
    recursively so nested children get the same treatment, and
    `resource` outputs are resolved from the pipeline's named-output
    namespace and inlined so a parquet/csv/json_lines (or memory) sink
    hiding behind a resource gets the same append-default/rejection
    treatment (round-4 ADVICE finding #2)."""
    (kind, c), = conf.items()
    if kind == "resource":
        from connect_spark.plans.cdc_ext import lookup_output_resource

        name = c if isinstance(c, str) else c["name"]
        spec = (resources or {}).get(name) or lookup_output_resource(name)
        if spec is None:
            raise PipelineConfigError(
                f"unknown output resource {name!r} in streaming output"
            )
        # inline the resolved spec: delivery no longer consults the
        # registry for this node, and the rewrite below applies to it
        return _streaming_safe_output(dict(spec), resources)
    if kind == "memory":
        raise PipelineConfigError(
            "start(): a memory output would discard every micro-batch; "
            "use run_streaming_to_memory() for a queryable in-memory "
            "sink"
        )
    if kind in ("parquet", "csv", "json_lines") and isinstance(
        c, dict
    ) and "mode" not in c:
        return {kind: {**c, "mode": "append"}}
    if isinstance(c, dict):
        out = dict(c)
        for child_key in ("output", "dlq"):
            if isinstance(out.get(child_key), dict):
                out[child_key] = _streaming_safe_output(
                    out[child_key], resources
                )
        if isinstance(out.get("outputs"), list):
            out["outputs"] = [
                _streaming_safe_output(cc, resources)
                if isinstance(cc, dict) else cc
                for cc in out["outputs"]
            ]
        if isinstance(out.get("cases"), list):
            out["cases"] = [
                dict(case, output=_streaming_safe_output(
                    case["output"], resources))
                if isinstance(case, dict)
                and isinstance(case.get("output"), dict) else case
                for case in out["cases"]
            ]
        return {kind: out}
    if isinstance(c, list):  # fallback / switch-as-list
        rewritten = []
        for cc in c:
            if isinstance(cc, dict) and "output" in cc and isinstance(
                cc["output"], dict
            ):  # switch case {check, output}
                rewritten.append(
                    dict(cc, output=_streaming_safe_output(
                        cc["output"], resources))
                )
            elif isinstance(cc, dict) and len(cc) == 1:
                rewritten.append(_streaming_safe_output(cc, resources))
            else:
                rewritten.append(cc)
        return {kind: rewritten}
    return conf


def _run_output(df: DataFrame, conf: dict[str, Any] | None) -> DataFrame | None:
    if conf is None:
        return df
    if isinstance(conf, dict) and len(conf) > 1 and (
        "processors" in conf or "label" in conf
    ):
        # sibling `processors`/`label` beside the kind (the
        # reference's stateful_polling broker-outputs shape)
        conf = dict(conf)
        conf.pop("label", None)
        sibling_procs = conf.pop("processors", None)
        if sibling_procs:
            for spec in sibling_procs:
                df = apply_processor(df, spec)
    (kind, c), = conf.items()
    # output-attached processors run right before delivery
    # (outputs/<any>.adoc `processors` list)
    if isinstance(c, dict) and c.get("processors"):
        c = dict(c)
        for spec in c.pop("processors"):
            df = apply_processor(df, spec)
    if isinstance(c, dict) and c.get("batching"):
        c = dict(c)
        df = _apply_output_batching(df, c.pop("batching"))
        if "_cs_batch_id" in df.columns and kind not in BATCH_SPLIT_KINDS:
            df = df.drop("_cs_batch_id")
    if kind == "memory":
        return df
    if kind == "parquet":
        writer = df.write.mode(c.get("mode", "overwrite"))
        if c.get("partition_by"):
            writer = writer.partitionBy(*c["partition_by"])
        writer.parquet(c["path"])
        return None
    if kind == "csv":
        df.write.mode(c.get("mode", "overwrite")).options(header="true").csv(
            c["path"]
        )
        return None
    if kind == "json_lines":
        df.write.mode(c.get("mode", "overwrite")).json(c["path"])
        return None
    if kind == "stdout":
        df.show(int(c.get("limit", 20)) if isinstance(c, dict) else 20,
                truncate=False)
        return None
    if kind == "drop":
        # drop output (outputs/drop.adoc): execute the plan, discard
        # results — the noop sink, used to terminate side-effect-only
        # pipelines
        df.write.mode("overwrite").format("noop").save()
        return None
    if kind == "reject":
        # reject output (outputs/reject.adoc): any row reaching this
        # sink is an error — fail loudly with a sample
        sample = df.limit(5).collect()
        if sample:
            raise PipelineConfigError(
                f"reject output received rows (sample: {sample[:2]})"
            )
        return None
    if kind == "dynamic":
        # dynamic output (docs/.../outputs/dynamic.adoc): fan_out to
        # the runtime-mutable labeled output set (plans/dynamic.py)
        from connect_spark.plans.dynamic import run_dynamic_output

        return run_dynamic_output(df, c)
    if kind == "mq_bus":
        # publish rows to the local broker: subject from a column or a
        # fixed string; payload = the row as JSON (outputs/nats.adoc
        # shape). Delegates to the shared partition-publish
        # implementation (plans/mq_ext.py::publish_df) — per executor
        # partition, nothing collected, lock-serialized WAL segments.
        from connect_spark.plans.mq_ext import publish_df

        subject_col = c.get("subject_column")
        payload_cols = [
            col for col in df.columns if col != subject_col
        ]
        publish_df(
            df,
            c["path"],
            F.col(subject_col) if subject_col
            else c.get("subject", "events"),
            payload_cols=payload_cols,
        )
        return None
    if kind in OUTPUT_KINDS:
        return OUTPUT_KINDS[kind](df, c)
    raise PipelineConfigError(f"unknown output {kind!r}")


# --------------------------------------------------------------------
# pipeline
# --------------------------------------------------------------------


@dataclass
class Pipeline:
    spark: SparkSession
    config: dict[str, Any]

    def dataframe(self) -> DataFrame:
        """The composed lazy plan (input + processors, no output)."""
        ensure_session(self.spark)
        # register named processor resources for `resource` lookups
        # (driver-side, plan-build time only)
        _RESOURCES.clear()
        _PENDING_WRITES.clear()
        for item in self.config.get("processor_resources", []):
            item = dict(item)
            label = item.pop("label")
            _RESOURCES[label] = item
        # labeled rate_limit resources (rate_limits/local.adoc)
        from connect_spark.state.ratelimit import register_rate_limit

        for item in self.config.get("rate_limit_resources", []):
            item = dict(item)
            label = item.pop("label")
            register_rate_limit(label, item)
        # named input/output resources (inputs/resource.adoc,
        # outputs/resource.adoc) — looked up by the `resource` kinds
        from connect_spark.plans.cdc_ext import (
            _INPUT_RESOURCES,
            _OUTPUT_RESOURCES,
        )

        _INPUT_RESOURCES.clear()
        _OUTPUT_RESOURCES.clear()
        for item in self.config.get("input_resources", []):
            item = dict(item)
            _INPUT_RESOURCES[item.pop("label")] = item
        for item in self.config.get("output_resources", []):
            item = dict(item)
            _OUTPUT_RESOURCES[item.pop("label")] = item
        # snapshot THIS pipeline's resource namespace — delivery-time
        # `resource` lookups (run()/start() foreachBatch) resolve
        # against the snapshot, so a later pipeline's build repopulating
        # the module registries can't wipe or shadow a running stream's
        # named resources (round-4 ADVICE finding #1)
        self._input_res = dict(_INPUT_RESOURCES)
        self._output_res = dict(_OUTPUT_RESOURCES)
        # labeled cache resources (caches/*.adoc) for `cache`,
        # `cached` and `dedupe` processors (plans/state_ext.py)
        from connect_spark.plans.state_ext import register_cache_resources

        register_cache_resources(self.spark, self.config)
        # inline template definitions (templating.adoc; the reference
        # imports template files with -t — inline serves the same
        # role). Inline registrations are scoped to THIS build:
        # snapshot the registry and restore after, so one config's
        # inline templates can't leak into (or shadow components of) a
        # later config. Process-global register_template survives.
        from connect_spark.plans import templates as _tmpl

        saved = dict(_tmpl._TEMPLATES)
        for tmpl in self.config.get("templates", []):
            _tmpl.register_template(tmpl)
        try:
            df = _build_input(self.spark, self.config["input"])
            if self.config.get("buffer"):
                from connect_spark.plans.state_ext import apply_buffer

                df = apply_buffer(df, self.config["buffer"])
            # pipeline `threads` (workflow.adoc:64 — vertical scaling
            # across cores): the Spark analog of N processor threads
            # is N partitions through the processor chain
            threads = self.config.get("pipeline", {}).get("threads")
            if threads and int(threads) > 0:
                df = df.repartition(int(threads))
            from connect_spark.errors import source_context

            for i, spec in enumerate(
                self.config.get("pipeline", {}).get("processors", [])
            ):
                # dot-path provenance for error_source_path()
                with source_context(path=f"pipeline.processors.{i}"):
                    df = apply_processor(df, spec)
        finally:
            _tmpl._TEMPLATES.clear()
            _tmpl._TEMPLATES.update(saved)
        # move THIS build's registered writes onto the instance —
        # interleaved builds of other pipelines must not steal or drop
        # them (the module list is only a collection buffer)
        self._pending_writes = list(_PENDING_WRITES)
        _PENDING_WRITES.clear()
        return df

    def flush_writes(self) -> int:
        """Perform the sql_insert writes registered by THIS pipeline's
        most recent plan build. Returns the number of writes performed.
        Idempotent per build: the pending list drains as it flushes."""
        n = 0
        pending = getattr(self, "_pending_writes", [])
        while pending:
            out, conf = pending.pop(0)
            if out.isStreaming:
                raise PipelineConfigError(
                    "sql_insert inside a streaming pipeline needs a "
                    "streaming sink (use output: file/foreachBatch)"
                )
            out.write.mode(conf.get("mode", "append")).parquet(conf["path"])
            n += 1
        return n

    def run(self) -> DataFrame | None:
        """Execute including the output component. Returns the result
        DataFrame for memory-style outputs, else None. Streaming
        inputs drain through a memory sink (bounded sources — cdc_wal,
        mq_bus, bounded generate_stream — terminate on their own)."""
        import time as _time

        started = _time.time()
        df = self.dataframe()
        self.flush_writes()
        if df.isStreaming:
            import uuid

            name = "run_" + uuid.uuid4().hex[:12]
            q = (
                df.writeStream.format("memory")
                .queryName(name)
                .outputMode("append")
                .start()
            )
            try:
                q.processAllAvailable()
            finally:
                q.stop()
            with self._resource_scope():
                result = _run_output(
                    df.sparkSession.table(name), self.config.get("output")
                )
        else:
            with self._resource_scope():
                result = _run_output(df, self.config.get("output"))
        # observability sections (metrics/*.adoc, tracers/*.adoc)
        if self.config.get("metrics") or self.config.get("tracer"):
            from connect_spark.plans.state_ext import (
                emit_trace_span,
                export_metrics,
            )

            export_metrics(self.config.get("metrics"))
            emit_trace_span(
                self.config.get("tracer"),
                self.config.get("label", "pipeline_run"),
                started, _time.time(),
            )
        return result

    def _resource_scope(self):
        """Pin this pipeline's named-resource snapshot around a
        delivery (see cdc_ext.resource_scope)."""
        from connect_spark.plans.cdc_ext import resource_scope

        return resource_scope(
            getattr(self, "_input_res", {}),
            getattr(self, "_output_res", {}),
        )

    def start(self, checkpoint: str | None = None):
        """Continuous streaming execution: every micro-batch delivers
        through the configured output via foreachBatch (the
        transaction unit matching the reference's batch delivery).
        Returns the StreamingQuery; the caller owns its lifecycle.
        Batch inputs don't need this — use run()."""
        df = self.dataframe()
        if not df.isStreaming:
            raise PipelineConfigError(
                "start() is for streaming inputs; use run() for batch"
            )
        self.flush_writes()
        output_conf = self.config.get("output")
        if output_conf is not None:
            output_conf = _streaming_safe_output(
                output_conf, getattr(self, "_output_res", {})
            )
        scope = self._resource_scope

        def deliver(batch_df: DataFrame, batch_id: int) -> None:
            # the snapshot travels in the closure: a later pipeline
            # build repopulating the module registries can't reroute
            # or break this stream's `resource` outputs
            with scope():
                _run_output(batch_df, output_conf)

        writer = df.writeStream.foreachBatch(deliver)
        if checkpoint:
            writer = writer.option("checkpointLocation", checkpoint)
        return writer.start()

    def run_streaming_to_memory(self, query_name: str):
        """Start a streaming pipeline into a memory sink; caller
        drives the query (processAllAvailable/stop) and reads
        spark.table(query_name)."""
        df = self.dataframe()
        if not df.isStreaming:
            raise PipelineConfigError("input is not streaming")
        return (
            df.writeStream.format("memory")
            .queryName(query_name)
            .outputMode("append")
            .start()
        )


_ENV_VAR_RE = None  # compiled lazily


def interpolate_env_vars(
    text: str, env: dict[str, str] | None = None
) -> str:
    """`${VAR}` / `${VAR:default}` substitution in config text before
    parsing (the reference resolves env interpolations at config load,
    internal/cli/enterprise.go:234-236; `${! ...}` Bloblang
    interpolations pass through untouched — the `!` can't match a var
    name). Unset without a default resolves to the empty string, the
    reference's behavior."""
    global _ENV_VAR_RE
    if _ENV_VAR_RE is None:
        import re

        _ENV_VAR_RE = re.compile(
            r"\$\{([A-Za-z_][A-Za-z0-9_]*)(?::([^}]*))?\}"
        )
    lookup = dict(os.environ)
    if env:
        lookup.update({str(k): str(v) for k, v in env.items()})

    def sub(m):
        return lookup.get(m.group(1), m.group(2) or "")

    return _ENV_VAR_RE.sub(sub, text)


def build_pipeline(
    spark: SparkSession,
    config: dict[str, Any] | str,
    env: dict[str, str] | None = None,
) -> Pipeline:
    """Build from a config dict, a YAML string, or a YAML file path.
    Text configs get `${VAR}` env interpolation (`env` overlays the
    process environment — the test runner's `environment` field)."""
    if isinstance(config, str):
        if os.path.exists(config):
            with open(config) as fh:
                text = fh.read()
        else:
            text = config
        if not _HAVE_YAML:
            raise PipelineConfigError(
                "YAML support unavailable; pass a config dict"
            )
        config = yaml.safe_load(interpolate_env_vars(text, env))
    if not isinstance(config, dict) or "input" not in config:
        raise PipelineConfigError("config must be a mapping with an 'input'")
    return Pipeline(spark, config)


# extended processor registrations (grouping/flow, formats, enrichment,
# AI family) — import for side effects, at module end to avoid a cycle
from connect_spark.plans import io_ext, processors_ext  # noqa: E402,F401
from connect_spark.plans import mq_ext  # noqa: E402,F401
from connect_spark.plans import cdc_ext  # noqa: E402,F401
from connect_spark.plans import db_ext  # noqa: E402,F401
from connect_spark.plans import saas_ext  # noqa: E402,F401
from connect_spark import agent_mode  # noqa: E402,F401
