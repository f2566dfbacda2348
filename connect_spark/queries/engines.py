"""Driver-gated rows for the extension engines (awk, jq, geoip): each
engine's output is checked against a DuckDB oracle computing the same
answer from the base columns — so a bug anywhere in the interpreter /
reader pipeline breaks the value hash, not just a unit test."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from connect_spark.catalog import fanout_scan, load_table
from connect_spark.queries import QuerySpec


def jq_project_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """jq processor over the props JSON: object construction + path +
    comparison ('{k: .k, big: (.k >= 50)}'); jq null-comparison
    semantics (null < numbers) are mirrored with coalesce in SQL."""
    from connect_spark.functions.jq import jq_udf

    # the jq evaluator is Python CPU per row above an unsplittable
    # scan — spread it (opt guide §2.5/§4)
    ev = fanout_scan(
        spark,
        load_table(spark, sf_dir, "events").select("event_id", "props"),
        sf_dir, "events")
    out = jq_udf('{k: .k, big: (.k >= 50)}')(F.col("props"))
    decoded = F.from_json(F.element_at(out, 1), "big BOOLEAN, k BIGINT")
    return ev.select(
        "event_id",
        decoded["k"].alias("k"),
        decoded["big"].alias("big"),
    )


JQ_SQL = """
SELECT event_id,
       TRY_CAST(json_extract_string(props, '$.k') AS BIGINT) AS k,
       CASE WHEN TRY_CAST(json_extract_string(props, '$.k') AS BIGINT)
                 IS NULL THEN false
            ELSE TRY_CAST(json_extract_string(props, '$.k') AS BIGINT) >= 50
       END AS big
FROM events
"""


def jmespath_project_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """jmespath processor (jmespath.adoc:26) over per-user event
    documents, exercising the doc's example shape — filter projection
    `[?...]`, `length`, `sort`, slice, `map(&to_string(@))`, `join`:

        {uid: uid,
         n_purchase: length(evs[?typ == 'purchase']),
         big_ids: join(',', map(&to_string(@),
                                sort(evs[?val >= `200.0`].id)[:5]))}

    The oracle recomputes the same answer relationally in DuckDB, so a
    bug anywhere in the evaluator or the JSON round-trip breaks the
    value hash."""
    from connect_spark.functions.jmespath_eval import jmespath_udf

    ev = load_table(spark, sf_dir, "events")
    evs = F.sort_array(
        F.collect_list(
            F.struct(
                F.col("event_id").alias("id"),
                F.col("event_type").alias("typ"),
                F.col("value").alias("val"),
            )
        )
    )
    # the jmespath evaluator runs per USER document (post-aggregate);
    # AQE coalesces the tiny agg output to 1-2 tasks by byte size
    # while the cost is Python CPU per doc — spread the evaluated
    # frame over the machine (opt guide §2.5/§4; a no-op cost at
    # scale: one narrow exchange of the already-aggregated rows)
    docs = (ev.groupBy(F.col("user_id").alias("uid")).agg(evs.alias("evs"))
            .repartition(spark.sparkContext.defaultParallelism))
    doc = F.to_json(F.struct("uid", "evs"))
    query = (
        "{uid: uid, n_purchase: length(evs[?typ == 'purchase']), "
        "big_ids: join(',', map(&to_string(@), "
        "sort(evs[?val >= `200.0`].id)[:5]))}"
    )
    out = jmespath_udf(query)(doc)
    decoded = F.from_json(
        out, "uid BIGINT, n_purchase BIGINT, big_ids STRING"
    )
    return docs.select(
        decoded["uid"].alias("uid"),
        decoded["n_purchase"].alias("n_purchase"),
        decoded["big_ids"].alias("big_ids"),
    )


JMESPATH_SQL = """
WITH big AS (
  SELECT user_id, event_id,
         row_number() OVER (PARTITION BY user_id ORDER BY event_id) AS rn
  FROM events WHERE value >= 200.0
), bj AS (
  SELECT user_id,
         string_agg(CAST(event_id AS VARCHAR), ',' ORDER BY event_id)
           AS big_ids
  FROM big WHERE rn <= 5 GROUP BY user_id
), agg AS (
  SELECT user_id AS uid,
         count(*) FILTER (WHERE event_type = 'purchase') AS n_purchase
  FROM events GROUP BY user_id
)
SELECT agg.uid, agg.n_purchase, coalesce(bj.big_ids, '') AS big_ids
FROM agg LEFT JOIN bj ON agg.uid = bj.user_id
"""


def awk_extract_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """awk processor over synthesized log lines: field access,
    arithmetic, pattern filter, printf formatting."""
    from connect_spark.operators.awk import awk_udf

    # the awk interpreter is Python CPU per row above an unsplittable
    # scan — spread it (opt guide §2.5/§4)
    ev = fanout_scan(
        spark,
        load_table(spark, sf_dir, "events").select(
            "event_id", "event_type", "user_id"),
        sf_dir, "events")
    line = F.concat_ws(
        " ", F.col("event_type"), F.col("user_id").cast("string"),
        F.col("event_id").cast("string"),
    )
    prog = '/^(purchase|error)/ { printf "%s:%d", $1, $2 * 2 }'
    meta = F.lit(None).cast("map<string,string>")
    return ev.select(
        "event_id",
        awk_udf(prog)(line, meta).alias("awk_out"),
    )


AWK_SQL = """
SELECT event_id,
       CASE WHEN event_type IN ('purchase', 'error')
            THEN event_type || ':' || CAST(user_id * 2 AS VARCHAR)
            ELSE '' END AS awk_out
FROM events
"""


def geoip_enrich_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """geoip over a deterministic in-query MaxMind DB: users map to
    10.x.0.1 addresses; /9 networks split US/DE, 192.168/16 is GB for
    every 7th user. The oracle recomputes the same routing from
    user_id arithmetic — gating tree walk + data-section decode."""
    from connect_spark.functions.geoip import MmdbWriter, geoip_country

    w = MmdbWriter()
    w.insert("10.0.0.0/9", {"country": {"iso_code": "US"}})
    w.insert("10.128.0.0/9", {"country": {"iso_code": "DE"}})
    w.insert("192.168.0.0/16", {"country": {"iso_code": "GB"}})
    mmdb = w.tobytes()

    # the mmdb tree walk is Python CPU per row above an unsplittable
    # scan — spread it (opt guide §2.5/§4)
    ev = fanout_scan(
        spark,
        load_table(spark, sf_dir, "events").select("event_id", "user_id"),
        sf_dir, "events")
    ip = F.when(
        F.col("user_id") % 7 == 0,
        F.concat(F.lit("192.168."), (F.col("user_id") % 256).cast("string"),
                 F.lit(".1")),
    ).otherwise(
        F.concat(F.lit("10."), (F.col("user_id") % 256).cast("string"),
                 F.lit(".0.1"))
    )
    return ev.select(
        "event_id",
        ip.alias("ip"),
        geoip_country(ip, mmdb).alias("country"),
    )


GEOIP_SQL = """
SELECT event_id,
       CASE WHEN user_id % 7 = 0
            THEN '192.168.' || CAST(user_id % 256 AS VARCHAR) || '.1'
            ELSE '10.' || CAST(user_id % 256 AS VARCHAR) || '.0.1'
       END AS ip,
       CASE WHEN user_id % 7 = 0 THEN 'GB'
            WHEN user_id % 256 < 128 THEN 'US'
            ELSE 'DE'
       END AS country
FROM events
"""


def js_transform_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """javascript processor over event JSON: structured read, string
    methods, arithmetic with JS coercion, conditional logic — the
    oracle recomputes the same answer from the base columns."""
    from connect_spark.operators.javascript import javascript_udf

    # the ES5 interpreter is Python CPU per row (opt guide §2.5/§4)
    ev = fanout_scan(
        spark, load_table(spark, sf_dir, "events"), sf_dir, "events")
    as_json = F.to_json(
        F.struct("event_id", "event_type", "user_id", "value")
    )
    code = """
    var doc = benthos.v0_msg_as_structured();
    doc.tag = doc.event_type.toUpperCase() + "-" + (doc.user_id % 100);
    doc.double_value = doc.value * 2;
    doc.tier = doc.value >= 50 ? "high" : "low";
    benthos.v0_msg_set_structured(doc);
    """
    out = javascript_udf(code)(as_json)
    decoded = F.from_json(
        out,
        "event_id BIGINT, tag STRING, double_value DOUBLE, tier STRING",
    )
    return ev.select(
        "event_id",
        decoded["tag"].alias("tag"),
        decoded["double_value"].alias("double_value"),
        decoded["tier"].alias("tier"),
    )


JS_SQL = """
SELECT event_id,
       upper(event_type) || '-' || CAST(user_id % 100 AS VARCHAR) AS tag,
       value * 2 AS double_value,
       CASE WHEN value >= 50 THEN 'high' ELSE 'low' END AS tier
FROM events
"""


def bloblang_eval_dynamic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The `bloblang` method (methods.adoc:3321): the mapping SOURCE
    varies per message — here chosen by event_type, the dynamic-
    dispatch pattern static mappings can't express. Compiled
    executor-side with a per-source cache (bloblang/pyeval.py)."""
    from connect_spark.bloblang.methods import METHODS

    # the dynamic-mapping evaluator is Python CPU per row above an
    # unsplittable scan — spread it (opt guide §2.5/§4)
    ev = fanout_scan(
        spark,
        load_table(spark, sf_dir, "events").select(
            "event_id", "event_type", "value"),
        sf_dir, "events")
    mapping_src = (
        F.when(
            F.col("event_type") == "purchase",
            F.lit("root.out = this.value * 2"),
        )
        .when(
            F.col("event_type") == "click",
            F.lit("root.out = this.value + 10"),
        )
        .otherwise(F.lit("root.out = 0 - this.value"))
    )
    payload = F.to_json(F.struct("value"))
    result = METHODS["bloblang"](payload, mapping_src)
    return ev.select(
        "event_id",
        F.get_json_object(result, "$.out").cast("double").alias("out"),
    )


BLOBLANG_EVAL_SQL = """
SELECT event_id,
       CASE WHEN event_type = 'purchase' THEN value * 2
            WHEN event_type = 'click' THEN value + 10
            ELSE 0 - value
       END AS out
FROM events
"""


def jwt_sign_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JWT matrix row (methods.adoc:3982-4491): HS256/384/512, RS256
    and ES384 sign→parse roundtrips per event. Self-verifying oracle:
    a correct roundtrip yields the canonical claims JSON (which SQL
    reconstructs from the base columns), a wrong-key parse yields
    NULL. RS is big-int math per row, so the row set is thinned
    deterministically (event_id % 500 == 0)."""
    from cryptography.hazmat.primitives.asymmetric import ec

    from connect_spark.functions.jwt_hs import (
        parse_jwt_es,
        parse_jwt_hs,
        parse_jwt_rs,
        sign_jwt_es,
        sign_jwt_hs,
        sign_jwt_rs,
    )

    # deterministic test-sized RSA key (same generator as the tests)
    import random

    def _prime(bits, rng):
        def is_p(n):
            for sp in (2, 3, 5, 7, 11, 13, 17, 19, 23, 29, 31, 37):
                if n % sp == 0:
                    return n == sp
            d, r = n - 1, 0
            while d % 2 == 0:
                d //= 2
                r += 1
            for _ in range(24):
                a = rng.randrange(2, n - 1)
                x = pow(a, d, n)
                if x in (1, n - 1):
                    continue
                for _ in range(r - 1):
                    x = pow(x, 2, n)
                    if x == n - 1:
                        break
                else:
                    return False
            return True

        while True:
            c = rng.getrandbits(bits) | (1 << (bits - 1)) | 1
            if is_p(c):
                return c

    global _RSA_KEY
    if _RSA_KEY is None:
        rng = random.Random(20260813)
        p, q = _prime(512, rng), _prime(512, rng)
        e = 65537
        _RSA_KEY = (p * q, e, pow(e, -1, (p - 1) * (q - 1)))
    n, e, d_rsa = _RSA_KEY
    d_ec = 0x1337C0DE
    pub = ec.derive_private_key(d_ec, ec.SECP384R1()).public_key()
    q_ec = (pub.public_numbers().x, pub.public_numbers().y)

    # RS signatures are pure-Python big-int math per row: after
    # the %500 thinning only ~200 rows remain at sf0.1, clumped on
    # the scan's 3 splits — spread them so each core signs a handful
    # (the repartition moves a few hundred narrow rows)
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_id") % 500 == 0
    ).repartition(spark.sparkContext.defaultParallelism)
    claims = F.concat(
        F.lit('{"uid": '), F.col("user_id").cast("string"), F.lit("}")
    )
    hs256_tok = sign_jwt_hs(claims, "k1", "HS256")
    hs384_tok = sign_jwt_hs(claims, "k2", "HS384")
    hs512_tok = sign_jwt_hs(claims, "k3", "HS512")
    rs_tok = sign_jwt_rs(claims, (n, d_rsa), "RS256")
    es_tok = sign_jwt_es(claims, d_ec, "ES384")
    return ev.select(
        "event_id",
        parse_jwt_hs(hs256_tok, "k1", "HS256").alias("hs256"),
        parse_jwt_hs(hs384_tok, "k2", "HS384").alias("hs384"),
        parse_jwt_hs(hs512_tok, "wrong", "HS512").isNull().alias(
            "hs512_badkey_null"
        ),
        parse_jwt_hs(hs512_tok, "k3", "HS512").alias("hs512"),
        parse_jwt_rs(rs_tok, (n, e), "RS256").alias("rs256"),
        parse_jwt_es(es_tok, q_ec, "ES384").alias("es384"),
    )


JWT_MATRIX_SQL = """
SELECT event_id,
       '{"uid":' || CAST(user_id AS VARCHAR) || '}' AS hs256,
       '{"uid":' || CAST(user_id AS VARCHAR) || '}' AS hs384,
       true AS hs512_badkey_null,
       '{"uid":' || CAST(user_id AS VARCHAR) || '}' AS hs512,
       '{"uid":' || CAST(user_id AS VARCHAR) || '}' AS rs256,
       '{"uid":' || CAST(user_id AS VARCHAR) || '}' AS es384
FROM events
WHERE event_id % 500 = 0
"""


_RSA_KEY: tuple[int, int, int] | None = None


def ai_chat_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AI processor row (openai/ollama chat + moderation,
    `internal/impl/openai/chat_processor.go`,
    `internal/impl/ollama/moderation_processor.go`): each document is
    sent through the chat shim in json response mode (deterministic
    fake model — see text/ai.py), the structured reply is parsed back
    into columns, and the moderation shim appends a yes/no `safe`
    verdict. The oracle recomputes the fake's pure functions from the
    base text, so the whole request-build → Arrow batch → reply →
    from_json pipeline is value-checked."""
    from connect_spark.text.ai import ai_chat, ai_moderation

    docs = load_table(spark, sf_dir, "documents")
    chatted = ai_chat(
        docs,
        "text",
        system_prompt="Extract document statistics as JSON.",
        response_format="json",
    )
    moderated = ai_moderation(
        chatted, "text", flag_terms=("data", "crash")
    )
    parsed = F.from_json(
        F.col("reply"), "n_chars BIGINT, n_words BIGINT, head STRING"
    )
    return moderated.select(
        "doc_id",
        parsed["n_chars"].alias("reply_chars"),
        parsed["n_words"].alias("reply_words"),
        parsed["head"].alias("reply_head"),
        "safe",
    )


AI_CHAT_SQL = """
SELECT doc_id,
       length(text) AS reply_chars,
       CAST(length(list_filter(string_split(text, ' '), x -> x <> ''))
            AS BIGINT) AS reply_words,
       substr(text, 1, 16) AS reply_head,
       CASE WHEN contains(lower(text), 'data')
                 OR contains(lower(text), 'crash')
            THEN 'no' ELSE 'yes' END AS safe
FROM documents
"""


def ai_embed_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embeddings + rerank row (`internal/impl/openai/embeddings_processor.go`,
    `internal/impl/cohere/rerank_processor.go` shapes): documents flow
    through embed_text (mapInPandas, injectable model — here a
    nibble-vote embedder whose votes DuckDB can recompute from md5) and
    rerank_stub (token-overlap cross-encoder stand-in). Components and
    norm are derived DRIVER-SIDE as double Column algebra over the raw
    integer votes, so Spark and DuckDB run bit-identical float ops and
    the floor-scaled outputs hash equal."""
    import hashlib

    from connect_spark.text.embeddings import embed_text, rerank_stub

    docs = load_table(spark, sf_dir, "documents")

    def votes_fn(texts: list) -> list:
        out = []
        for t in texts:
            v = [0.0] * 16
            for tok in (t or "").split():
                h = hashlib.md5(tok.encode()).hexdigest()
                v[int(h[0], 16)] += 1.0 if int(h[1], 16) % 2 == 0 else -1.0
            out.append(v)
        return out

    emb = embed_text(docs, "text", dim=16, model_fn=votes_fn, out="votes")
    rr = rerank_stub(emb, "data stream join merge", "text")
    arr = F.col("votes").cast("array<double>")
    norm = F.sqrt(
        F.aggregate(arr, F.lit(0.0), lambda acc, x: acc + x * x)
    )
    ppm = lambda c: F.when(  # noqa: E731 - tiny local combinator
        norm > 0, F.floor(F.lit(1000000.0) * c / norm).cast("bigint")
    ).otherwise(F.lit(0))
    return rr.select(
        "doc_id",
        ppm(F.element_at(arr, 1)).alias("c0_ppm"),
        ppm(F.element_at(arr, 2)).alias("c1_ppm"),
        F.floor(F.lit(1000000.0) * norm).cast("bigint").alias("norm_ppm"),
        F.col("rerank_score").cast("double").alias("rerank_score"),
    )


AI_EMBED_SQL = """
WITH toks AS (
  SELECT doc_id,
         unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS tok
  FROM documents
), v AS (
  SELECT doc_id,
         strpos('0123456789abcdef', substr(md5(tok), 1, 1)) - 1 AS idx,
         CASE WHEN (strpos('0123456789abcdef', substr(md5(tok), 2, 1)) - 1)
                   % 2 = 0
              THEN 1.0 ELSE -1.0 END AS sign
  FROM toks
), agg AS (
  SELECT doc_id, idx, sum(sign) AS vote FROM v GROUP BY doc_id, idx
), per_doc AS (
  SELECT doc_id,
         sqrt(sum(vote * vote)) AS norm,
         sum(CASE WHEN idx = 0 THEN vote ELSE 0.0 END) AS c0,
         sum(CASE WHEN idx = 1 THEN vote ELSE 0.0 END) AS c1
  FROM agg GROUP BY doc_id
), rerank AS (
  SELECT doc_id,
         CAST(length(list_intersect(
             list_distinct(list_filter(string_split(text, ' '),
                                       x -> x <> '')),
             ['data', 'stream', 'join', 'merge'])) AS DOUBLE) / 4
           AS rerank_score
  FROM documents
)
SELECT d.doc_id,
       CASE WHEN COALESCE(p.norm, 0.0) > 0
            THEN CAST(floor(1000000.0 * p.c0 / p.norm) AS BIGINT)
            ELSE 0 END AS c0_ppm,
       CASE WHEN COALESCE(p.norm, 0.0) > 0
            THEN CAST(floor(1000000.0 * p.c1 / p.norm) AS BIGINT)
            ELSE 0 END AS c1_ppm,
       CAST(floor(1000000.0 * COALESCE(p.norm, 0.0)) AS BIGINT) AS norm_ppm,
       r.rerank_score
FROM documents d
LEFT JOIN per_doc p USING (doc_id)
JOIN rerank r USING (doc_id)
"""


def wasm_transform_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The pure-Python WASM runtime in the gate: a hand-assembled
    spec-conformant module (ASCII-uppercase over the benthos_wasm host
    contract — the same module tests/test_wasm.py pins) processes each
    event_type; the oracle recomputes with upper(). A bug anywhere in
    the binary decoder, interpreter loop, or host memory protocol
    breaks the value hash."""
    from connect_spark.boundary import row_udf
    from connect_spark.wasm.host import MessageRunner
    from connect_spark.wasm.testmod import uppercase_module

    binary = uppercase_module()
    MessageRunner(binary)  # driver-side fail-fast

    ev = load_table(spark, sf_dir, "events")
    runner = None
    memo: dict[str, str] = {}

    def one(v):
        nonlocal runner
        hit = memo.get(v)
        if hit is None:
            if runner is None:  # first row of the task
                runner = MessageRunner(binary)
            out, _ = runner.process(v.encode())
            hit = memo[v] = out.decode()
        return hit

    # the demo module is a pure content transform, so per-task
    # memoization is sound; every ROW still verifies in the oracle
    # compare, the interpreter just doesn't re-run duplicates
    return ev.select(
        "event_id",
        row_udf("string", one)(F.col("event_type")).alias("wasm_upper"),
    )


WASM_SQL = """
SELECT event_id, upper(event_type) AS wasm_upper FROM events
"""


def ffi_libc_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ffi processor in the gate: libc strlen over each
    event_type via ctypes (operators/ffi.py); oracle = length()."""
    import json as _json

    from connect_spark.operators.ffi import ffi_call

    # the ctypes bridge is Python CPU per row above an unsplittable
    # scan — spread it (opt guide §2.5/§4)
    ev = fanout_scan(
        spark,
        load_table(spark, sf_dir, "events").select(
            "event_id", "event_type"),
        sf_dir, "events")
    out = ffi_call(
        ev,
        "libc.so.6",
        "strlen",
        "root = [this.event_type]",
        {
            "return": {"type": "int64"},
            "parameters": [{"type": "byte*"}],
        },
    )
    return out.select(
        "event_id",
        F.get_json_object(F.col("ffi_result"), "$[0]")
        .cast("bigint")
        .alias("type_len"),
    )


FFI_SQL = """
SELECT event_id, CAST(strlen(event_type) AS BIGINT) AS type_len
FROM events
"""


QUERIES = [
    QuerySpec("ai_chat_extract", ai_chat_extract, AI_CHAT_SQL),
    QuerySpec("ai_embed_rerank", ai_embed_rerank, AI_EMBED_SQL),
    QuerySpec("jq_project_events", jq_project_events, JQ_SQL),
    QuerySpec(
        "jmespath_project_events", jmespath_project_events, JMESPATH_SQL
    ),
    QuerySpec("wasm_transform_events", wasm_transform_events, WASM_SQL),
    QuerySpec("ffi_libc_events", ffi_libc_events, FFI_SQL),
    QuerySpec("jwt_sign_matrix", jwt_sign_matrix, JWT_MATRIX_SQL),
    QuerySpec(
        "bloblang_eval_dynamic", bloblang_eval_dynamic, BLOBLANG_EVAL_SQL
    ),
    QuerySpec("awk_extract_events", awk_extract_events, AWK_SQL),
    QuerySpec("geoip_enrich_events", geoip_enrich_events, GEOIP_SQL),
    QuerySpec("js_transform_events", js_transform_events, JS_SQL),
]


def a2a_message_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """a2a_message processor row (round-11; reference
    `internal/impl/a2a/processor_message.go:35-60`): every document's
    text goes to an A2A agent through the real pipeline — agent-card
    resolution (well-known path), JSON-RPC message/send, tasks/get
    polling out of the non-terminal `working` state, final-message
    text extraction — against the deterministic fake agent
    (text/a2a.py) whose reply ``A2A(<n_chars>):<md5(text)[:12]>`` and
    task id ``task-<md5(text)>`` are pure md5 functions of the text,
    so the oracle recomputes the full envelope (reply + the
    reference's a2a_task_id/a2a_state metadata) in SQL."""
    from connect_spark.text.a2a import a2a_message

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text")
    return a2a_message(
        docs, "https://agent.example", "text",
    ).select("doc_id", "reply", "a2a_task_id", "a2a_state")


A2A_MESSAGE_SQL = """
SELECT doc_id,
       'A2A(' || length(text) || '):' || substr(md5(text), 1, 12)
           AS reply,
       'task-' || md5(text) AS a2a_task_id,
       'completed' AS a2a_state
FROM documents
"""


QUERIES += [
    QuerySpec("a2a_message_enrich", a2a_message_enrich, A2A_MESSAGE_SQL),
]
