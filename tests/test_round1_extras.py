"""collapse, parse_yaml/logfmt, fake(), CDC apply-changes, training
pipeline composition."""

from __future__ import annotations

from pyspark.sql import Row
from pyspark.sql import functions as F

from connect_spark.bloblang import compile_mapping
from connect_spark.catalog import load_table
from connect_spark.operators.core import collapse
from connect_spark.sources.cdc import apply_cdc_batch
from connect_spark.state import ParquetKVCache

SF = "/root/testdata/sf0.001"


def test_collapse_flattens_structs(spark):
    df = spark.createDataFrame(
        [Row(a=1, obj=Row(x=2, inner=Row(y=3)))]
    )
    flat = collapse(df)
    assert set(flat.columns) == {"a", "obj.x", "obj.inner.y"}
    r = flat.first()
    assert r["obj.x"] == 2 and r["obj.inner.y"] == 3


def test_parse_logfmt_and_yaml(spark):
    df = spark.createDataFrame(
        [Row(l="level=info msg=started count=3", y="k: 7\nname: test")]
    )
    out = compile_mapping(
        df,
        """
        root.level = this.l.parse_logfmt().get("level")
        root.yaml_json = this.y.parse_yaml()
        root.k = this.y.parse_yaml().json_path("$.k").number()
        """,
    )
    r = out.first()
    assert r["level"] == "info"
    assert r["k"] == 7.0
    import json

    assert json.loads(r["yaml_json"]) == {"k": 7, "name": "test"}


def test_fake_function_deterministic(spark):
    cfg_src = """
    root.n = counter()
    root.who = fake("name")
    root.mail = fake("email")
    """
    df = spark.range(20)
    out1 = compile_mapping(df, cfg_src).collect()
    out2 = compile_mapping(spark.range(20), cfg_src).collect()
    assert [r["who"] for r in out1] == [r["who"] for r in out2]
    assert all("@" in r["mail"] for r in out1)


def test_apply_cdc_batch(spark, tmp_path):
    cache = ParquetKVCache(spark, str(tmp_path / "tbl"), key="id")
    batch1 = spark.createDataFrame(
        [
            Row(id=1, val="a", operation="insert", _seq=1),
            Row(id=2, val="b", operation="insert", _seq=2),
            Row(id=1, val="a2", operation="update", _seq=3),  # later wins
        ]
    )
    apply_cdc_batch(cache, batch1, key="id")
    got = {r["id"]: r["val"] for r in cache.read().collect()}
    assert got == {1: "a2", 2: "b"}

    batch2 = spark.createDataFrame(
        [
            Row(id=2, val=None, operation="delete", _seq=4),
            Row(id=3, val="c", operation="insert", _seq=5),
        ]
    )
    apply_cdc_batch(cache, batch2, key="id")
    got = {r["id"]: r["val"] for r in cache.read().collect()}
    assert got == {1: "a2", 3: "c"}


def test_apply_cdc_batch_writes_one_generation(spark, tmp_path):
    """An insert, an update and a delete in one batch land in ONE new
    state generation, holding the rows that an upsert followed by a
    delete (two generations) leaves."""
    seed = spark.createDataFrame(
        [Row(id=1, val="a"), Row(id=2, val="b"), Row(id=3, val="c")]
    )
    batch = spark.createDataFrame(
        [
            Row(id=4, val="d", operation="insert", _seq=1),
            Row(id=1, val="a2", operation="update", _seq=2),
            Row(id=2, val=None, operation="delete", _seq=3),
        ]
    )
    cache = ParquetKVCache(spark, str(tmp_path / "one"), key="id")
    cache.set(seed)
    before = cache._latest()
    apply_cdc_batch(cache, batch, key="id")
    assert cache._latest() == before + 1

    two = ParquetKVCache(spark, str(tmp_path / "two"), key="id")
    two.set(seed)
    two.set(batch.filter("operation != 'delete'").drop("operation", "_seq"))
    two.delete(batch.filter("operation = 'delete'").select("id"))
    assert sorted(map(tuple, cache.read().collect())) == sorted(
        map(tuple, two.read().collect())
    ) == [(1, "a2"), (3, "c"), (4, "d")]


def test_training_pipeline_composition(spark):
    """chunk → embed → exact-dedup → quality-filter, composed — the
    LLM-data-pipeline shape end to end."""
    from connect_spark.functions.formats import text_chunks
    from connect_spark.text.embeddings import embed_text

    docs = load_table(spark, SF, "documents")
    chunks = docs.select(
        "doc_id",
        F.posexplode(text_chunks("text", 30)).alias("chunk_idx", "chunk"),
    )
    embedded = embed_text(chunks, "chunk", dim=16)
    deduped = (
        embedded.withColumn("fp", F.md5(F.lower(F.trim("chunk"))))
        .withColumn(
            "rn",
            F.row_number().over(
                __import__("pyspark.sql.window", fromlist=["Window"])
                .Window.partitionBy("fp")
                .orderBy("doc_id", "chunk_idx")
            ),
        )
        .filter(F.col("rn") == 1)
        .drop("rn")
    )
    filtered = deduped.filter(
        F.size(F.filter(F.split("chunk", " "), lambda t: t != "")) >= 5
    )
    rows = filtered.collect()
    assert len(rows) > 0
    assert all(len(r["embedding"]) == 16 for r in rows[:10])
    # dedup kept each fingerprint once
    assert filtered.groupBy("fp").count().filter(F.col("count") > 1).count() == 0


def test_subprocess_pipe(spark):
    docs = load_table(spark, SF, "documents").limit(20).select(
        "doc_id", F.substring("text", 1, 30).alias("content")
    )
    from connect_spark.operators.subprocess_op import pipe_through

    out = pipe_through(docs, "content", ["tr", "a-z", "A-Z"])
    rows = out.collect()
    assert len(rows) == 20
    assert all(r["piped"] == r["content"].upper() for r in rows)


def test_salted_join_equals_plain_join(spark):
    from connect_spark.operators.skew import salted_join

    li = load_table(spark, SF, "lineitem").select("l_orderkey", "l_partkey")
    part = load_table(spark, SF, "part").select(
        F.col("p_partkey").alias("l_partkey"), "p_brand"
    )
    plain = li.join(part, "l_partkey").groupBy("p_brand").count()
    salted = salted_join(li, part, on="l_partkey").groupBy("p_brand").count()
    assert {tuple(r) for r in plain.collect()} == {
        tuple(r) for r in salted.collect()
    }


def test_cache_processor_in_pipeline(spark, tmp_path):
    from connect_spark.plans import build_pipeline

    path = str(tmp_path / "c")
    # stage 1: write lookup values into the cache resource
    cfg_set = {
        "input": {"generate": {"count": 3, "mapping": (
            "root.k = this._gen_index\nroot.label = \"L\" + this._gen_index.string()"
        )}},
        "pipeline": {"processors": [
            {"cache": {"path": path, "operator": "set", "on": "k",
                       "value_columns": ["label"]}},
        ]},
    }
    build_pipeline(spark, cfg_set).dataframe().count()
    # stage 2: enrich another stream from the cache
    cfg_get = {
        "input": {"generate": {"count": 5, "mapping": "root.k = this._gen_index"}},
        "pipeline": {"processors": [
            {"cache": {"path": path, "operator": "get", "on": "k"}},
        ]},
    }
    rows = build_pipeline(spark, cfg_get).dataframe().collect()
    got = {r["k"]: r["label"] for r in rows}
    assert got[0] == "L0" and got[2] == "L2"
    assert got[4] is None  # miss → null, reference returns not-found


def test_string_split_and_try_catch_processors(spark):
    """r15 message-model semantics: after string_split the messages
    are RAW payloads ("a"), not documents with a `content` field —
    `this.content` fails the try mutation (reference: unable to
    reference as structured), the catch's object assignment on a
    string root fails too, and catch clears the flag; payloads pass
    through unchanged. The old expectation (a `mark` column bolted
    beside `content`) was the d6fd1df envelope-corruption class."""
    from connect_spark.plans import build_pipeline

    cfg = {
        "input": {"generate": {"count": 1, "mapping": 'root.content = "a;b;c"'}},
        "pipeline": {"processors": [
            {"string_split": {"field": "content", "delimiter": ";"}},
            {"try_catch": {
                "try": [{"mutation": 'root.mark = "t-" + this.content'}],
                "catch": [{"mutation": 'root.mark = "caught"'}],
            }},
        ]},
    }
    df = build_pipeline(spark, cfg).dataframe()
    rows = df.collect()
    assert sorted(r["content"] for r in rows) == ["a", "b", "c"]
    if "_error" in df.columns:
        assert all(r["_error"] is None for r in rows)  # catch cleared
    # structured JSON payloads DO expose fields to the mutation
    cfg2 = {
        "input": {"generate": {
            "count": 1, "mapping": 'root.content = "{\\"v\\":1};{\\"v\\":2}"'
        }},
        "pipeline": {"processors": [
            {"string_split": {"field": "content", "delimiter": ";"}},
            {"mutation": "root.mark = this.v * 10"},
        ]},
    }
    import json as _json

    rows2 = build_pipeline(spark, cfg2).dataframe().collect()
    docs = sorted(
        (_json.loads(r["content"])["v"], _json.loads(r["content"])["mark"])
        for r in rows2
    )
    assert docs == [(1, 10), (2, 20)]


def test_jwt_hs256_roundtrip(spark):
    from connect_spark.functions.jwt_hs import parse_jwt_hs, sign_jwt_hs

    df = spark.createDataFrame(
        [Row(claims='{"sub": "u1", "n": 7}'), Row(claims='{"sub": "u2"}')]
    )
    signed = df.select(
        "claims", sign_jwt_hs(F.col("claims"), "secret", "HS256").alias("tok")
    )
    back = signed.select(
        "claims",
        parse_jwt_hs(F.col("tok"), "secret", "HS256").alias("decoded"),
        parse_jwt_hs(F.col("tok"), "WRONG", "HS256").alias("bad_key"),
        parse_jwt_hs(F.lit("not.a.jwt"), "secret", "HS256").alias("malformed"),
    )
    import json

    rows = back.collect()
    for r in rows:
        assert json.loads(r["decoded"]) == json.loads(r["claims"])
        assert r["bad_key"] is None
        assert r["malformed"] is None


def test_cli_run_and_test_verbs(spark, tmp_path, capsys):
    from connect_spark.__main__ import main

    assert main(["test", "examples/filtering_test.yaml"]) == 0
    out = capsys.readouterr().out
    assert out.count("[PASS]") == 3

    bad = tmp_path / "bad_suite.yaml"
    bad.write_text(
        """
tests:
  - name: expected failure
    target_processors:
      - mapping: root.x = this.a
    input_batch:
      - json_content: { a: 1 }
    output_batch:
      - json_equals: { x: 2 }
"""
    )
    assert main(["test", str(bad)]) == 1
    assert "[FAIL]" in capsys.readouterr().out

    assert main(["run", "examples/traffic_windows.yaml"]) == 0


def test_cdc_type_matrix_f4(spark, tmp_path):
    """F4 fixture (FIXTURES.md): the Postgres CDC type contract
    (TYPES.md:25-43) — one column per mapped type incl. NULLs —
    materialized through apply_cdc_batch and read back with types
    preserved. NUMERIC keeps real decimals (improvement over the
    reference's string downgrade, TYPES.md:49-51)."""
    import datetime
    import decimal

    from pyspark.sql import types as T

    from connect_spark.sources.cdc import PG_TYPE_MAP

    schema = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("c_bool", T.BooleanType()),
            T.StructField("c_int4", T.IntegerType()),
            T.StructField("c_int8", T.LongType()),
            T.StructField("c_float8", T.DoubleType()),
            T.StructField("c_numeric", T.DecimalType(38, 18)),
            T.StructField("c_text", T.StringType()),
            T.StructField("c_bytea", T.BinaryType()),
            T.StructField("c_ts", T.TimestampType()),
            T.StructField("c_json", T.StringType()),
            T.StructField("operation", T.StringType()),
            T.StructField("_seq", T.LongType()),
        ]
    )
    rows = [
        (1, True, 42, 1 << 40, 1.5, decimal.Decimal("123.456789012345678"),
         "txt", b"\x00\x01", datetime.datetime(2024, 1, 1, 12, 0, 0),
         '{"a": 1}', "insert", 1),
        (2, None, None, None, None, None, None, None, None, None,
         "insert", 2),  # all-NULL row (TYPES.md requires NULL fidelity)
    ]
    changes = spark.createDataFrame(rows, schema)
    from connect_spark.state import ParquetKVCache

    cache = ParquetKVCache(spark, str(tmp_path / "cdc_types"), key="id")
    from connect_spark.sources.cdc import apply_cdc_batch

    apply_cdc_batch(cache, changes, key="id")
    back = cache.read()
    got_types = {f.name: f.dataType for f in back.schema.fields}
    assert isinstance(got_types["c_numeric"], T.DecimalType)
    assert got_types["c_bytea"] == T.BinaryType()
    assert got_types["c_ts"] == T.TimestampType()
    r1 = back.filter(F.col("id") == 1).first()
    assert r1["c_numeric"] == decimal.Decimal("123.456789012345678")
    assert bytes(r1["c_bytea"]) == b"\x00\x01"
    assert r1["c_bool"] is True
    r2 = back.filter(F.col("id") == 2).first()
    assert all(
        r2[c] is None
        for c in ["c_bool", "c_int4", "c_int8", "c_float8", "c_numeric",
                  "c_text", "c_bytea", "c_ts", "c_json"]
    )
    # the documented contract covers every reference type
    assert set(PG_TYPE_MAP) >= {
        "bool", "int4", "int8", "float8", "numeric", "text", "bytea",
        "timestamp", "timestamptz", "uuid", "json", "jsonb",
    }


def test_cli_round4_processor_suite(spark):
    from connect_spark.__main__ import main

    assert main(["test", "examples/round4_processors_test.yaml"]) == 0


def test_cli_lakehouse_routing_example(spark, tmp_path, monkeypatch):
    import shutil

    shutil.rmtree("/tmp/example_lakehouse", ignore_errors=True)
    from connect_spark.__main__ import main

    assert main(["run", "examples/lakehouse_routing.yaml"]) == 0
    from connect_spark.sinks.iceberg_meta import IcebergTable

    t = IcebergTable(spark, "/tmp/example_lakehouse/purchases")
    n_ice = t.read().count()
    n_other = spark.read.parquet("/tmp/example_lakehouse/other").count()
    assert n_ice + n_other == 1000
    assert n_ice > 0 and n_other > 0
    shutil.rmtree("/tmp/example_lakehouse", ignore_errors=True)
