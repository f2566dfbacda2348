"""Type matrices for the per-row Python boundary.

`boundary.row_udf`: every return type the migrated sites use, a null in
each argument position, errors inside and outside the null-mapped
tuple, and an empty batch.

`boundary.flat_map`: rows giving 0, 1 and N output rows, empty input,
every output field type the migrated sites use, binary input arriving
as `bytes`, an exception failing the task, and the physical plan."""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.errors import PythonException
from pyspark.sql import Row

from pyspark.sql.types import _parse_datatype_string

from connect_spark.boundary import flat_map, row_udf

# return type -> (fn over (s: str, n: int, b: bytes), expected for the
# row ("ab", 2, b"\x01"))
MATRIX = {
    "string": (lambda s, n, b: s * n, "abab"),
    "binary": (lambda s, n, b: s.encode() + b, bytearray(b"ab\x01")),
    "boolean": (lambda s, n, b: n > 1, True),
    "bigint": (lambda s, n, b: n * 10**12, 2 * 10**12),
    "int": (lambda s, n, b: n + len(b), 3),
    "array<string>": (lambda s, n, b: list(s) * n, ["a", "b", "a", "b"]),
    "map<string,string>": (lambda s, n, b: {s: str(n)}, {"ab": "2"}),
    "struct<x:string,y:bigint>": (
        lambda s, n, b: {"x": s, "y": n}, Row(x="ab", y=2)
    ),
}


@pytest.fixture(scope="module")
def df(spark):
    return spark.createDataFrame(
        [
            ("ab", 2, b"\x01"),
            (None, 2, b"\x01"),
            ("ab", None, b"\x01"),
            ("ab", 2, None),
        ],
        "s string, n int, b binary",
    )


def _null_row(rtype: str):
    # a struct result travels as a frame, so null is a struct of nulls
    return Row(x=None, y=None) if rtype.startswith("struct") else None


@pytest.mark.parametrize("rtype", sorted(MATRIX))
def test_return_types_and_null_positions(df, rtype):
    fn, want = MATRIX[rtype]
    got = [
        r.v
        for r in df.select(row_udf(rtype, fn)("s", "n", "b").alias("v"))
        .collect()
    ]
    assert got[0] == want
    # a null in each argument position gives null, fn never sees it
    assert got[1:] == [_null_row(rtype)] * 3


def test_error_inside_errors_is_null(spark):
    df = spark.createDataFrame([("1",), ("x",), (None,)], "s string")
    out = df.select(row_udf("bigint", int, (ValueError,))("s").alias("v"))
    assert [r.v for r in out.collect()] == [1, None, None]


def test_error_outside_errors_fails_the_task(spark):
    df = spark.createDataFrame([("1",), ("x",)], "s string")
    out = df.select(row_udf("bigint", int, (KeyError,))("s").alias("v"))
    with pytest.raises(PythonException, match="ValueError"):
        out.collect()


@pytest.mark.parametrize("rtype", sorted(MATRIX))
def test_empty_batch(spark, rtype):
    # Spark prunes an always-empty plan before any Python runs, so the
    # batch function is called directly, as the worker would
    fn, _want = MATRIX[rtype]
    empty = pd.Series([], dtype=object)
    out = row_udf(rtype, fn).func(empty, empty, empty)
    assert len(out) == 0


FLAT_SCHEMA = (
    "k bigint, i int, s string, b binary, m map<string,string>, "
    "a array<string>"
)


def _exploder():
    # nested, so it pickles by value: workers cannot import this module
    def explode(k, blob):
        # BinaryType arrives as bytes (not bytearray); a failed assert
        # here fails the task
        assert isinstance(blob, bytes), type(blob)
        for i in range(k):
            yield (k, i, blob.decode(), blob + bytes([i]), {"i": str(i)},
                   [blob.decode()] * i)

    return explode


_explode = _exploder()


@pytest.fixture(scope="module")
def blobs(spark):
    return spark.createDataFrame(
        [(0, b"z"), (1, b"o"), (3, b"m")], "k bigint, blob binary")


def test_flat_map_zero_one_and_many_rows(blobs):
    out = flat_map(blobs, FLAT_SCHEMA, _explode)
    assert out.schema == _parse_datatype_string(FLAT_SCHEMA)
    rows = sorted(out.collect(), key=lambda r: (r.k, r.i))
    assert [(r.k, r.i) for r in rows] == [(1, 0), (3, 0), (3, 1), (3, 2)]
    assert rows[0] == Row(k=1, i=0, s="o", b=bytearray(b"o\x00"),
                          m={"i": "0"}, a=[])
    assert rows[3] == Row(k=3, i=2, s="m", b=bytearray(b"m\x02"),
                          m={"i": "2"}, a=["m", "m"])


def test_flat_map_nothing_out(blobs):
    # every row yields nothing, and empty partitions send no rows
    assert flat_map(blobs.filter("k = 0").repartition(4), FLAT_SCHEMA,
                    _explode).collect() == []
    assert flat_map(blobs.filter("k < 0"), FLAT_SCHEMA,
                    _explode).collect() == []


class _Capture:
    """Stands in for a DataFrame: hands back the batch function."""

    def mapInPandas(self, func, schema):
        return func


def test_flat_map_empty_batch_is_typed():
    run = flat_map(_Capture(), FLAT_SCHEMA, _explode)
    empty = pd.DataFrame({"k": pd.Series([], dtype="int64"),
                          "blob": pd.Series([], dtype=object)})
    (out,) = list(run(iter([empty])))
    assert list(out.columns) == ["k", "i", "s", "b", "m", "a"]
    assert len(out) == 0


def test_flat_map_error_fails_the_task(blobs):
    out = flat_map(blobs, "x int", lambda k, blob: [(1 // k,)])
    with pytest.raises(PythonException, match="ZeroDivisionError"):
        out.collect()


def test_flat_map_plan_is_one_map_in_pandas(blobs):
    out = flat_map(blobs, FLAT_SCHEMA, _explode)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "MapInPandas" in plan
    assert "BatchEvalPython" not in plan
