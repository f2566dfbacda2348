"""Type matrix for `boundary.row_udf`, the one per-row Python boundary:
every return type the migrated sites use, a null in each argument
position, errors inside and outside the null-mapped tuple, and an
empty batch."""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.errors import PythonException
from pyspark.sql import Row

from connect_spark.boundary import row_udf

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
