"""`errors.try_processor`, the linear form: each step's newly errored
slice is set aside and the slices are unioned once at the end."""

from __future__ import annotations

from pyspark.sql import functions as F

from connect_spark.errors import (
    ensure_error_col,
    errored,
    flag_error,
    try_processor,
)

STEPS = (
    # step 1 errors every third row
    lambda df: flag_error(df, F.col("n") % 3 == 0, "div3"),
    # step 2 drops a column
    lambda df: df.drop("tag"),
    lambda df: df.withColumn("y", F.col("n") * 10),
)


def _sequential(df, *steps):
    """The per-step reference: re-union the whole frame after every
    step."""
    df = ensure_error_col(df)
    for step in steps:
        done = ensure_error_col(step(df.filter(~errored())))
        df = done.unionByName(df.filter(errored()),
                              allowMissingColumns=True)
    return df


def _rows(df):
    return sorted((sorted(r.asDict().items()) for r in df.collect()),
                  key=repr)


def test_try_processor_linear_form(spark):
    df = spark.createDataFrame(
        [(n, f"t{n}") for n in range(9)], "n long, tag string")
    out = try_processor(df, *STEPS)
    rows = {r.n: r for r in out.collect()}
    assert len(rows) == 9 == out.count()
    for n, r in rows.items():
        if n % 3 == 0:
            # frozen at step 1: its columns and error, no later step
            assert (r.tag, r._error, r.y) == (f"t{n}", "div3", None)
        else:
            # through all three steps; the dropped column comes back null
            assert (r.tag, r._error, r.y) == (None, None, n * 10)
    assert _rows(out) == _rows(_sequential(df, *STEPS))
