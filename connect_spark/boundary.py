"""The per-row Python boundary.

Codecs, crypto and interpreters that have no JVM form run in Python,
one message at a time, inside an Arrow-batched pandas UDF. This module
is the one place those batch loops are written.

`row_udf` maps one row to one value (a scalar pandas UDF) and owns its
null guard and error-to-null policy:

- a row with a null in any argument gives null, and `fn` is not called
  (numeric columns reach pandas as floats, so a NaN counts as null);
- otherwise the row gives `fn(*row)`, with `None` meaning null;
- an exception that is an instance of one of `errors` gives null; any
  other exception fails the Spark task.

Arguments arrive as pandas/Arrow hands them over (`str`, `bytes`,
`bool`, numpy scalars, lists and dicts for nested types). The path
stays pandas/Arrow rather than plain or Arrow-optimised row UDFs,
whose coercions differ: BinaryType, for one, arrives as `bytearray`
there. A struct return type is sent back as a frame, so a null result
there is a struct of nulls.

`flat_map` maps one row to any number of rows (`mapInPandas`): `fn`
gets every column of the row, as `row_udf` does, and returns an
iterable of tuples in the output schema's field order; a generator, a
one-tuple list and an empty result are all fine. There is no null
guard (`fn` sees `None` and NaN as they arrive) and no error policy:
any exception fails the Spark task. The output frame takes its field
names from the schema, so a batch that yields nothing is still typed.
"""

from __future__ import annotations

from typing import Any, Callable, Iterable

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import DataType, StructType, _parse_datatype_string


def row_udf(
    return_type: str | DataType,
    fn: Callable[..., Any],
    errors: tuple[type[BaseException], ...] = (),
):
    """Scalar pandas UDF applying `fn` per row; see the module doc for
    the null and error contract. Call the result on Columns."""
    if isinstance(return_type, str):
        return_type = _parse_datatype_string(return_type)
    fields = (
        [f.name for f in return_type.fields]
        if isinstance(return_type, StructType)
        else None
    )

    def one(row: tuple, null: bool) -> Any:
        if null:
            return None
        try:
            return fn(*row)
        except errors:
            return None

    def run(*cols: pd.Series) -> pd.Series:
        nulls = cols[0].isna()
        for c in cols[1:]:
            nulls = nulls | c.isna()
        out = [one(row, null) for row, null in zip(zip(*cols), nulls)]
        if fields is None:
            return pd.Series(out, dtype=object)
        return pd.DataFrame.from_records(
            [r if r is not None else {} for r in out], columns=fields
        )

    return pandas_udf(run, return_type)


def flat_map(
    df: DataFrame,
    schema: str | StructType,
    fn: Callable[..., Iterable[tuple]],
) -> DataFrame:
    """`df.mapInPandas` calling `fn(*row)` once per input row; see the
    module doc for the contract."""
    if isinstance(schema, str):
        schema = _parse_datatype_string(schema)
    fields = schema.fieldNames()

    def run(batches):
        for pdf in batches:
            rows = pdf.itertuples(index=False, name=None)
            yield pd.DataFrame.from_records(
                [out for row in rows for out in fn(*row)], columns=fields
            )

    return df.mapInPandas(run, schema)
