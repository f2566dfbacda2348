"""The per-row Python boundary.

Codecs, crypto and interpreters that have no JVM form run in Python,
one message at a time, inside an Arrow-batched scalar pandas UDF.
`row_udf` is the one place that batch loop, its null guard and its
error-to-null policy are written:

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
"""

from __future__ import annotations

from typing import Any, Callable

import pandas as pd
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
