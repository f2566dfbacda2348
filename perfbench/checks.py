"""Output checks made apart from the program under test.

- ``headline_problems``: a query's Spark rows against its oracle SQL run
  in DuckDB over the same parquet files, as an order-insensitive
  multiset with typed cells (an int never equals a float).
- ``pipeline_expected`` / ``compiled_records`` / ``interpreted_records``
  / ``compare_records``: the pipeline outputs against a pandas
  computation of the same filter/switch/mapping over the generated
  events, and against each other.
- ``state_problems`` / ``unconserved_changes``: the materialized CDC
  state against the generator's replay, and the input-row count of
  every micro-batch against the changes its offsets cover.

Each check returns the number of failed records, so the caller can
count them against the records attempted.
"""

from __future__ import annotations

import json
import math
from collections import Counter

import numpy as np
import pandas as pd
import pyarrow.parquet as pq

TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")


# --------------------------------------------------------------------
# headline queries vs DuckDB
# --------------------------------------------------------------------


def _cell(v):
    if v is None:
        return None
    if isinstance(v, bool):
        return ("b", v)
    if isinstance(v, int):
        return ("i", v)
    if isinstance(v, float):
        return ("f", "NaN") if math.isnan(v) else ("f", v + 0.0)
    if isinstance(v, (list, tuple)):
        return ("l", tuple(_cell(x) for x in v))
    if isinstance(v, dict):
        return ("m", tuple(sorted((str(k), _cell(x)) for k, x in v.items())))
    if isinstance(v, (bytes, bytearray)):
        return ("y", bytes(v).hex())
    return v


def multiset(cols: list[str], rows) -> Counter:
    """Rows as a multiset of typed tuples, columns in name order."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return Counter(tuple(_cell(r[i]) for i in order) for r in rows)


def oracle_connection(tables_dir: str):
    import duckdb

    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{tables_dir}/{t}.parquet')")
    return con


def headline_problems(con, sql: str, cols: list[str], rows) -> int:
    """Number of rows that differ between the Spark result and the
    oracle (spark-only plus oracle-only); a column-name mismatch counts
    every row."""
    cur = con.execute(sql)
    o_cols = [d[0] for d in cur.description]
    o_rows = cur.fetchall()
    if sorted(o_cols) != sorted(cols):
        return max(1, len(rows), len(o_rows))
    left, right = multiset(cols, rows), multiset(o_cols, o_rows)
    return sum((left - right).values()) + sum((right - left).values())


# --------------------------------------------------------------------
# pipelines vs pandas
# --------------------------------------------------------------------

RECORD_FIELDS = ("event_id", "user_id", "kind", "hour", "k", "tier",
                 "value")
_HOUR_NS = 3_600 * 10**9


def _hours(ts) -> pd.Series:
    """Timestamps as whole hours since the epoch."""
    ns = pd.to_datetime(ts).values.astype("datetime64[ns]").astype("int64")
    return pd.Series(ns // _HOUR_NS)


def pipeline_expected(events: pd.DataFrame) -> pd.DataFrame:
    """What the pipelines in pipelines/*.yaml must produce: parse k out
    of props, keep value > 25, tier purchases by value and flag errors,
    upper-case the type and truncate ts to the hour."""
    props = events["props"]
    k = props.map({p: float(json.loads(p)["k"]) for p in props.unique()})
    df = events.assign(k=k)
    df = df[df["value"] > 25].reset_index(drop=True)
    tier = np.where(
        df["event_type"] == "purchase",
        np.where(df["value"] > 250, "gold", "silver"),
        np.where(df["event_type"] == "error", "alert", None))
    return pd.DataFrame({
        "event_id": df["event_id"].astype("int64"),
        "user_id": df["user_id"].astype("int64"),
        "kind": df["event_type"].map(
            {t: t.upper() for t in df["event_type"].unique()}),
        "hour": _hours(df["ts"]),
        "k": df["k"],
        "tier": pd.Series(tier, dtype=object),
        "value": df["value"].astype(float),
    })


def compiled_records(out_dir: str) -> tuple[pd.DataFrame, int]:
    """(records, error rows) of the compiled pipeline's parquet output."""
    t = pq.read_table(out_dir).to_pandas()
    errors = int(t["_error"].notna().sum()) if "_error" in t else 0
    return pd.DataFrame({
        "event_id": t["event_id"].astype("int64"),
        "user_id": t["user_id"].astype("int64"),
        "kind": t["kind"],
        "hour": _hours(t["hour"]),
        "k": t["k"].astype(float),
        "tier": t["tier"].astype(object),
        "value": t["value"].astype(float),
    }), errors


def interpreted_records(out_dir: str) -> tuple[pd.DataFrame, int]:
    """(records, error rows) of the interpreted pipeline's output: one
    JSON document per row in the ``content`` column; ``hour`` arrives
    as the ``YYYY-MM-DDTHH`` prefix of the ISO timestamp."""
    t = pq.read_table(out_dir, columns=["content", "_error"]).to_pandas()
    errors = int(t["_error"].notna().sum())
    docs = pd.DataFrame([json.loads(c) for c in t["content"]],
                        columns=list(RECORD_FIELDS))
    return pd.DataFrame({
        "event_id": docs["event_id"].fillna(-1).astype("int64"),
        "user_id": docs["user_id"].fillna(-1).astype("int64"),
        "kind": docs["kind"],
        "hour": _hours(pd.to_datetime(docs["hour"], format="%Y-%m-%dT%H",
                                      errors="coerce")),
        "k": docs["k"].astype(float),
        "tier": docs["tier"].astype(object),
        "value": docs["value"].astype(float),
    }), errors


def compare_records(expected: pd.DataFrame, actual: pd.DataFrame) -> int:
    """Failed records, matched by ``event_id`` (unique in ``expected``):
    records missing from ``actual``, present there with any other field
    different, or present there more than once or without being
    expected."""
    actual = actual.sort_values("event_id", kind="stable",
                                ignore_index=True)
    if len(actual) == len(expected) and np.array_equal(
            actual["event_id"].to_numpy(), expected["event_id"].to_numpy()):
        # same keys in the same order: compare field by field in place
        return int(_differs(expected, actual).sum())
    dup = int(actual["event_id"].duplicated().sum())
    actual = actual.drop_duplicates("event_id")
    m = expected.merge(actual, on="event_id", how="outer",
                       suffixes=("_e", "_a"), indicator=True)
    one_sided = int((m["_merge"] != "both").sum())
    both = m[m["_merge"] == "both"]
    e = both[[f"{c}_e" for c in RECORD_FIELDS[1:]]]
    a = both[[f"{c}_a" for c in RECORD_FIELDS[1:]]]
    e.columns = a.columns = list(RECORD_FIELDS[1:])
    return one_sided + int(_differs(e, a).sum()) + dup


def _differs(e: pd.DataFrame, a: pd.DataFrame) -> np.ndarray:
    """Row mask: any non-key field differs (two nulls are equal)."""
    out = np.zeros(len(e), dtype=bool)
    for c in RECORD_FIELDS[1:]:
        x, y = e[c].reset_index(drop=True), a[c].reset_index(drop=True)
        out |= ~((x == y) | (x.isna() & y.isna())).to_numpy()
    return out


# --------------------------------------------------------------------
# CDC state vs the generator's replay
# --------------------------------------------------------------------


def read_state(state_dir: str) -> tuple[dict[int, tuple], int]:
    """(key -> (name, qty), rows) of the newest state generation."""
    import os

    gens = [int(d[1:]) for d in os.listdir(state_dir)
            if d.startswith("v") and d[1:].isdigit()]
    t = pq.read_table(os.path.join(state_dir, f"v{max(gens)}"),
                      columns=["id", "name", "qty"])
    got = {int(i): (n, int(q)) for i, n, q in zip(
        t.column("id").to_pylist(), t.column("name").to_pylist(),
        t.column("qty").to_pylist())}
    return got, len(t)


def state_problems(got: dict[int, tuple], rows: int,
                   expected: dict[int, tuple]) -> int:
    """Keys whose final state differs from the replay (missing, extra or
    with another value), plus duplicate keys in the state."""
    bad = sum(1 for k, v in expected.items() if got.get(k) != v)
    bad += sum(1 for k in got if k not in expected)
    return bad + rows - len(got)


def unconserved_changes(batches: list[tuple[int, int]]) -> int:
    """Changes delivered in micro-batches whose reported input rows differ
    from the number of changes in their offset range. ``batches`` holds
    (numInputRows, changes between start and end offset) per batch."""
    return sum(n for reported, n in batches if reported != n)
