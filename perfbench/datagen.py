"""Seeded input generator for the benchmark.

Everything here is a pure function of the seed and writes plain files
(parquet, JSON lines, CDC WAL segments) into a directory the caller
owns. The program under test only ever receives those files.

- ``write_tables``: the ten star-schema tables the registry queries
  read (``region nation customer supplier part orders lineitem events
  documents embeddings``), with the column names, types and value
  ranges of the repository's test tables (TESTDATA.md), at a row
  scale of ``sf``.
- ``events_frame`` / ``write_events``: the event set the pipeline
  workloads push through YAML pipelines, as typed parquet and as raw
  JSON-line messages of the same records.
- ``CdcPlan`` / ``write_cdc``: a snapshot plus a WAL backlog written
  through ``CdcWal.append`` in fixed-size segments, and the tail
  changes an open-loop generator appends later. ``replay`` is the
  generator's own reference for the materialized state.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass, field

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = np.array(["click", "error", "purchase", "signup", "view"],
                       dtype=object)
_PROPS = np.array([f'{{"k": {i}}}' for i in range(100)], dtype=object)
_WORDS = np.array(
    "row the query stream fast spark line small customer group value hash "
    "batch sort data big filter dup key agg scan slow table part a merge "
    "window order column join vector".split()
)
_ADJ = ["blue", "hot", "small", "old", "red", "new", "cold", "large"]
_NOUN = ["bolt", "gear", "anvil", "ring", "widget", "rod", "plate", "gizmo"]
_SEGMENTS = np.array(
    ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
_PRIORITIES = np.array(
    ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
_PTYPES = np.array(
    ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"])
_LANGS = np.array(["en", "de", "es", "fr", "zh"])
_LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
_EPOCH_2024 = np.datetime64("2024-01-01T00:00:00", "us")


def _rng(seed: int, stream: int) -> np.random.Generator:
    """Independent stream per table, so adding a table never shifts the
    values of another."""
    return np.random.Generator(np.random.PCG64([int(seed), stream]))


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng, start: str, span_days: int, n: int) -> np.ndarray:
    base = np.datetime64(start, "us")
    return base + rng.integers(0, span_days, n).astype(
        "timedelta64[D]").astype("timedelta64[us]")


def _write(df: pd.DataFrame, schema: pa.Schema, path: str) -> None:
    pq.write_table(
        pa.Table.from_pandas(df, schema=schema, preserve_index=False), path)


def events_frame(seed: int, n: int, stream: int = 8,
                 n_users: int = 150) -> pd.DataFrame:
    """``n`` events: id, a timestamp within January 2024, a user, one of
    five types, a two-decimal value and a ``{"k": N}`` JSON property."""
    rng = _rng(seed, stream)
    ts = _EPOCH_2024 + np.sort(
        rng.integers(0, 30 * 86_400_000_000, n)).astype("timedelta64[us]")
    k = rng.integers(0, 100, n)
    return pd.DataFrame({
        "event_id": np.arange(n, dtype=np.int64),
        "ts": ts,
        "user_id": rng.integers(0, n_users, n).astype(np.int64),
        "event_type": EVENT_TYPES[rng.integers(0, 5, n)],
        "value": _money(rng, 0.01, 490.02, n),
        "props": _PROPS[k],
    })


EVENTS_SCHEMA = pa.schema([
    ("event_id", pa.int64()), ("ts", pa.timestamp("us")),
    ("user_id", pa.int64()), ("event_type", pa.string()),
    ("value", pa.float64()), ("props", pa.string()),
])


def write_tables(seed: int, out_dir: str, sf: float) -> dict[str, int]:
    """Write the ten registry tables at scale ``sf`` (sf 1 = 6M line
    items). Returns the row count of each table."""
    os.makedirs(out_dir, exist_ok=True)
    n_cust = max(50, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(100, int(200_000 * sf))
    n_ord = max(500, int(1_500_000 * sf))
    n_li = 4 * n_ord
    n_ev = max(1000, int(1_000_000 * sf))
    n_doc = max(100, int(50_000 * sf))
    n_emb = n_doc
    i32, i64, f64, s = pa.int32(), pa.int64(), pa.float64(), pa.string()
    ts = pa.timestamp("us")
    p = lambda t: os.path.join(out_dir, f"{t}.parquet")  # noqa: E731

    _write(pd.DataFrame({
        "r_regionkey": np.arange(5, dtype=np.int32),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    }), pa.schema([("r_regionkey", i32), ("r_name", s)]), p("region"))
    _write(pd.DataFrame({
        "n_nationkey": np.arange(25, dtype=np.int32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": (np.arange(25) % 5).astype(np.int32),
    }), pa.schema([("n_nationkey", i32), ("n_name", s),
                   ("n_regionkey", i32)]), p("nation"))

    rng = _rng(seed, 1)
    _write(pd.DataFrame({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": _SEGMENTS[rng.integers(0, 5, n_cust)],
    }), pa.schema([("c_custkey", i64), ("c_name", s), ("c_nationkey", i32),
                   ("c_acctbal", f64), ("c_mktsegment", s)]), p("customer"))

    rng = _rng(seed, 2)
    _write(pd.DataFrame({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    }), pa.schema([("s_suppkey", i64), ("s_name", s), ("s_nationkey", i32),
                   ("s_acctbal", f64)]), p("supplier"))

    rng = _rng(seed, 3)
    names = np.array([f"{a} {b}" for a in _ADJ for b in _NOUN])
    pk = np.arange(n_part, dtype=np.int64)
    _write(pd.DataFrame({
        "p_partkey": pk,
        "p_name": names[rng.integers(0, len(names), n_part)],
        "p_brand": np.char.add("Brand#",
                               rng.integers(1, 26, n_part).astype(str)),
        "p_type": _PTYPES[rng.integers(0, 6, n_part)],
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900.0 + (pk % 1000) / 10.0, 1),
    }), pa.schema([("p_partkey", i64), ("p_name", s), ("p_brand", s),
                   ("p_type", s), ("p_size", i32),
                   ("p_retailprice", f64)]), p("part"))

    rng = _rng(seed, 4)
    _write(pd.DataFrame({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": np.array(["F", "O", "P"])[
            rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
        "o_orderdate": _days(rng, "1995-01-01", 2404, n_ord),
        "o_orderpriority": _PRIORITIES[rng.integers(0, 5, n_ord)],
    }), pa.schema([("o_orderkey", i64), ("o_custkey", i64),
                   ("o_orderstatus", s), ("o_totalprice", f64),
                   ("o_orderdate", ts), ("o_orderpriority", s)]),
        p("orders"))

    rng = _rng(seed, 5)
    _write(pd.DataFrame({
        "l_orderkey": rng.integers(0, n_ord, n_li).astype(np.int64),
        "l_partkey": rng.integers(0, n_part, n_li).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_li).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, n_li).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105_000.0, n_li),
        "l_discount": np.round(rng.uniform(0, 10, n_li)) / 100.0,
        "l_tax": np.round(rng.uniform(0, 8, n_li)) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
        "l_shipdate": _days(rng, "1995-01-02", 2499, n_li),
    }), pa.schema([("l_orderkey", i64), ("l_partkey", i64),
                   ("l_suppkey", i64), ("l_linenumber", i32),
                   ("l_quantity", f64), ("l_extendedprice", f64),
                   ("l_discount", f64), ("l_tax", f64),
                   ("l_returnflag", s), ("l_linestatus", s),
                   ("l_shipdate", ts)]), p("lineitem"))

    _write(events_frame(seed, n_ev, stream=6, n_users=n_cust // 10),
           EVENTS_SCHEMA, p("events"))

    rng = _rng(seed, 7)
    lens = rng.integers(10, 100, n_doc)
    texts = [" ".join(_WORDS[rng.integers(0, len(_WORDS), m)])
             for m in lens]
    _write(pd.DataFrame({
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": texts,
        "lang": _LANGS[rng.choice(5, n_doc, p=_LANG_P)],
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }), pa.schema([("doc_id", i64), ("text", s), ("lang", s),
                   ("source", s), ("n_chars", i64)]), p("documents"))

    rng = _rng(seed, 9)
    labels = rng.integers(0, 10, n_emb)
    centers = rng.normal(0, 1, (10, 64))
    vecs = centers[labels] + rng.normal(0, 0.8, (n_emb, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(
        np.float32)
    emb = pa.table({
        "vec_id": pa.array(np.arange(n_emb, dtype=np.int64)),
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
        "label": pa.array(labels.astype(np.int32)),
    })
    pq.write_table(emb, p("embeddings"))
    return {"customer": n_cust, "supplier": n_supp, "part": n_part,
            "orders": n_ord, "lineitem": n_li, "events": n_ev,
            "documents": n_doc, "embeddings": n_emb, "nation": 25,
            "region": 5}


EVENT_FILES = 4  # parquet files per event set, so the scan splits over cores


def write_events(events: pd.DataFrame, parquet_dir: str | None = None,
                 jsonl_path: str | None = None) -> None:
    """Stage one event set as typed parquet (``EVENT_FILES`` files) and/or
    as JSON-line messages whose ``ts`` is an ISO-8601 UTC string."""
    if parquet_dir is not None:
        os.makedirs(parquet_dir, exist_ok=True)
        bounds = np.linspace(0, len(events), EVENT_FILES + 1).astype(int)
        for i, (lo, hi) in enumerate(zip(bounds[:-1], bounds[1:])):
            _write(events.iloc[lo:hi], EVENTS_SCHEMA,
                   os.path.join(parquet_dir, f"part-{i:03d}.parquet"))
    if jsonl_path is not None:
        iso = pd.to_datetime(events["ts"]).dt.strftime(
            "%Y-%m-%dT%H:%M:%S.%fZ")
        with open(jsonl_path, "w", encoding="utf-8") as fh:
            for eid, t, uid, et, v, pr in zip(
                    events["event_id"], iso, events["user_id"],
                    events["event_type"], events["value"],
                    events["props"]):
                fh.write(json.dumps({
                    "event_id": int(eid), "ts": t, "user_id": int(uid),
                    "event_type": et, "value": float(v), "props": pr,
                }) + "\n")


# --------------------------------------------------------------------
# CDC
# --------------------------------------------------------------------

CDC_SEGMENT = 1000  # changes per WAL segment, backlog and tail alike


@dataclass
class CdcPlan:
    """Snapshot rows and the ordered change list of one CDC round.
    ``backlog`` is written before the stream starts; ``tail`` is
    appended by the open-loop generator while it runs."""

    snapshot: pd.DataFrame
    backlog: list[dict] = field(default_factory=list)
    tail: list[dict] = field(default_factory=list)

    @property
    def n_changes(self) -> int:
        return len(self.snapshot) + len(self.backlog) + len(self.tail)


def _cdc_changes(rng, state: dict, next_id: int, n: int
                 ) -> tuple[list[dict], int]:
    """``n`` changes against ``state`` (updated in place): 40% inserts,
    45% updates, 15% deletes of live keys."""
    out: list[dict] = []
    live = list(state)
    for _ in range(n):
        r = rng.random()
        if r < 0.40 or not live:
            row = {"id": next_id, "name": f"n{rng.integers(0, 10**6)}",
                   "qty": int(rng.integers(0, 1000))}
            next_id += 1
            state[row["id"]] = row
            live.append(row["id"])
            out.append({"op": "insert", "after": row})
            continue
        j = int(rng.integers(0, len(live)))
        key = live[j]
        before = state[key]
        if r < 0.85:
            row = {"id": key, "name": f"u{rng.integers(0, 10**6)}",
                   "qty": int(rng.integers(0, 1000))}
            state[key] = row
            out.append({"op": "update", "before": before, "after": row})
        else:
            live[j] = live[-1]
            live.pop()
            del state[key]
            out.append({"op": "delete", "before": before})
    return out, next_id


def cdc_plan(seed: int, n_snapshot: int, n_backlog: int,
             n_tail: int) -> CdcPlan:
    rng = _rng(seed, 10)
    snap = pd.DataFrame({
        "id": np.arange(n_snapshot, dtype=np.int64),
        "name": [f"s{int(x)}" for x in rng.integers(0, 10**6, n_snapshot)],
        "qty": rng.integers(0, 1000, n_snapshot).astype(np.int64),
    })
    state = {int(i): {"id": int(i), "name": nm, "qty": int(q)}
             for i, nm, q in zip(snap["id"], snap["name"], snap["qty"])}
    backlog, nxt = _cdc_changes(rng, state, n_snapshot, n_backlog)
    tail, _ = _cdc_changes(rng, state, nxt, n_tail)
    return CdcPlan(snap, backlog, tail)


def write_cdc(plan: CdcPlan, snapshot_path: str, wal_dir: str) -> int:
    """Write the snapshot parquet and the backlog WAL. Returns the last
    backlog LSN."""
    from connect_spark.sources.cdc_stream import CdcWal

    _write(plan.snapshot, pa.schema([("id", pa.int64()),
                                     ("name", pa.string()),
                                     ("qty", pa.int64())]), snapshot_path)
    wal = CdcWal(wal_dir)
    lsn = 0
    for i in range(0, len(plan.backlog), CDC_SEGMENT):
        lsn = wal.append(plan.backlog[i:i + CDC_SEGMENT], table="items")
    return lsn


def replay(plan: CdcPlan) -> dict[int, tuple]:
    """The generator's own replay: key -> (name, qty) after every
    snapshot row and change is applied in LSN order."""
    state = {int(i): (nm, int(q)) for i, nm, q in zip(
        plan.snapshot["id"], plan.snapshot["name"], plan.snapshot["qty"])}
    for ch in plan.backlog + plan.tail:
        if ch["op"] == "delete":
            state.pop(ch["before"]["id"], None)
        else:
            a = ch["after"]
            state[a["id"]] = (a["name"], a["qty"])
    return state
