"""Self-tests of the benchmark's output checks: each check passes on a
correct output and fails on a deliberately perturbed one (one changed
row, one dropped record, one CDC change applied twice, one ``_error``
row). Needs no Spark session.

    python3 perfbench/selftest.py
"""

from __future__ import annotations

import json
import os
import sys
import tempfile

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import checks  # noqa: E402
import datagen  # noqa: E402

FAILURES: list[str] = []


def expect(name: str, ok: bool) -> None:
    print(("ok   " if ok else "FAIL ") + name)
    if not ok:
        FAILURES.append(name)


def test_headline(tmp: str) -> None:
    tdir = os.path.join(tmp, "tables")
    datagen.write_tables(7, tdir, 0.001)
    con = checks.oracle_connection(tdir)
    sql = ("SELECT n_name, COUNT(*) AS n, ROUND(SUM(c_acctbal), 2) AS bal "
           "FROM customer JOIN nation ON c_nationkey = n_nationkey "
           "GROUP BY n_name")
    cur = con.execute(sql)
    cols = [d[0] for d in cur.description]
    rows = cur.fetchall()
    expect("headline: oracle result matches itself",
           checks.headline_problems(con, sql, cols, rows) == 0)
    expect("headline: reordered columns and rows still match",
           checks.headline_problems(
               con, sql, cols[::-1], [r[::-1] for r in reversed(rows)]) == 0)
    changed = [rows[0][:2] + (rows[0][2] + 0.01,)] + rows[1:]
    expect("headline: one changed row fails",
           checks.headline_problems(con, sql, cols, changed) > 0)
    expect("headline: one dropped row fails",
           checks.headline_problems(con, sql, cols, rows[1:]) > 0)
    as_float = [(r[0], float(r[1]), r[2]) for r in rows]
    expect("headline: an int column returned as float fails",
           checks.headline_problems(con, sql, cols, as_float) > 0)
    con.close()


def _write_compiled(df: pd.DataFrame, path: str) -> None:
    os.makedirs(path, exist_ok=True)
    out = df.assign(hour=pd.to_datetime(df["hour"] * 3600, unit="s"))
    pq.write_table(pa.Table.from_pandas(out, preserve_index=False),
                   os.path.join(path, "part-0.parquet"))


def _write_interpreted(df: pd.DataFrame, path: str,
                       errors: int = 0) -> None:
    os.makedirs(path, exist_ok=True)
    df = df.assign(hour=pd.to_datetime(df["hour"] * 3600, unit="s")
                   .dt.strftime("%Y-%m-%dT%H"))
    docs = [json.dumps({k: (None if v is None or v != v else v)
                        for k, v in rec.items()})
            for rec in df.to_dict("records")]
    err = [None] * len(docs)
    for i in range(errors):
        err[i] = "failed assignment (line 1): boom"
    pq.write_table(pa.table({"content": docs, "_error": err}),
                   os.path.join(path, "part-0.parquet"))


def test_pipelines(tmp: str) -> None:
    events = datagen.events_frame(3, 2_000)
    expected = checks.pipeline_expected(events)
    expect("pipeline: reference keeps value > 25 only",
           bool((expected["value"] > 25).all()) and len(expected) > 0)
    for kind, write, read in (
            ("compiled", _write_compiled, checks.compiled_records),
            ("interpreted", _write_interpreted,
             checks.interpreted_records)):
        good = os.path.join(tmp, f"{kind}_good")
        write(expected, good)
        got, errors = read(good)
        expect(f"pipeline {kind}: correct output matches",
               checks.compare_records(expected, got) == 0 and errors == 0)
        changed = expected.copy()
        changed.loc[5, "tier"] = "gold" if changed.loc[5, "tier"] != "gold" \
            else "silver"
        write(changed, os.path.join(tmp, f"{kind}_changed"))
        got, _ = read(os.path.join(tmp, f"{kind}_changed"))
        expect(f"pipeline {kind}: one changed row fails",
               checks.compare_records(expected, got) > 0)
        write(expected.drop(index=7), os.path.join(tmp, f"{kind}_dropped"))
        got, _ = read(os.path.join(tmp, f"{kind}_dropped"))
        expect(f"pipeline {kind}: one dropped record fails",
               checks.compare_records(expected, got) > 0)
    _write_interpreted(expected, os.path.join(tmp, "errored"), errors=1)
    _, errors = checks.interpreted_records(os.path.join(tmp, "errored"))
    expect("pipeline: an _error row is counted", errors == 1)
    got_c, _ = checks.compiled_records(os.path.join(tmp, "compiled_good"))
    got_i, _ = checks.interpreted_records(
        os.path.join(tmp, "interpreted_good"))
    expect("pipeline: the two output forms agree",
           checks.compare_records(got_c, got_i) == 0)


def test_cdc() -> None:
    plan = datagen.cdc_plan(5, 50, 200, 50)
    expected = datagen.replay(plan)
    state = dict(expected)
    expect("cdc: replayed state matches",
           checks.state_problems(state, len(state), expected) == 0)
    key = next(iter(state))
    changed = dict(state)
    changed[key] = ("other", -1)
    expect("cdc: one changed row fails",
           checks.state_problems(changed, len(changed), expected) > 0)
    dropped = dict(state)
    del dropped[key]
    expect("cdc: one dropped key fails",
           checks.state_problems(dropped, len(dropped), expected) > 0)
    # a stale update applied a second time after a later one
    keys_updated = [ch["after"]["id"] for ch in plan.backlog
                    if ch["op"] == "update"]
    twice_key = next(k for k in keys_updated if keys_updated.count(k) > 1
                     and k in expected)
    first = next(ch for ch in plan.backlog
                 if ch["op"] == "update" and ch["after"]["id"] == twice_key)
    twice = dict(state)
    twice[twice_key] = (first["after"]["name"], first["after"]["qty"])
    expect("cdc: one change applied twice (state) fails",
           checks.state_problems(twice, len(twice), expected) > 0)
    batches = [(100, 100), (50, 50)]
    expect("cdc: exactly-once batches conserve",
           checks.unconserved_changes(batches) == 0)
    expect("cdc: one change counted twice (progress) fails",
           checks.unconserved_changes([(101, 100), (50, 50)]) > 0)
    expect("cdc: a duplicated key row fails",
           checks.state_problems(state, len(state) + 1, expected) > 0)


def main() -> int:
    scratch = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        ".perfbench")
    os.makedirs(scratch, exist_ok=True)
    with tempfile.TemporaryDirectory(dir=scratch) as tmp:
        test_headline(tmp)
        test_pipelines(tmp)
    test_cdc()
    print(f"{len(FAILURES)} failed")
    return 1 if FAILURES else 0


if __name__ == "__main__":
    sys.exit(main())
