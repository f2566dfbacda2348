"""sf1 (10x sf0.1) full-scale audit of the headline query set
(round-11 verdict task #6).

Builds a 10-fold re-salted replica of sf0.1 with scale_measure's
builder (key salting preserves join/grouping cardinality structure),
warms each headline query once at 1x, then times one pass per query
at 10x.  For the shuffle-join-heavy subset it also collects the
ADAPTIVE FINAL plan (after execution) and records the AQE markers
that only appear at real scale: skew-join splits (`skew=true`) and
coalesced shuffle reads (`AQEShuffleRead`).

Prints one JSON line per measurement; paste the table into SCALE.md.

Usage:  python scripts/sf1_audit.py [query ...]   # default: headline
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(
    0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from connect_spark.queries import all_queries  # noqa: E402
from connect_spark.session import get_spark  # noqa: E402
from scripts.scale_measure import BASE, build_replica  # noqa: E402

# queries whose outputs are aggregate-small AND whose plans carry the
# interesting shuffle joins — these get a collect() so the adaptive
# final plan is inspectable
PLAN_QUERIES = {
    "join_star_revenue_by_nation",
    "q5_local_supplier_volume",
    "q18_large_volume",
    "q1_pricing_summary",
}


def plan_markers(df) -> dict:
    s = df._jdf.queryExecution().executedPlan().toString()
    return {
        "final_plan": "isFinalPlan=true" in s,
        "skew_joins": s.count("skew=true"),
        "aqe_shuffle_reads": s.count("AQEShuffleRead"),
        "exchanges": s.count("Exchange "),
        "broadcast_joins": s.count("BroadcastHashJoin"),
        "smj": s.count("SortMergeJoin"),
    }


def main() -> None:
    spark = get_spark("sf1_audit")
    registry = {s.name: s for s in all_queries()}
    names = sys.argv[1:] or [
        s.name for s in all_queries() if s.headline]
    t0 = time.time()
    sf10 = build_replica(spark, 10)
    print(json.dumps({"replica_build_sec": round(time.time() - t0, 1)}),
          flush=True)
    for name in names:
        fn = registry[name].fn
        # warm at 1x (codegen/JIT), then a TIMED cold-cache 1x pass
        # (the in-protocol denominator for the 10x ratio), then 10x
        fn(spark, BASE).write.format("noop").mode("overwrite").save()
        spark.catalog.clearCache()
        t0 = time.time()
        fn(spark, BASE).write.format("noop").mode("overwrite").save()
        wall_1x = round(time.time() - t0, 2)
        spark.catalog.clearCache()
        t0 = time.time()
        df = fn(spark, sf10)
        if name in PLAN_QUERIES:
            n_rows = len(df.collect())
            wall = round(time.time() - t0, 2)
            rec = {"query": name, "sf": 1.0, "wall_sec": wall,
                   "rows": n_rows, **plan_markers(df)}
        else:
            df.write.format("noop").mode("overwrite").save()
            wall = round(time.time() - t0, 2)
            rec = {"query": name, "sf": 1.0, "wall_sec": wall}
        rec["wall_sec_sf01"] = wall_1x
        rec["ratio_10x"] = round(wall / wall_1x, 1) if wall_1x else None
        spark.catalog.clearCache()
        print(json.dumps(rec), flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
