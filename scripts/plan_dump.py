#!/usr/bin/env python
"""Dump `.explain("formatted")` for every headline query (plus any
extra names given on argv) to <round_dir>/<query>_<suffix>.txt.

Usage: python scripts/plan_dump.py <round_dir> <suffix> [query ...]
  e.g. python scripts/plan_dump.py plans/r16 before
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from connect_spark.queries import all_queries  # noqa: E402
from connect_spark.session import get_spark  # noqa: E402


def main() -> None:
    if len(sys.argv) < 3:
        sys.exit(__doc__)
    out_dir, suffix = sys.argv[1], sys.argv[2]
    extra = set(sys.argv[3:])
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    os.makedirs(out_dir, exist_ok=True)
    spark = get_spark("plan_dump")
    for spec in all_queries():
        if not (spec.headline or spec.name in extra):
            continue
        df = spec.fn(spark, sf_dir)
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted")
        path = os.path.join(out_dir, f"{spec.name}_{suffix}.txt")
        with open(path, "w") as fh:
            fh.write(plan)
        n_exch = plan.count("Exchange")
        n_scan = plan.count("Scan parquet")
        print(f"{spec.name}: exchanges={n_exch} scans={n_scan} -> {path}",
              flush=True)


if __name__ == "__main__":
    main()
