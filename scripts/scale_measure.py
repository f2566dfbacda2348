"""Measured-scaling protocol (SCALE.md): run selected queries against
synthetic n-fold replicas of sf0.1 with per-copy key re-salting, so
join/grouping cardinality structure is preserved (keys don't collapse
across copies) and the scaling curve reflects real work growth.

Usage:
    python scripts/scale_measure.py [query ...]   # default: round-4 set

Builds /tmp/scalebench/{n}x table dirs (cached across runs), executes
each query via the registry with a full materialization (noop write),
and prints one JSON line per (query, n) with wall seconds.  The session
comes from get_spark: cores from $SPARK_GRAFT_CPUS, driver memory from
$SPARK_GRAFT_DRIVER_MEM.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import SparkSession, functions as F  # noqa: E402

from connect_spark.queries import all_queries  # noqa: E402
from connect_spark.session import get_spark  # noqa: E402

BASE = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
OUT = "/tmp/scalebench"
NS = [1, 4, 16]
KEY_STRIDE = 10_000_000_000

DEFAULT_QUERIES = [
    "q5_local_supplier_volume",
    "q9_product_profit",
    "q18_large_volume",
    "batch_policy_events",
    "dedup_neardup_verified",
    "cdc_materialize_orders",
]

# per-table key columns offset by copy_index * KEY_STRIDE; dims
# (nation/region) replicate WITHOUT salting? No — they are copied once
# (scale-fixed). embeddings unused by the round-4 set.
SALTED = {
    "lineitem": ["l_orderkey", "l_partkey", "l_suppkey"],
    "orders": ["o_orderkey", "o_custkey"],
    "customer": ["c_custkey"],
    "supplier": ["s_suppkey"],
    "part": ["p_partkey"],
    "events": ["event_id", "user_id"],
    "documents": ["doc_id"],
    "embeddings": ["vec_id"],
}
DIMS = ["nation", "region"]


def build_replica(spark: SparkSession, n: int) -> str:
    dst = f"{OUT}/{n}x"
    marker = os.path.join(dst, "_DONE")
    if os.path.exists(marker):
        return dst
    os.makedirs(dst, exist_ok=True)
    for t in DIMS:
        spark.read.parquet(f"{BASE}/{t}.parquet").write.mode(
            "overwrite"
        ).parquet(f"{dst}/{t}.parquet")
    for t, keys in SALTED.items():
        src = spark.read.parquet(f"{BASE}/{t}.parquet")
        copies = []
        for i in range(n):
            c = src
            for k in keys:
                c = c.withColumn(k, F.col(k) + F.lit(i * KEY_STRIDE))
            if t == "documents" and i > 0:
                # salt text so shingles/minhashes don't collapse
                c = c.withColumn(
                    "text", F.concat(F.lit(f"copy{i} "), F.col("text"))
                )
            if t == "embeddings" and i > 0:
                # the vector analog of key re-salting: an element-wise
                # sign PATTERN shared by every vector in copy i.  Within
                # a copy, cos(s*a, s*b) == cos(a, b) exactly (s_j^2 = 1),
                # so the copy's near-dup structure is preserved; across
                # copies the patterns differ, so a vector is NOT an
                # exact duplicate of its 15 siblings and pair counts
                # scale linearly in n instead of quadratically.
                def _signer(step: int, ii: int):
                    return lambda x, j: F.when(
                        (j * step + ii) % 4 < 2, -x
                    ).otherwise(x)

                c = c.withColumn(
                    "embedding",
                    F.transform("embedding", _signer(2 * i + 1, i)),
                )
            copies.append(c)
        out = copies[0]
        for c in copies[1:]:
            out = out.unionByName(c)
        out.write.mode("overwrite").parquet(f"{dst}/{t}.parquet")
    open(marker, "w").close()
    return dst


def main() -> None:
    names = sys.argv[1:] or DEFAULT_QUERIES
    spark = get_spark("scale_measure")
    registry = {s.name: s.fn for s in all_queries()}
    for n in NS:
        sf_dir = build_replica(spark, n)
        for name in names:
            fn = registry[name]
            # warm once at 1x only (JIT/codegen); timed run follows
            t0 = time.time()
            df = fn(spark, sf_dir)
            df.write.format("noop").mode("overwrite").save()
            wall = round(time.time() - t0, 2)
            print(
                json.dumps(
                    {"query": name, "n": n, "wall_sec": wall}
                ),
                flush=True,
            )
    spark.stop()


if __name__ == "__main__":
    main()
