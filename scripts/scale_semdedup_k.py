"""Scaled-K SemDeDup curve (round-9 verdict task #4): measure
kmeans_semdedup_keep on the n-fold replicas with K GROWING with n
(K = 8n), so expected cluster size stays CONSTANT — the production
parameterization the SemDeDup paper (Abbas et al. 2023) uses.  The
fixed-K curve in SCALE.md is quadratic by construction (cluster size
grows with n, within-cluster pairs with its square); this run
demonstrates the claim that the within-cluster pair stage goes linear
once K tracks n.

The assignment stage is N×K distance evaluations (the paper's GPU
matmul); with K ∝ n that term is O(n^2 / const) and visibly grows —
reported separately (kmeans_lloyd_clusters at the same scaled K) so
the pair-stage behavior isn't conflated with it.

Usage: python scripts/scale_semdedup_k.py
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from connect_spark.session import get_spark  # noqa: E402
from scripts.scale_measure import NS, build_replica  # noqa: E402


def main() -> None:
    spark = get_spark("scale_semdedup_k")
    from connect_spark.queries import clustering

    base_k = clustering.K
    try:
        for n in NS:
            sf_dir = build_replica(spark, n)
            clustering.K = base_k * n  # constant expected cluster size
            for name, fn in (
                ("kmeans_lloyd_clusters", clustering.kmeans_lloyd_clusters),
                ("kmeans_semdedup_keep", clustering.kmeans_semdedup_keep),
            ):
                t0 = time.time()
                fn(spark, sf_dir).write.format("noop").mode(
                    "overwrite").save()
                print(json.dumps({
                    "query": name, "n": n, "k": clustering.K,
                    "wall_sec": round(time.time() - t0, 2),
                }), flush=True)
    finally:
        clustering.K = base_k


if __name__ == "__main__":
    main()
