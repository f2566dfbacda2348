"""Plan-shape regression guard for the 19 headline bench queries
(r13 verdict task #4).

Until now plan quality (broadcast on the dim side, map-side partial
aggregation, pushed-down scans, persisted iteration inputs, zero
cartesian products) was verified by judge re-reads of `.explain()`
output.  This module pins those properties as assertions on the
INITIAL physical plan (pre-AQE, deterministic for a fixed Spark
version and scale factor) so a silent Catalyst regression — e.g. a
broadcast-threshold change flipping a dim join to SortMergeJoin, or a
dropped `persist()` re-deriving the pagerank edge list per iteration
(the 752-scan pathology) — fails the suite instead of waiting for the
next judge pass.

Properties, per query:
  - `need`       — plan markers that MUST appear (join strategy,
                   partial aggregation, cached scans).
  - `min_bcast`  — minimum BroadcastExchange count (dim sides stay
                   broadcast).
  - `max_hashex` — ceiling on `Exchange hashpartitioning` nodes (a
                   new shuffle sneaking into a headline plan is a
                   scale regression; ceilings carry +1 slack over the
                   counts measured on Spark 4.1.2).
  - `pushed`     — at least one parquet scan keeps a non-empty
                   PushedFilters list (predicate pushdown reaches the
                   scan).
Global, all queries: no CartesianProduct, no row-at-a-time Python UDF
(BatchEvalPython) — the band must stay JVM-side / Arrow-batched.
"""

from __future__ import annotations

import re

import pytest

from connect_spark.queries import all_queries

SF = "/root/testdata/sf0.001"


def _prune_cached(plan: str) -> str:
    """Drop InMemoryRelation subtrees from the plan text.  The plan
    printer re-prints each cached relation's ORIGINAL child plan
    (and, once materialized in a shared session, its AQE-finalized
    expansion), so exchange counts over the raw text double-count
    work that executes at most once — and drift with session
    history.  Exchanges that run per-action are the ones above the
    cache boundary."""
    out = []
    skip_deeper_than = None
    for line in plan.splitlines():
        m = re.match(r"^([\s:+\-|]*)", line)
        depth = len(m.group(1))
        if skip_deeper_than is not None:
            if depth > skip_deeper_than:
                continue
            skip_deeper_than = None
        if "InMemoryRelation" in line:
            skip_deeper_than = depth
            continue
        out.append(line)
    return "\n".join(out)

# name -> (need markers, min broadcast, max hash exchanges, pushdown)
EXPECT: dict[str, dict] = {
    # top-k needs the query vectors broadcast to every corpus
    # partition — never a shuffled or cartesian pairing
    "ann_topk_bruteforce": dict(
        need=["BroadcastNestedLoopJoin"], min_bcast=1, max_hashex=2,
        pushed=True),
    "asof_attribution": dict(need=["Window"], max_hashex=2,
                             pushed=True),
    "batch_policy_events": dict(need=["partial_"], max_hashex=2),
    "bloom_membership_probe": dict(
        need=["BroadcastHashJoin", "partial_"], min_bcast=1,
        max_hashex=6, pushed=True),
    "cdc_materialize_orders": dict(need=["Window"], max_hashex=2,
                                   pushed=True),
    # chunking is embarrassingly parallel — the load-bearing property
    # IS zero shuffles: any Exchange here multiplies at 100 TB
    "chunk_documents": dict(max_hashex=0),
    "dedup_exact": dict(need=["partial_"], max_hashex=2),
    # r15: signatures are per-row higher-order-function algebra and
    # candidate pairs come from a single groupBy(band, bh) bucket
    # rollup — the load-bearing properties are NO join at all (the
    # old band self-join recomputed the md5 pipeline twice) and only
    # the two aggregation exchanges (bucket rollup + final distinct)
    "dedup_minhash_lsh": dict(
        need=["partial_"], max_hashex=2),
    "dedupe_first_per_user": dict(need=["Window"], max_hashex=2),
    "join_enrichment_lookup": dict(
        need=["BroadcastHashJoin"], min_bcast=1, max_hashex=2),
    # star: fact-side joins may merge-join; the DIMS must broadcast
    "join_star_revenue_by_nation": dict(
        need=["BroadcastHashJoin", "partial_"], min_bcast=2,
        max_hashex=4, pushed=True),
    # r15: assignment is one numpy matrix op per Arrow batch
    # (MapInPandas) against closure-shipped centroids — no broadcast
    # join, no scored-candidate explosion; the only shuffle left is
    # the per-cluster rollup's partial/final aggregate pair
    "kmeans_lloyd_clusters": dict(
        need=["MapInPandas", "partial_"], max_hashex=2),
    # r15: the bipartite-graph closed form — broadcast edge-build
    # join, ONE wide src exchange reused by the rollup + deg window,
    # one narrow dst aggregate producing inflow and in-degree in the
    # same partial-agg pass.  A third hash exchange means the rollup
    # stopped reusing the src partitioning.
    "pagerank_purchase_graph": dict(
        need=["BroadcastHashJoin", "Window"],
        min_bcast=1, max_hashex=2, pushed=True,
        min_partial_sum=1),
    "q18_large_volume": dict(
        need=["BroadcastHashJoin", "partial_"], min_bcast=1,
        max_hashex=2, pushed=True),
    "q1_pricing_summary": dict(need=["partial_"], max_hashex=2,
                               pushed=True),
    "q5_local_supplier_volume": dict(
        need=["BroadcastHashJoin", "partial_"], min_bcast=2,
        max_hashex=2, pushed=True),
    # pure scan → partial agg → single final row: zero hash shuffles
    "q6_forecast_revenue": dict(need=["partial_"], max_hashex=0,
                                pushed=True),
    "sketch_hll_distinct": dict(
        need=["BroadcastHashJoin", "partial_"], min_bcast=1,
        max_hashex=5, pushed=True),
    "window_tumbling_hourly": dict(need=["partial_"], max_hashex=3,
                                   pushed=True),
}


@pytest.fixture(scope="module")
def plans(spark) -> dict[str, str]:
    # Canonical plan text needs a cold cache; the shared registry
    # build (tests/_registry_artifacts.py) already captures every
    # query's initial physical plan under exactly that discipline
    # (clearCache before and after, pre-execution executedPlan), so
    # consume it instead of re-building the headline band.
    from tests._registry_artifacts import registry_artifacts

    arts = registry_artifacts(spark)
    return {
        s.name: arts[s.name]["executed"]
        for s in all_queries()
        if s.headline
    }


def test_expectations_cover_exactly_the_headline_band():
    names = {s.name for s in all_queries() if s.headline}
    assert names == set(EXPECT), (
        "headline band changed — update EXPECT with the new query's "
        "load-bearing plan properties")


@pytest.mark.parametrize("name", sorted(EXPECT))
def test_headline_plan_shape(plans, name):
    p = plans[name]
    exp = EXPECT[name]
    # global invariants: nothing in the headline band may pair rows
    # cartesian-style or drop to row-at-a-time Python
    assert "CartesianProduct" not in p, f"{name}: cartesian product"
    assert "BatchEvalPython" not in p, (
        f"{name}: row-at-a-time Python UDF in a headline plan")
    # a cached relation left behind by an earlier build would make the
    # plan depend on session history rather than on this query
    for cached in ("InMemoryRelation", "InMemoryTableScan"):
        assert cached not in p, f"{name}: {cached} in a headline plan"
    for marker in exp.get("need", ()):
        assert marker in p, f"{name}: expected {marker!r} in plan"
    n_bcast = p.count("BroadcastExchange")
    assert n_bcast >= exp.get("min_bcast", 0), (
        f"{name}: {n_bcast} BroadcastExchange < "
        f"{exp['min_bcast']} — a dim join lost its broadcast")
    n_hashex = len(re.findall(r"Exchange hashpartitioning",
                              _prune_cached(p)))
    assert n_hashex <= exp["max_hashex"], (
        f"{name}: {n_hashex} hash Exchanges (cached subtrees "
        f"pruned) > ceiling {exp['max_hashex']} — a new shuffle "
        "entered the plan")
    if exp.get("pushed"):
        assert re.search(r"PushedFilters: \[[A-Za-z]", p), (
            f"{name}: no parquet scan carries a pushed filter")
    if "min_partial_sum" in exp:
        n = p.count("partial_sum")
        assert n >= exp["min_partial_sum"], (
            f"{name}: {n} partial_sum < {exp['min_partial_sum']} — "
            "an iteration lost its map-side combine")
