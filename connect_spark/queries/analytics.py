"""Analytics additions: ordered funnel and a KMV distinct sketch.

The KMV (k-minimum-values) sketch is the "novel sketch" custom-
operator case from the brief: approximate distinct counting that —
unlike HLL — is DETERMINISTIC and engine-reproducible because it is
pure order statistics over md5 hashes, so the DuckDB oracle verifies
it exactly. Estimate: (k-1) / kth_smallest_hash_fraction.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from connect_spark.catalog import load_table
from connect_spark.queries import QuerySpec

K_MINVALUES = 64


def funnel_signup_view_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel per user: signup → (first view after signup) →
    (first purchase after that view). One shuffle (groupBy user) via
    conditional min aggregations — no self-joins."""
    ev = load_table(spark, sf_dir, "events")
    t = F.col("ts")
    typed = lambda kind: F.when(F.col("event_type") == kind, t)  # noqa: E731
    per_user = ev.groupBy("user_id").agg(
        F.min(typed("signup")).alias("t_signup"),
        F.min(typed("view")).alias("t_first_view"),
        F.min(typed("purchase")).alias("t_first_purchase"),
    )
    # strict funnel on first occurrences: signup < view < purchase
    out = per_user.select(
        "user_id",
        F.col("t_signup").isNotNull().cast("int").alias("did_signup"),
        (
            F.col("t_signup").isNotNull()
            & F.col("t_first_view").isNotNull()
            & (F.col("t_first_view") > F.col("t_signup"))
        ).cast("int").alias("funnel_view"),
        (
            F.col("t_signup").isNotNull()
            & F.col("t_first_view").isNotNull()
            & (F.col("t_first_view") > F.col("t_signup"))
            & F.col("t_first_purchase").isNotNull()
            & (F.col("t_first_purchase") > F.col("t_first_view"))
        ).cast("int").alias("funnel_purchase"),
    )
    return out


FUNNEL_SQL = """
WITH per_user AS (
  SELECT user_id,
         min(CASE WHEN event_type = 'signup' THEN ts END) AS t_signup,
         min(CASE WHEN event_type = 'view' THEN ts END) AS t_first_view,
         min(CASE WHEN event_type = 'purchase' THEN ts END) AS t_first_purchase
  FROM events GROUP BY user_id
)
SELECT user_id,
       CAST(t_signup IS NOT NULL AS INT) AS did_signup,
       CAST(t_signup IS NOT NULL AND t_first_view IS NOT NULL
            AND t_first_view > t_signup AS INT) AS funnel_view,
       CAST(t_signup IS NOT NULL AND t_first_view IS NOT NULL
            AND t_first_view > t_signup
            AND t_first_purchase IS NOT NULL
            AND t_first_purchase > t_first_view AS INT) AS funnel_purchase
FROM per_user
"""


def sketch_kmv_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV distinct-user estimate per event_type: keep the K smallest
    md5 hashes of the key, estimate = (K-1)/frac(kth). Deterministic —
    the oracle reproduces the identical estimate. Shuffle carries at
    most K hashes per group (collect_set pre-deduped map-side)."""
    ev = load_table(spark, sf_dir, "events")
    h = F.md5(F.col("user_id").cast("string"))
    grouped = ev.groupBy("event_type").agg(
        F.slice(F.sort_array(F.collect_set(h)), 1, K_MINVALUES).alias("kmv"),
        F.countDistinct("user_id").alias("exact_distinct"),
    )
    kth = F.element_at("kmv", K_MINVALUES)
    # fraction of the hash space: first 15 hex digits / 16^15
    frac = F.conv(F.substring(kth, 1, 15), 16, 10).cast("double") / float(
        16**15
    )
    est = F.when(
        F.size("kmv") < K_MINVALUES, F.size("kmv").cast("double")
    ).otherwise((K_MINVALUES - 1) / frac)
    return grouped.select(
        "event_type",
        "exact_distinct",
        F.floor(est).cast("bigint").alias("kmv_estimate"),
    )


KMV_SQL = f"""
WITH hashes AS (
  SELECT DISTINCT event_type, md5(CAST(user_id AS VARCHAR)) AS h
  FROM events
), kmv AS (
  SELECT event_type, list_sort(list(h))[1:{K_MINVALUES}] AS kmv,
         count(*) AS exact_distinct
  FROM hashes GROUP BY event_type
)
SELECT event_type, exact_distinct,
       CAST(floor(CASE WHEN len(kmv) < {K_MINVALUES}
                       THEN len(kmv) * 1.0
                       ELSE ({K_MINVALUES} - 1) /
                            (CAST(('0x' || substr(kmv[{K_MINVALUES}], 1, 15)) AS UBIGINT)
                             / CAST({16**15} AS DOUBLE))
                  END) AS BIGINT) AS kmv_estimate
FROM kmv
"""


# --- exact percentiles (p50/p95/p99) per event type ---

def percentiles_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact linear-interpolated percentiles over integer cents: both
    engines interpolate (1-f)*a + f*b on exact ints, so the doubles
    agree bit-for-bit (verified at sf0.1) — no rounding games. One
    shuffle; at scale swap in a KLL/t-digest sketch for one-pass
    approximate quantiles (the KMV pattern above shows the
    deterministic-sketch recipe)."""
    ev = load_table(spark, sf_dir, "events")
    cents = F.round(F.col("value") * 100).cast("bigint")
    return (
        ev.withColumn("cents", cents)
        .groupBy("event_type")
        .agg(
            F.percentile("cents", 0.5).alias("p50_cents"),
            F.percentile("cents", 0.95).alias("p95_cents"),
            F.percentile("cents", 0.99).alias("p99_cents"),
            F.count(F.lit(1)).alias("n"),
        )
    )


PERCENTILES_SQL = """
SELECT event_type,
       quantile_cont(CAST(round(value * 100) AS BIGINT), 0.5) AS p50_cents,
       quantile_cont(CAST(round(value * 100) AS BIGINT), 0.95) AS p95_cents,
       quantile_cont(CAST(round(value * 100) AS BIGINT), 0.99) AS p99_cents,
       count(*) AS n
FROM events
GROUP BY 1
"""


# --- value histogram (fixed-width binning) ---

def histogram_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width histogram of event values per type: bucket index is
    floor(value/10) — identical IEEE division in both engines, so the
    binning itself is verified, not just the counts."""
    ev = load_table(spark, sf_dir, "events")
    bucket = F.floor(F.col("value") / 10).cast("bigint")
    return (
        ev.groupBy("event_type", bucket.alias("bucket"))
        .agg(F.count(F.lit(1)).alias("n"))
    )


HISTOGRAM_SQL = """
SELECT event_type,
       CAST(floor(value / 10) AS BIGINT) AS bucket,
       count(*) AS n
FROM events
GROUP BY 1, 2
"""


def retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention — the standard product-analytics matrix: each
    user joins the cohort of their FIRST active week; cells count
    distinct users active k weeks after their cohort week.  Two
    map-side-combined aggregations (per-user min, then per-cell
    distinct) — both shuffles keyed by user_id then by the
    (cohort, offset) cell; at 100 TB the per-user reduction shrinks
    the stream to |users| before the matrix agg sees it."""
    ev = load_table(spark, sf_dir, "events")
    weekly = ev.select(
        "user_id",
        (F.floor(F.unix_timestamp("ts") / (7 * 86400)))
        .cast("bigint").alias("week"),
    ).distinct()
    first = weekly.groupBy("user_id").agg(
        F.min("week").alias("cohort_week"))
    return (
        weekly.join(first, "user_id")
        .withColumn("week_offset",
                    (F.col("week") - F.col("cohort_week")))
        .groupBy("cohort_week", "week_offset")
        .agg(F.countDistinct("user_id").alias("n_users"))
    )


RETENTION_SQL = """
WITH weekly AS (
  SELECT DISTINCT user_id,
         CAST(floor(epoch(ts) / (7 * 86400)) AS BIGINT) AS week
  FROM events
), first AS (
  SELECT user_id, MIN(week) AS cohort_week FROM weekly GROUP BY 1
)
SELECT cohort_week,
       week - cohort_week AS week_offset,
       COUNT(DISTINCT w.user_id) AS n_users
FROM weekly w JOIN first USING (user_id)
GROUP BY 1, 2
"""


def anomaly_event_spikes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Volume-anomaly detection: hours whose event count sits more
    than 3 population-σ above that event type's hourly mean.  The
    3σ test runs in EXACT integer arithmetic over counts —
    (x·n − Σx)² > 9·(n·Σx² − (Σx)²) is algebraically (x − μ)² > 9σ²
    with no floating point, so both engines flag identical hours.
    Two aggregations (hour cells, then per-type moments) and one
    broadcastable join of the tiny stats table back onto the cells."""
    ev = load_table(spark, sf_dir, "events")
    hours = (
        ev.groupBy(
            "event_type",
            F.date_trunc("hour", "ts").alias("hour"))
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    stats = hours.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("cnt").alias("sx"),
        F.sum(F.col("cnt") * F.col("cnt")).alias("sxx"),
    )
    j = hours.join(stats, "event_type")
    dev = F.col("cnt") * F.col("n") - F.col("sx")
    var_n2 = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    return (
        j.filter((dev > 0) & (dev * dev > 9 * var_n2))
        .select(
            "event_type",
            F.col("hour").cast("string").alias("hour"),
            "cnt",
        )
    )


ANOMALY_SQL = """
WITH hours AS (
  SELECT event_type, date_trunc('hour', ts) AS hour,
         COUNT(*) AS cnt
  FROM events GROUP BY 1, 2
), stats AS (
  SELECT event_type, COUNT(*) AS n, SUM(cnt) AS sx,
         SUM(cnt * cnt) AS sxx
  FROM hours GROUP BY 1
)
SELECT h.event_type,
       CAST(h.hour AS VARCHAR) AS hour,
       h.cnt
FROM hours h JOIN stats s USING (event_type)
WHERE (h.cnt * s.n - s.sx) > 0
  AND (h.cnt * s.n - s.sx) * (h.cnt * s.n - s.sx)
      > 9 * (s.n * s.sxx - s.sx * s.sx)
"""


# --- sketch MERGEABILITY gates ----------------------------------------
#
# The property that makes a sketch a 100-TB tool is MERGEABILITY:
# build per shard, combine the tiny summaries, get exactly the sketch
# a single pass would have built.  These two gates PROVE it against
# the driver's hash: the Spark side computes the sharded-then-merged
# sketch while the oracle computes the direct single-pass one — any
# divergence in the merge algebra breaks the value hash.


def sketch_kmv_merged(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV built per shard (user_id mod 4 — a content-derived shard
    split) and merged by taking the K smallest of the union of the
    per-shard K-smallest lists.  This equals the direct global KMV
    because each shard's K-smallest retains every hash that could
    rank among the global K smallest.  The oracle is the DIRECT
    computation (same SQL as sketch_kmv_distinct), so the hash match
    is the mergeability proof."""
    ev = load_table(spark, sf_dir, "events")
    h = F.md5(F.col("user_id").cast("string"))
    per_shard = (
        ev.withColumn("shard", F.col("user_id") % 4)
        .groupBy("event_type", "shard")
        .agg(F.slice(F.sort_array(F.collect_set(h)), 1, K_MINVALUES)
             .alias("kmv"),
             F.countDistinct("user_id").alias("shard_distinct"))
    )
    merged = per_shard.groupBy("event_type").agg(
        F.slice(
            F.array_sort(
                F.array_distinct(F.flatten(F.collect_list("kmv")))),
            1, K_MINVALUES).alias("kmv"),
        # user_id mod 4 shards are disjoint in user space, so exact
        # distinct merges by addition
        F.sum("shard_distinct").alias("exact_distinct"),
    )
    kth = F.element_at("kmv", K_MINVALUES)
    frac = F.conv(F.substring(kth, 1, 15), 16, 10).cast("double") / float(
        16**15)
    est = F.when(
        F.size("kmv") < K_MINVALUES, F.size("kmv").cast("double")
    ).otherwise((K_MINVALUES - 1) / frac)
    return merged.select(
        "event_type",
        "exact_distinct",
        F.floor(est).cast("bigint").alias("kmv_estimate"),
    )


def sketch_hll_merged(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL built per shard and merged register-wise (max of maxes) —
    the merge HLL exists for.  Oracle = the direct single-pass HLL
    (HLL_SQL), so the hash match pins the merge algebra including the
    harmonic sum and linear-counting branch downstream of it."""
    ev = load_table(spark, sf_dir, "events")
    h = F.md5(F.col("user_id").cast("string"))
    shard_regs = (
        ev.select("event_type", F.col("user_id").alias("uid"),
                  h.alias("h"))
        .withColumn("shard", F.col("uid") % 4)
        .withColumn("idx", F.conv(F.substring("h", 1, 2), 16, 10)
                    .cast("long"))
        .withColumn("rho", F.expr(_rho_case("h")).cast("long"))
        .groupBy("event_type", "shard", "idx")
        .agg(F.max("rho").alias("m_j"))
    )
    regs = shard_regs.groupBy("event_type", "idx").agg(
        F.max("m_j").alias("m_j"))
    per_type = regs.groupBy("event_type").agg(
        F.sum(F.expr("shiftleft(CAST(1 AS BIGINT), "
                     "CAST(53 - m_j AS INT))")).alias("s_present"),
        F.count(F.lit(1)).alias("n_regs"),
    )
    exact = ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("exact_distinct"))
    j = per_type.join(exact, "event_type")
    s_total = (F.col("s_present")
               + (F.lit(HLL_M) - F.col("n_regs")) * F.lit(_POW53))
    n_zero = F.lit(HLL_M) - F.col("n_regs")
    raw = (F.lit(0.7213) / (F.lit(1.0) + F.lit(1.079) / F.lit(256.0))
           * F.lit(float(HLL_M * HLL_M)) * F.lit(float(_POW53))
           / s_total.cast("double"))
    est = F.when(
        (n_zero > 0) & (raw <= 2.5 * HLL_M),
        F.floor(F.lit(float(HLL_M))
                * F.log(F.lit(float(HLL_M)) / n_zero.cast("double"))),
    ).otherwise(F.floor(raw)).cast("long")
    return j.select(
        "event_type", "exact_distinct",
        s_total.alias("reg_harmonic_sum"),
        n_zero.cast("long").alias("n_zero_registers"),
        est.alias("hll_estimate"),
    )


# --- Count-Min frequency sketch ---------------------------------------

CM_DEPTH = 4
CM_WIDTH = 1024


def sketch_countmin_freq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min frequency sketch over per-user event counts: the
    constant-memory answer to "how often does key k appear?" in a
    stream too wide to count exactly.  Depth 4 x width 1024 counters;
    row j's column is the j-th 16-bit window of one salted md5
    (disjoint md5 windows are independent hashes — the repo's MinHash
    trick), reduced mod width.  Build = ONE map-side-combined groupBy
    whose group count is bounded by depth*width (4096), never by
    corpus size; estimates = broadcast-join the probe keys against
    the sketch and take min over rows.  md5 arithmetic is
    engine-exact, so the oracle rebuilds counter-for-counter, and the
    CM guarantee (estimate >= true, overestimate bounded by
    collisions) is pinned in pytest."""
    ev = load_table(spark, sf_dir, "events")
    h = F.md5(F.concat(F.lit("cm:"), F.col("user_id").cast("string")))
    cells = ev.select(h.alias("h"), F.explode(
        F.sequence(F.lit(0), F.lit(CM_DEPTH - 1))).alias("j"))
    col = F.conv(
        F.substring("h", F.col("j") * 4 + 1, 4), 16, 10
    ).cast("long") % CM_WIDTH
    sketch = cells.withColumn("c", col).groupBy("j", "c").agg(
        F.count(F.lit(1)).alias("cnt"))

    truth = ev.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("true_count"))
    probe = truth.filter(F.col("user_id") % 20 == 0)
    ph = F.md5(F.concat(F.lit("cm:"), F.col("user_id").cast("string")))
    pcells = probe.select(
        "user_id", "true_count", ph.alias("h"),
        F.explode(F.sequence(F.lit(0), F.lit(CM_DEPTH - 1))).alias("j"),
    ).withColumn("c", col)
    # no broadcast hint: the sketch is <= depth*width rows by
    # construction, AQE's size stats broadcast it unaided (a hint on a
    # grouped aggregate is un-provable for the repo's plan guard)
    est = (
        pcells.join(sketch, ["j", "c"])
        .groupBy("user_id", "true_count")
        .agg(F.min("cnt").alias("cm_estimate"))
    )
    return est.select(
        "user_id", "true_count", "cm_estimate",
        (F.col("cm_estimate") - F.col("true_count")).alias("overestimate"),
    )


_CM_COL = ("CAST(('0x' || substr(md5('cm:' || CAST(user_id AS VARCHAR)), "
           "{off}, 4)) AS BIGINT) % " + str(CM_WIDTH))

COUNTMIN_SQL = f"""
WITH cells AS (
  SELECT j, CASE j
     WHEN 0 THEN {_CM_COL.format(off=1)}
     WHEN 1 THEN {_CM_COL.format(off=5)}
     WHEN 2 THEN {_CM_COL.format(off=9)}
     ELSE {_CM_COL.format(off=13)} END AS c
  FROM events, unnest([0, 1, 2, 3]) AS t(j)
), sketch AS (
  SELECT j, c, COUNT(*) AS cnt FROM cells GROUP BY j, c
), truth AS (
  SELECT user_id, COUNT(*) AS true_count FROM events GROUP BY user_id
), probe AS (
  SELECT user_id, true_count, j, CASE j
     WHEN 0 THEN {_CM_COL.format(off=1)}
     WHEN 1 THEN {_CM_COL.format(off=5)}
     WHEN 2 THEN {_CM_COL.format(off=9)}
     ELSE {_CM_COL.format(off=13)} END AS c
  FROM truth, unnest([0, 1, 2, 3]) AS t(j)
  WHERE user_id % 20 = 0
), est AS (
  SELECT p.user_id, p.true_count, MIN(s.cnt) AS cm_estimate
  FROM probe p JOIN sketch s ON s.j = p.j AND s.c = p.c
  GROUP BY p.user_id, p.true_count
)
SELECT user_id, CAST(true_count AS BIGINT) AS true_count,
       CAST(cm_estimate AS BIGINT) AS cm_estimate,
       CAST(cm_estimate - true_count AS BIGINT) AS overestimate
FROM est
"""


# --- HyperLogLog distinct sketch --------------------------------------

HLL_M = 256          # registers (p = 8: first 2 hex chars)
_POW53 = 1 << 53


def _rho_case(hexpr: str) -> str:
    """SQL CASE expression (Spark and DuckDB share the dialect
    subset): position of the first 1-bit in the 52 bits carried by
    hex chars 3..15 of `hexpr`, i.e. the HLL rho.  Walks nibbles:
    rho = 4*(leading zero nibbles) + (zeros inside the first non-zero
    nibble) + 1; all 52 bits zero -> 53."""
    nlz = ("CASE {c} WHEN '1' THEN 3 WHEN '2' THEN 2 WHEN '3' THEN 2 "
           "WHEN '4' THEN 1 WHEN '5' THEN 1 WHEN '6' THEN 1 "
           "WHEN '7' THEN 1 ELSE 0 END")
    parts = ["CASE"]
    for k in range(13):
        c = f"substr({hexpr}, {3 + k}, 1)"
        parts.append(
            f"WHEN {c} != '0' THEN {4 * k} + ({nlz.format(c=c)}) + 1")
    parts.append("ELSE 53 END")
    return " ".join(parts)


def sketch_hll_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog distinct-user estimate per event_type, next to the
    exact count and the KMV estimate's sibling row: 256 registers,
    register index = first 2 md5 hex chars, rho = first-1-bit
    position of the next 52 bits (a generated nibble-walk CASE both
    engines evaluate identically — no float log2 anywhere in the
    register math).  The harmonic sum is kept EXACT as the integer
    S = sum 2^(53 - M_j) (<= 2^61, order-independent), so the only
    float ops are the final alpha*m^2*2^53/S division and the
    small-range linear-counting ln — identical literals and operand
    order both engines; a 1-ulp libm difference flips floor() only on
    an exact integer boundary.  Register table: one
    (event_type, idx) groupBy, <= m groups per type, the same
    constant-memory shape as the CM sketch."""
    ev = load_table(spark, sf_dir, "events")
    # r16 (guide §2.3 "aggregate before you shuffle" / §2.4 "share one
    # exchange"): max(rho) is idempotent over duplicate (event_type,
    # user_id) rows, and exact_distinct IS the count of those distinct
    # pairs — so both legs now consume ONE distinct-pair aggregate.
    # The r15 shape scanned events twice (regs and countDistinct each
    # re-derived the dedup) and evaluated md5 + the 13-nibble rho CASE
    # once per EVENT; both now run once per distinct pair (~10x fewer
    # rows at every SF), and the two identical distinct exchanges
    # dedupe via exchange reuse.  Register values and counts are
    # bit-identical (max over a set == max over its multiset).
    pairs = ev.select("event_type", "user_id").distinct()
    h = F.md5(F.col("user_id").cast("string"))
    regs = (
        pairs.select("event_type", h.alias("h"))
        .withColumn("idx", F.conv(F.substring("h", 1, 2), 16, 10)
                    .cast("long"))
        .withColumn("rho", F.expr(_rho_case("h")).cast("long"))
        .groupBy("event_type", "idx")
        .agg(F.max("rho").alias("m_j"))
    )
    per_type = regs.groupBy("event_type").agg(
        F.sum(F.expr("shiftleft(CAST(1 AS BIGINT), "
                     "CAST(53 - m_j AS INT))")).alias("s_present"),
        F.count(F.lit(1)).alias("n_regs"),
    )
    # COUNT(DISTINCT user_id) skips a null user_id; the register leg
    # keeps it (a NULL-idx register, as HLL_SQL's regs CTE does)
    exact = pairs.filter(F.col("user_id").isNotNull()).groupBy(
        "event_type").agg(F.count(F.lit(1)).alias("exact_distinct"))
    j = per_type.join(exact, "event_type")
    s_total = (F.col("s_present")
               + (F.lit(HLL_M) - F.col("n_regs")) * F.lit(_POW53))
    n_zero = F.lit(HLL_M) - F.col("n_regs")
    raw = (F.lit(0.7213) / (F.lit(1.0) + F.lit(1.079) / F.lit(256.0))
           * F.lit(float(HLL_M * HLL_M)) * F.lit(float(_POW53))
           / s_total.cast("double"))
    est = F.when(
        (n_zero > 0) & (raw <= 2.5 * HLL_M),
        F.floor(F.lit(float(HLL_M))
                * F.log(F.lit(float(HLL_M)) / n_zero.cast("double"))),
    ).otherwise(F.floor(raw)).cast("long")
    return j.select(
        "event_type", "exact_distinct",
        s_total.alias("reg_harmonic_sum"),
        n_zero.cast("long").alias("n_zero_registers"),
        est.alias("hll_estimate"),
    )


HLL_SQL = f"""
WITH regs AS (
  SELECT event_type,
         CAST(('0x' || substr(h, 1, 2)) AS BIGINT) AS idx,
         MAX({_rho_case('h')}) AS m_j
  FROM (SELECT event_type, md5(CAST(user_id AS VARCHAR)) AS h FROM events)
  GROUP BY event_type, CAST(('0x' || substr(h, 1, 2)) AS BIGINT)
), per_type AS (
  SELECT event_type,
         CAST(SUM(CAST(1 AS BIGINT) << CAST(53 - m_j AS INT)) AS BIGINT)
           AS s_present,
         COUNT(*) AS n_regs
  FROM regs GROUP BY event_type
), exact AS (
  SELECT event_type, COUNT(DISTINCT user_id) AS exact_distinct
  FROM events GROUP BY event_type
)
SELECT p.event_type, CAST(e.exact_distinct AS BIGINT) AS exact_distinct,
       CAST(p.s_present + ({HLL_M} - p.n_regs) * {_POW53} AS BIGINT)
         AS reg_harmonic_sum,
       CAST({HLL_M} - p.n_regs AS BIGINT) AS n_zero_registers,
       CAST(CASE WHEN {HLL_M} - p.n_regs > 0
                  AND 0.7213 / (1.0 + 1.079 / 256.0)
                      * {float(HLL_M * HLL_M)} * {float(_POW53)}
                      / CAST(p.s_present + ({HLL_M} - p.n_regs)
                             * {_POW53} AS DOUBLE) <= 2.5 * {HLL_M}
             THEN floor({float(HLL_M)}
                        * ln({float(HLL_M)}
                             / CAST({HLL_M} - p.n_regs AS DOUBLE)))
             ELSE floor(0.7213 / (1.0 + 1.079 / 256.0)
                        * {float(HLL_M * HLL_M)} * {float(_POW53)}
                        / CAST(p.s_present + ({HLL_M} - p.n_regs)
                               * {_POW53} AS DOUBLE))
        END AS BIGINT) AS hll_estimate
FROM per_type p JOIN exact e ON e.event_type = p.event_type
"""


# --- binned quantile sketch -------------------------------------------

QB_WIDTH_CENTS = 64    # bin width: 64 cents


def sketch_binned_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-bin quantile sketch per event_type — the one-pass
    mergeable answer to percentiles at 100 TB (exact percentiles need
    a per-group sort; a histogram needs one map-side-combined groupBy
    whose group count is bounded by the value range / bin width, and
    histograms merge across shards by addition).  Value domain is
    integer cents binned 64 wide; the p-quantile estimate is the
    UPPER EDGE of the first bin whose cumulative count reaches
    ceil(p·n) — deterministic integer math, so the oracle reproduces
    the estimates exactly; error is bounded by the bin width.
    Completes the sketch family: KMV/HLL (distinct), Count-Min
    (frequency), binned histogram (quantiles)."""
    ev = load_table(spark, sf_dir, "events")
    hist = (
        ev.select("event_type",
                  F.expr(f"CAST(round(value * 100) AS BIGINT) "
                         f"div {QB_WIDTH_CENTS}").alias("bin"))
        .groupBy("event_type", "bin")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    from pyspark.sql import Window

    w = (Window.partitionBy("event_type").orderBy("bin")
         .rowsBetween(Window.unboundedPreceding, 0))
    tot = Window.partitionBy("event_type")
    cum = hist.withColumn("cum", F.sum("c").over(w)).withColumn(
        "n", F.sum("c").over(tot))

    def est(p_num: int, p_den: int, name: str):
        # ceil(p*n) = (n * p_num + p_den - 1) div p_den
        need = F.expr(f"(n * {p_num} + {p_den} - 1) div {p_den}")
        return F.min(
            F.when(F.col("cum") >= need,
                   F.col("bin") * QB_WIDTH_CENTS + QB_WIDTH_CENTS - 1)
        ).alias(name)

    return cum.groupBy("event_type").agg(
        F.max("n").alias("n_events"),
        est(1, 2, "p50_est_cents"),
        est(19, 20, "p95_est_cents"),
        est(99, 100, "p99_est_cents"),
    )


BINNED_QUANTILES_SQL = f"""
WITH hist AS (
  SELECT event_type,
         CAST(round(value * 100) AS BIGINT) // {QB_WIDTH_CENTS} AS bin,
         COUNT(*) AS c
  FROM events GROUP BY event_type,
         CAST(round(value * 100) AS BIGINT) // {QB_WIDTH_CENTS}
), cum AS (
  SELECT event_type, bin, c,
         SUM(c) OVER (PARTITION BY event_type ORDER BY bin
                      ROWS UNBOUNDED PRECEDING) AS cum,
         SUM(c) OVER (PARTITION BY event_type) AS n
  FROM hist
)
SELECT event_type, CAST(MAX(n) AS BIGINT) AS n_events,
       CAST(MIN(CASE WHEN cum >= (n * 1 + 1) // 2
            THEN bin * {QB_WIDTH_CENTS} + {QB_WIDTH_CENTS} - 1 END)
         AS BIGINT) AS p50_est_cents,
       CAST(MIN(CASE WHEN cum >= (n * 19 + 19) // 20
            THEN bin * {QB_WIDTH_CENTS} + {QB_WIDTH_CENTS} - 1 END)
         AS BIGINT) AS p95_est_cents,
       CAST(MIN(CASE WHEN cum >= (n * 99 + 99) // 100
            THEN bin * {QB_WIDTH_CENTS} + {QB_WIDTH_CENTS} - 1 END)
         AS BIGINT) AS p99_est_cents
FROM cum GROUP BY event_type
"""


QUERIES = [
    QuerySpec("retention_cohorts", retention_cohorts, RETENTION_SQL),
    QuerySpec("anomaly_event_spikes", anomaly_event_spikes,
              ANOMALY_SQL),
    QuerySpec("funnel_signup_view_purchase", funnel_signup_view_purchase, FUNNEL_SQL),
    QuerySpec("sketch_kmv_distinct", sketch_kmv_distinct, KMV_SQL),
    QuerySpec("sketch_countmin_freq", sketch_countmin_freq, COUNTMIN_SQL),
    QuerySpec("sketch_hll_distinct", sketch_hll_distinct, HLL_SQL,
              headline=True),
    QuerySpec("sketch_binned_quantiles", sketch_binned_quantiles,
              BINNED_QUANTILES_SQL),
    # mergeability gates: Spark = sharded-then-merged, oracle = direct
    QuerySpec("sketch_kmv_merged", sketch_kmv_merged, KMV_SQL),
    QuerySpec("sketch_hll_merged", sketch_hll_merged, HLL_SQL),
    QuerySpec("percentiles_by_type", percentiles_by_type, PERCENTILES_SQL),
    QuerySpec("histogram_values", histogram_values, HISTOGRAM_SQL),
]
