"""Training-data text operators: the dedup family + text analysis
(brief: deduplication, text analysis, multimodal plumbing) over the
`documents` table, each with a DuckDB oracle.

Design for 100 TB:
- Exact dedup: hash-groupBy on a 128-bit fingerprint — one shuffle of
  (fp, doc_id) pairs only, never the text.
- MinHash+LSH: shingle→minhash→band→bucket-join. Candidate pairs come
  from equality joins on band hashes (an inverted index), NEVER a cross
  join — cost scales with bucket collisions, not n².
- N-gram Jaccard: verification joins on shared shingles (inverted
  index), again no cross join; at scale you run it only on the LSH
  candidate set.
- All hashing is md5-based so the DuckDB oracle can reproduce results
  bit-for-bit (md5 is engine-independent; Spark/DuckDB both lowercase
  hex). MinHash "permutations" are md5("<p>:<shingle>") — a standard
  salted-hash family.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from connect_spark.catalog import load_table
from connect_spark.queries import QuerySpec

N_PERM = 16          # minhash permutations
BAND_SIZE = 4        # rows per LSH band → 4 bands
JACCARD_THRESHOLD = 0.5


def _tokens(df: DataFrame) -> DataFrame:
    """doc_id + token array (whitespace tokenization, both engines)."""
    return df.select(
        "doc_id", F.split("text", " ").alias("toks")
    ).withColumn("toks", F.filter("toks", lambda t: t != ""))


def _shingles(df: DataFrame) -> DataFrame:
    """Distinct 3-word shingles per doc (exploded). Narrow ops only."""
    t = _tokens(df).filter(F.size("toks") >= 3)
    sh = F.transform(
        F.sequence(F.lit(0), F.size("toks") - 3),
        lambda j: F.concat_ws(
            " ", F.get("toks", j), F.get("toks", j + 1), F.get("toks", j + 2)
        ),
    )
    return t.select(
        "doc_id", F.explode(F.array_distinct(sh)).alias("shingle")
    )


# Shared oracle CTE: distinct 3-gram shingles per doc (1-based lists).
SHINGLE_CTE = """
WITH t AS (
  SELECT doc_id, list_filter(string_split(text, ' '), x -> x != '') AS toks
  FROM documents
), sh AS (
  SELECT DISTINCT doc_id,
         unnest(list_transform(range(1, len(toks) - 1),
                i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS shingle
  FROM t WHERE len(toks) >= 3
)
"""


# --- exact dedup ---

def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup by content fingerprint: md5 of normalized text,
    canonical doc = min doc_id. Only (fp, doc_id) shuffles."""
    docs = load_table(spark, sf_dir, "documents")
    fp = F.md5(F.lower(F.trim("text")))
    return (
        docs.select(fp.alias("fp"), "doc_id")
        .groupBy("fp")
        .agg(
            F.min("doc_id").alias("canonical_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


DEDUP_EXACT_SQL = """
SELECT md5(lower(trim(text))) AS fp,
       min(doc_id) AS canonical_id,
       count(*) AS n_copies
FROM documents
GROUP BY 1
"""


# --- minhash signatures + LSH candidate pairs ---

def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-dup candidates: 16 minhash permutations over
    3-gram shingles, 4 bands × 4 rows; docs sharing any band bucket are
    candidates. The band join is an equality join on (band, band_hash)
    — at 100 TB this is a shuffle keyed by band hash whose cost tracks
    true near-duplicates, not n².

    Hash-cost note: the 16 permutations come from FOUR salted md5s per
    shingle, each split into four disjoint 8-hex (32-bit) windows —
    md5 bits are independent, so disjoint windows are independent
    hashes at a quarter of the digest cost (was: 16 md5s/shingle; this
    stage dominated the bench). Fixed-length hex compares
    lexicographically == numerically, so min() is unchanged.

    r15 shape: signatures are computed PER ROW with higher-order
    functions (array_distinct over the shingle array, one md5
    transform per salt, array_min per window) instead of explode +
    groupBy(doc_id) — min over the same distinct-shingle set, so the
    signature is bit-identical, but the explode buffer and the
    full-corpus signature exchange are gone: nothing shuffles until
    the 4-rows-per-doc band table.  Candidate pairs come from
    groupBy(band, bh) + in-bucket pair generation rather than the
    band self-join: the join's broadcast side defeated exchange reuse
    and computed the whole shingle+md5 pipeline TWICE per run (plan
    audit r15), and the bucket rollup shuffles the band table once
    instead of twice.  The scan is fanned out first (catalog.
    fanout_scan, opt guide §2.5): single-row-group input otherwise
    runs the whole md5 stage as one task."""
    from connect_spark.catalog import fanout_scan

    docs = fanout_scan(
        spark, load_table(spark, sf_dir, "documents"), sf_dir,
        "documents")
    t = _tokens(docs).filter(F.size("toks") >= 3)
    sh = F.transform(
        F.sequence(F.lit(0), F.size("toks") - 3),
        lambda j: F.concat_ws(
            " ", F.get("toks", j), F.get("toks", j + 1),
            F.get("toks", j + 2)
        ),
    )
    shingled = t.select("doc_id", F.array_distinct(sh).alias("shingles"))

    def _mk_dig(s: int):
        salt = f"{s}:"
        return lambda x: F.md5(F.concat(F.lit(salt), x))

    def _mk_sub(off: int):
        return lambda d: F.substring(d, off, 8)

    # the dig/mh columns live in SEPARATE projections so each salted
    # md5 array is computed once (CollapseProject keeps non-cheap
    # aliases referenced more than once out of line)
    dig = shingled.select(
        "doc_id",
        *[
            F.transform("shingles", _mk_dig(s)).alias(f"dig{s}")
            for s in range(N_PERM // 4)
        ],
    )
    sigs = dig.select(
        "doc_id",
        *[
            F.array_min(
                F.transform(f"dig{p // 4}", _mk_sub((p % 4) * 8 + 1))
            ).alias(f"mh{p}")
            for p in range(N_PERM)
        ],
    )
    # Band hashes straight from the signature row (narrow explode of a
    # 4-element array — no second shuffle).
    band_structs = F.array(
        *[
            F.struct(
                F.lit(b).cast("bigint").alias("band"),
                F.md5(
                    F.concat_ws(
                        ",",
                        *[
                            F.col(f"mh{p}")
                            for p in range(
                                b * BAND_SIZE, (b + 1) * BAND_SIZE
                            )
                        ],
                    )
                ).alias("bh"),
            )
            for b in range(N_PERM // BAND_SIZE)
        ]
    )
    bands = sigs.select(
        "doc_id", F.explode(band_structs).alias("bs")
    ).select("doc_id", F.col("bs.band").alias("band"), F.col("bs.bh").alias("bh"))
    buckets = (
        bands.groupBy("band", "bh")
        .agg(F.sort_array(F.collect_list("doc_id")).alias("ids"))
        .filter(F.size("ids") >= 2)
    )
    # all a<b pairs within a bucket, generated from the sorted id
    # list.  (r15 second tranche: the double-explode + packed-int64
    # form that won in dedup_ngram_jaccard was A/B'd here too and
    # measured a TIE — minhash band buckets are tiny, so the HOF
    # element cost never dominates; the committed form is the one
    # with the smaller plan.)
    pairs = F.flatten(
        F.transform(
            "ids",
            lambda x, i: F.transform(
                F.slice("ids", i + 2, F.size("ids") - i - 1),
                lambda y: F.struct(x.alias("doc_a"), y.alias("doc_b")),
            ),
        )
    )
    return (
        buckets.select(F.explode(pairs).alias("p"))
        .select(F.col("p.doc_a").alias("doc_a"),
                F.col("p.doc_b").alias("doc_b"))
        .distinct()
    )


MINHASH_SQL = SHINGLE_CTE + f"""
, perms AS (SELECT unnest(range({N_PERM})) AS p)
, sigs AS (
  SELECT doc_id, p,
         min(substr(md5(CAST(p // 4 AS VARCHAR) || ':' || shingle),
                    (p % 4) * 8 + 1, 8)) AS mh
  FROM sh, perms GROUP BY doc_id, p
), bands AS (
  SELECT doc_id, CAST(floor(p / {BAND_SIZE}) AS BIGINT) AS band,
         md5(string_agg(mh, ',' ORDER BY p)) AS bh
  FROM sigs GROUP BY 1, 2
)
SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
FROM bands a JOIN bands b
  ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id
"""


# --- n-gram Jaccard verification ---

# Document-frequency cap for the standalone inverted-index join: a
# shingle shared by k documents emits k² candidate rows, so stop-phrase
# shingles (df in the millions at corpus scale) make the join
# quadratic.  Dropping shingles with df > cap is the standard fix
# (they carry no near-dup signal anyway); Jaccard is then computed
# consistently over the capped shingle universe on BOTH engines.
NGRAM_DF_CAP = 100


def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-gram Jaccard near-dup pairs via inverted-index join: pairs
    sharing shingles → intersection counts → Jaccard ≥ 0.5. The ratio
    is exact integer division — bit-identical across engines.

    Scale guard: shingles with document frequency > NGRAM_DF_CAP are
    dropped, bounding candidate volume at |shingles| × cap² instead of
    k² per hot shingle — the quadratic tail the round-4 verdict
    flagged.

    r15 shape: ONE groupBy(shingle) rollup replaces the dfreq
    aggregate + join-back + shingle self-join of the r14 form (the
    self-join re-evaluated the shingle pipeline per side and shuffled
    it twice).  The rollup list is sorted and per-doc distinct (the
    shingle explode is array_distinct per doc), so in-bucket a<b pair
    generation emits exactly the self-join's rows; the capped-universe
    per-doc sizes come from re-exploding the same rollup (its exchange
    is reused).  Same bucket-rollup shape as the minhash/simhash/
    embedding LSH paths (opt guide §3.4: replace a self-join whose key
    is a bucket id with a per-bucket rollup).  Measured at sf0.1:
    4.5s -> 3.3s, pair set bit-identical."""
    docs = load_table(spark, sf_dir, "documents")
    sh_all = _shingles(docs)
    roll = (sh_all.groupBy("shingle")
            .agg(F.sort_array(F.collect_list("doc_id")).alias("ids"))
            .filter(F.size("ids") <= NGRAM_DF_CAP))
    sizes = (roll.select(F.explode("ids").alias("doc_id"))
             .groupBy("doc_id").agg(F.count(F.lit(1)).alias("n")))
    # all a<b pairs within a shingle bucket, via double explode — a
    # codegen Generate; the r15 first-tranche HOF slice/transform form
    # is CodegenFallback per element (the same measurement as the
    # triangles census: interleaved A/B 3/3, ~3.6s -> ~2.5s).  The
    # intersection count groups by ONE packed int64 (a << 32 | b,
    # doc_ids < 2^31) — single-long hash-agg fast path — and decodes
    # after the aggregate.
    code = F.shiftleft(F.col("doc_a"), 32) + F.col("doc_b")
    inter = (roll.filter(F.size("ids") >= 2)
             .select(F.explode("ids").alias("doc_a"), "ids")
             .select("doc_a", F.explode("ids").alias("doc_b"))
             .filter(F.col("doc_a") < F.col("doc_b"))
             .select(code.alias("code"))
             .groupBy("code").agg(F.count(F.lit(1)).alias("i"))
             .select(F.shiftright("code", 32).alias("doc_a"),
                     F.col("code").bitwiseAND(F.lit((1 << 32) - 1))
                     .alias("doc_b"), "i"))
    # sizes is one row per document (sf-scaled): plain equi-joins, not
    # broadcast — at 100 TB a per-doc aggregate is billions of rows.
    out = (
        inter.join(
            sizes.select(F.col("doc_id").alias("doc_a"),
                         F.col("n").alias("na")), "doc_a")
        .join(
            sizes.select(F.col("doc_id").alias("doc_b"),
                         F.col("n").alias("nb")), "doc_b")
        .withColumn(
            # basis points via floor — identical double division in
            # both engines, no round-half divergence (see quality_ppm)
            "jaccard_bp",
            F.floor(
                F.col("i") * 10000.0 / (F.col("na") + F.col("nb") - F.col("i"))
            ).cast("bigint"),
        )
        .filter(F.col("jaccard_bp") >= int(JACCARD_THRESHOLD * 10000))
    )
    return out.select("doc_a", "doc_b", "jaccard_bp")


NGRAM_JACCARD_SQL = SHINGLE_CTE + f"""
, keep AS (
  SELECT shingle FROM sh GROUP BY shingle HAVING count(*) <= {NGRAM_DF_CAP}
)
, shc AS (SELECT sh.* FROM sh JOIN keep USING (shingle))
, sz AS (SELECT doc_id, count(*) AS n FROM shc GROUP BY doc_id)
, inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
  FROM shc a JOIN shc b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT doc_a, doc_b,
       CAST(floor(i * 10000.0 / (x.n + y.n - i)) AS BIGINT) AS jaccard_bp
FROM inter JOIN sz x ON doc_a = x.doc_id JOIN sz y ON doc_b = y.doc_id
WHERE CAST(floor(i * 10000.0 / (x.n + y.n - i)) AS BIGINT)
      >= {int(JACCARD_THRESHOLD * 10000)}
"""


# --- LSH-gated near-dup: candidates → exact Jaccard verify ---

def dedup_neardup_verified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The production near-dup pipeline: minhash-LSH candidate pairs
    (band-bucket equality join, cost tracks true duplicates) verified
    with exact 3-gram Jaccard computed ONLY on those candidates.

    This is the scale-safe composition the standalone
    `dedup_ngram_jaccard` header warns about: a raw inverted-index
    join pays k² rows for any shingle shared by k docs (stop-phrase
    shingles at 100 TB make that quadratic), while here the
    shingle-intersection join is keyed by candidate doc_id, so the
    verify cost is |candidates| × shingles-per-doc."""
    cand = dedup_minhash_lsh(spark, sf_dir)
    docs = load_table(spark, sf_dir, "documents")
    sh = _shingles(docs)
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    a = sh.select(F.col("doc_id").alias("doc_a"), "shingle")
    b = sh.select(F.col("doc_id").alias("doc_b"), "shingle")
    inter = (
        cand.join(a, "doc_a")
        .join(b, ["doc_b", "shingle"])
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("i"))
    )
    # per-doc sizes joined by key (no broadcast hint — sf-scaled side).
    return (
        inter.join(
            sizes.select(F.col("doc_id").alias("doc_a"),
                         F.col("n").alias("na")), "doc_a")
        .join(
            sizes.select(F.col("doc_id").alias("doc_b"),
                         F.col("n").alias("nb")), "doc_b")
        .withColumn(
            "jaccard_bp",
            F.floor(
                F.col("i") * 10000.0 / (F.col("na") + F.col("nb") - F.col("i"))
            ).cast("bigint"),
        )
        .filter(F.col("jaccard_bp") >= int(JACCARD_THRESHOLD * 10000))
        .select("doc_a", "doc_b", "jaccard_bp")
    )


NEARDUP_VERIFIED_SQL = SHINGLE_CTE + f"""
, perms AS (SELECT unnest(range({N_PERM})) AS p)
, sigs AS (
  SELECT doc_id, p,
         min(substr(md5(CAST(p // 4 AS VARCHAR) || ':' || shingle),
                    (p % 4) * 8 + 1, 8)) AS mh
  FROM sh, perms GROUP BY doc_id, p
), bands AS (
  SELECT doc_id, CAST(floor(p / {BAND_SIZE}) AS BIGINT) AS band,
         md5(string_agg(mh, ',' ORDER BY p)) AS bh
  FROM sigs GROUP BY 1, 2
), cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id
), sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id)
, inter AS (
  SELECT c.doc_a, c.doc_b, count(*) AS i
  FROM cand c
  JOIN sh a ON a.doc_id = c.doc_a
  JOIN sh b ON b.doc_id = c.doc_b AND b.shingle = a.shingle
  GROUP BY 1, 2
)
SELECT doc_a, doc_b,
       CAST(floor(i * 10000.0 / (x.n + y.n - i)) AS BIGINT) AS jaccard_bp
FROM inter JOIN sz x ON doc_a = x.doc_id JOIN sz y ON doc_b = y.doc_id
WHERE CAST(floor(i * 10000.0 / (x.n + y.n - i)) AS BIGINT)
      >= {int(JACCARD_THRESHOLD * 10000)}
"""


def dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental dedup — the production shape: a NEW batch of
    documents (doc_id % 10 == 0 stands in for today's crawl) probes
    the EXISTING corpus's LSH band index instead of re-pairing the
    whole corpus.  The band join is new-side × matching buckets only,
    so daily cost tracks |batch| × collision rate, not |corpus|²;
    at 100 TB the corpus bands are a bucketed table the probe joins
    co-located.  Output: per new doc, its best-matching corpus doc
    and the verified exact Jaccard (basis points) — ready for a
    keep/drop decision."""
    docs = load_table(spark, sf_dir, "documents")
    sh = _shingles(docs)
    # band index over corpus + probe over batch reuse the minhash
    # machinery; the split is a filter pushed to both sides
    pairs = dedup_minhash_lsh(spark, sf_dir)
    batch_pairs = (
        pairs.filter(
            (F.col("doc_a") % 10 == 0) != (F.col("doc_b") % 10 == 0))
        .select(
            F.when(F.col("doc_a") % 10 == 0, F.col("doc_a"))
            .otherwise(F.col("doc_b")).alias("new_doc"),
            F.when(F.col("doc_a") % 10 == 0, F.col("doc_b"))
            .otherwise(F.col("doc_a")).alias("corpus_doc"),
        )
    )
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    a = sh.select(F.col("doc_id").alias("new_doc"), "shingle")
    b = sh.select(F.col("doc_id").alias("corpus_doc"), "shingle")
    inter = (
        batch_pairs.join(a, "new_doc")
        .join(b, ["corpus_doc", "shingle"])
        .groupBy("new_doc", "corpus_doc")
        .agg(F.count(F.lit(1)).alias("i"))
    )
    scored = (
        inter.join(
            sizes.select(F.col("doc_id").alias("new_doc"),
                         F.col("n").alias("na")), "new_doc")
        .join(
            sizes.select(F.col("doc_id").alias("corpus_doc"),
                         F.col("n").alias("nb")), "corpus_doc")
        .withColumn(
            "jaccard_bp",
            F.floor(
                F.col("i") * 10000.0
                / (F.col("na") + F.col("nb") - F.col("i"))
            ).cast("bigint"),
        )
    )
    w = Window.partitionBy("new_doc").orderBy(
        F.col("jaccard_bp").desc(), F.col("corpus_doc"))
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select("new_doc", "corpus_doc", "jaccard_bp")
    )


DEDUP_INCREMENTAL_SQL = MINHASH_SQL.replace(
    "SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b",
    """, pairs AS (
SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b""",
) + f"""
), xp AS (
  SELECT CASE WHEN doc_a % 10 = 0 THEN doc_a ELSE doc_b END AS new_doc,
         CASE WHEN doc_a % 10 = 0 THEN doc_b ELSE doc_a END
           AS corpus_doc
  FROM pairs
  WHERE (doc_a % 10 = 0) <> (doc_b % 10 = 0)
), sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id)
, inter AS (
  SELECT xp.new_doc, xp.corpus_doc, count(*) AS i
  FROM xp
  JOIN sh a ON a.doc_id = xp.new_doc
  JOIN sh b ON b.doc_id = xp.corpus_doc AND b.shingle = a.shingle
  GROUP BY 1, 2
), scored AS (
  SELECT new_doc, corpus_doc,
         CAST(floor(i * 10000.0 / (x.n + y.n - i)) AS BIGINT)
           AS jaccard_bp
  FROM inter JOIN sz x ON new_doc = x.doc_id
             JOIN sz y ON corpus_doc = y.doc_id
)
SELECT new_doc, corpus_doc, jaccard_bp FROM (
  SELECT *, row_number() OVER (PARTITION BY new_doc
             ORDER BY jaccard_bp DESC, corpus_doc) AS rk
  FROM scored
) WHERE rk = 1
"""


# --- near-dup cluster resolution (pairs -> one doc per component) ---

def dedup_cluster_resolve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resolve verified near-dup PAIRS into connected components and
    flag one representative doc (the min doc_id) per cluster — the
    step that turns pair detection into an actual training-set dedup.
    Components come from `operators/cluster.py` min-label propagation
    with pointer jumping: O(log diameter) rounds of equality joins,
    lineage cut per round with localCheckpoint."""
    from connect_spark.operators.cluster import resolve_clusters

    pairs = dedup_neardup_verified(spark, sf_dir)
    return resolve_clusters(pairs, "doc_a", "doc_b")


# The oracle computes the same components with a recursive CTE:
# reachability closure seeded from each node, then MIN over reached
# ids.  Closure size is sum of squared component sizes — fine at
# oracle scale; the Spark side is the log-round algorithm.
CLUSTER_RESOLVE_SQL = f"""
WITH RECURSIVE pairs AS (
  {NEARDUP_VERIFIED_SQL}
), edges AS (
  SELECT doc_a AS a, doc_b AS b FROM pairs
  UNION
  SELECT doc_b AS a, doc_a AS b FROM pairs
), nodes AS (
  SELECT DISTINCT a AS node FROM edges
), reach(node, r) AS (
  SELECT node, node FROM nodes
  UNION
  SELECT e.b, reach.r FROM reach JOIN edges e ON e.a = reach.node
), comp AS (
  SELECT node, MIN(r) AS cluster_id FROM reach GROUP BY node
), sz AS (
  SELECT cluster_id, COUNT(*) AS cluster_size FROM comp GROUP BY 1
)
SELECT c.node AS doc_id,
       c.cluster_id,
       CAST(c.node = c.cluster_id AS INT) AS is_representative,
       CAST(sz.cluster_size AS BIGINT) AS cluster_size
FROM comp c JOIN sz USING (cluster_id)
"""


def dedup_training_set(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full dedup endgame: corpus minus non-representative
    near-dup cluster members — every doc that never appeared in a
    verified pair survives as 'unique', one representative (min
    doc_id) survives per cluster, the rest are dropped.  An anti-join
    keyed on doc_id: the cluster table is tiny relative to the corpus
    (only docs IN pairs), so at scale AQE broadcasts it and the
    corpus is scanned exactly once."""
    from connect_spark.operators.cluster import resolve_clusters

    docs = load_table(spark, sf_dir, "documents")
    clusters = resolve_clusters(
        dedup_neardup_verified(spark, sf_dir), "doc_a", "doc_b")
    reps = clusters.select(
        "doc_id", F.col("is_representative").alias("_rep"))
    return (
        docs.join(reps, "doc_id", "left")
        .filter(F.coalesce(F.col("_rep"), F.lit(1)) == 1)
        .select(
            "doc_id",
            F.when(F.col("_rep").isNotNull(), "representative")
                .otherwise("unique").alias("kept_reason"),
        )
    )


TRAINING_SET_SQL = f"""
WITH RECURSIVE pairs AS (
  {NEARDUP_VERIFIED_SQL}
), edges AS (
  SELECT doc_a AS a, doc_b AS b FROM pairs
  UNION
  SELECT doc_b AS a, doc_a AS b FROM pairs
), nodes AS (
  SELECT DISTINCT a AS node FROM edges
), reach(node, r) AS (
  SELECT node, node FROM nodes
  UNION
  SELECT e.b, reach.r FROM reach JOIN edges e ON e.a = reach.node
), comp AS (
  SELECT node, MIN(r) AS cluster_id FROM reach GROUP BY node
)
SELECT d.doc_id,
       CASE WHEN comp.node IS NOT NULL THEN 'representative'
            ELSE 'unique' END AS kept_reason
FROM documents d
LEFT JOIN comp ON comp.node = d.doc_id
WHERE comp.node IS NULL OR comp.node = comp.cluster_id
"""


def html_extract_main(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Main-content extraction from HTML — the boilerplate-removal
    pass every web-crawl training pipeline runs (trafilatura/jusText
    family, heuristic form): each doc renders into a page (nav +
    per-line <p> paragraphs + footer), then extraction strips
    script/nav/footer blocks, drops remaining tags, and keeps only
    text lines dense enough to be content (>= 20 chars after trim).
    Pure Column algebra in the Java-regex ∩ RE2 subset so the oracle
    applies the IDENTICAL pipeline; zero shuffles."""
    docs = load_table(spark, sf_dir, "documents")
    safe = F.regexp_replace("text", "[<>]", " ")
    html = F.concat(
        F.lit("<html><head><title>doc</title>"
              "<script>var x = 1;</script></head><body>"
              "<nav>Home | About | Contact | Login</nav><p>"),
        F.regexp_replace(safe, "\n", "</p><p>"),
        F.lit("</p><footer>(c) 2026 Example Corp | Privacy"
              "</footer></body></html>"),
    )
    stripped = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(html, "<script>.*?</script>", " "),
            "<nav>.*?</nav>|<footer>.*?</footer>", " "),
        "<[^>]+>", "\n")
    kept = F.filter(
        F.transform(F.split(stripped, "\n"), lambda ln: F.trim(ln)),
        lambda ln: F.length(ln) >= 20,
    )
    joined = F.array_join(kept, "\n")
    return docs.select(
        "doc_id",
        F.size(kept).alias("n_content_lines"),
        F.length(joined).alias("content_len"),
        F.substring(joined, 1, 64).alias("content_head"),
    )


HTML_EXTRACT_SQL = r"""
WITH h AS (
  SELECT doc_id,
         '<html><head><title>doc</title><script>var x = 1;</script>'
         || '</head><body><nav>Home | About | Contact | Login</nav><p>'
         || regexp_replace(regexp_replace(text, '[<>]', ' ', 'g'),
                           chr(10), '</p><p>', 'g')
         || '</p><footer>(c) 2026 Example Corp | Privacy</footer>'
         || '</body></html>' AS html
  FROM documents
), s AS (
  SELECT doc_id,
         regexp_replace(
           regexp_replace(
             regexp_replace(html, '<script>.*?</script>', ' ', 'g'),
             '<nav>.*?</nav>|<footer>.*?</footer>', ' ', 'g'),
           '<[^>]+>', chr(10), 'g') AS stripped
  FROM h
), k AS (
  SELECT doc_id,
         list_filter(list_transform(string_split(stripped, chr(10)),
                                    x -> trim(x)),
                     x -> length(x) >= 20) AS kept
  FROM s
)
SELECT doc_id,
       len(kept) AS n_content_lines,
       length(array_to_string(kept, chr(10))) AS content_len,
       substr(array_to_string(kept, chr(10)), 1, 64) AS content_head
FROM k
"""


# --- simhash fingerprint ---

def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash fingerprint: 64 one-bit hash functions (the first 64
    md5 bits of each distinct token, MSB-first) vote per position; the
    sign vector is the fingerprint.  Near-dups differ in few bits.

    r15 shape: one Arrow map stage (mapInPandas, opt guide §4.2) —
    per doc, hashlib md5s the distinct tokens and numpy unpacks and
    column-sums the 64-bit matrix; bit = 1 iff 2*ones >= n_tokens
    (sum of ±1 votes >= 0).  Replaces the relational form, which
    exploded every (doc, token) row 64 ways (64 md5 evaluations per
    token), shuffled the 64M-row vote table into groupBy(doc_id, pos),
    and re-assembled the string with a second exchange + per-row sort
    (measured 5.1s -> 0.7s at sf0.1, bit-identical output; docs with
    zero tokens stay absent, matching the explode semantics).  The
    scan is fanned out first — the hash work is the heavy stage."""
    from connect_spark.catalog import fanout_scan

    docs = fanout_scan(
        spark, load_table(spark, sf_dir, "documents"), sf_dir,
        "documents")

    def sig_batches(batches):
        import hashlib

        import numpy as np
        import pandas as pd

        for pdf in batches:
            ids, sigs = [], []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                toks = {t for t in text.split(" ") if t}
                if not toks:
                    continue
                dig = np.frombuffer(
                    b"".join(hashlib.md5(t.encode("utf-8")).digest()[:8]
                             for t in toks), dtype=np.uint8)
                bits = np.unpackbits(dig).reshape(len(toks), 64)
                ones = bits.sum(axis=0, dtype=np.int64)
                keep = 2 * ones >= len(toks)
                ids.append(doc_id)
                sigs.append("".join("1" if k else "0" for k in keep))
            yield pd.DataFrame({"doc_id": ids, "simhash": sigs})

    return docs.select("doc_id", "text").mapInPandas(
        sig_batches, schema="doc_id long, simhash string")


SIMHASH_SQL = """
WITH toks AS (
  SELECT DISTINCT doc_id, unnest(list_filter(string_split(text, ' '),
                                 x -> x != '')) AS tok
  FROM documents
), votes AS (
  SELECT doc_id, pos,
         CASE WHEN (pos - 1) % 4 = 0 AND substr(md5(tok), CAST((pos + 3) // 4 AS INT), 1) IN ('8', '9', 'a', 'b', 'c', 'd', 'e', 'f') THEN 1\n         WHEN (pos - 1) % 4 = 1 AND substr(md5(tok), CAST((pos + 3) // 4 AS INT), 1) IN ('4', '5', '6', '7', 'c', 'd', 'e', 'f') THEN 1\n         WHEN (pos - 1) % 4 = 2 AND substr(md5(tok), CAST((pos + 3) // 4 AS INT), 1) IN ('2', '3', '6', '7', 'a', 'b', 'e', 'f') THEN 1\n         WHEN (pos - 1) % 4 = 3 AND substr(md5(tok), CAST((pos + 3) // 4 AS INT), 1) IN ('1', '3', '5', '7', '9', 'b', 'd', 'f') THEN 1
         ELSE -1 END AS vote
  FROM toks, (SELECT unnest(range(1, 65)) AS pos)
), bits AS (
  SELECT doc_id, pos,
         CASE WHEN sum(vote) >= 0 THEN '1' ELSE '0' END AS bit
  FROM votes GROUP BY doc_id, pos
)
SELECT doc_id, string_agg(bit, '' ORDER BY pos) AS simhash
FROM bits GROUP BY doc_id
"""


# --- simhash near-dup pairs (banded Hamming matching) ---

def dedup_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash pair matching: the 64-bit fingerprint splits into 4
    16-bit bands; docs sharing any band are candidates (equality join —
    a pair within Hamming distance 3 must agree on at least one band
    by pigeonhole), then the exact Hamming distance filters at <= 3.
    Output is the per-distance pair census: the corpus is deliberately
    dup-heavy (~10^5 matching pairs at sf0.1), so the aggregate gates
    the identical computation in <= 4 stable rows. Completes the
    SimHash family: signature (dedup_simhash) -> pairs. Scale shape ==
    minhash-LSH: band-keyed shuffle, no cartesian.

    r15 shape (was: band self-join recomputing the signature pipeline
    twice, then a distinct over 64-char signature pairs and an
    interpreted per-char zip_with hamming — measured 21s at sf0.1):
    - candidates come from ONE groupBy(band, key) bucket rollup;
    - each member row slices its own pair partners from the sorted
      bucket (posexplode + slice), and the sliced rows are fanned out
      BEFORE the pair explode — AQE coalesces the bucket shuffle by
      bytes and cannot see C(n,2), and on this dup-heavy corpus one
      clique bucket otherwise serializes ~5*10^5 pairs on one task;
    - hamming is codegen'd integer algebra: the four 16-bit chunks
      conv'd base-2, XORed, bit_count'd — no per-char lambda;
    - distinct runs on (doc_a, doc_b, hamming) AFTER the <= 3 filter
      (hamming is functional on the pair, so dedup after filter is
      equivalent and the exchange carries 3 longs, not signatures).
    Measured 21s -> ~4.2s, identical output."""
    # r15 second tranche: the 64-char signature string is converted to
    # FOUR int64 chunks once per doc, BEFORE the bucket rollup — the
    # band key is the chunk itself (no substring), the rollup/fanout/
    # pair explode carry 4 longs instead of a 64-char string, and the
    # per-pair hamming is pure XOR/bit_count with zero conv() string
    # parses (was 8 per pair).  Interleaved A/B 3/3: ~3.5 -> ~2.7s,
    # census identical.  Member structs still sort by doc_id first,
    # so in-bucket pair order is unchanged.
    sigs = dedup_simhash(spark, sf_dir)
    chunks = sigs.select(
        "doc_id",
        *[F.conv(F.substring("simhash", b * 16 + 1, 16), 2, 10)
          .cast("long").alias(f"c{b}") for b in range(4)])
    band_structs = F.array(*[
        F.struct(F.lit(b).alias("band"), F.col(f"c{b}").alias("key"))
        for b in range(4)
    ])
    bands = chunks.select(
        F.struct("doc_id", "c0", "c1", "c2", "c3").alias("ds"),
        F.explode(band_structs).alias("bk"),
    ).select("ds", F.col("bk.band").alias("band"),
             F.col("bk.key").alias("key"))
    buckets = (
        bands.groupBy("band", "key")
        .agg(F.sort_array(F.collect_list("ds")).alias("mem"))
        .filter(F.size("mem") >= 2)
    )
    lhs = (
        buckets
        .select(F.posexplode("mem").alias("i", "a"), "mem")
        .select("a", F.expr(
            "slice(mem, i + 2, size(mem) - i - 1)").alias("tail"))
        .filter(F.size("tail") >= 1)
        .repartition(spark.sparkContext.defaultParallelism)
    )
    hamming = sum(
        F.bit_count(F.col(f"a.c{i}").bitwiseXOR(F.col(f"b.c{i}")))
        for i in range(4)
    )
    return (
        lhs.select("a", F.explode("tail").alias("b"))
        .select(F.col("a.doc_id").alias("doc_a"),
                F.col("b.doc_id").alias("doc_b"),
                hamming.cast("bigint").alias("hamming"))
        .filter(F.col("hamming") <= 3)
        .distinct()
        .groupBy("hamming")
        .agg(F.count(F.lit(1)).alias("n_pairs"))
    )


SIMHASH_PAIRS_SQL = SIMHASH_SQL.replace(
    "SELECT doc_id, string_agg(bit, '' ORDER BY pos) AS simhash\nFROM bits GROUP BY doc_id",
    ""
) + """
, sigs AS (
  SELECT doc_id, string_agg(bit, '' ORDER BY pos) AS simhash
  FROM bits GROUP BY doc_id
), bands AS (
  SELECT doc_id, simhash, b AS band, substr(simhash, b * 16 + 1, 16) AS key
  FROM sigs, (SELECT unnest(range(4)) AS b)
), cands AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
         a.simhash AS sa, b.simhash AS sb
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
), scored AS (
  SELECT CAST(list_sum(list_transform(range(1, 65),
              i -> CASE WHEN substr(sa, CAST(i AS INT), 1)
                          != substr(sb, CAST(i AS INT), 1)
                   THEN 1 ELSE 0 END)) AS BIGINT) AS hamming
  FROM cands
)
SELECT hamming, CAST(count(*) AS BIGINT) AS n_pairs
FROM scored WHERE hamming <= 3 GROUP BY hamming
"""


# --- language ID (n-gram/stopword heuristic) ---

_LANG_MARKERS = {
    "en": ("the", "a", "of", "and", "is"),
    "es": ("el", "la", "de", "y", "es"),
    "de": ("der", "die", "das", "und", "ist"),
    "fr": ("le", "la", "de", "et", "est"),
}


def text_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID heuristic: count per-language marker tokens, argmax
    with deterministic tie-break (en→es→de→fr, else 'und')."""
    docs = load_table(spark, sf_dir, "documents")
    t = _tokens(docs)
    def _score(markers):
        return F.size(F.filter("toks", lambda x: x.isin(*markers)))

    scores = {
        lang: _score(markers).alias(f"score_{lang}")
        for lang, markers in _LANG_MARKERS.items()
    }
    out = t.select("doc_id", *scores.values())
    best = F.greatest(*[F.col(f"score_{l}") for l in _LANG_MARKERS])
    pred = F.when(best <= 0, F.lit("und"))
    for lang in _LANG_MARKERS:  # insertion order = tie-break priority
        pred = pred.when(F.col(f"score_{lang}") == best, F.lit(lang))
    return out.select(
        "doc_id", *[f"score_{l}" for l in _LANG_MARKERS], pred.alias("predicted")
    )


def _lang_sql() -> str:
    score_cols = ",\n       ".join(
        "len(list_filter(toks, x -> x IN ({}))) AS score_{}".format(
            ", ".join(f"'{m}'" for m in markers), lang
        )
        for lang, markers in _LANG_MARKERS.items()
    )
    best = "greatest({})".format(
        ", ".join(f"score_{l}" for l in _LANG_MARKERS)
    )
    whens = "\n            ".join(
        f"WHEN score_{l} = {best} THEN '{l}'" for l in _LANG_MARKERS
    )
    return f"""
WITH t AS (
  SELECT doc_id, list_filter(string_split(text, ' '), x -> x != '') AS toks
  FROM documents
), s AS (
  SELECT doc_id,
       {score_cols}
  FROM t
)
SELECT doc_id, score_en, score_es, score_de, score_fr,
       CASE WHEN {best} <= 0 THEN 'und'
            {whens}
       END AS predicted
FROM s
"""


LANG_ID_SQL = _lang_sql()


# --- quality scoring ---

def text_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality score from rational-arithmetic signals only (unique-token
    ratio, stopword ratio, capped length) so both engines agree
    bit-for-bit; bucketed for routing (the `switch` pattern)."""
    docs = load_table(spark, sf_dir, "documents")
    t = _tokens(docs).join(docs.select("doc_id", "n_chars"), "doc_id")
    n_toks = F.size("toks")
    n_uniq = F.size(F.array_distinct("toks"))
    n_stop = F.size(F.filter("toks", lambda x: x.isin("a", "the", "of")))
    raw = (
        (n_uniq / n_toks) * 0.5
        + (n_stop / n_toks) * 0.2
        + F.least(F.col("n_chars"), F.lit(400)) / 400 * 0.3
    )
    # integer-scaled floor, NOT round(): both engines compute the
    # identical double, but round() half-behavior differs (Spark
    # HALF_UP vs DuckDB half-to-even) and dyadic token counts land
    # exactly on midpoints; floor of identical doubles always agrees.
    score = F.floor(raw * 1_000_000).cast("bigint")
    out = t.select(
        "doc_id",
        n_toks.alias("n_toks"),
        n_uniq.alias("n_uniq"),
        n_stop.alias("n_stop"),
        score.alias("quality_ppm"),
    )
    return out.withColumn(
        "bucket",
        F.when(F.col("quality_ppm") >= 800000, "high")
        .when(F.col("quality_ppm") >= 600000, "mid")
        .otherwise("low"),
    )


QUALITY_SQL = """
WITH t AS (
  SELECT doc_id, n_chars,
         list_filter(string_split(text, ' '), x -> x != '') AS toks
  FROM documents
), s AS (
  SELECT doc_id,
         len(toks) AS n_toks,
         len(list_distinct(toks)) AS n_uniq,
         len(list_filter(toks, x -> x IN ('a', 'the', 'of'))) AS n_stop,
         CAST(floor(((len(list_distinct(toks)) * 1.0 / len(toks)) * 0.5
               + (len(list_filter(toks, x -> x IN ('a', 'the', 'of'))) * 1.0
                  / len(toks)) * 0.2
               + least(n_chars, 400) * 1.0 / 400 * 0.3) * 1000000) AS BIGINT)
           AS quality_ppm
  FROM t
)
SELECT doc_id, n_toks, n_uniq, n_stop, quality_ppm,
       CASE WHEN quality_ppm >= 800000 THEN 'high'
            WHEN quality_ppm >= 600000 THEN 'mid'
            ELSE 'low' END AS bucket
FROM s
"""


# --- token counting ---

def text_token_count(
    spark: SparkSession, sf_dir: str, token_mode: str = "ws"
) -> DataFrame:
    """Token counting: whitespace tokens plus a BPE-ish regex count
    (letter runs / digit runs / single punctuation).  With
    ``token_mode='bpe'`` counts real byte-level BPE subword tokens
    instead (text/bpe.py; broadcast merge table, Arrow-batched UDF) —
    that path's encoder parity is oracle-checked by
    `text_token_count_bpe` in queries/llmops.py."""
    docs = load_table(spark, sf_dir, "documents")
    if token_mode == "bpe":
        from connect_spark.text.bpe import bpe_count_udf

        return docs.select(
            "doc_id",
            bpe_count_udf(spark)(F.col("text")).alias("bpe_tokens"),
            F.length("text").alias("chars"),
        )
    pat = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"
    return docs.select(
        "doc_id",
        F.size(F.filter(F.split("text", " "), lambda t: t != "")).alias(
            "ws_tokens"
        ),
        F.regexp_count("text", F.lit(pat)).alias("re_tokens"),
        F.length("text").alias("chars"),
        F.floor(
            F.length("text")
            * 10000.0
            / F.size(F.filter(F.split("text", " "), lambda t: t != ""))
        )
        .cast("bigint")
        .alias("chars_per_token_x1e4"),
    )


TOKEN_COUNT_SQL = r"""
SELECT doc_id,
       len(list_filter(string_split(text, ' '), x -> x != '')) AS ws_tokens,
       len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS re_tokens,
       length(text) AS chars,
       CAST(floor(length(text) * 10000.0 /
             len(list_filter(string_split(text, ' '), x -> x != ''))) AS BIGINT)
         AS chars_per_token_x1e4
FROM documents
"""


# --- document fingerprinting ---

def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprints: content hash, 64-bit prefix, and an
    order-insensitive token-set hash (catches shuffled near-dups)."""
    docs = load_table(spark, sf_dir, "documents")
    t = _tokens(docs).join(docs.select("doc_id", "text"), "doc_id")
    return t.select(
        "doc_id",
        F.md5(F.lower(F.trim("text"))).alias("content_fp"),
        F.substring(F.md5(F.lower(F.trim("text"))), 1, 16).alias("fp64"),
        F.md5(
            F.array_join(F.sort_array(F.array_distinct("toks")), " ")
        ).alias("tokenset_fp"),
    )


FINGERPRINT_SQL = """
WITH t AS (
  SELECT doc_id, text,
         list_filter(string_split(text, ' '), x -> x != '') AS toks
  FROM documents
)
SELECT doc_id,
       md5(lower(trim(text))) AS content_fp,
       substr(md5(lower(trim(text))), 1, 16) AS fp64,
       md5(array_to_string(list_sort(list_distinct(toks)), ' ')) AS tokenset_fp
FROM t
"""


# --- multimodal plumbing: opaque binary payload + typed metadata ---

def multimodal_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal-column plumbing: treat the payload as an opaque BINARY
    column with typed metadata (byte length, content hash, magic-header
    hex) — the schema/partitioning pattern image/audio columns use. The
    actual decode is a clearly-stubbed pandas UDF in
    connect_spark.text.multimodal (decoders aren't in this container)."""
    docs = load_table(spark, sf_dir, "documents")
    payload = F.col("text").cast("binary")
    return docs.select(
        "doc_id",
        F.octet_length(payload).alias("byte_len"),
        F.md5(payload).alias("payload_md5"),
        F.hex(F.substring(payload, 1, 4)).alias("magic_hex"),
        F.lit("text/plain").alias("mime"),
    )


MULTIMODAL_SQL = """
SELECT doc_id,
       octet_length(encode(text)) AS byte_len,
       md5(text) AS payload_md5,
       upper(hex(encode(substr(text, 1, 4)))) AS magic_hex,
       'text/plain' AS mime
FROM documents
"""


def multimodal_wav_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL audio decode in the gate (text/media_codecs.py — no
    library, no stub): each event synthesizes a deterministic 64-
    sample PCM16 RIFF/WAVE payload (s_i = ((event_id·7 + i·13) mod
    256 − 128) · 128), the full encode→container→decode roundtrip
    runs executor-side through decode_media's real-codec path, and
    the output reduces to exact integers the oracle recomputes from
    the same arithmetic — sample-rate/channel plumbing, RIFF chunk
    walk, and PCM16 decoding are all value-checked."""
    from connect_spark.text.multimodal import decode_media

    # the synthesis + codec chain is CPU-bound Python: spread it over
    # all cores — the events scan is a single small split locally, and
    # a narrow map inherits that (at 100 TB the scan has many splits
    # and this repartition is a no-op-sized shuffle of one id column)
    ev = (load_table(spark, sf_dir, "events").select("event_id")
          .repartition(spark.sparkContext.defaultParallelism))

    def make_media(batches):
        import pandas as _pd

        from connect_spark.text.media_codecs import encode_wav

        for pdf in batches:
            payloads = [
                encode_wav(
                    [((int(e) * 7 + i * 13) % 256 - 128) * 128
                     for i in range(64)],
                    sample_rate=8000,
                )
                for e in pdf["event_id"]
            ]
            yield _pd.DataFrame({
                "media_id": pdf["event_id"],
                "payload": payloads,
                "mime": ["audio/wav"] * len(pdf),
                "meta": [{} for _ in range(len(pdf))],
            })

    from connect_spark.text.multimodal import MEDIA_SCHEMA

    media = ev.mapInPandas(make_media, MEDIA_SCHEMA)
    out = decode_media(media, decode_stub=False)
    return out.select(
        F.col("media_id").alias("event_id"),
        F.col("width").alias("sample_rate"),
        F.col("height").alias("n_channels"),
        F.element_at("feature", 1).cast("bigint").alias("duration_ms"),
        F.element_at("feature", 2).cast("bigint").alias("n_samples"),
        F.round(F.element_at("feature", 3) * 32768).cast("bigint")
            .alias("peak"),
    )


MULTIMODAL_WAV_SQL = """
SELECT event_id,
       8000 AS sample_rate,
       1 AS n_channels,
       8 AS duration_ms,
       64 AS n_samples,
       CAST(list_max(list_transform(range(0, 64),
             i -> abs(((event_id * 7 + i * 13) % 256 - 128) * 128)))
            AS BIGINT) AS peak
FROM events
"""


def multimodal_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame sampling (text/multimodal.py::sample_frames): each media
    row explodes to 4 frames via the one-to-many mapInPandas path; the
    stubbed decoder slices the payload into deterministic chunks, so
    the oracle recomputes every frame's bytes/hash from the source
    text — the whole envelope → batch → explode pipeline is
    value-checked, not just row-counted."""
    from connect_spark.text.multimodal import as_media_frame, sample_frames

    docs = load_table(spark, sf_dir, "documents")
    media = as_media_frame(
        docs.select("doc_id", F.col("text").cast("binary").alias("payload")),
        "doc_id", "payload", "video/fake",
    )
    frames = sample_frames(media, n_frames=4, frame_interval_ms=500)
    return frames.select(
        "media_id",
        "frame_idx",
        "ts_ms",
        F.octet_length("frame").alias("frame_bytes"),
        F.md5("frame").alias("frame_md5"),
    )


MULTIMODAL_FRAMES_SQL = """
WITH f AS (
  SELECT doc_id AS media_id, i AS frame_idx,
         CAST(i * 500 AS BIGINT) AS ts_ms,
         substr(text,
                CAST(i * greatest(1, strlen(text) // 4) + 1 AS BIGINT),
                CAST(greatest(1, strlen(text) // 4) AS BIGINT)) AS frame
  FROM documents, unnest([0, 1, 2, 3]) AS t(i)
)
SELECT media_id, CAST(frame_idx AS INT) AS frame_idx, ts_ms,
       CAST(strlen(frame) AS INT) AS frame_bytes,
       md5(frame) AS frame_md5
FROM f
"""


def multimodal_bmp_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL image resize in the gate: each event synthesizes a
    deterministic 8x8 24-bit BMP (pixel (x, y) channels are integer
    functions of (event_id, x, y)), the payload goes through the full
    encode -> nearest-neighbor resize to 4x4 -> decode chain
    (media_codecs.resize_bmp via multimodal.resize_media — raster
    bytes, BGR order, bottom-up rows, 4-byte padding all exercised),
    and the output reduces to two integers the oracle recomputes
    arithmetically: resized pixel (x, y) samples source (2x, 2y), so
    sum_rgb and the position-weighted checksum pin the exact resized
    raster, orientation included."""
    from connect_spark.text.multimodal import (
        MEDIA_SCHEMA, bmp_pixel_stats, resize_media)

    # the synthesis + codec chain is CPU-bound Python: spread it over
    # all cores — the events scan is a single small split locally, and
    # a narrow map inherits that (at 100 TB the scan has many splits
    # and this repartition is a no-op-sized shuffle of one id column)
    ev = (load_table(spark, sf_dir, "events").select("event_id")
          .repartition(spark.sparkContext.defaultParallelism))

    def make_media(batches):
        import pandas as _pd

        from connect_spark.text.media_codecs import encode_bmp

        for pdf in batches:
            payloads = []
            for e in pdf["event_id"]:
                e = int(e)
                rows = [[((e + 3 * x + 5 * y) % 256,
                          (2 * e + 7 * x + y) % 256,
                          (3 * e + x + 11 * y) % 256)
                         for x in range(8)] for y in range(8)]
                payloads.append(encode_bmp(rows))
            yield _pd.DataFrame({
                "media_id": pdf["event_id"],
                "payload": payloads,
                "mime": ["image/bmp"] * len(pdf),
                "meta": [{} for _ in range(len(pdf))],
            })

    media = ev.mapInPandas(make_media, MEDIA_SCHEMA)
    return bmp_pixel_stats(resize_media(media, 4, 4)).select(
        F.col("media_id").alias("event_id"),
        "width", "height", "sum_rgb", "pos_checksum")


MULTIMODAL_RESIZE_SQL = """
SELECT event_id, 4 AS width, 4 AS height,
       CAST(list_sum(list_transform(range(0, 16), i ->
              (event_id + 6 * (i % 4) + 10 * (i // 4)) % 256
            + (2 * event_id + 14 * (i % 4) + 2 * (i // 4)) % 256
            + (3 * event_id + 2 * (i % 4) + 22 * (i // 4)) % 256))
         AS BIGINT) AS sum_rgb,
       CAST(list_sum(list_transform(range(0, 16), i ->
            (i + 1) * (
              ((event_id + 6 * (i % 4) + 10 * (i // 4)) % 256) * 65536
            + ((2 * event_id + 14 * (i % 4) + 2 * (i // 4)) % 256) * 256
            + ((3 * event_id + 2 * (i % 4) + 22 * (i // 4)) % 256))))
         AS BIGINT) AS pos_checksum
FROM events
"""


def multimodal_png_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL compressed-image resize in the gate: each event
    synthesizes a deterministic 8x8 truecolor PNG — encoded through
    the repo's own pure-stdlib codec (media_codecs.encode_png: zlib
    DEFLATE + per-row adaptive filtering, so the payloads carry
    Sub/Up/Paeth-filtered scanlines) — then travels the full
    decode -> nearest-neighbor resize to 4x4 -> re-encode chain
    (resize_media, container preserved) and reduces to the
    position-weighted checksum the oracle recomputes arithmetically.
    The same end-to-end shape as multimodal_bmp_resize, proving the
    raster plumbing on a COMPRESSED container with every defilter
    path live."""
    from connect_spark.text.multimodal import (
        MEDIA_SCHEMA, bmp_pixel_stats, resize_media)

    # the synthesis + codec chain is CPU-bound Python: spread it over
    # all cores — the events scan is a single small split locally, and
    # a narrow map inherits that (at 100 TB the scan has many splits
    # and this repartition is a no-op-sized shuffle of one id column)
    ev = (load_table(spark, sf_dir, "events").select("event_id")
          .repartition(spark.sparkContext.defaultParallelism))

    def make_media(batches):
        import pandas as _pd

        from connect_spark.text.media_codecs import encode_png

        for pdf in batches:
            payloads = []
            for e in pdf["event_id"]:
                e = int(e)
                rows = [[((e + 9 * x + 2 * y) % 256,
                          (2 * e + 3 * x + 13 * y) % 256,
                          (5 * e + 7 * x + y) % 256)
                         for x in range(8)] for y in range(8)]
                payloads.append(encode_png(rows))
            yield _pd.DataFrame({
                "media_id": pdf["event_id"],
                "payload": payloads,
                "mime": ["image/png"] * len(pdf),
                "meta": [{} for _ in range(len(pdf))],
            })

    media = ev.mapInPandas(make_media, MEDIA_SCHEMA)
    return bmp_pixel_stats(resize_media(media, 4, 4)).select(
        F.col("media_id").alias("event_id"),
        "width", "height", "sum_rgb", "pos_checksum")


MULTIMODAL_PNG_RESIZE_SQL = """
SELECT event_id, 4 AS width, 4 AS height,
       CAST(list_sum(list_transform(range(0, 16), i ->
              (event_id + 18 * (i % 4) + 4 * (i // 4)) % 256
            + (2 * event_id + 6 * (i % 4) + 26 * (i // 4)) % 256
            + (5 * event_id + 14 * (i % 4) + 2 * (i // 4)) % 256))
         AS BIGINT) AS sum_rgb,
       CAST(list_sum(list_transform(range(0, 16), i ->
            (i + 1) * (
              ((event_id + 18 * (i % 4) + 4 * (i // 4)) % 256) * 65536
            + ((2 * event_id + 6 * (i % 4) + 26 * (i // 4)) % 256) * 256
            + ((5 * event_id + 14 * (i % 4) + 2 * (i // 4)) % 256))))
         AS BIGINT) AS pos_checksum
FROM events
"""


def multimodal_jpeg_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL baseline-JPEG decode in the gate: each event synthesizes a
    16x16 JPEG of four constant-color 8x8 blocks (block (bx, by) color
    r = (e + 31bx + 57by) mod 256, g = (2e + 43bx + 17by) mod 256,
    b = (5e + 13bx + 71by) mod 256) through the repo's own encoder —
    spec-valid entropy-coded baseline with per-component DC diff
    prediction exercised by four different block colors — then runs
    the FULL decode path (canonical Huffman from DHT, dequantize,
    vectorized IDCT, integer YCbCr->RGB), nearest-neighbor resizes to
    2x2 (one pixel per source block; JPEG thumbnails re-encode to
    lossless PNG — see media_codecs.resize_jpeg), and reduces to the
    position-weighted checksum.  Flat-8 quantization makes constant
    blocks roundtrip losslessly in YCbCr space, so the oracle can
    recompute every decoded pixel arithmetically: forward and inverse
    integer color transforms mirrored verbatim in SQL."""
    from connect_spark.text.multimodal import (
        MEDIA_SCHEMA, bmp_pixel_stats, resize_media)

    # the synthesis + codec chain is CPU-bound Python: spread it over
    # all cores — the events scan is a single small split locally, and
    # a narrow map inherits that (at 100 TB the scan has many splits
    # and this repartition is a no-op-sized shuffle of one id column)
    ev = (load_table(spark, sf_dir, "events").select("event_id")
          .repartition(spark.sparkContext.defaultParallelism))

    def make_media(batches):
        import pandas as _pd

        from connect_spark.text.media_codecs import encode_jpeg

        for pdf in batches:
            payloads = []
            for e in pdf["event_id"]:
                e = int(e)
                rows = [[((e + 31 * (x // 8) + 57 * (y // 8)) % 256,
                          (2 * e + 43 * (x // 8) + 17 * (y // 8)) % 256,
                          (5 * e + 13 * (x // 8) + 71 * (y // 8)) % 256)
                         for x in range(16)] for y in range(16)]
                payloads.append(encode_jpeg(rows))
            yield _pd.DataFrame({
                "media_id": pdf["event_id"],
                "payload": payloads,
                "mime": ["image/jpeg"] * len(pdf),
                "meta": [{} for _ in range(len(pdf))],
            })

    media = ev.mapInPandas(make_media, MEDIA_SCHEMA)
    return bmp_pixel_stats(resize_media(media, 2, 2)).select(
        F.col("media_id").alias("event_id"),
        "width", "height", "sum_rgb", "pos_checksum")


# the oracle mirrors the codec's integer color math exactly: forward
# RGB->YCbCr (non-negative fixed-point, truncating division == floor),
# then the decoder's inverse with the +65536 bias trick and [0, 255]
# clamps; flat-8 quantization + constant blocks mean the stored YCbCr
# is exact, so decoded = inverse(forward(rgb)).
MULTIMODAL_JPEG_RESIZE_SQL = """
WITH px AS (
  SELECT event_id, i,
         (event_id + 31 * (i % 2) + 57 * (i // 2)) % 256 AS r0,
         (2 * event_id + 43 * (i % 2) + 17 * (i // 2)) % 256 AS g0,
         (5 * event_id + 13 * (i % 2) + 71 * (i // 2)) % 256 AS b0
  FROM events, UNNEST([0, 1, 2, 3]) AS t(i)
), ycc AS (
  SELECT event_id, i,
    LEAST((77 * r0 + 150 * g0 + 29 * b0 + 128) // 256, 255) AS yy,
    LEAST((32768 - 43 * r0 - 85 * g0 + 128 * b0 + 128) // 256, 255) AS cb,
    LEAST((32768 + 128 * r0 - 107 * g0 - 21 * b0 + 128) // 256, 255) AS cr
  FROM px
), rgb AS (
  SELECT event_id, i,
    GREATEST(0, LEAST(255, yy +
      ((359 * (cr - 128) + 128 + 65536) // 256 - 256))) AS r,
    GREATEST(0, LEAST(255, yy -
      ((88 * (cb - 128) + 183 * (cr - 128) + 128 + 65536) // 256 - 256)))
      AS g,
    GREATEST(0, LEAST(255, yy +
      ((454 * (cb - 128) + 128 + 65536) // 256 - 256))) AS b
  FROM ycc
)
SELECT event_id, 2 AS width, 2 AS height,
       CAST(SUM(r + g + b) AS BIGINT) AS sum_rgb,
       CAST(SUM((i + 1) * (r * 65536 + g * 256 + b)) AS BIGINT)
         AS pos_checksum
FROM rgb GROUP BY event_id
"""


def multimodal_jpeg_progressive(spark: SparkSession,
                                sf_dir: str) -> DataFrame:
    """PROGRESSIVE-JPEG decode in the gate: the same 4-block 16x16
    constant-color synthesis shape as multimodal_jpeg_resize (block
    (bx, by) color r = (3e + 23bx + 41by) mod 256, g = (e + 61bx +
    29by) mod 256, b = (7e + 47bx + 11by) mod 256) but encoded as a
    SOF2 spectral-selection stream — one interleaved DC scan plus a
    per-component AC band scan (media_codecs.encode_jpeg_progressive)
    — so the driver pins the multi-scan coefficient accumulation and
    non-interleaved component-grid traversal, not just the baseline
    path.  Decode -> 2x2 resize -> position-weighted checksum, same
    lossless-constant-block arithmetic the oracle mirrors."""
    from connect_spark.text.multimodal import (
        MEDIA_SCHEMA, bmp_pixel_stats, resize_media)

    # the synthesis + codec chain is CPU-bound Python: spread it over
    # all cores (see multimodal_jpeg_resize)
    ev = (load_table(spark, sf_dir, "events").select("event_id")
          .repartition(spark.sparkContext.defaultParallelism))

    def make_media(batches):
        import pandas as _pd

        from connect_spark.text.media_codecs import (
            encode_jpeg_progressive)

        for pdf in batches:
            payloads = []
            for e in pdf["event_id"]:
                e = int(e)
                rows = [[((3 * e + 23 * (x // 8) + 41 * (y // 8)) % 256,
                          (e + 61 * (x // 8) + 29 * (y // 8)) % 256,
                          (7 * e + 47 * (x // 8) + 11 * (y // 8)) % 256)
                         for x in range(16)] for y in range(16)]
                payloads.append(encode_jpeg_progressive(rows))
            yield _pd.DataFrame({
                "media_id": pdf["event_id"],
                "payload": payloads,
                "mime": ["image/jpeg"] * len(pdf),
                "meta": [{} for _ in range(len(pdf))],
            })

    media = ev.mapInPandas(make_media, MEDIA_SCHEMA)
    return bmp_pixel_stats(resize_media(media, 2, 2)).select(
        F.col("media_id").alias("event_id"),
        "width", "height", "sum_rgb", "pos_checksum")


MULTIMODAL_JPEG_PROGRESSIVE_SQL = """
WITH px AS (
  SELECT event_id, i,
         (3 * event_id + 23 * (i % 2) + 41 * (i // 2)) % 256 AS r0,
         (event_id + 61 * (i % 2) + 29 * (i // 2)) % 256 AS g0,
         (7 * event_id + 47 * (i % 2) + 11 * (i // 2)) % 256 AS b0
  FROM events, UNNEST([0, 1, 2, 3]) AS t(i)
), ycc AS (
  SELECT event_id, i,
    LEAST((77 * r0 + 150 * g0 + 29 * b0 + 128) // 256, 255) AS yy,
    LEAST((32768 - 43 * r0 - 85 * g0 + 128 * b0 + 128) // 256, 255) AS cb,
    LEAST((32768 + 128 * r0 - 107 * g0 - 21 * b0 + 128) // 256, 255) AS cr
  FROM px
), rgb AS (
  SELECT event_id, i,
    GREATEST(0, LEAST(255, yy +
      ((359 * (cr - 128) + 128 + 65536) // 256 - 256))) AS r,
    GREATEST(0, LEAST(255, yy -
      ((88 * (cb - 128) + 183 * (cr - 128) + 128 + 65536) // 256 - 256)))
      AS g,
    GREATEST(0, LEAST(255, yy +
      ((454 * (cb - 128) + 128 + 65536) // 256 - 256))) AS b
  FROM ycc
)
SELECT event_id, 2 AS width, 2 AS height,
       CAST(SUM(r + g + b) AS BIGINT) AS sum_rgb,
       CAST(SUM((i + 1) * (r * 65536 + g * 256 + b)) AS BIGINT)
         AS pos_checksum
FROM rgb GROUP BY event_id
"""


def multimodal_video_framesample(spark: SparkSession,
                                 sf_dir: str) -> DataFrame:
    """REAL video frame sampling in the gate (closing the last
    multimodal stub the way GIF closed animation and JPEG closed
    stills): each event synthesizes a 2-frame 8x8 MJPEG-in-AVI —
    frame f constant color (e + 19f, 3e + 37f, 7e + 53f) mod 256,
    every frame a spec-valid baseline JPEG inside a RIFF/AVI movi
    list — then avi_frame_stats walks the container, entropy-decodes
    frame 1 (Huffman + IDCT + integer YCbCr->RGB), and reduces to the
    position-weighted checksum.  Constant blocks + flat-8 quant make
    the decode arithmetic the oracle mirrors exactly; inter-frame
    codecs (H.264 etc.) stay behind the honest ffmpeg gate."""
    from connect_spark.text.multimodal import MEDIA_SCHEMA, avi_frame_stats

    # the synthesis + codec chain is CPU-bound Python: spread it over
    # all cores — the events scan is a single small split locally, and
    # a narrow map inherits that (at 100 TB the scan has many splits
    # and this repartition is a no-op-sized shuffle of one id column)
    ev = (load_table(spark, sf_dir, "events").select("event_id")
          .repartition(spark.sparkContext.defaultParallelism))

    def make_media(batches):
        import pandas as _pd

        from connect_spark.text.media_codecs import encode_avi_mjpeg

        for pdf in batches:
            payloads = []
            for e in pdf["event_id"]:
                e = int(e)
                frames = [
                    [[((e + 19 * f) % 256, (3 * e + 37 * f) % 256,
                       (7 * e + 53 * f) % 256)] * 8 for _ in range(8)]
                    for f in range(2)
                ]
                payloads.append(encode_avi_mjpeg(frames, fps=5))
            yield _pd.DataFrame({
                "media_id": pdf["event_id"],
                "payload": payloads,
                "mime": ["video/x-msvideo"] * len(pdf),
                "meta": [{} for _ in range(len(pdf))],
            })

    media = ev.mapInPandas(make_media, MEDIA_SCHEMA)
    return avi_frame_stats(media, 1).select(
        F.col("media_id").alias("event_id"),
        "n_frames", "width", "height", "sum_rgb", "pos_checksum")


# constant 8x8 frame: sum_rgb = 64 * (r + g + b) of the roundtripped
# color, pos_checksum = (sum of 1..64) * packed = 2080 * packed; the
# color chain is the same forward/inverse integer math as
# MULTIMODAL_JPEG_RESIZE_SQL with frame index f = 1.
MULTIMODAL_VIDEO_SQL = """
WITH px AS (
  SELECT event_id,
         (event_id + 19) % 256 AS r0,
         (3 * event_id + 37) % 256 AS g0,
         (7 * event_id + 53) % 256 AS b0
  FROM events
), ycc AS (
  SELECT event_id,
    LEAST((77 * r0 + 150 * g0 + 29 * b0 + 128) // 256, 255) AS yy,
    LEAST((32768 - 43 * r0 - 85 * g0 + 128 * b0 + 128) // 256, 255) AS cb,
    LEAST((32768 + 128 * r0 - 107 * g0 - 21 * b0 + 128) // 256, 255) AS cr
  FROM px
), rgb AS (
  SELECT event_id,
    GREATEST(0, LEAST(255, yy +
      ((359 * (cr - 128) + 128 + 65536) // 256 - 256))) AS r,
    GREATEST(0, LEAST(255, yy -
      ((88 * (cb - 128) + 183 * (cr - 128) + 128 + 65536) // 256 - 256)))
      AS g,
    GREATEST(0, LEAST(255, yy +
      ((454 * (cb - 128) + 128 + 65536) // 256 - 256))) AS b
  FROM ycc
)
SELECT event_id, 2 AS n_frames, 8 AS width, 8 AS height,
       CAST(64 * (r + g + b) AS BIGINT) AS sum_rgb,
       CAST(2080 * (r * 65536 + g * 256 + b) AS BIGINT) AS pos_checksum
FROM rgb
"""


def multimodal_audio_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Windowed audio feature extraction in the gate: the same
    deterministic 64-sample PCM16 WAV synthesis as
    multimodal_wav_decode, then wav_window_features (REAL RIFF walk +
    PCM decode) emits per-16-sample-window integer energy and strict
    zero crossings — the one-to-many explode shape with every value
    recomputable by the oracle from the sample formula
    s_i = ((event_id*7 + i*13) mod 256 - 128) * 128."""
    from connect_spark.text.multimodal import (
        MEDIA_SCHEMA, wav_window_features)

    # the synthesis + codec chain is CPU-bound Python: spread it over
    # all cores — the events scan is a single small split locally, and
    # a narrow map inherits that (at 100 TB the scan has many splits
    # and this repartition is a no-op-sized shuffle of one id column)
    ev = (load_table(spark, sf_dir, "events").select("event_id")
          .repartition(spark.sparkContext.defaultParallelism))

    def make_media(batches):
        import pandas as _pd

        from connect_spark.text.media_codecs import encode_wav

        for pdf in batches:
            payloads = [
                encode_wav(
                    [((int(e) * 7 + i * 13) % 256 - 128) * 128
                     for i in range(64)],
                    sample_rate=8000,
                )
                for e in pdf["event_id"]
            ]
            yield _pd.DataFrame({
                "media_id": pdf["event_id"],
                "payload": payloads,
                "mime": ["audio/wav"] * len(pdf),
                "meta": [{} for _ in range(len(pdf))],
            })

    media = ev.mapInPandas(make_media, MEDIA_SCHEMA)
    return wav_window_features(media, window=16).select(
        F.col("media_id").alias("event_id"),
        "win_idx", "n_samples", "energy", "zero_crossings")


def multimodal_gif_framesample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL animated-GIF frame sampling in the gate: each event
    synthesizes a deterministic 2-frame 8x8 GIF89a (frame f pixel
    (x, y) is palette index (event_id + 17x + 29y + 53f) mod 256,
    palette entry i = (i, 3i mod 256, 7i mod 256)) through the repo's
    own encoder — REAL variable-width LZW with clear/EOI codes and
    table growth — then gif_frame_stats decodes the block structure,
    LZW-decompresses, selects frame 1 (the video-style "sample a
    frame" op against a genuinely decoded format), expands the
    palette, and reduces to the position-weighted checksum the oracle
    recomputes arithmetically."""
    from connect_spark.text.multimodal import MEDIA_SCHEMA, gif_frame_stats

    # the synthesis + codec chain is CPU-bound Python: spread it over
    # all cores — the events scan is a single small split locally, and
    # a narrow map inherits that (at 100 TB the scan has many splits
    # and this repartition is a no-op-sized shuffle of one id column)
    ev = (load_table(spark, sf_dir, "events").select("event_id")
          .repartition(spark.sparkContext.defaultParallelism))

    def make_media(batches):
        import pandas as _pd

        from connect_spark.text.media_codecs import encode_gif

        pal = [(i, (3 * i) % 256, (7 * i) % 256) for i in range(256)]
        for pdf in batches:
            payloads = []
            for e in pdf["event_id"]:
                e = int(e)
                frames = [
                    [[(e + 17 * x + 29 * y + 53 * f) % 256
                      for x in range(8)] for y in range(8)]
                    for f in range(2)
                ]
                payloads.append(encode_gif(frames, pal, delay_cs=4))
            yield _pd.DataFrame({
                "media_id": pdf["event_id"],
                "payload": payloads,
                "mime": ["image/gif"] * len(pdf),
                "meta": [{} for _ in range(len(pdf))],
            })

    media = ev.mapInPandas(make_media, MEDIA_SCHEMA)
    return gif_frame_stats(media, frame_idx=1).select(
        F.col("media_id").alias("event_id"),
        "n_frames", "width", "height", "sum_rgb", "pos_checksum")


_GIF_IDX = "((event_id + 17 * (i % 8) + 29 * (i // 8) + 53) % 256)"

MULTIMODAL_GIF_SQL = f"""
SELECT event_id, 2 AS n_frames, 8 AS width, 8 AS height,
       CAST(list_sum(list_transform(range(0, 64), i ->
              {_GIF_IDX}
            + (3 * {_GIF_IDX}) % 256
            + (7 * {_GIF_IDX}) % 256))
         AS BIGINT) AS sum_rgb,
       CAST(list_sum(list_transform(range(0, 64), i ->
            (i + 1) * (
              {_GIF_IDX} * 65536
            + ((3 * {_GIF_IDX}) % 256) * 256
            + (7 * {_GIF_IDX}) % 256)))
         AS BIGINT) AS pos_checksum
FROM events
"""


def multimodal_mulaw_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Windowed features over G.711 mu-law audio: the same
    deterministic PCM16 synthesis as multimodal_audio_features, but
    the payload is COMPANDED through the real mu-law compress (format
    tag 7, 8-bit codes) and the features are computed over the real
    expand — so the gate pins the full lossy round trip
    expand(compress(s)), the canonical G.711 reconstruction levels,
    which the oracle rebuilds with exact integer segment/mantissa
    arithmetic."""
    from connect_spark.text.multimodal import (
        MEDIA_SCHEMA, wav_window_features)

    # the synthesis + codec chain is CPU-bound Python: spread it over
    # all cores — the events scan is a single small split locally, and
    # a narrow map inherits that (at 100 TB the scan has many splits
    # and this repartition is a no-op-sized shuffle of one id column)
    ev = (load_table(spark, sf_dir, "events").select("event_id")
          .repartition(spark.sparkContext.defaultParallelism))

    def make_media(batches):
        import pandas as _pd

        from connect_spark.text.media_codecs import encode_wav_mulaw

        for pdf in batches:
            payloads = [
                encode_wav_mulaw(
                    [((int(e) * 7 + i * 13) % 256 - 128) * 128
                     for i in range(64)],
                    sample_rate=8000,
                )
                for e in pdf["event_id"]
            ]
            yield _pd.DataFrame({
                "media_id": pdf["event_id"],
                "payload": payloads,
                "mime": ["audio/wav"] * len(pdf),
                "meta": [{} for _ in range(len(pdf))],
            })

    media = ev.mapInPandas(make_media, MEDIA_SCHEMA)
    return wav_window_features(media, window=16).select(
        F.col("media_id").alias("event_id"),
        "win_idx", "n_samples", "energy", "zero_crossings")


# expand(compress(s)) in stepwise integer SQL: |s| <= 16384 so the
# G.711 clip never engages; segment thresholds and the
# mantissa/bias reconstruction mirror media_codecs.mulaw_* exactly
MULTIMODAL_MULAW_SQL = """
WITH samp AS (
  SELECT event_id, i, ((event_id * 7 + i * 13) % 256 - 128) * 128 AS s
  FROM events, unnest(range(0, 64)) AS t(i)
), seg AS (
  SELECT event_id, i, s, abs(s) + 132 AS a,
         CASE WHEN abs(s) + 132 < 256 THEN 0
              WHEN abs(s) + 132 < 512 THEN 1
              WHEN abs(s) + 132 < 1024 THEN 2
              WHEN abs(s) + 132 < 2048 THEN 3
              WHEN abs(s) + 132 < 4096 THEN 4
              WHEN abs(s) + 132 < 8192 THEN 5
              WHEN abs(s) + 132 < 16384 THEN 6
              ELSE 7 END AS sg
  FROM samp
), rec AS (
  SELECT event_id, i,
         CASE WHEN s < 0 THEN -(((a // (8 * (1 << sg))) % 16 * 8 + 132)
                                * (1 << sg) - 132)
              ELSE ((a // (8 * (1 << sg))) % 16 * 8 + 132)
                   * (1 << sg) - 132 END AS r
  FROM seg
), win AS (
  SELECT event_id, CAST(i // 16 AS INT) AS win_idx, i, r,
         lag(r) OVER (PARTITION BY event_id ORDER BY i) AS pr
  FROM rec
)
SELECT event_id, win_idx, 16 AS n_samples,
       CAST(SUM(r * r) AS BIGINT) AS energy,
       CAST(SUM(CASE WHEN i % 16 != 0 AND pr * r < 0
                     THEN 1 ELSE 0 END) AS INT) AS zero_crossings
FROM win GROUP BY event_id, win_idx
"""


MULTIMODAL_AUDIO_SQL = """
SELECT event_id, CAST(w AS INT) AS win_idx, 16 AS n_samples,
       CAST(list_sum(list_transform(range(16 * w, 16 * w + 16), i ->
            (((event_id * 7 + i * 13) % 256 - 128) * 128)
          * (((event_id * 7 + i * 13) % 256 - 128) * 128)))
         AS BIGINT) AS energy,
       CAST(list_sum(list_transform(range(16 * w + 1, 16 * w + 16), i ->
            CASE WHEN (((event_id * 7 + (i - 1) * 13) % 256 - 128) * 128)
                    * (((event_id * 7 + i * 13) % 256 - 128) * 128) < 0
                 THEN 1 ELSE 0 END))
         AS INT) AS zero_crossings
FROM events, unnest([0, 1, 2, 3]) AS t(w)
"""


def unicode_segments_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """unicode_segments (internal/impl/lang/bloblang.go:70-120) over
    the documents table: UAX #29 word segmentation per doc — segment
    count (words + whitespace runs), word count, first/last word. The
    corpus is single-space lowercase ASCII, so the oracle recomputes
    the same answer relationally (split on space); the UAX #29 engine
    itself is pinned on Unicode-hard cases in tests/test_segmentation.py.
    """
    from connect_spark.bloblang.methods import METHODS
    from connect_spark.catalog import fanout_scan

    # the UAX #29 segmenter is Python CPU per row above an
    # unsplittable scan — spread it (opt guide §2.5/§4)
    docs = fanout_scan(
        spark,
        load_table(spark, sf_dir, "documents").select("doc_id", "text"),
        sf_dir, "documents")

    seg = METHODS["unicode_segments"](F.col("text"), "word")
    segged = docs.select("doc_id", seg.alias("segs"))
    non_space = F.filter(F.col("segs"), lambda x: x != " ")
    return segged.select(
        "doc_id",
        F.size("segs").alias("n_segments"),
        F.size(non_space).alias("n_words"),
        F.element_at(non_space, 1).alias("first_word"),
        F.element_at(non_space, -1).alias("last_word"),
    )


UNICODE_SEGMENTS_SQL = """
SELECT doc_id,
       CAST(2 * len(string_split(text, ' ')) - 1 AS INT) AS n_segments,
       CAST(len(string_split(text, ' ')) AS INT) AS n_words,
       string_split(text, ' ')[1] AS first_word,
       string_split(text, ' ')[-1] AS last_word
FROM documents
"""




def dedup_line_removal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style repeated-span removal (Raffel et al.'s line dedup,
    the training-data cleaning step beyond whole-doc dedup): the
    corpus keeps exactly ONE occurrence of every repeated span —
    first occurrence wins globally (doc_id, position order) — and
    documents reassemble from their surviving spans. Spans here are
    10-word segments (the synthetic docs have no newlines; a real
    corpus splits on them).

    100 TB shape: one shuffle on the span hash for the global
    first-occurrence window (skew-bounded: spans are near-unique by
    construction), one shuffle back on doc_id to reassemble — no
    driver materialization, no cartesian anything."""
    docs = load_table(spark, sf_dir, "documents")
    words = F.split(F.col("text"), " ")
    n_segs = F.ceil(F.size(words) / F.lit(10)).cast("int")
    segs = docs.select(
        "doc_id",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), n_segs - 1),
                lambda i: F.array_join(
                    F.slice(words, i * 10 + 1, 10), " "
                ),
            )
        ).alias("pos", "seg"),
    )
    w = Window.partitionBy("seg").orderBy("doc_id", "pos")
    kept = segs.withColumn("rn", F.row_number().over(w)).filter(
        F.col("rn") == 1
    )
    return (
        kept.groupBy("doc_id")
        .agg(
            F.array_join(
                F.array_sort(
                    F.collect_list(F.struct("pos", "seg"))
                ).getField("seg"),
                " ",
            ).alias("cleaned"),
            F.count("*").alias("kept_segments"),
        )
    )


DEDUP_LINE_REMOVAL_SQL = """
WITH w AS (
  SELECT doc_id, string_split(text, ' ') AS ws FROM documents
),
segs AS (
  SELECT doc_id, CAST(i AS INT) AS pos,
         array_to_string(ws[(i*10+1):(i*10+10)], ' ') AS seg
  FROM w, UNNEST(range(CAST(ceil(len(ws) / 10.0) AS BIGINT))) AS t(i)
),
ranked AS (
  SELECT doc_id, pos, seg,
         row_number() OVER (PARTITION BY seg ORDER BY doc_id, pos) AS rn
  FROM segs
)
SELECT doc_id,
       string_agg(seg, ' ' ORDER BY pos) AS cleaned,
       count(*) AS kept_segments
FROM ranked WHERE rn = 1
GROUP BY doc_id
"""


def multimodal_jpeg_lossless(spark: SparkSession,
                             sf_dir: str) -> DataFrame:
    """LOSSLESS JPEG (T.81 Annex H SOF3, round-12 — encoder/decoder
    pair gated by tests/test_jpeg_lossless.py) in the driver gate:
    each event synthesizes a deterministic 8x6 12-bit grayscale plane
    (sample (x, y) = (7e + 131x + 239y) mod 4096), rides the FULL
    encode -> decode chain — ENTROPY BACKEND alternating per row
    (even events Huffman SOF3, odd events the H.1.2.2 QM-coded SOFB
    twin), predictor rotating over all seven values (e mod 7 + 1),
    restart rows rotating 0/1/2 (e mod 3) — and
    reduces to sums the oracle recomputes from the synthesis formula
    directly: lossless means decode == source EXACTLY, so any bias
    anywhere in prediction, category coding, restart handling or the
    Huffman table breaks the value hash.

    Scale: zero-shuffle narrow mapInPandas after a repartition across
    cores (CPU-bound pure-Python codec, the multimodal seam shape)."""
    ev = (load_table(spark, sf_dir, "events").select("event_id")
          .repartition(spark.sparkContext.defaultParallelism))

    def run(batches):
        import pandas as _pd

        from connect_spark.text.media_codecs import (
            decode_jpeg_lossless, encode_jpeg_lossless,
            encode_jpeg_lossless_arith)

        for pdf in batches:
            sums, checks = [], []
            for e in pdf["event_id"]:
                e = int(e)
                plane = [[(7 * e + 131 * x + 239 * y) % 4096
                          for x in range(8)] for y in range(6)]
                encoder = (encode_jpeg_lossless if e % 2 == 0
                           else encode_jpeg_lossless_arith)
                enc = encoder(
                    [plane], precision=12,
                    predictor=e % 7 + 1,
                    restart_rows=e % 3)
                out = decode_jpeg_lossless(enc)["planes"][0]
                sums.append(sum(v for row in out for v in row))
                checks.append(sum((x + 1) * (y + 3) * out[y][x]
                                  for y in range(6)
                                  for x in range(8)))
            yield _pd.DataFrame({
                "event_id": pdf["event_id"],
                "sum_s": _pd.Series(sums, dtype="int64"),
                "pos_checksum": _pd.Series(checks, dtype="int64"),
            })

    schema = "event_id BIGINT, sum_s BIGINT, pos_checksum BIGINT"
    return ev.mapInPandas(run, schema)


MULTIMODAL_JPEG_LOSSLESS_SQL = """
WITH px AS (
  SELECT event_id, i % 8 AS x, i // 8 AS y,
         (7 * event_id + 131 * (i % 8) + 239 * (i // 8)) % 4096 AS s
  FROM events, UNNEST(range(0, 48)) AS t(i)
)
SELECT event_id,
       CAST(SUM(s) AS BIGINT) AS sum_s,
       CAST(SUM((x + 1) * (y + 3) * s) AS BIGINT) AS pos_checksum
FROM px GROUP BY event_id
"""


def multimodal_jpeg_hierarchical(spark: SparkSession,
                                 sf_dir: str) -> DataFrame:
    """HIERARCHICAL JPEG (T.81 Annexes J.8/K.5, round-13 — DHP + EXP
    + differential SOF7/SOFF frames over the lossless pyramid; gated
    by tests/test_jpeg_hierarchical.py) in the driver gate: each
    event synthesizes a deterministic 10x7 8-bit plane (sample
    (x, y) = (11e + 37x + 101y) mod 256), rides the FULL
    encode -> decode chain — every 5th event takes the K.5
    LOSSY-PREVIEW-PLUS-EXACT form (grayscale SOF0 DCT base +
    SOF7/SOFF lossless residual, backend from parity), the rest the
    lossless pyramid with depth rotating 1/2/3 levels (e mod 3 + 1),
    ENTROPY BACKEND alternating per row (even events Huffman, odd
    the QM-coded twins), initial predictor rotating over all seven
    values (e mod 7 + 1) — and reduces to sums the oracle recomputes
    from the synthesis formula directly: BOTH hierarchy forms are
    lossless end-to-end, so any bias in the pyramid build, the
    normative EXP interpolation, the DCT base reconstruction, the
    differential mod-2^16 coding or either entropy arm breaks the
    value hash.

    Scale: zero-shuffle narrow mapInPandas after a repartition
    across cores (CPU-bound pure-Python codec, the multimodal seam
    shape — linear in rows / cores like the other media gates)."""
    ev = (load_table(spark, sf_dir, "events").select("event_id")
          .repartition(spark.sparkContext.defaultParallelism))

    def run(batches):
        import pandas as _pd

        from connect_spark.text.media_codecs import (
            decode_jpeg_hierarchical, encode_jpeg_hierarchical,
            encode_jpeg_hierarchical_dct)

        for pdf in batches:
            sums, checks = [], []
            for e in pdf["event_id"]:
                e = int(e)
                plane = [[(11 * e + 37 * x + 101 * y) % 256
                          for x in range(10)] for y in range(7)]
                if e % 5 == 0:
                    # K.5 lossy pyramid: SOF0 base + SOF5
                    # differential-DCT refinements (depth e mod 3
                    # + 1) + exact SOF7/SOFF residual
                    enc = encode_jpeg_hierarchical_dct(
                        plane, arithmetic_residual=e % 2 == 1,
                        levels=e % 3 + 1)
                else:
                    enc = encode_jpeg_hierarchical(
                        [plane], levels=e % 3 + 1,
                        predictor=e % 7 + 1,
                        arithmetic=e % 2 == 1)
                out = decode_jpeg_hierarchical(enc)["planes"][0]
                sums.append(sum(v for row in out for v in row))
                checks.append(sum((x + 1) * (y + 3) * out[y][x]
                                  for y in range(7)
                                  for x in range(10)))
            yield _pd.DataFrame({
                "event_id": pdf["event_id"],
                "sum_s": _pd.Series(sums, dtype="int64"),
                "pos_checksum": _pd.Series(checks, dtype="int64"),
            })

    schema = "event_id BIGINT, sum_s BIGINT, pos_checksum BIGINT"
    return ev.mapInPandas(run, schema)


MULTIMODAL_JPEG_HIERARCHICAL_SQL = """
WITH px AS (
  SELECT event_id, i % 10 AS x, i // 10 AS y,
         (11 * event_id + 37 * (i % 10) + 101 * (i // 10)) % 256 AS s
  FROM events, UNNEST(range(0, 70)) AS t(i)
)
SELECT event_id,
       CAST(SUM(s) AS BIGINT) AS sum_s,
       CAST(SUM((x + 1) * (y + 3) * s) AS BIGINT) AS pos_checksum
FROM px GROUP BY event_id
"""


QUERIES = [
    QuerySpec("dedup_exact", dedup_exact, DEDUP_EXACT_SQL, headline=True),
    QuerySpec("dedup_minhash_lsh", dedup_minhash_lsh, MINHASH_SQL, headline=True),
    QuerySpec("dedup_ngram_jaccard", dedup_ngram_jaccard, NGRAM_JACCARD_SQL),
    QuerySpec(
        "dedup_neardup_verified", dedup_neardup_verified, NEARDUP_VERIFIED_SQL
    ),
    QuerySpec(
        "dedup_cluster_resolve", dedup_cluster_resolve, CLUSTER_RESOLVE_SQL
    ),
    QuerySpec(
        "dedup_training_set", dedup_training_set, TRAINING_SET_SQL
    ),
    QuerySpec(
        "dedup_incremental", dedup_incremental, DEDUP_INCREMENTAL_SQL
    ),
    QuerySpec(
        "html_extract_main", html_extract_main, HTML_EXTRACT_SQL
    ),
    QuerySpec("dedup_simhash", dedup_simhash, SIMHASH_SQL),
    QuerySpec("dedup_simhash_pairs", dedup_simhash_pairs, SIMHASH_PAIRS_SQL),
    QuerySpec("text_lang_id", text_lang_id, LANG_ID_SQL),
    QuerySpec("text_quality_score", text_quality_score, QUALITY_SQL),
    QuerySpec("text_token_count", text_token_count, TOKEN_COUNT_SQL),
    QuerySpec("text_fingerprint", text_fingerprint, FINGERPRINT_SQL),
    QuerySpec("multimodal_meta", multimodal_meta, MULTIMODAL_SQL),
    QuerySpec("multimodal_wav_decode", multimodal_wav_decode,
              MULTIMODAL_WAV_SQL),
    QuerySpec("multimodal_frames", multimodal_frames, MULTIMODAL_FRAMES_SQL),
    QuerySpec("multimodal_bmp_resize", multimodal_bmp_resize,
              MULTIMODAL_RESIZE_SQL),
    QuerySpec("multimodal_jpeg_resize", multimodal_jpeg_resize,
              MULTIMODAL_JPEG_RESIZE_SQL),
    QuerySpec("multimodal_jpeg_progressive", multimodal_jpeg_progressive,
              MULTIMODAL_JPEG_PROGRESSIVE_SQL),
    QuerySpec("multimodal_video_framesample", multimodal_video_framesample,
              MULTIMODAL_VIDEO_SQL),
    QuerySpec("multimodal_png_resize", multimodal_png_resize,
              MULTIMODAL_PNG_RESIZE_SQL),
    QuerySpec("multimodal_gif_framesample", multimodal_gif_framesample,
              MULTIMODAL_GIF_SQL),
    QuerySpec("multimodal_mulaw_features", multimodal_mulaw_features,
              MULTIMODAL_MULAW_SQL),
    QuerySpec("multimodal_audio_features", multimodal_audio_features,
              MULTIMODAL_AUDIO_SQL),
    QuerySpec(
        "unicode_segments_docs", unicode_segments_docs, UNICODE_SEGMENTS_SQL
    ),
    QuerySpec(
        "dedup_line_removal", dedup_line_removal, DEDUP_LINE_REMOVAL_SQL
    ),
]


def multimodal_jpeg_arith(spark: SparkSession,
                          sf_dir: str) -> DataFrame:
    """ARITHMETIC-coded JPEG decode in the gate (round-11 — the T.81
    Annex D QM-coder, libjpeg-conformance-pinned in
    tests/test_jpeg_arith.py): the familiar 4-block 16x16
    constant-color synthesis (block (bx, by) color r = (5e + 31bx +
    43by) mod 256, g = (2e + 59bx + 17by) mod 256, b = (11e + 53bx +
    13by) mod 256) encoded as a SOF9 stream through the QM
    arithmetic ENCODER (media_codecs.encode_jpeg_arith — itself
    cross-decoded by libjpeg in tests), then decode -> 2x2 resize ->
    position-weighted checksum.  Flat-8 quantization keeps constant
    blocks lossless, so the oracle mirrors the color-transform
    arithmetic exactly; the adaptive probability states, DAC
    conditioning, stuffing and flush path all sit between encode and
    the checked output."""
    from connect_spark.text.multimodal import (
        MEDIA_SCHEMA, bmp_pixel_stats, resize_media)

    # CPU-bound Python synthesis + codec: spread over all cores (the
    # local events scan is one split; at production split counts this
    # repartition is a no-op-sized shuffle of one id column)
    ev = (load_table(spark, sf_dir, "events").select("event_id")
          .repartition(spark.sparkContext.defaultParallelism))

    def make_media(batches):
        import pandas as _pd

        from connect_spark.text.media_codecs import encode_jpeg_arith

        for pdf in batches:
            payloads = []
            for e in pdf["event_id"]:
                e = int(e)
                rows = [[((5 * e + 31 * (x // 8) + 43 * (y // 8)) % 256,
                          (2 * e + 59 * (x // 8) + 17 * (y // 8)) % 256,
                          (11 * e + 53 * (x // 8) + 13 * (y // 8)) % 256)
                         for x in range(16)] for y in range(16)]
                payloads.append(encode_jpeg_arith(rows))
            yield _pd.DataFrame({
                "media_id": pdf["event_id"],
                "payload": payloads,
                "mime": ["image/jpeg"] * len(pdf),
                "meta": [{} for _ in range(len(pdf))],
            })

    media = ev.mapInPandas(make_media, MEDIA_SCHEMA)
    return bmp_pixel_stats(resize_media(media, 2, 2)).select(
        F.col("media_id").alias("event_id"),
        "width", "height", "sum_rgb", "pos_checksum")


MULTIMODAL_JPEG_ARITH_SQL = """
WITH px AS (
  SELECT event_id, i,
         (5 * event_id + 31 * (i % 2) + 43 * (i // 2)) % 256 AS r0,
         (2 * event_id + 59 * (i % 2) + 17 * (i // 2)) % 256 AS g0,
         (11 * event_id + 53 * (i % 2) + 13 * (i // 2)) % 256 AS b0
  FROM events, UNNEST([0, 1, 2, 3]) AS t(i)
), ycc AS (
  SELECT event_id, i,
    LEAST((77 * r0 + 150 * g0 + 29 * b0 + 128) // 256, 255) AS yy,
    LEAST((32768 - 43 * r0 - 85 * g0 + 128 * b0 + 128) // 256, 255) AS cb,
    LEAST((32768 + 128 * r0 - 107 * g0 - 21 * b0 + 128) // 256, 255) AS cr
  FROM px
), rgb AS (
  SELECT event_id, i,
    GREATEST(0, LEAST(255, yy +
      ((359 * (cr - 128) + 128 + 65536) // 256 - 256))) AS r,
    GREATEST(0, LEAST(255, yy -
      ((88 * (cb - 128) + 183 * (cr - 128) + 128 + 65536) // 256 - 256)))
      AS g,
    GREATEST(0, LEAST(255, yy +
      ((454 * (cb - 128) + 128 + 65536) // 256 - 256))) AS b
  FROM ycc
)
SELECT event_id, 2 AS width, 2 AS height,
       CAST(SUM(r + g + b) AS BIGINT) AS sum_rgb,
       CAST(SUM((i + 1) * (r * 65536 + g * 256 + b)) AS BIGINT)
         AS pos_checksum
FROM rgb GROUP BY event_id
"""


QUERIES += [
    QuerySpec("multimodal_jpeg_arith", multimodal_jpeg_arith,
              MULTIMODAL_JPEG_ARITH_SQL),
    QuerySpec("multimodal_jpeg_lossless", multimodal_jpeg_lossless,
              MULTIMODAL_JPEG_LOSSLESS_SQL),
    QuerySpec("multimodal_jpeg_hierarchical",
              multimodal_jpeg_hierarchical,
              MULTIMODAL_JPEG_HIERARCHICAL_SQL),
]


def multimodal_gif_animation(spark: SparkSession,
                             sf_dir: str) -> DataFrame:
    """GIF89a INTER-FRAME animation in the gate (round 12 —
    media_codecs.compose_gif_frames + encode_gif_animation): each
    event synthesizes a 3-frame animated GIF exercising the full
    animation surface — an INTERLACED full-canvas base frame
    (disposal 1), a partial-canvas 3x3 patch at (1,1) with
    TRANSPARENT holes (checkerboard phase e) and disposal 2
    (region restored to the background color), and a final 2x2
    patch at (3,3) overlapping the restored region — then composites
    all three displayed frames and reduces them to one
    position-weighted checksum.  The compositing has a closed form
    (every painted index is a CASE over coordinates), so the oracle
    recomputes the exact value: any bias in de-interlacing,
    placement, transparency, disposal or LZW (incl. the r12
    tail-width fix) breaks the hash.

    Scale: zero-shuffle narrow mapInPandas repartitioned across
    cores — the multimodal seam shape."""
    ev = (load_table(spark, sf_dir, "events").select("event_id")
          .repartition(spark.sparkContext.defaultParallelism))

    def run(batches):
        import pandas as _pd

        from connect_spark.text.media_codecs import (
            compose_gif_frames, encode_gif_animation)

        pal = [(0, 0, 0), (255, 0, 0), (0, 255, 0), (0, 0, 255)]

        def val(px):
            return px[0] + 2 * px[1] + 3 * px[2]

        for pdf in batches:
            checks = []
            for e in pdf["event_id"]:
                e = int(e)
                a = e % 3 + 1
                b = (e + 1) % 3 + 1
                c = (e + 2) % 3 + 1
                specs = [
                    {"grid": [[a] * 6 for _ in range(6)],
                     "disposal": 1, "interlace": True},
                    {"grid": [[b if (x + y + e) % 2 else 0
                               for x in range(3)]
                              for y in range(3)],
                     "left": 1, "top": 1, "disposal": 2,
                     "transparent": 0},
                    {"grid": [[c] * 2 for _ in range(2)],
                     "left": 3, "top": 3, "disposal": 0},
                ]
                gif = encode_gif_animation(specs, pal, 6, 6,
                                           bg_index=0)
                frames = compose_gif_frames(gif)["frames"]
                checks.append(sum(
                    (f + 1) * (y + 2) * (x + 3) * val(frames[f][y][x])
                    for f in range(3) for y in range(6)
                    for x in range(6)))
            yield _pd.DataFrame({
                "event_id": pdf["event_id"],
                "anim_checksum": _pd.Series(checks, dtype="int64"),
            })

    return ev.mapInPandas(run, "event_id BIGINT, anim_checksum BIGINT")


MULTIMODAL_GIF_ANIM_SQL = """
WITH px AS (
  SELECT event_id,
         i // 36 AS f, (i % 36) // 6 AS y, i % 6 AS x,
         event_id % 3 + 1 AS a,
         (event_id + 1) % 3 + 1 AS b,
         (event_id + 2) % 3 + 1 AS c
  FROM events, UNNEST(range(0, 108)) AS t(i)
), idx AS (
  SELECT event_id, f, y, x,
    CASE
      WHEN f = 0 THEN a
      WHEN f = 1 THEN CASE
        WHEN x BETWEEN 1 AND 3 AND y BETWEEN 1 AND 3
             AND (x + y + event_id) % 2 = 1 THEN b
        ELSE a END
      ELSE CASE
        WHEN x BETWEEN 3 AND 4 AND y BETWEEN 3 AND 4 THEN c
        WHEN x BETWEEN 1 AND 3 AND y BETWEEN 1 AND 3 THEN 0
        ELSE a END
    END AS v
  FROM px
)
SELECT event_id,
       CAST(SUM((f + 1) * (y + 2) * (x + 3) * 255 * v) AS BIGINT)
           AS anim_checksum
FROM idx GROUP BY event_id
"""


QUERIES.append(
    QuerySpec("multimodal_gif_animation", multimodal_gif_animation,
              MULTIMODAL_GIF_ANIM_SQL))


# --- hybrid retrieval: keyword + character-ngram arms fused by RRF ---

HYBRID_N_QUERY = 5    # doc_id < 5 are the query documents
HYBRID_ARM_K = 20     # per-arm candidate depth
HYBRID_TOP_K = 10     # fused result depth
HYBRID_RRF_K = 60     # the standard RRF dampening constant


def hybrid_search_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval with reciprocal-rank fusion (the standard
    dense+sparse fusion shape, Cormack et al. RRF): arm A ranks the
    corpus by DISTINCT-token overlap with each query document
    (keyword retrieval via an inverted-index equality join), arm B by
    shared character-trigram count (sub-word/robust-spelling arm);
    each arm keeps its top-20, and candidates fuse by
    sum(1000000 div (60 + rank)) — pure integer arithmetic, so the
    oracle compares exactly. Final top-10 per query, ties broken by
    doc_id.

    Scale shape: both arms are equality joins of a BROADCAST query
    index (HYBRID_N_QUERY docs' tokens/trigrams) against a corpus
    posting table, then one map-side-combined (query, doc) count —
    the contamination_13gram posture. No all-pairs, no floats, no
    UDFs; everything whole-stage-codegen'd.  (r15 note: a fanout_scan
    on the shared docs input was A/B-measured at 3.0s -> 5.4s — the
    extra exchange feeds BOTH arms' query and corpus branches and
    outweighs the narrow explode — so the scan is deliberately left
    unspread here, like bloom/sketch.)"""
    docs = load_table(spark, sf_dir, "documents")
    toks = _tokens(docs).select(
        "doc_id", F.explode(F.array_distinct("toks")).alias("term")
    )
    # guard len >= 3 BEFORE sequence(): a stop below the start would
    # generate a decreasing sequence, not an empty one
    grams = docs.filter(F.length("text") >= 3).select(
        "doc_id",
        F.explode(F.array_distinct(F.transform(
            F.sequence(F.lit(1), F.length("text") - 2),
            lambda i: F.col("text").substr(i, F.lit(3)),
        ))).alias("term"),
    )

    def arm(posting: DataFrame, name: str) -> DataFrame:
        q = posting.filter(
            F.col("doc_id") < HYBRID_N_QUERY
        ).select(F.col("doc_id").alias("query_id"), "term")
        c = posting.filter(F.col("doc_id") >= HYBRID_N_QUERY)
        # the query side is HYBRID_N_QUERY docs' postings — bounded by
        # query-doc length, not corpus size; AQE's size stats pick the
        # broadcast (repo policy: no forced broadcast of sf-derived
        # sides, test_no_forced_broadcast.py)
        overlap = (
            c.join(q, "term")
            .groupBy("query_id", "doc_id")
            .agg(F.count(F.lit(1)).alias("score"))
        )
        w = Window.partitionBy("query_id").orderBy(
            F.col("score").desc(), F.col("doc_id")
        )
        return (
            overlap.withColumn("r", F.row_number().over(w))
            .filter(F.col("r") <= HYBRID_ARM_K)
            .select("query_id", "doc_id", F.col("r").alias(name))
        )

    a = arm(toks, "rank_kw")
    b = arm(grams, "rank_tri")
    fused = a.join(b, ["query_id", "doc_id"], "full_outer").select(
        "query_id", "doc_id",
        (
            F.coalesce(
                F.expr(f"{1000000} div ({HYBRID_RRF_K} + rank_kw)"),
                F.lit(0),
            )
            + F.coalesce(
                F.expr(f"{1000000} div ({HYBRID_RRF_K} + rank_tri)"),
                F.lit(0),
            )
        ).cast("long").alias("rrf_score"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("rrf_score").desc(), F.col("doc_id")
    )
    return (
        fused.withColumn("final_rank", F.row_number().over(w))
        .filter(F.col("final_rank") <= HYBRID_TOP_K)
        .select(
            "query_id", "doc_id", "rrf_score",
            F.col("final_rank").cast("long").alias("final_rank"),
        )
    )


HYBRID_RRF_SQL = f"""
WITH t AS (
  SELECT doc_id, list_filter(string_split(text, ' '), x -> x != '') AS toks
  FROM documents
), tok AS (
  SELECT DISTINCT doc_id, unnest(toks) AS term FROM t
), tri AS (
  SELECT DISTINCT doc_id,
         unnest(list_transform(range(1, len(text) - 1),
                i -> substr(text, i, 3))) AS term
  FROM documents
  WHERE len(text) >= 3
), arm_kw AS (
  SELECT query_id, doc_id, r FROM (
    SELECT q.doc_id AS query_id, c.doc_id AS doc_id,
           row_number() OVER (PARTITION BY q.doc_id
                              ORDER BY count(*) DESC, c.doc_id) AS r
    FROM tok q JOIN tok c USING (term)
    WHERE q.doc_id < {HYBRID_N_QUERY} AND c.doc_id >= {HYBRID_N_QUERY}
    GROUP BY q.doc_id, c.doc_id
  ) WHERE r <= {HYBRID_ARM_K}
), arm_tri AS (
  SELECT query_id, doc_id, r FROM (
    SELECT q.doc_id AS query_id, c.doc_id AS doc_id,
           row_number() OVER (PARTITION BY q.doc_id
                              ORDER BY count(*) DESC, c.doc_id) AS r
    FROM tri q JOIN tri c USING (term)
    WHERE q.doc_id < {HYBRID_N_QUERY} AND c.doc_id >= {HYBRID_N_QUERY}
    GROUP BY q.doc_id, c.doc_id
  ) WHERE r <= {HYBRID_ARM_K}
), fused AS (
  SELECT COALESCE(a.query_id, b.query_id) AS query_id,
         COALESCE(a.doc_id, b.doc_id) AS doc_id,
         CAST(COALESCE(1000000 // ({HYBRID_RRF_K} + a.r), 0)
            + COALESCE(1000000 // ({HYBRID_RRF_K} + b.r), 0) AS BIGINT)
           AS rrf_score
  FROM arm_kw a FULL OUTER JOIN arm_tri b
    ON a.query_id = b.query_id AND a.doc_id = b.doc_id
)
SELECT query_id, doc_id, rrf_score,
       CAST(final_rank AS BIGINT) AS final_rank
FROM (
  SELECT query_id, doc_id, rrf_score,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY rrf_score DESC, doc_id)
           AS final_rank
  FROM fused
) WHERE final_rank <= {HYBRID_TOP_K}
"""


QUERIES.append(
    QuerySpec("hybrid_search_rrf", hybrid_search_rrf, HYBRID_RRF_SQL))
