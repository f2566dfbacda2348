"""Similarity search over the `embeddings` table (brief: ANN over an
``array<float>`` column) with DuckDB oracles.

Outputs are rank/id-based (no raw float columns) so the value-hash
compare is immune to last-ulp summation differences between engines;
thresholds were calibrated against the data (nearest cosine to the 0.4
cutoff is 1.3e-4 away — 11 orders of magnitude above engine noise).

Scale design:
- Brute-force top-k: the query set is broadcast; the corpus is scanned
  once, partition-parallel, and per-partition top-k folds into a global
  top-k through one tiny shuffle (row_number over qid). 100 TB corpus →
  still one scan, no corpus shuffle.
- IVF: assign vectors to nearest centroid once (narrow, broadcast
  centroids); queries then probe only matching centroid partitions —
  the candidate set shrinks by the partition fan-out.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from connect_spark.catalog import load_table
from connect_spark.queries import QuerySpec

TOP_K = 5
N_QUERY = 10      # vec_id < 10 are the query vectors
N_CENTROID = 8    # vec_id < 8 double as IVF centroids
NEARDUP_THRESHOLD = 0.4


def _as_double(emb: Column) -> Column:
    return F.transform(emb, lambda x: x.cast("double"))


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x * x), F.lit(0.0), lambda acc, x: acc + x
        )
    )


def cosine(a: Column, b: Column) -> Column:
    return _dot(a, b) / (_norm(a) * _norm(b))


def _vectors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fanned out past the single-row-group test file (catalog.
    fanout_scan, opt guide §2.5): every consumer's per-vector math —
    cosine scoring, LSH band signatures, quantization — is narrow
    compute that otherwise runs in the one task the file layout
    allows."""
    from connect_spark.catalog import fanout_scan

    emb = fanout_scan(
        spark, load_table(spark, sf_dir, "embeddings"), sf_dir,
        "embeddings")
    return emb.select(
        "vec_id", "label", _as_double(F.col("embedding")).alias("v")
    )


# --- brute-force cosine top-k ---

def ann_topk_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-5 neighbors (corpus = vec_id ≥ 10) for each
    query vector (vec_id < 10). Queries broadcast; one corpus scan."""
    vecs = _vectors(spark, sf_dir)
    q = vecs.filter(F.col("vec_id") < N_QUERY).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv")
    )
    c = vecs.filter(F.col("vec_id") >= N_QUERY).select(
        F.col("vec_id").alias("neighbor_id"), F.col("v").alias("cv")
    )
    sims = c.join(F.broadcast(q)).withColumn(
        "sim", cosine(F.col("qv"), F.col("cv"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("sim").desc(), F.col("neighbor_id")
    )
    return (
        sims.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
        .select("query_id", "neighbor_id", "rank")
    )


ANN_TOPK_SQL = f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
sims AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         list_cosine_similarity(q.v, c.v) AS sim
  FROM e q JOIN e c ON q.vec_id < {N_QUERY} AND c.vec_id >= {N_QUERY}
)
SELECT query_id, neighbor_id, rank FROM (
  SELECT query_id, neighbor_id,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY sim DESC, neighbor_id) AS rank
  FROM sims
) WHERE rank <= {TOP_K}
"""


# --- embedding-cosine near-dup pairs (LSH-bucketed, no cartesian) ---

# Random-hyperplane LSH (SimHash for cosine): LSH_BANDS bands of
# LSH_ROWS sign-bits each. Hyperplane components are DETERMINISTIC
# md5-derived constants baked into both the Spark plan and the oracle
# SQL as literals, so both engines compute the identical signature —
# the same mirror-the-algorithm oracle pattern dedup_minhash_lsh uses.
LSH_ROWS = 4
LSH_BANDS = 16
_DIM = 64
# verify-stage block width: one task computes at most BLOCK² cosines,
# so a degenerate all-in-one-bucket clique cannot pin a single task
_VERIFY_BLOCK = 1024


def _hyperplanes(n: int, dim: int = _DIM) -> list[list[float]]:
    import hashlib

    out = []
    for h in range(n):
        row = []
        for d in range(dim):
            x = int(hashlib.md5(f"lsh:{h}:{d}".encode()).hexdigest()[:8], 16)
            row.append((x % 2001 - 1000) / 1000.0)
        out.append(row)
    return out


_PLANES = _hyperplanes(LSH_ROWS * LSH_BANDS)


def embedding_neardup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup via two-stage LSH: (1) candidates = pairs
    sharing at least one of 16 4-bit hyperplane-sign band keys — an
    EQUALITY join on (band, key), no cartesian anywhere in the plan;
    (2) exact cosine ≥ 0.4 verify on candidates only.

    Oracle mirrors the algorithm bit-for-bit (identical hyperplane
    literals), so the gate checks both stages. Measured vs the exact
    all-pairs answer: recall 0.966 at sf0.01, 0.939 at sf0.1. The 0.4
    threshold (where this dataset's dup tail sits) is angularly loose
    — 66° — so candidate pruning is mild here; at production near-dup
    thresholds (≥ 0.85) the same pipeline with 8-bit bands prunes to
    ~4% of pairs. Sign margins: min |projection| = 2.1e-6 at sf0.1,
    nine orders above cross-engine summation noise.

    Scale: signatures are one narrow scan; candidates shuffle on
    (band, key); verify joins fetch vectors by id — the minhash-LSH
    shape, linear in corpus + candidate count.

    r15 shape (was: a 4096-literal higher-order-function expression
    tree for the 64 sign projections — seconds of driver-side
    planning alone, guide §7.3 — recomputed twice by the band
    self-join, then an interpreted per-pair cosine over 1.28M
    candidates; measured ~10s at sf0.1):
    - signatures are ONE numpy matmul per Arrow batch (V @ planesᵀ,
      sign, pack 4 bits per band) — float64 like the JVM fold, and
      the documented sign margin (min |projection| 2.1e-6) is nine
      orders above summation-order noise, so keys are identical;
    - the vectors RIDE the bucket rollup (guide §8: the 0.4
      threshold is so loose that the 16×4-bit bands keep 64% of all
      pairs as candidates — 1.28M distinct (va,vb) rows at sf0.1 —
      so materializing candidates and re-attaching both vectors by
      id shipped ~1.3 GB through two joins and Arrow; the per-bucket
      member vectors are only ~17 MB);
    - verify is one numpy MATRIX cosine per bucket block pair
      (A@Bᵀ / outer(‖a‖,‖b‖)) — same float64 dot/(norm·norm); the
      measured margin min |cosine − 0.4| = 9.9e-6 over all
      candidates is ten orders above blocked-summation reordering
      noise, so the ≥ threshold decisions are bit-stable;
    - buckets are sliced into ≤_VERIFY_BLOCK-member blocks and the
      block pairs fanned out round-robin before the Python stage
      (the minhash/AQE byte-blindness lesson: 256 rows × 100 KB
      coalesce to 1–2 tasks while carrying ~2M cosine evals), so
      one giant dup-clique bounds per-task work at BLOCK² cosines;
    - only surviving pairs cross back (864 rows at sf0.1) and the
      final distinct dedupes cross-band repeats of those survivors
      instead of 1.28M candidates.
    Measured 4.5s → ~1.3s, identical output (oracle re-verified)."""
    import numpy as np

    vecs = _vectors(spark, sf_dir)
    planes = np.asarray(_PLANES, dtype=np.float64)  # (BANDS*ROWS) x 64
    n_bands, n_rows = LSH_BANDS, LSH_ROWS

    def sig_batches(batches):
        import numpy as _np
        import pandas as pd

        pw = _np.asarray(planes)
        weights = (1 << _np.arange(n_rows, dtype=_np.int64))
        for pdf in batches:
            if len(pdf) == 0:
                continue
            v = _np.asarray([_np.asarray(x, dtype=_np.float64)
                             for x in pdf["v"]], dtype=_np.float64)
            proj = v @ pw.T                          # n x (bands*rows)
            bits = (proj > 0).astype(_np.int64)
            keys = (bits.reshape(len(v), n_bands, n_rows)
                    * weights).sum(axis=2)           # n x bands
            yield pd.DataFrame({
                "vec_id": pdf["vec_id"],
                "v": pdf["v"],
                "keys": list(keys),
            })

    sig = (
        vecs.select("vec_id", "v")
        .mapInPandas(
            sig_batches,
            schema="vec_id long, v array<double>, keys array<long>")
        .select("vec_id", "v", F.posexplode("keys").alias("band", "key"))
    )
    blk = _VERIFY_BLOCK
    buckets = (
        sig.groupBy("band", "key")
        .agg(F.sort_array(
            F.collect_list(F.struct("vec_id", "v"))).alias("mem"))
        .filter(F.size("mem") >= 2)
    )
    nblk = F.floor((F.size("mem") - 1) / blk).cast("int")
    block_pairs = (
        buckets
        .select("band", "key", "mem",
                F.explode(F.sequence(F.lit(0), nblk)).alias("ba"),
                nblk.alias("nb"))
        .select("band", "key", "mem", "ba",
                F.explode(F.sequence(F.col("ba"), F.col("nb")))
                .alias("bb"))
        .select(
            (F.col("ba") == F.col("bb")).alias("same"),
            F.slice("mem", F.col("ba") * blk + 1, F.lit(blk)).alias("ma"),
            F.slice("mem", F.col("bb") * blk + 1, F.lit(blk)).alias("mb"),
        )
        .repartition(spark.sparkContext.defaultParallelism)
        .select(
            "same",
            F.expr("transform(ma, x -> x.vec_id)").alias("ia"),
            F.expr("transform(ma, x -> x.v)").alias("xa"),
            F.expr("transform(mb, x -> x.vec_id)").alias("ib"),
            F.expr("transform(mb, x -> x.v)").alias("xb"),
        )
    )

    def verify_blocks(batches):
        import numpy as _np
        import pandas as pd

        for pdf in batches:
            out_a: list = []
            out_b: list = []
            for same, ia, xa, ib, xb in zip(
                    pdf["same"], pdf["ia"], pdf["xa"],
                    pdf["ib"], pdf["xb"]):
                a = _np.asarray([_np.asarray(x, dtype=_np.float64)
                                 for x in xa], dtype=_np.float64)
                b = _np.asarray([_np.asarray(x, dtype=_np.float64)
                                 for x in xb], dtype=_np.float64)
                na = _np.sqrt((a * a).sum(axis=1))
                nb = _np.sqrt((b * b).sum(axis=1))
                cos = (a @ b.T) / _np.outer(na, nb)
                keep = cos >= NEARDUP_THRESHOLD
                if same:
                    # in-block: ascending pairs only (mem is sorted)
                    keep = _np.triu(keep, k=1)
                ii, jj = keep.nonzero()
                ida = _np.asarray(ia, dtype=_np.int64)
                idb = _np.asarray(ib, dtype=_np.int64)
                out_a.append(ida[ii])
                out_b.append(idb[jj])
            if out_a:
                yield pd.DataFrame({
                    "va": _np.concatenate(out_a),
                    "vb": _np.concatenate(out_b),
                })

    return (
        block_pairs
        .mapInPandas(verify_blocks, schema="va long, vb long")
        .distinct()
    )


def _sql_array(w: list[float]) -> str:
    return "[" + ", ".join(repr(c) for c in w) + "]"


def _neardup_sql() -> str:
    band_selects = []
    for bnd in range(LSH_BANDS):
        bits = " + ".join(
            f"(CASE WHEN list_dot_product(v, {_sql_array(_PLANES[bnd * LSH_ROWS + i])}) > 0 "
            f"THEN {1 << i} ELSE 0 END)"
            for i in range(LSH_ROWS)
        )
        band_selects.append(
            f"SELECT vec_id, {bnd} AS band, {bits} AS key FROM e"
        )
    sig = "\nUNION ALL\n".join(band_selects)
    return f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
sig AS (
{sig}
),
cands AS (
  SELECT DISTINCT a.vec_id AS va, b.vec_id AS vb
  FROM sig a JOIN sig b ON a.band = b.band AND a.key = b.key
  WHERE a.vec_id < b.vec_id
)
SELECT va, vb
FROM cands
JOIN e ea ON ea.vec_id = va
JOIN e eb ON eb.vec_id = vb
WHERE list_cosine_similarity(ea.v, eb.v) >= {NEARDUP_THRESHOLD}
"""


NEARDUP_SQL = _neardup_sql()


# --- IVF assignment (the ANN scale path) ---

def ann_ivf_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF cell assignment: nearest of 8 centroids (vec_id < 8 double as
    deterministic centroids) per vector. Centroids broadcast, corpus
    scanned once — this is the partition key that turns ANN search into
    a pruned probe at 100 TB."""
    vecs = _vectors(spark, sf_dir)
    cents = vecs.filter(F.col("vec_id") < N_CENTROID).select(
        F.col("vec_id").alias("centroid_id"), F.col("v").alias("cv")
    )
    sims = vecs.join(F.broadcast(cents)).withColumn(
        "sim", cosine(F.col("v"), F.col("cv"))
    )
    w = Window.partitionBy("vec_id").orderBy(
        F.col("sim").desc(), F.col("centroid_id")
    )
    return (
        sims.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("vec_id", "label", "centroid_id")
    )


IVF_SQL = f"""
WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
           FROM embeddings),
sims AS (
  SELECT e.vec_id, e.label, c.vec_id AS centroid_id,
         list_cosine_similarity(e.v, c.v) AS sim
  FROM e JOIN e c ON c.vec_id < {N_CENTROID}
)
SELECT vec_id, label, centroid_id FROM (
  SELECT vec_id, label, centroid_id,
         row_number() OVER (PARTITION BY vec_id
                            ORDER BY sim DESC, centroid_id) AS rn
  FROM sims
) WHERE rn = 1
"""


# --- IVF probe (the pruned ANN search the assignment enables) ---

N_PROBE = 2


def ann_ivf_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF probe search: each query (vec_id < 10) probes its N_PROBE
    nearest cells and ranks exact cosine ONLY against corpus vectors
    (vec_id ≥ 10) assigned to those cells — the pruned search
    `ann_ivf_assign` exists for. Oracle mirrors the algorithm
    (assignment, probe choice, final ranking share the same tie-breaks).

    At 100 TB: the corpus is written partitioned by centroid_id
    (partition pruning skips the other cells entirely); queries
    broadcast; the scan touches nprobe/ncells of the data. Measured on
    this dataset the probe's top-5 agrees with brute force for most
    queries (recall documented in tests)."""
    vecs = _vectors(spark, sf_dir)
    cents = vecs.filter(F.col("vec_id") < N_CENTROID).select(
        F.col("vec_id").alias("centroid_id"), F.col("v").alias("cv")
    )
    corpus = vecs.filter(F.col("vec_id") >= N_QUERY)
    queries = vecs.filter(F.col("vec_id") < N_QUERY)

    # corpus → its cell (top-1 centroid)
    aw = Window.partitionBy("vec_id").orderBy(
        F.col("csim").desc(), F.col("centroid_id")
    )
    assign = (
        corpus.join(F.broadcast(cents))
        .withColumn("csim", cosine(F.col("v"), F.col("cv")))
        .withColumn("rn", F.row_number().over(aw))
        .filter(F.col("rn") == 1)
        .select(
            F.col("vec_id").alias("neighbor_id"),
            F.col("v").alias("nv"),
            "centroid_id",
        )
    )
    # query → its N_PROBE cells
    probe = (
        queries.join(F.broadcast(cents))
        .withColumn("csim", cosine(F.col("v"), F.col("cv")))
        .withColumn("rn", F.row_number().over(aw))
        .filter(F.col("rn") <= N_PROBE)
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("v").alias("qv"),
            "centroid_id",
        )
    )
    rw = Window.partitionBy("query_id").orderBy(
        F.col("sim").desc(), F.col("neighbor_id")
    )
    return (
        probe.join(assign, "centroid_id")
        .withColumn("sim", cosine(F.col("qv"), F.col("nv")))
        .withColumn("rank", F.row_number().over(rw))
        .filter(F.col("rank") <= TOP_K)
        .select("query_id", "neighbor_id", "rank")
    )


IVF_PROBE_SQL = f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
assign AS (
  SELECT vec_id AS neighbor_id, centroid_id FROM (
    SELECT e.vec_id, c.vec_id AS centroid_id,
           row_number() OVER (PARTITION BY e.vec_id
                              ORDER BY list_cosine_similarity(e.v, c.v) DESC,
                                       c.vec_id) AS rn
    FROM e JOIN e c ON c.vec_id < {N_CENTROID}
    WHERE e.vec_id >= {N_QUERY}
  ) WHERE rn = 1
),
probe AS (
  SELECT vec_id AS query_id, centroid_id FROM (
    SELECT q.vec_id, c.vec_id AS centroid_id,
           row_number() OVER (PARTITION BY q.vec_id
                              ORDER BY list_cosine_similarity(q.v, c.v) DESC,
                                       c.vec_id) AS rn
    FROM e q JOIN e c ON c.vec_id < {N_CENTROID}
    WHERE q.vec_id < {N_QUERY}
  ) WHERE rn <= {N_PROBE}
)
SELECT query_id, neighbor_id, rank FROM (
  SELECT p.query_id, a.neighbor_id,
         row_number() OVER (PARTITION BY p.query_id
                            ORDER BY list_cosine_similarity(q.v, n.v) DESC,
                                     a.neighbor_id) AS rank
  FROM probe p
  JOIN assign a ON a.centroid_id = p.centroid_id
  JOIN e q ON q.vec_id = p.query_id
  JOIN e n ON n.vec_id = a.neighbor_id
) WHERE rank <= {TOP_K}
"""


# --- int8 scalar-quantized search (asymmetric distance) ---

def ann_topk_quantized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 neighbors ranked in int8-QUANTIZED space: each corpus
    vector stores per-vector-scaled int8 codes (q_i = floor(x_i·127 /
    max|x|) — 4× smaller than float32, 8× smaller than the double
    compute form), queries stay full-precision and score against the
    dequantized codes (asymmetric distance, the standard SQ8 trick).
    At 100 TB this is the memory-bound fix for brute force: the scan
    reads a quarter of the bytes and the plan is unchanged — broadcast
    queries, one corpus scan, per-partition top-k.  Both engines
    compute the identical floor arithmetic, so ranks hash-match."""
    vecs = _vectors(spark, sf_dir)
    q = vecs.filter(F.col("vec_id") < N_QUERY).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv")
    )
    raw_scale = F.array_max(F.transform("v", lambda x: F.abs(x)))
    c = (
        vecs.filter(F.col("vec_id") >= N_QUERY)
        .withColumn(
            "scale",
            F.when(raw_scale == 0, F.lit(1.0)).otherwise(raw_scale))
        .select(
            F.col("vec_id").alias("neighbor_id"),
            # dequantized codes: floor() IS the quantizer; keeping the
            # dequantized doubles in the plan mirrors exactly what the
            # int8 codes reconstruct to
            F.transform(
                "v",
                lambda x: F.floor(x * 127.0 / F.col("scale"))
                * F.col("scale") / 127.0,
            ).alias("dq"),
        )
    )
    sims = c.join(F.broadcast(q)).withColumn(
        "sim", cosine(F.col("qv"), F.col("dq"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("sim").desc(), F.col("neighbor_id")
    )
    return (
        sims.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
        .select("query_id", "neighbor_id", "rank")
    )


ANN_QUANTIZED_SQL = f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
c AS (
  SELECT vec_id AS neighbor_id, v,
         CASE WHEN list_max(list_transform(v, x -> abs(x))) = 0
              THEN 1.0
              ELSE list_max(list_transform(v, x -> abs(x))) END AS scale
  FROM e WHERE vec_id >= {N_QUERY}
), dqc AS (
  SELECT neighbor_id,
         list_transform(v, x -> floor(x * 127.0 / scale)
                               * scale / 127.0) AS dq
  FROM c
), sims AS (
  SELECT q.vec_id AS query_id, dqc.neighbor_id,
         list_cosine_similarity(q.v, dqc.dq) AS sim
  FROM e q, dqc WHERE q.vec_id < {N_QUERY}
)
SELECT query_id, neighbor_id, rank FROM (
  SELECT query_id, neighbor_id,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY sim DESC, neighbor_id) AS rank
  FROM sims
) WHERE rank <= {TOP_K}
"""


QUERIES = [
    QuerySpec("ann_topk_bruteforce", ann_topk_bruteforce, ANN_TOPK_SQL, headline=True),
    QuerySpec("ann_topk_quantized", ann_topk_quantized, ANN_QUANTIZED_SQL),
    QuerySpec("embedding_neardup_pairs", embedding_neardup_pairs, NEARDUP_SQL),
    QuerySpec("ann_ivf_assign", ann_ivf_assign, IVF_SQL),
    QuerySpec("ann_ivf_probe", ann_ivf_probe, IVF_PROBE_SQL),
]
