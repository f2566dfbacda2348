"""Distributed BPE merge training — the iterative merge loop of
text/bpe.py::train_bpe run as a Spark job instead of driver-side.

Same published byte-level BPE algorithm (GPT-2), same deterministic
tie-break (highest count, then lexicographically smallest pair), so
the result is bit-identical to the in-process trainer — asserted by
tests/test_bpe_train_spark.py.

Scale shape: the CORPUS is touched exactly once — one pretokenize +
explode + groupBy pass produces the word-count table (distinct
pretokenized pieces with counts — vocabulary-sized by Heaps' law, not
corpus-sized). Every merge round then runs against that cached table:

- pair counts: explode adjacent symbol pairs, map-side-combined sum
- argmax: orderBy(count desc, pair).limit(1) -> TakeOrdered, one row
  to the driver (the merge DECISION is the learned output; the driver
  holds only the merge table, exactly like the cluster-resolution
  operator holds only the iteration counter)
- merge apply: a pure-Column `aggregate` fold over each symbol array
  (leftmost-first, non-overlapping — the classic pairwise scan), no
  UDF, no shuffle (the word table keeps its partitioning)

Lineage is cut with localCheckpoint every few rounds, the same
pointer-jumping hygiene operators/cluster.py uses. 100 TB posture:
corpus cost is the single aggregation pass; loop cost is
O(n_merges x vocab), independent of corpus size.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _symbols_udf():
    from connect_spark.boundary import row_udf
    from connect_spark.text.bpe import bytes_to_unicode, pretokenize

    b2u = bytes_to_unicode()
    udf = row_udf(
        "array<array<string>>",
        lambda t: [
            [b2u[b] for b in piece.encode("utf-8")]
            for piece in pretokenize(t)
        ],
    )
    # a null document has no pieces
    return lambda col: udf(F.coalesce(col, F.lit("")))


def word_counts_df(df: DataFrame, col: str) -> DataFrame:
    """One corpus pass: pretokenize every document, explode the pieces
    and count distinct symbol sequences. The (hash of the symbols,
    symbols) pair shuffles — vocabulary-sized after the map-side
    combine."""
    pieces = df.select(
        F.explode(_symbols_udf()(F.col(col))).alias("symbols"))
    return pieces.groupBy("symbols").agg(
        F.count(F.lit(1)).alias("cnt"))


def _merge_fold(a: str, b: str):
    """Leftmost-first pairwise merge of (a, b) in a symbol array as a
    Column fold: append each symbol, but when the accumulator ends in
    `a` and the incoming symbol is `b`, replace that tail with the
    merged symbol. Matches train_bpe's i+=2 scan on every overlap
    case ('aaa' with (a,a) -> [aa, a]) because a freshly merged tail
    (len(a)+len(b) chars) can never equal `a` again."""
    merged = a + b

    def step(acc, s):
        hit = (F.size(acc) > 0) \
            & (F.element_at(acc, -1) == F.lit(a)) & (s == F.lit(b))
        return F.when(
            hit,
            F.concat(F.slice(acc, 1, F.size(acc) - 1),
                     F.array(F.lit(merged))),
        ).otherwise(F.concat(acc, F.array(s)))

    return lambda col: F.aggregate(
        col, F.expr("CAST(array() AS array<string>)"), step)


def train_bpe_spark(
    df: DataFrame,
    col: str,
    n_merges: int,
    checkpoint_every: int = 0,
) -> list[tuple[str, str]]:
    """Learn `n_merges` BPE merges over df[col] distributively.
    Returns the merge table (training order = rank order), identical
    to text/bpe.py::train_bpe on the same corpus."""
    # the word table is vocabulary-sized: collapse to a few partitions
    # so the per-round jobs don't pay full shuffle-partition task
    # overhead (AQE also coalesces the pair-agg side at runtime)
    words = word_counts_df(df, col).coalesce(8).localCheckpoint()
    merges: list[tuple[str, str]] = []
    try:
        for i in range(n_merges):
            n = F.size("symbols")
            pairs = words.filter(n >= 2).select(
                "cnt",
                F.explode(F.arrays_zip(
                    F.slice("symbols", 1, n - 1).alias("a"),
                    F.slice("symbols", 2, n - 1).alias("b"),
                )).alias("p"),
            )
            top = (pairs.groupBy(F.col("p.a").alias("a"),
                                 F.col("p.b").alias("b"))
                   .agg(F.sum("cnt").alias("total"))
                   .orderBy(F.col("total").desc(), "a", "b")
                   .limit(1)
                   .collect())
            if not top or top[0]["total"] < 2:
                break
            a, b = top[0]["a"], top[0]["b"]
            merges.append((a, b))
            nxt = words.withColumn(
                "symbols", _merge_fold(a, b)(F.col("symbols")))
            # lazy checkpoint EVERY round: the next round's argmax
            # collect materializes it, so each round executes exactly
            # one merge fold (the r15 while_fixpoint lesson — with
            # eager cuts every `checkpoint_every` rounds, round i
            # re-executed every fold since the last cut, quadratic
            # between cuts, and each eager cut was an extra job;
            # interleaved A/B: ~4.7s -> ~4.1s for the 12-merge gate).
            # `checkpoint_every` is kept as an optional extra EAGER
            # cut for callers that want bounded uncollected lineage.
            if checkpoint_every > 0 and (i + 1) % checkpoint_every == 0:
                nxt = nxt.localCheckpoint()
            else:
                nxt = nxt.localCheckpoint(eager=False)
            words = nxt
    finally:
        pass
    return merges
