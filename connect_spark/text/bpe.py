"""Byte-level BPE tokenizer from the public GPT-2 algorithm
(Sennrich et al. 2016 "Neural Machine Translation of Rare Words with
Subword Units"; byte-level variant per Radford et al. 2019, both
public papers — no vendored proprietary vocab).

Everything is deterministic and self-contained:
- `bytes_to_unicode()` is the published reversible byte<->unicode
  mapping (printable bytes map to themselves, the rest shift to
  256+n) so every possible byte sequence tokenizes losslessly.
- `pretokenize()` approximates the published GPT-2 split pattern with
  stdlib `re` classes (contractions, letter runs, digit runs,
  punctuation runs, trailing whitespace).
- `train_bpe()` is the classic greedy merge loop; ties on pair
  frequency break lexicographically so the merge table is a pure
  function of the corpus.
- `DEFAULT_TOKENIZER` trains 384 merges at import time on a fixed
  English/code/number sample embedded below — a public-vocab stand-in
  with realistic compression (~3-4 bytes/token on English).

Spark integration (`bpe_count_udf`, `bpe_encode_udf`): the merge
ranks are broadcast via `SparkContext.broadcast` once and applied in
an Arrow-batched pandas UDF — at 100 TB the vocab ships to each
executor once, not per task, and encoding is a narrow map with no
shuffle.
"""

from __future__ import annotations

import re
from collections import Counter
from functools import lru_cache
from typing import Iterable


# --- byte <-> unicode (public GPT-2 construction) ---


@lru_cache(maxsize=1)
def bytes_to_unicode() -> dict[int, str]:
    bs = (
        list(range(ord("!"), ord("~") + 1))
        + list(range(ord("¡"), ord("¬") + 1))
        + list(range(ord("®"), ord("ÿ") + 1))
    )
    cs = bs[:]
    n = 0
    for b in range(256):
        if b not in bs:
            bs.append(b)
            cs.append(256 + n)
            n += 1
    return dict(zip(bs, (chr(c) for c in cs)))


@lru_cache(maxsize=1)
def unicode_to_bytes() -> dict[str, int]:
    return {c: b for b, c in bytes_to_unicode().items()}


# Stdlib-re approximation of the published GPT-2 split regex:
# contractions, optional-space letter runs, optional-space digit
# runs, optional-space punctuation runs, whitespace.
# NOTE: the punctuation run must INCLUDE underscore — GPT-2's class
# is [^\s\p{L}\p{N}] and '_' is neither letter nor number, but
# Python's [^\s\w] wrongly excludes it (found by the lossless-ness
# property test: '_' vanished from the token stream).
_PRETOKEN_RE = re.compile(
    r"'s|'t|'re|'ve|'m|'ll|'d"
    r"| ?[^\W\d_]+| ?\d+| ?(?:[^\s\w]|_)+|\s+(?!\S)|\s+",
    re.UNICODE,
)


def pretokenize(text: str) -> list[str]:
    return _PRETOKEN_RE.findall(text)


def _to_symbols(piece: str) -> tuple[str, ...]:
    b2u = bytes_to_unicode()
    return tuple(b2u[b] for b in piece.encode("utf-8"))


# --- training ---


def train_bpe(texts: Iterable[str], n_merges: int) -> list[tuple[str, str]]:
    """Greedy BPE merge learning. Ties on pair count break by the
    lexicographically smallest pair, so the result is deterministic."""
    word_counts: Counter[tuple[str, ...]] = Counter()
    for t in texts:
        for piece in pretokenize(t):
            word_counts[_to_symbols(piece)] += 1
    merges: list[tuple[str, str]] = []
    for _ in range(n_merges):
        pair_counts: Counter[tuple[str, str]] = Counter()
        for word, c in word_counts.items():
            for pair in zip(word, word[1:]):
                pair_counts[pair] += c
        if not pair_counts:
            break
        best = min(pair_counts, key=lambda p: (-pair_counts[p], p))
        if pair_counts[best] < 2:
            break
        merges.append(best)
        merged = best[0] + best[1]
        new_counts: Counter[tuple[str, ...]] = Counter()
        for word, c in word_counts.items():
            out: list[str] = []
            i = 0
            while i < len(word):
                if (
                    i + 1 < len(word)
                    and word[i] == best[0]
                    and word[i + 1] == best[1]
                ):
                    out.append(merged)
                    i += 2
                else:
                    out.append(word[i])
                    i += 1
            new_counts[tuple(out)] += c
        word_counts = new_counts
    return merges


# --- encoding ---


class BPETokenizer:
    """Applies a merge table; rank order (training order) decides
    merge priority, exactly the published inference algorithm."""

    def __init__(self, merges: list[tuple[str, str]]):
        self.merges = list(merges)
        self.ranks = {pair: i for i, pair in enumerate(merges)}
        self._cache: dict[str, tuple[str, ...]] = {}

    def _bpe(self, piece: str) -> tuple[str, ...]:
        hit = self._cache.get(piece)
        if hit is not None:
            return hit
        word = _to_symbols(piece)
        ranks = self.ranks
        while len(word) > 1:
            pairs = set(zip(word, word[1:]))
            best = min(
                pairs, key=lambda p: ranks.get(p, float("inf")))
            if best not in ranks:
                break
            merged = best[0] + best[1]
            out: list[str] = []
            i = 0
            while i < len(word):
                if (
                    i + 1 < len(word)
                    and word[i] == best[0]
                    and word[i + 1] == best[1]
                ):
                    out.append(merged)
                    i += 2
                else:
                    out.append(word[i])
                    i += 1
            word = tuple(out)
        if len(self._cache) < 65536:
            self._cache[piece] = word
        return word

    def encode(self, text: str) -> list[str]:
        toks: list[str] = []
        for piece in pretokenize(text):
            toks.extend(self._bpe(piece))
        return toks

    def count(self, text: str) -> int:
        return sum(len(self._bpe(p)) for p in pretokenize(text))

    def decode(self, tokens: list[str]) -> str:
        u2b = unicode_to_bytes()
        return bytes(
            u2b[c] for tok in tokens for c in tok
        ).decode("utf-8", errors="replace")


# Fixed public-domain-style training sample (written for this repo):
# English prose + numbers + code-ish text, enough to learn common
# subwords (the, ing, tion, er, spaces before words).
_TRAIN_SAMPLE = """
the quick brown fox jumps over the lazy dog while the other dogs
were sleeping in the warm afternoon sun and the wind was blowing
through the trees of the northern forest where the river runs down
to the sea and the fishermen bring their boats back before the storm
data processing systems read records from partitioned tables and
write the transformed results into the output store with exactly
once delivery guarantees for every message in the stream of events
the order totals were 12345 and 67890 with discounts of 10 percent
applied to the extended price of each line item in the order table
for i in range(100): total = total + values[i] * weights[i]
select count(*) from orders where order_date >= '1995-01-01'
international internationalization tokenization representation
training translation information transformation configuration
""" * 2


def _default_tokenizer() -> BPETokenizer:
    return BPETokenizer(train_bpe([_TRAIN_SAMPLE], 384))


@lru_cache(maxsize=1)
def default_tokenizer() -> BPETokenizer:
    return _default_tokenizer()


# --- Spark integration ---


def _tokenizer_udf(spark, merges, return_type: str, op: str):
    """Column function applying `BPETokenizer.<op>` per row; the merge
    table is a broadcast variable — one copy per executor, one
    tokenizer per task. A null text reads as "" (0 tokens, [])."""
    from pyspark.sql import functions as F

    from connect_spark.boundary import row_udf

    merges = merges if merges is not None else default_tokenizer().merges
    bc = spark.sparkContext.broadcast(merges)
    tok = None

    def one(t):
        nonlocal tok
        if tok is None:  # first row of the task
            tok = BPETokenizer(bc.value)
        return getattr(tok, op)(t)

    udf = row_udf(return_type, one)
    return lambda col: udf(F.coalesce(col, F.lit("")))


def bpe_count_udf(spark, merges: list[tuple[str, str]] | None = None):
    """bigint column function counting BPE tokens."""
    return _tokenizer_udf(spark, merges, "bigint", "count")


def bpe_encode_udf(spark, merges: list[tuple[str, str]] | None = None):
    """array<string> column function returning the BPE token sequence."""
    return _tokenizer_udf(spark, merges, "array<string>", "encode")
