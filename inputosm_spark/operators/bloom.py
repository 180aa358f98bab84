"""Deterministic Bloom-filter join pruning — the broadcast runtime
filter, built by hand so a SQL oracle can replay it bit-for-bit.

At 100 TB the expensive part of `big SEMI JOIN small` is shuffling the
big side; Spark's own runtime filters (InjectRuntimeFilter) do this
opportunistically with `xxhash64`-based blooms that no other engine
can replay. This module is the engine-neutral version (CLAUDE.md
determinism rule): k modular-arithmetic hashes into an m-bit filter
packed 63 bits per int64 word (bit 63 never used, so no word is
negative and the membership test is a plain `&` — identical semantics
in Spark and DuckDB; no shift-into-sign-bit edge). The built filter is
a tiny python list broadcast as a LITERAL array, so the big-side test
is pure whole-stage-codegen'd integer arithmetic — the big side is
pruned MAP-SIDE before any shuffle or join, which is the entire point.

False positives are an accepted, deterministic property of the
filter: both dialects compute the identical bit pattern, so even the
false-positive SET matches the oracle exactly.

Scale notes: the filter build aggregates the SMALL side to <= m/63
words (one tiny shuffle) and collects ~1 KB to the driver — the same
bounded-collect pattern as the Misra-Gries summaries. m and k are
compile-time parameters; at 100 TB size m to the small side's
cardinality (m ~ 10 bits/key for ~1% FP at k=3) and the literal array
stays megabytes at most, far below broadcast limits.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# modulus + multiplier/offset pairs: all products stay far below 2^63
# ((P-1) * max(A) < 2^51), so int64 arithmetic is exact in both
# engines under ANSI; keys must be non-negative (pmod vs % differ on
# negatives across engines — documented contract)
BLOOM_P = 1_000_003
BLOOM_PARAMS = ((7919, 17), (104729, 23), (1299709, 29))
WORD_BITS = 63


def _hash_exprs(key: Column, m_bits: int, k: int) -> list[Column]:
    return [
        F.pmod(F.pmod(key, F.lit(BLOOM_P)) * F.lit(a) + F.lit(b), F.lit(BLOOM_P))
        % F.lit(m_bits)
        for a, b in BLOOM_PARAMS[:k]
    ]


def build_bloom_words(
    df: DataFrame, key_col: str, m_bits: int = 8064, k: int = 3
) -> list[int]:
    """Aggregate the small side's keys into the packed word list.

    m_bits must be a multiple of WORD_BITS. One explode (k rows/key),
    one groupBy over <= m_bits/63 words, one ~1 KB collect.
    """
    if m_bits % WORD_BITS:
        raise ValueError(f"m_bits must be a multiple of {WORD_BITS}")
    pow2 = F.array(*[F.lit(1 << i).cast("long") for i in range(WORD_BITS)])
    hs = _hash_exprs(F.col(key_col), m_bits, k)
    words = (
        df.select(F.explode(F.array(*hs)).alias("h"))
        .select(
            F.floor(F.col("h") / F.lit(WORD_BITS)).cast("int").alias("w"),
            F.get(pow2, F.pmod(F.col("h"), F.lit(WORD_BITS)).cast("int")).alias(
                "bitval"
            ),
        )
        .groupBy("w")
        .agg(F.bit_or("bitval").alias("bits"))
        .collect()
    )
    out = [0] * (m_bits // WORD_BITS)
    for r in words:
        out[r["w"]] = r["bits"]
    return out


def might_contain_expr(
    words: list[int], key: Column, m_bits: int = 8064, k: int = 3
) -> Column:
    """Membership test as a pure-Catalyst boolean over the literal
    word array: AND over k of `words[h div 63] & (1 << h mod 63)`.
    Codegen'd integer ops only — runs inside the scan stage."""
    arr = F.array(*[F.lit(wd).cast("long") for wd in words])
    pow2 = F.array(*[F.lit(1 << i).cast("long") for i in range(WORD_BITS)])
    cond = F.lit(True)
    for h in _hash_exprs(key, m_bits, k):
        word = F.get(arr, F.floor(h / F.lit(WORD_BITS)).cast("int"))
        bitval = F.get(pow2, F.pmod(h, F.lit(WORD_BITS)).cast("int"))
        cond = cond & (word.bitwiseAND(bitval) != F.lit(0))
    return cond


def bloom_prune(
    big: DataFrame,
    small: DataFrame,
    big_key: str,
    small_key: str,
    m_bits: int = 8064,
    k: int = 3,
) -> DataFrame:
    """Filter `big` to rows whose key MIGHT be in `small` (exact
    superset of the true semi-join; deterministic false positives).
    The returned frame carries the filter as a map-side predicate —
    follow with the exact join, which now moves only the pruned rows.
    """
    words = build_bloom_words(small, small_key, m_bits, k)
    return big.filter(might_contain_expr(words, F.col(big_key), m_bits, k))
