"""Bloom-filter semi-join reduction — explicit runtime filtering.

The 100 TB problem this solves: a fact table must be reduced to the rows
whose key appears in a *selective* dimension subset.  A plain semi-join
shuffles the entire fact side on the key; broadcasting works only while the
dim subset is small.  A Bloom filter is the middle path: the dim subset is
compressed into a fixed-size bitset (``num_bits`` bits regardless of row
count), broadcast to every task, and applied as a map-side filter on the
fact scan — false positives possible, false negatives never.  The exact
semi-join that follows then shuffles only the tiny surviving fraction.
Spark's own AQE runtime filters do this implicitly for some shapes; this
operator makes it explicit, composable, and available to any plan.

Construction is pure DataFrame algebra, no driver-side loop:

  dim → k bit positions per key (Kirsch–Mitzenmacher double hashing:
        pos_i = h1 + i·h2 mod m, from two xxhash64 values)
      → (word, bit) → bit_or per 64-bit word            [one tiny shuffle]
      → one row holding the dense array<long> bitset    [broadcast]

Membership testing is whole-stage-codegen'd expression logic (shift/mask on
the broadcast array) — no UDF, no Python.

Sizing: false-positive rate ≈ (1 − e^(−k·n/m))^k; the default 2^20 bits /
5 hashes gives <3% FP at n = 100k keys.  At 10⁹ keys use 2^33+ bits (1 GiB
bitset — at the edge of what a broadcast should carry).  Two hard costs
grow with ``num_bits`` and bound the practical range well below the int64
position space: (1) the final dense-array assembly is a single-task
``collect_list`` over num_bits/64 words — one task materializes the whole
bitset before broadcast, so build time and driver/executor memory scale
linearly with m regardless of key count; (2) the probe indexes the array
with a 32-bit ``element_at`` ordinal.  ``MAX_BLOOM_BITS`` (2^36) guards
both: beyond it the word ordinal would overflow the int index (silently
wrapping to wrong-but-plausible probes) and the single-task assembly is
multi-GiB anyway — callers wanting larger filters should shard the key
space across several blooms instead.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# 2^36 bits = 8 GiB bitset = 2^30 words: the last num_bits where the probe's
# 1-based int array ordinal (word + 1 ≤ 2^30 < 2^31) cannot overflow, and
# already past the point where the one-task dense assembly + broadcast is
# the dominant cost. Larger filters must be sharded, not widened.
# NOTE: in practice Spark's ~2 GiB single-array limit (byte-addressed
# UnsafeArrayData / broadcast) binds FIRST — a build above ~2^34 bits
# (2^28 longs) fails loudly at assembly/broadcast time before this guard
# ever matters; the guard exists for the silent-overflow bound, the JVM
# enforces the practical one.
MAX_BLOOM_BITS = 1 << 36


def _check_num_bits(num_bits: int) -> None:
    if not 64 <= num_bits <= MAX_BLOOM_BITS:
        raise ValueError(
            f"num_bits must be in [64, 2^36], got {num_bits}: beyond 2^36 the "
            "probe's int array ordinal overflows (wrong-but-plausible lookups) "
            "and the single-task dense-array build is multi-GiB — shard the "
            "key space across several blooms instead"
        )


def _hashes(key: Column) -> tuple[Column, Column]:
    """Two independent 64-bit hashes of the key (Kirsch–Mitzenmacher base).

    The key is canonicalized to STRING first: xxhash64 is type-sensitive
    (hash(5 as int) ≠ hash(5 as long)), so hashing raw columns would make a
    bloom built from an int dim produce FALSE NEGATIVES against a bigint
    fact — silently violating the filter's one guarantee.  String
    canonicalization makes build and probe agree for any pair of types
    whose equi-join would match (ints of different widths, equal strings)."""
    k = key.cast("string")
    return F.xxhash64(k), F.xxhash64(k, F.lit(1))


def _positions(key: Column, num_bits: int, num_hashes: int) -> list[Column]:
    # reduce each hash mod m BEFORE the Kirsch–Mitzenmacher combine:
    # (h1 + i·h2) mod m ≡ (h1 mod m + i·(h2 mod m)) mod m, and the reduced
    # form cannot overflow int64 under ANSI mode (i·m ≪ 2^63)
    h1, h2 = _hashes(key)
    r1, r2 = F.pmod(h1, F.lit(num_bits)), F.pmod(h2, F.lit(num_bits))
    return [
        F.pmod(r1 + F.lit(i) * r2, F.lit(num_bits)) for i in range(num_hashes)
    ]


def bloom_build(
    dim: DataFrame, key: str, num_bits: int = 1 << 20, num_hashes: int = 5
) -> DataFrame:
    """One-row DataFrame with column ``__bloom: array<long>`` — the bitset as
    a DENSE word array (index = bit position / 64), built with one explode +
    one word-keyed aggregation + a word-spine left join.

    Dense, not a map, on purpose: Spark's ``element_at`` on MapType is a
    LINEAR scan of the entries, so probing a sparse map k times per fact row
    costs O(k·words·rows) — measured 5× slower than the whole rest of the
    join at sf0.1.  ``element_at`` on an array is O(1).  The price is
    broadcasting num_bits/8 bytes even when few bits are set (2^20 bits =
    128 KiB; size the filter accordingly — at 2^30 bits the broadcast is
    128 MiB, about the practical ceiling).  Empty dim → all-zero words →
    every probe misses, correctly."""
    _check_num_bits(num_bits)
    pos = dim.select(
        F.explode(
            F.array(*_positions(F.col(key), num_bits, num_hashes))
        ).alias("pos")
    )
    words = pos.select(
        (F.col("pos") / 64).cast("long").alias("word"),
        F.pmod(F.col("pos"), F.lit(64)).alias("bit"),
    ).groupBy("word").agg(
        F.expr("bit_or(shiftleft(1L, cast(bit AS int)))").alias("mask")
    )
    n_words = (num_bits + 63) // 64
    spine = dim.sparkSession.range(n_words).select(F.col("id").alias("word"))
    dense = spine.join(words, "word", "left").select(
        "word", F.coalesce("mask", F.lit(0).cast("long")).alias("mask")
    )
    return dense.agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("word", "mask"))),
            lambda s: s.getField("mask"),
        ).alias("__bloom")
    )


def bloom_might_contain(
    key: Column, bloom: Column, num_bits: int, num_hashes: int
) -> Column:
    """True iff every one of the key's k bits is set — pure expression
    logic (codegen'd), suitable as a map-side scan filter.

    The bloom is the DENSE word array from :func:`bloom_build`; the 1-based
    array index word+1 is in range by construction (pmod < num_bits ≤
    MAX_BLOOM_BITS, so word+1 ≤ 2^30 fits the int ordinal), and the O(1)
    ``element_at`` never trips ANSI bounds checking."""
    _check_num_bits(num_bits)
    cond = F.lit(True)
    for pos in _positions(key, num_bits, num_hashes):
        # pos ≥ 0 and /64 is exact power-of-two scaling, so the cast floors
        word = (pos / F.lit(64)).cast("long")
        bit = F.pmod(pos, F.lit(64)).cast("int")
        mask = F.element_at(bloom, (word + F.lit(1)).cast("int"))
        one_bit = F.call_function("shiftleft", F.lit(1).cast("long"), bit)
        cond = cond & (mask.bitwiseAND(one_bit) != F.lit(0).cast("long"))
    return cond


def bloom_semi_join(
    fact: DataFrame,
    dim: DataFrame,
    key: str,
    num_bits: int = 1 << 20,
    num_hashes: int = 5,
) -> DataFrame:
    """fact ⋉ dim on ``key``, Bloom-accelerated.

    The broadcast bitset prunes the fact side map-side; a semi-join on
    the survivors removes Bloom false positives, so the result EQUALS the
    plain semi-join — the bloom only reduces what reaches the shuffle.
    A caller that tolerates false positives composes `bloom_build` and
    `bloom_might_contain` itself.
    """
    bloom_row = bloom_build(dim, key, num_bits, num_hashes)
    tagged = fact.crossJoin(F.broadcast(bloom_row))
    kept = tagged.where(
        bloom_might_contain(F.col(key), F.col("__bloom"), num_bits, num_hashes)
    ).drop("__bloom")
    return kept.join(dim.select(key).distinct(), key, "left_semi")
