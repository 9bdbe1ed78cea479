"""Mergeable frequency/cardinality sketches: HyperLogLog and Count-Min.

Both sketches are the canonical answer to "how do you count at 100 TB
without a corpus-sized shuffle": their per-partition partial states merge
associatively (register-wise ``max`` for HLL, counter-wise ``sum`` for
Count-Min), so Spark's map-side partial aggregation reduces every
partition to a fixed-size state — 2^p registers / depth×width counters —
regardless of input size.  The only shuffled bytes are the sketch itself.

Determinism: Spark's built-in ``approx_count_distinct`` is HLL++ but its
register layout is JVM-internal, so a DuckDB oracle cannot reproduce it.
These implementations instead derive every hash from ``md5`` (engine-
identical by definition) and keep all register/counter arithmetic on
exact integers, so the SAME sketch — bit for bit — is computable as plain
SQL in any engine.  The final HLL estimate is one scalar expression over
a 2^p-bucket integer sum (per-row double math is bit-exact across
engines; see NOTES "Oracle float parity").

HyperLogLog follows Flajolet et al. 2007 (the alpha_m bias constant and
the small-range linear-counting correction); Count-Min follows Cormode &
Muthukrishnan 2005 (point query = min over depth rows).  Reference
parity: the reference delegates approximate aggregation entirely to its
warehouse engine (SURVEY §2.4); these operators supply the equivalent
capability Spark-first.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

_HASH_BITS = 60  # 15 md5 hex chars -> non-negative, fits BIGINT


def _h60(c: Column) -> Column:
    """Deterministic 60-bit non-negative hash (md5 prefix), engine-portable.

    15 hex chars = 60 bits < 2^63, so the value is representable (and
    positive) in both Spark LongType and DuckDB BIGINT; xxhash64 is NOT
    used because DuckDB cannot reproduce it (and it is type-sensitive —
    see the bloom-filter lesson in NOTES).
    """
    return F.conv(F.substring(F.md5(c.cast("string")), 1, 15), 16, 10).cast("long")


def hash_slot(j: Column, key: Column, n: int, hex_digits: int) -> Column:
    """Slot of ``key`` under hash function ``j`` in a table of ``n`` slots:
    ``pmod(conv(substr(md5(j || '#' || key), 1, hex_digits), 16, 10), n)``.
    The one md5 hashing family of the Count-Min counters (8 hex digits)
    and the Bloom bit tables (12); any SQL engine computes the same slot."""
    return F.pmod(
        F.conv(
            F.substring(F.md5(F.concat_ws("#", j, key)), 1, hex_digits), 16, 10
        ).cast("long"),
        F.lit(n),
    )


# --- HyperLogLog -----------------------------------------------------------

def hll_registers(
    df: DataFrame, col: str, group_cols: tuple[str, ...] = (), p: int = 9
) -> DataFrame:
    """Per-group HLL register file: (group…, bucket, rho) with 2^p buckets.

    groupBy(bucket).max(rho) IS the whole shuffle: at most 2^p rows per
    group leave the map side no matter how many input rows there are.
    ``bucket`` is the low p bits of the 60-bit hash; ``rho`` is the
    1-based position of the first 1-bit in the remaining (60-p)-bit word
    (all-zero word → 60-p+1, the Flajolet convention), computed from the
    LENGTH of the minimal binary rendering (`conv(w,10,2)` / DuckDB
    `bin(w)`) — exact integer logic, no float log2 whose boundary
    rounding could disagree between engines.  Both engines render 0 as
    '0' (length 1), so the w=0 case stays explicit.  The same
    expressions work on a streaming DataFrame (max is a
    streaming-supported aggregate, and the sketch is re-delivery-
    insensitive by construction — a duplicate row can never raise a
    register).
    """
    if not 4 <= p <= 16:
        raise ValueError(f"p must be in [4, 16], got {p}")
    gcols = [F.col(g) for g in group_cols]
    # materialize the 60-bit hash ONCE in its own projection: bucket and
    # rho both derive from it, and inlining _h60 into each would compute
    # md5+conv twice per input row (the round-2 "materialize the token
    # array" lesson; ~35% of the register-build cost at sf0.1).  Math is
    # unchanged — bit-identical registers.
    bits = _HASH_BITS - p
    hashed = df.select(*gcols, _h60(F.col(col)).alias("__h"))
    w = F.shiftright(F.col("__h"), p)
    rho = (
        F.when(w == 0, F.lit(bits + 1))
        .otherwise(F.lit(bits + 1) - F.length(F.conv(w, 10, 2)))
        .cast("int")
    )
    return (
        hashed.select(
            *gcols,
            F.col("__h").bitwiseAND((1 << p) - 1).cast("int").alias("bucket"),
            rho.alias("__rho"),
        )
        .groupBy(*group_cols, "bucket")
        .agg(F.max("__rho").alias("rho"))
    )


def hll_alpha_numerator(p: int) -> float:
    """alpha_m · m² · 2^(bits+1), folded to ONE Python double literal.

    Folding the whole numerator driver-side (instead of multiplying
    alpha · m · m · scale engine-side) removes any risk of the two engines
    associating the float product differently; the oracle SQL embeds
    repr() of this exact value.
    """
    m = 1 << p
    if m == 16:
        alpha = 0.673  # Flajolet et al. §4 small-m constants
    elif m == 32:
        alpha = 0.697
    elif m == 64:
        alpha = 0.709
    else:
        alpha = 0.7213 / (1.0 + 1.079 / m)  # Flajolet et al. §4, m >= 128
    return alpha * m * m * float(1 << (_HASH_BITS - p + 1))


def hll_estimate(
    df: DataFrame, col: str, group_cols: tuple[str, ...] = (), p: int = 9
) -> DataFrame:
    """Per-group approximate COUNT(DISTINCT col): registers +
    `hll_estimate_from_registers`.  Standard error ≈ 1.04/√(2^p)."""
    return hll_estimate_from_registers(
        hll_registers(df, col, group_cols, p), group_cols, p
    )


def hll_estimate_from_registers(
    regs: DataFrame, group_cols: tuple[str, ...] = (), p: int = 9
) -> DataFrame:
    """Estimator tail over a (group…, bucket, rho) register frame —
    separated so rolled-up/merged/streamed register files reuse it:
    (group…, used_registers, zero_registers, est_distinct).

    The harmonic sum Σ 2^-rho is kept EXACT: each term is scaled by
    2^(bits+1) so it becomes the integer 2^(bits+1-rho) (rho ≤ bits+1),
    summed as BIGINT — associative under any partial-agg order, max
    2^p · 2^(bits+1) < 2^62 for p ≥ 8.  Only the final one-row-per-group
    division is floating point.  Small-range correction: linear counting
    m·ln(m/zeros) when raw ≤ 2.5m and zero registers remain.
    """
    m = 1 << p
    bits = _HASH_BITS - p
    scaled = F.expr(f"CAST(shiftleft(CAST(1 AS BIGINT), {bits + 1} - rho) AS BIGINT)")
    per = regs.groupBy(*group_cols).agg(
        F.count(F.lit(1)).cast("int").alias("used_registers"),
        F.sum(scaled).cast("long").alias("__s"),
    )
    zeros = F.lit(m) - F.col("used_registers")
    s_total = F.col("__s") + zeros.cast("long") * F.lit(1 << (bits + 1)).cast("long")
    raw = F.lit(hll_alpha_numerator(p)) / s_total.cast("double")
    est = F.when(
        (raw <= F.lit(2.5 * m)) & (zeros > 0),
        F.lit(float(m)) * F.log(F.lit(float(m)) / zeros.cast("double")),
    ).otherwise(raw)
    return per.select(
        *group_cols,
        "used_registers",
        zeros.cast("int").alias("zero_registers"),
        est.alias("est_distinct"),
    )


def sql_hll_estimate(
    src_sql: str, col: str, group_cols: tuple[str, ...] = (), p: int = 9
) -> str:
    """DuckDB twin of hll_registers→hll_estimate over ``src_sql`` (a CTE
    body selecting ``col`` plus ``group_cols``).  Mirrors the Spark path
    expression-for-expression; the float numerator is the repr() of the
    SAME Python double the engine uses."""
    m = 1 << p
    bits = _HASH_BITS - p
    g = ", ".join(group_cols)
    gcomma = f"{g}, " if g else ""
    gby = f"GROUP BY {g}" if g else ""
    return f"""
hll_h AS (
    SELECT {gcomma}
           CAST(('0x' || substr(md5(CAST({col} AS VARCHAR)), 1, 15)) AS BIGINT) AS h
    FROM ({src_sql})
),
hll_regs AS (
    SELECT {gcomma} CAST(h % {m} AS INTEGER) AS bucket,
           MAX(CASE WHEN h // {m} = 0 THEN {bits + 1}
                    ELSE {bits + 1} - length(bin(h // {m})) END) AS rho
    FROM hll_h GROUP BY {gcomma} bucket
),
hll_per AS (
    SELECT {gcomma} CAST(count(*) AS INTEGER) AS used_registers,
           CAST(sum(CAST(1 AS BIGINT) << ({bits + 1} - rho)) AS BIGINT) AS s
    FROM hll_regs {gby}
),
hll_est AS (
    SELECT {gcomma} used_registers,
           CAST({m} - used_registers AS INTEGER) AS zero_registers,
           CASE WHEN {hll_alpha_numerator(p)!r}
                     / CAST(s + CAST({m} - used_registers AS BIGINT)
                            * CAST({1 << (bits + 1)} AS BIGINT) AS DOUBLE)
                     <= {2.5 * m!r}
                 AND {m} - used_registers > 0
                THEN {float(m)!r} * ln({float(m)!r}
                     / CAST({m} - used_registers AS DOUBLE))
                ELSE {hll_alpha_numerator(p)!r}
                     / CAST(s + CAST({m} - used_registers AS BIGINT)
                            * CAST({1 << (bits + 1)} AS BIGINT) AS DOUBLE)
           END AS est_distinct
    FROM hll_per
)
"""


def sql_hll_estimate_from_registers(
    regs_cte: str,
    group_cols: tuple[str, ...] = (),
    p: int = 9,
    prefix: str = "hll",
) -> str:
    """DuckDB twin of `hll_estimate_from_registers` over an EXISTING
    (group…, bucket, rho) CTE named ``regs_cte`` — for oracles whose
    register file is derived (merged pairs, streamed sinks) rather than
    sketched directly from rows.  Emits ``{prefix}_per`` and
    ``{prefix}_est`` CTE bodies (caller joins them into its WITH chain);
    the float numerator is repr() of the same Python double the engine
    folds, and the harmonic sum stays exact-integer (see
    hll_estimate_from_registers)."""
    m = 1 << p
    bits = _HASH_BITS - p
    g = ", ".join(group_cols)
    gcomma = f"{g}, " if g else ""
    gby = f"GROUP BY {g}" if g else ""
    num = hll_alpha_numerator(p)
    raw = (
        f"{num!r} / CAST(s + CAST({m} - used_registers AS BIGINT)"
        f" * CAST({1 << (bits + 1)} AS BIGINT) AS DOUBLE)"
    )
    return f"""
{prefix}_per AS (
    SELECT {gcomma} CAST(count(*) AS INTEGER) AS used_registers,
           CAST(sum(CAST(1 AS BIGINT) << ({bits + 1} - rho)) AS BIGINT) AS s
    FROM {regs_cte} {gby}
),
{prefix}_est AS (
    SELECT {gcomma} used_registers,
           CAST({m} - used_registers AS INTEGER) AS zero_registers,
           CASE WHEN {raw} <= {2.5 * m!r}
                 AND {m} - used_registers > 0
                THEN {float(m)!r} * ln({float(m)!r}
                     / CAST({m} - used_registers AS DOUBLE))
                ELSE {raw}
           END AS est_distinct
    FROM {prefix}_per
)
"""


# --- Count-Min -------------------------------------------------------------

def cm_counters(
    counts: DataFrame,
    token_col: str = "token",
    cnt_col: str = "cnt",
    depth: int = 4,
    width: int = 1024,
) -> DataFrame:
    """Count-Min counter table (j, slot, c) from pre-aggregated counts.

    Each of the ``depth`` rows uses an independent hash
    md5(j || '#' || token) % width.  Folding the sketch over the
    pre-aggregated (token, cnt) frame is identical to folding it over the
    raw stream (counters are sums) but shuffles the vocabulary, not the
    corpus; at most depth×width rows survive the final groupBy.
    """
    if depth < 1 or width < 2:
        raise ValueError(f"need depth >= 1 and width >= 2, got {depth}x{width}")
    rows = counts.select(
        F.col(token_col).alias("__t"),
        F.col(cnt_col).cast("long").alias("__c"),
        F.explode(F.array(*[F.lit(j) for j in range(depth)])).alias("j"),
    )
    slot = hash_slot(F.col("j"), F.col("__t"), width, 8)
    return (
        rows.select("j", slot.cast("int").alias("slot"), "__c")
        .groupBy("j", "slot")
        .agg(F.sum("__c").cast("long").alias("c"))
    )


def cm_inner_product(
    counters_a: DataFrame, counters_b: DataFrame, depth: int = 4
) -> DataFrame:
    """Equi-join size estimate from two Count-Min sketches (Cormode &
    Muthukrishnan §4.2): per depth row, Σ_slot cA·cB over-estimates
    Σ_key fA·fB (colliding keys add cross terms, never subtract); the
    final estimate is the min over the depth rows.  One row out.

    This is the 100 TB pre-flight: both sides reduce map-side to
    depth×width counters, so predicting a join's output size (and hence
    its shuffle) costs two linear scans and a 4096-row join — no key
    shuffle, no actual join.  All arithmetic stays on exact BIGINTs.
    """
    prod = (
        counters_a.alias("a")
        .join(
            F.broadcast(counters_b.alias("b")),
            (F.col("a.j") == F.col("b.j")) & (F.col("a.slot") == F.col("b.slot")),
        )
        .select(F.col("a.j").alias("j"), (F.col("a.c") * F.col("b.c")).alias("p"))
    )
    per_j = prod.groupBy("j").agg(F.sum("p").cast("long").alias("est"))
    # A depth row with zero overlapping (j, slot) pairs has a true
    # per-row estimate of 0, so the min must see it: outer-join the
    # literal depth list and coalesce.  Fully disjoint sketches then
    # correctly estimate 0 instead of returning no row / NULL.
    all_j = counters_a.sparkSession.range(depth).select(
        F.col("id").cast("int").alias("j")
    )
    per_j_full = all_j.join(F.broadcast(per_j), "j", "left").select(
        F.coalesce(F.col("est"), F.lit(0)).cast("long").alias("est")
    )
    return per_j_full.agg(F.min("est").cast("long").alias("cm_join_est"))


def cm_lookup(
    counters: DataFrame,
    probes: DataFrame,
    token_col: str = "token",
    depth: int = 4,
    width: int = 1024,
) -> DataFrame:
    """Point-query the sketch: per probe token, est = min over the depth
    counters it hashes into (Cormode–Muthukrishnan; est >= true count
    always, over-count only from collisions).  probes carries any extra
    columns through (first-value, they are functionally dependent on the
    token).  counters is depth×width rows — broadcast it."""
    extra = [c for c in probes.columns if c != token_col]
    expanded = probes.select(
        "*", F.explode(F.array(*[F.lit(j) for j in range(depth)])).alias("j")
    )
    slot = hash_slot(F.col("j"), F.col(token_col), width, 8)
    # LEFT join + coalesce-to-0: a probe token never seen by the sketch
    # hashes into counters that were simply never materialised (the
    # counter table stores only non-zero slots), and Count-Min defines
    # the answer for an empty counter as 0 — so the min must run over
    # all `depth` slots with missing ones as 0, not over the non-empty
    # subset (which would inflate, or drop the probe entirely).
    joined = expanded.select("*", slot.cast("int").alias("slot")).join(
        F.broadcast(counters), ["j", "slot"], "left"
    )
    return joined.groupBy(token_col).agg(
        *[F.first(c).alias(c) for c in extra],
        F.min(F.coalesce(F.col("c"), F.lit(0))).cast("long").alias("cm_est"),
    )


def bloom_bits(
    df: DataFrame,
    key_col: str,
    m_bits: int = 1 << 16,
    k_hashes: int = 4,
) -> DataFrame:
    """Portable Bloom filter as a relational bit table: one row per SET
    bit position (``bit`` BIGINT in [0, m_bits)), built with the same
    md5(j || '#' || key) hashing family as the Count-Min counters —
    engine-independent (any SQL engine rebuilds or probes it), mergeable
    by plain UNION/DISTINCT (a Bloom filter's bits OR together), and at
    most ``m_bits`` rows no matter the input cardinality.  The classic
    data-shipping primitive: ship the bit table, not the key set, and
    pre-filter a fact scan before the join (no false negatives; false
    positives bounded by the (m, k, n) choice)."""
    if k_hashes < 1 or m_bits < 2:
        raise ValueError(f"need k >= 1 and m >= 2, got k={k_hashes} m={m_bits}")
    rows = df.select(
        F.col(key_col).cast("string").alias("__k"),
        F.explode(F.array(*[F.lit(j) for j in range(k_hashes)])).alias("j"),
    )
    pos = hash_slot(F.col("j"), F.col("__k"), m_bits, 12)
    return rows.select(pos.alias("bit")).distinct()


def bloom_probe(
    bits: DataFrame,
    probes: DataFrame,
    key_col: str,
    m_bits: int = 1 << 16,
    k_hashes: int = 4,
) -> DataFrame:
    """Membership probe against a :func:`bloom_bits` table: adds
    ``may_contain`` (1 = all k bit positions set — present OR false
    positive; 0 = definitely absent).  Row-preserving: the output has
    exactly the input's rows (duplicates included) and columns of any
    type survive untouched — each of the k hash positions is checked by
    its own broadcast left join against the ≤ m_bits-row bit table, so
    the probe side is k map-side hash joins and NEVER a shuffle of the
    probe corpus (the previous explode→groupBy shape collapsed
    duplicate probe rows and shuffled the corpus).  The bit table is
    ``.distinct()``-ed defensively: a bits input with duplicate rows
    (e.g. a union-merge without distinct) would otherwise row-multiply
    the probe frame through the left joins."""
    out = probes
    flags = []
    bit_tbl = bits.select("bit").distinct()
    for j in range(k_hashes):
        pos_j = hash_slot(F.lit(j), F.col(key_col).cast("string"), m_bits, 12)
        b = F.broadcast(
            bit_tbl.select(
                F.col("bit").alias(f"__b{j}"), F.lit(1).alias(f"__s{j}")
            )
        )
        out = out.withColumn(f"__p{j}", pos_j).join(
            b, F.col(f"__p{j}") == F.col(f"__b{j}"), "left"
        )
        flags.append(F.coalesce(F.col(f"__s{j}"), F.lit(0)))
    # F.least requires >= 2 columns; bloom_bits permits k_hashes == 1.
    all_set = flags[0] if len(flags) == 1 else F.least(*flags)
    return out.select(
        *probes.columns, all_set.cast("int").alias("may_contain")
    )


# --- KMV (bottom-k / K-Minimum-Values) distinct sketch ----------------------

def kmv_bottom_k(
    df: DataFrame, col: str, group_cols: tuple[str, ...] = (), k: int = 64
) -> DataFrame:
    """Per-group bottom-k distinct-hash sketch: (group…, h) with at most
    k rows per group, h = the k smallest distinct 60-bit md5 hashes of
    ``col`` (Beyer et al. 2007, "On synopses for distinct-value
    estimation").  Mergeable by construction: the bottom-k of a UNION of
    bottom-k tables is the bottom-k of the union of the inputs — see
    :func:`kmv_merge`.

    Plan shape: distinct (group, h) — a map-side-combinable aggregate —
    then a per-group row_number prune.  The window sorts only the
    DISTINCT-value table; at 100 TB scale pre-filter with a coarse
    per-partition bottom-k (mapPartitions top-k or a broadcast threshold
    from a first GK pass) before the exact window so the sorted frame is
    O(k · partitions), not O(distinct).  The hash is total-ordered and
    collision-free at these cardinalities (60-bit space), so ties cannot
    occur and the prune is deterministic.
    """
    if k < 2:
        raise ValueError(f"k must be >= 2, got {k}")
    gcols = [F.col(g) for g in group_cols]
    hashed = (
        df.select(*gcols, _h60(F.col(col)).alias("h")).distinct()
    )
    w = Window.partitionBy(*[F.col(g) for g in group_cols]).orderBy("h")
    return (
        hashed.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") <= k)
        .drop("__rn")
    )


def kmv_merge(
    tables: list[DataFrame], group_cols: tuple[str, ...] = (), k: int = 64
) -> DataFrame:
    """Union bottom-k sketch tables and re-prune to the global bottom-k —
    the KMV set-union estimator input.  Each input is ≤ k rows per
    group, so the union is sketch-sized; no re-hash of any corpus."""
    u = tables[0]
    for t in tables[1:]:
        u = u.unionByName(t)
    w = Window.partitionBy(*[F.col(g) for g in group_cols]).orderBy("h")
    return (
        u.distinct()
        .withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") <= k)
        .drop("__rn")
    )


def kmv_estimate_from_bottom(
    bottom: DataFrame, group_cols: tuple[str, ...] = (), k: int = 64
) -> DataFrame:
    """Estimator tail over a bottom-k table: (group…, n_kept, est_distinct).

    If a group kept fewer than k hashes the sketch IS the distinct set and
    the estimate is exact (n_kept); otherwise the unbiased estimator
    (k-1) / U_(k) with U_(k) = h_k / 2^60 — folded driver-side to ONE
    double literal divided by the integer k-th hash, so both engines
    perform the identical single division.  Standard error ≈ 1/sqrt(k-2).
    """
    num = float(k - 1) * float(1 << _HASH_BITS)  # one Python-folded literal
    agg = bottom.groupBy(*[F.col(g) for g in group_cols]).agg(
        F.count(F.lit(1)).cast("long").alias("n_kept"),
        F.max("h").alias("__hk"),
    )
    est = F.when(
        F.col("n_kept") < k, F.col("n_kept").cast("double")
    ).otherwise(F.lit(num) / F.col("__hk").cast("double"))
    return agg.select(
        *group_cols,
        "n_kept",
        F.round(est + F.lit(1e-9), 4).alias("est_distinct"),
    )


# --- Misra-Gries / SpaceSaving mergeable heavy-hitter summary ---------------

def _mg_delta_from_ranked(
    ranked: DataFrame,
    weight_col: str,
    group_cols: tuple[str, ...],
    k: int,
) -> DataFrame:
    """(group…, delta): the (k+1)-th largest weight per group (0 when the
    group has ≤ k keys) off an already row_number-ranked count table."""
    return ranked.groupBy(*group_cols).agg(
        F.max(
            F.when(F.col("__rn") == k + 1, F.col(weight_col)).otherwise(
                F.lit(0)
            )
        )
        .cast("long")
        .alias("delta")
    )


def mg_deltas(
    counts: DataFrame,
    key_col: str,
    weight_col: str,
    group_cols: tuple[str, ...] = (),
    k: int = 16,
) -> DataFrame:
    """Per-group MG(k) subtraction amount for EVERY group in ``counts`` —
    including groups whose summary ends up empty (all weights equal the
    (k+1)-th).  Error accounting must sum these over all shards, not just
    shards with surviving rows, so this is exposed separately from
    :func:`mg_compress`."""
    w = Window.partitionBy(*[F.col(g) for g in group_cols]).orderBy(
        F.col(weight_col).desc(), F.col(key_col).asc()
    )
    ranked = counts.withColumn("__rn", F.row_number().over(w))
    return _mg_delta_from_ranked(ranked, weight_col, group_cols, k)


def mg_compress(
    counts: DataFrame,
    key_col: str,
    weight_col: str,
    group_cols: tuple[str, ...] = (),
    k: int = 16,
) -> DataFrame:
    """Compress an exact (group…, key, weight) count table to a
    Misra-Gries summary of at most k rows per group: subtract the
    (k+1)-th largest weight (0 when the group has ≤ k keys) and keep the
    strictly positive remainders (Agarwal et al. 2012, "Mergeable
    summaries", §3.1 — this one-shot reduction is exactly MG(k) run over
    the counted stream).  Returns (group…, key, weight, delta): delta is
    the subtracted amount, the per-summary undercount bound every
    surviving key absorbs at most once.

    Deterministic: the (k+1)-th weight is read off a (weight DESC, key
    ASC) row_number — a total order.  The window sorts the per-group KEY
    table (already aggregated), not the stream.
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    gcols = [F.col(g) for g in group_cols]
    w = Window.partitionBy(*gcols).orderBy(
        F.col(weight_col).desc(), F.col(key_col).asc()
    )
    ranked = counts.withColumn("__rn", F.row_number().over(w))
    delta = _mg_delta_from_ranked(ranked, weight_col, group_cols, k)
    joined = (
        ranked.where(F.col("__rn") <= k)
        .drop("__rn")
        .join(F.broadcast(delta), list(group_cols)) if group_cols
        else ranked.where(F.col("__rn") <= k).drop("__rn").crossJoin(
            F.broadcast(delta)
        )
    )
    return joined.where(F.col(weight_col) > F.col("delta")).select(
        *group_cols,
        F.col(key_col).alias("key"),
        (F.col(weight_col) - F.col("delta")).cast("long").alias("weight"),
        "delta",
    )


def mg_merge(
    summaries: DataFrame,
    group_cols: tuple[str, ...] = (),
    k: int = 16,
) -> DataFrame:
    """Merge shard-level MG summaries (a (group…, key, weight) frame where
    each shard contributed ≤ k rows): sum weights per key, then
    :func:`mg_compress` the merged table back to k rows.  The merged
    estimate underestimates every key's true count by at most
    Σ shard deltas + merge delta ≤ n/(k+1) (the mergeable-summaries
    bound); it never overestimates."""
    merged = summaries.groupBy(*group_cols, "key").agg(
        F.sum("weight").cast("long").alias("weight")
    )
    return mg_compress(merged, "key", "weight", group_cols, k)
