"""Reproducible sampling operators for training-data pipelines.

`df.sample()` is seed-dependent but NOT content-stable: adding one row
reshuffles everyone's fate, and re-runs over re-partitioned data can drift.
Training-data curation wants *content-hash* sampling — a row's inclusion is
a pure function of its key, stable across runs, partitionings, engines, and
incremental re-ingests (the property that makes held-out sets trustworthy).

Both operators are single-pass column expressions / one window — no extra
shuffle beyond what the grouping itself requires.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

# parallelism of quantile_bounds' cumulative-count pass: the distinct
# value table splits into this many value-contiguous buckets (rough GK
# edges; placement only steers balance, never results)
_CUM_BUCKETS = 32


def hash_bucket(key, salt: str = "", n_buckets: int = 100) -> F.Column:
    """Deterministic bucket in [0, n_buckets): first 8 hex chars of
    md5(key||salt) as an int, mod n_buckets. Reproducible in any engine
    with md5 (the DuckDB oracle mirrors it digit-for-digit)."""
    c = key if not isinstance(key, str) else F.col(key)
    h = F.md5(F.concat(c.cast("string"), F.lit(salt)))
    return (F.conv(F.substring(h, 1, 8), 16, 10).cast("bigint") % n_buckets).cast("int")


def hash_sample(
    df: DataFrame, key_col: str, pct: int, salt: str = "", n_buckets: int = 100
) -> DataFrame:
    """Keep rows whose content-hash bucket < pct — a stable pct% sample."""
    return df.where(hash_bucket(key_col, salt, n_buckets) < pct)


def epoch_shuffle(
    df: DataFrame,
    key_col: str,
    epoch: int,
    n_shards: int = 64,
    salt: str = "ep",
) -> DataFrame:
    """Reproducible global training-order permutation for epoch ``epoch`` —
    the shuffle a data loader consumes when feeding a trainer: different
    every epoch, identical on every re-run, identical in any engine.

    Two independent md5 draws per row: ``shard`` (hash bucket) decides
    which of ``n_shards`` files/streams the row lands in; ``shuffle_key``
    orders rows WITHIN the shard (``rank_in_shard`` via a window
    partitioned by shard). Readers consume shards in order, rows by rank —
    the concatenation is a deterministic permutation of the corpus.

    Scale shape: deliberately NOT a global ``row_number`` (that is a
    single-partition sort at 100 TB). One hash-partition shuffle on shard,
    then each shard sorts independently — embarrassingly parallel, and
    shard sizes are binomially tight around n/n_shards."""
    key = F.md5(
        F.concat(F.col(key_col).cast("string"), F.lit(f"{salt}{epoch}:"))
    )
    shard = hash_bucket(key_col, salt=f"{salt}{epoch}-shard", n_buckets=n_shards)
    w = Window.partitionBy("shard").orderBy(
        F.col("shuffle_key").asc(), F.col(key_col).asc()
    )
    return (
        df.select(F.col(key_col), shard.alias("shard"), key.alias("shuffle_key"))
        .withColumn("rank_in_shard", F.row_number().over(w))
    )


def train_val_test_split(
    df: DataFrame,
    key_col: str,
    val_pct: int = 10,
    test_pct: int = 10,
    salt: str = "",
    n_buckets: int = 100,
) -> DataFrame:
    """Deterministic 3-way split assignment: the lowest `test_pct` hash
    buckets become `test`, the next `val_pct` become `val`, the rest
    `train`. Because membership is a pure function of the key, a document
    can never migrate between splits across re-ingests or engine changes —
    the property that keeps held-out sets uncontaminated. Adds a `split`
    column; no shuffle (single map-side expression)."""
    b = hash_bucket(key_col, salt, n_buckets)
    return df.withColumn(
        "split",
        F.when(b < test_pct, F.lit("test"))
        .when(b < test_pct + val_pct, F.lit("val"))
        .otherwise(F.lit("train")),
    )


def weighted_sample(
    df: DataFrame,
    key_col: str,
    weight,
    salt: str = "",
    n_buckets: int = 10000,
) -> DataFrame:
    """Deterministic Bernoulli sampling with per-row keep probability
    `weight` (a Column in [0, 1]): keep iff hash_bucket/n_buckets < weight.

    The distributed form of temperature-style source reweighting in a
    corpus mix — up/down-sample each source by RATE (vs `capped_sample`'s
    absolute counts). Membership is a pure function of (key, salt), so the
    mix is stable under re-ingest and partitioning; probabilities quantize
    to 1/n_buckets. Map-side only, no shuffle."""
    w = F.col(weight) if isinstance(weight, str) else weight
    return df.where(hash_bucket(key_col, salt, n_buckets) < w * n_buckets)


def capped_sample(
    df: DataFrame,
    group_col: str,
    caps: dict,
    key_col: str,
    salt: str = "",
) -> DataFrame:
    """Corpus-mixture construction: keep at most `caps[g]` rows of each
    group, chosen deterministically by content hash (md5(key||salt) order,
    key as tiebreak). Groups absent from `caps` are dropped — the caps
    dict IS the mixture allowlist. One shuffle (the per-group window); the
    caps map is inlined as a literal map expression, so there is no extra
    join and no driver-side data movement."""
    entries = []
    for g, k in caps.items():
        entries += [F.lit(g), F.lit(k)]
    cap = F.create_map(*entries)[F.col(group_col)]
    h = F.md5(F.concat(F.col(key_col).cast("string"), F.lit(salt)))
    w = Window.partitionBy(group_col).orderBy(h.asc(), F.col(key_col).asc())
    return (
        df.withColumn("__cap", cap)
        .where(F.col("__cap").isNotNull())
        .withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") <= F.col("__cap"))
        .drop("__cap", "__rn")
    )


def mixture_plan(
    df: DataFrame,
    group_col: str,
    weights: dict,
    token_budget: int,
    token_col: str,
) -> DataFrame:
    """Token-budget mixture PLANNING — the data-recipe calculation that
    precedes :func:`capped_sample`: given integer mixture weights per
    source and a total token budget, compute each source's token target,
    sampling rate, and epoch count (rate > 1 ⇒ the source must repeat,
    the standard up-weighting of small high-quality corpora in published
    LLM data recipes).

    Integer-exact where it matters: ``target_tokens = budget·w_g DIV
    Σw`` and ``epochs = ceil(target/avail)`` are pure integer arithmetic
    (bit-reproducible in any engine); only the reporting ``rate`` is a
    float (callers round it for cross-engine hashing).  Weights are
    INTEGER parts, not floats — float weights would make the floor
    ulp-sensitive across engines; scale them to integers first.

    Groups absent from ``weights`` are dropped (the weights dict IS the
    mixture allowlist, the `capped_sample` convention); groups listed
    but absent from the data simply don't appear (their target cannot
    be served — detect via an anti-join if needed).

    Scale shape: ONE groupBy over the corpus (count + token sum, fully
    partial-aggregated map-side) to a #groups-sized frame; the weights
    enter as an inlined literal map — no join, no driver data motion.
    Returns (group, n_docs, avail_tokens, weight, target_tokens, rate,
    epochs)."""
    entries = []
    for g, w in weights.items():
        if int(w) < 0:
            raise ValueError(f"negative weight for {g!r}")
        entries += [F.lit(g), F.lit(int(w))]
    total_w = sum(int(w) for w in weights.values())
    if total_w <= 0:
        raise ValueError("weights must sum to a positive integer")
    agg = (
        df.where(F.col(group_col).isin([str(g) for g in weights]))
        .groupBy(group_col)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum(F.col(token_col)).cast("long").alias("avail_tokens"),
        )
        # a zero-token group cannot serve any target (and would divide by
        # zero differently across engines: Spark NULL, DuckDB error)
        .where(F.col("avail_tokens") > 0)
    )
    w = F.create_map(*entries)[F.col(group_col)].cast("long")
    target = F.expr(
        f"(CAST({int(token_budget)} AS BIGINT) * weight) DIV {total_w}"
    )
    return (
        agg.withColumn("weight", w)
        .withColumn("target_tokens", target)
        .withColumn(
            "rate", F.col("target_tokens") / F.col("avail_tokens")
        )
        .withColumn(
            "epochs",
            F.expr(
                "(target_tokens + avail_tokens - 1) DIV avail_tokens"
            ).cast("long"),
        )
    )


def mixture_temperature(
    df: DataFrame,
    group_col: str,
    token_col: str,
    token_budget: int,
) -> DataFrame:
    """Temperature-scaled mixture planning (α = 0.5): weights are
    derived FROM the data as w_g = ⌊√avail_g⌋ instead of a hand-tuned
    literal map — the multinomial temperature trick of published
    multilingual/multi-source LLM recipes (up-weight small sources,
    damp the head).  α = 0.5 specifically because IEEE sqrt is
    correctly rounded, so ⌊√n⌋ is bit-identical in any engine, while a
    general pow(x, α) is NOT a correctly-rounded libm call — the only
    temperature with an exact cross-engine witness.

    Integer-exact end-to-end: targets are ``budget·w_g DIV Σw`` with Σw
    a 1-row broadcast aggregate (no driver motion, no literal map), the
    temperature-1 proportional baseline ``budget·avail_g DIV Σavail``
    rides along, and ``boost = target/proportional`` divides the two
    integers once.  Shape: ONE map-side-combinable groupBy to a
    #groups-sized frame + two 1-row broadcasts.  Returns (group,
    n_docs, avail_tokens, weight, target_tokens, prop_tokens, boost,
    rate, epochs)."""
    if token_budget <= 0:
        raise ValueError("token_budget must be positive")
    agg = (
        df.groupBy(group_col)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum(F.col(token_col)).cast("long").alias("avail_tokens"),
        )
        .where(F.col("avail_tokens") > 0)
        .withColumn(
            "weight",
            F.floor(F.sqrt(F.col("avail_tokens").cast("double")))
            .cast("long"),
        )
    )
    tot = agg.agg(
        F.sum("weight").cast("long").alias("__tw"),
        F.sum("avail_tokens").cast("long").alias("__ta"),
    )
    b = int(token_budget)
    return (
        agg.crossJoin(F.broadcast(tot))
        .withColumn(
            "target_tokens",
            F.expr(f"(CAST({b} AS BIGINT) * weight) DIV __tw"),
        )
        .withColumn(
            "prop_tokens",
            F.expr(f"(CAST({b} AS BIGINT) * avail_tokens) DIV __ta"),
        )
        .withColumn(
            "boost",
            F.col("target_tokens")
            / F.greatest(F.col("prop_tokens"), F.lit(1)).cast("double"),
        )
        .withColumn("rate", F.col("target_tokens") / F.col("avail_tokens"))
        .withColumn(
            "epochs",
            F.expr(
                "(target_tokens + avail_tokens - 1) DIV avail_tokens"
            ).cast("long"),
        )
        .drop("__tw", "__ta")
    )


def global_index(
    df: DataFrame, key_col: str, n_buckets: int = 256, salt: str = "gidx"
) -> DataFrame:
    """Dense 0-based global index over the distinct keys of ``df`` WITHOUT
    a global sort — the rank↔key mapping a sampler needs to turn "pick
    integer r in [0, n)" into a REAL key (negative sampling, epoch
    addressing, shard manifests).

    A naive ``row_number() OVER (ORDER BY key)`` is a single-partition
    global sort — a scale-killer.  Two-pass bucketed ranking instead:

      1. each key hashes to one of ``n_buckets`` content-stable buckets
         (md5 — engine-reproducible), ranked within its bucket by key
         (one shuffle, parallel in n_buckets);
      2. per-bucket counts (n_buckets rows) turn into cumulative offsets
         with one window over that TINY summary, broadcast back;
      3. ``idx = offset + rank_in_bucket − 1``.

    The result is a permutation of the keys ordered by (bucket, key) —
    deterministic across runs, partitionings, and engines (the DuckDB twin
    is ``row_number() OVER (ORDER BY bucket, key) − 1``).  Density and
    0-basing hold for ANY key space — sparse, negative, or non-numeric.

    Returns (key_col, idx).  Keys must be distinct (ranks would otherwise
    be arbitrary among duplicates of a key).
    """
    ranked = df.select(key_col).withColumn(
        "__b", hash_bucket(key_col, salt, n_buckets)
    ).withColumn(
        "__rn",
        F.row_number().over(
            Window.partitionBy("__b").orderBy(F.col(key_col).asc())
        ),
    )
    counts = ranked.groupBy("__b").agg(F.max("__rn").alias("__cnt"))
    offsets = counts.select(
        "__b",
        F.coalesce(
            F.sum("__cnt").over(
                Window.orderBy("__b").rowsBetween(Window.unboundedPreceding, -1)
            ),
            F.lit(0),
        ).alias("__off"),
    )
    return (
        ranked.join(F.broadcast(offsets), "__b")
        .select(
            key_col,
            (F.col("__off") + F.col("__rn") - 1).cast("long").alias("idx"),
        )
    )


def stratified_sample(
    df: DataFrame, group_cols: list[str], key_col: str, k: int, salt: str = ""
) -> DataFrame:
    """Deterministic k-per-group sample: rank rows inside each group by
    md5(key||salt) (a content-stable pseudo-random order, key as tiebreak)
    and keep the first k. One shuffle on the group key."""
    h = F.md5(F.concat(F.col(key_col).cast("string"), F.lit(salt)))
    w = Window.partitionBy(*group_cols).orderBy(h.asc(), F.col(key_col).asc())
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") <= k)
        .drop("__rn")
    )


def top_k_prune(
    df: DataFrame,
    group_cols: list[str],
    order_exprs: list,
    k: int,
    salt_key: str,
    n_salt: int = 64,
) -> DataFrame:
    """EXACT top-k-per-group pre-prune: returns a ≤ k·n_salt-rows-per-group
    superset guaranteed to contain each group's true top-k under
    ``order_exprs`` — the scale-safe front half of a top-k window.

    A bare ``row_number() OVER (PARTITION BY group)`` sorts each group's
    ENTIRE row set in one unsplittable task (a low-cardinality group
    column makes that a corpus-fraction-sized partition — same WindowExec
    skew the NOTES "window-vs-join" lesson covers). Phase 1 ranks within
    (group, salt-of-``salt_key``) — parallelism #groups × n_salt — and
    keeps each salt's top-k: any row of the true global top-k ranks ≤ k
    inside its own salt bucket, so completeness is structural, not
    probabilistic. The caller applies its final ranking window over the
    pruned frame; rank values equal the unpruned ones for every row that
    survives the final ``row_number ≤ k`` filter, because every row
    ordered ahead of a true top-k row is itself top-k (and hence
    survives too). The guarantee requires a TOTAL order (unique
    tie-break in ``order_exprs``) and a row_number-style final filter:
    with ties, a row whose global dense_rank ≤ k can still be bucket
    row_number > k and be pruned here, so a dense_rank ≤ k final filter
    could silently lose tied rows. dense_rank VALUES are only guaranteed
    for rows that also satisfy row_number ≤ k."""
    salt = F.pmod(F.xxhash64(F.col(salt_key).cast("string")), F.lit(n_salt))
    w1 = Window.partitionBy(*group_cols, "__salt").orderBy(*order_exprs)
    return (
        df.withColumn("__salt", salt)
        .withColumn("__rn1", F.row_number().over(w1))
        .where(F.col("__rn1") <= k)
        .drop("__rn1", "__salt")
    )


def bucketed_value_cumsum(
    nn: DataFrame,
    value_col: str,
    part_cols: tuple[str, ...] = (),
    weight_col: str | None = None,
    edges_from: DataFrame | None = None,
) -> DataFrame:
    """Exact cumulative counts over the distinct-value table — the
    distributed CDF primitive shared by :func:`quantile_bounds` (empty
    ``part_cols``) and :mod:`.drift`'s per-group KS statistic (grouped).

    Returns (part_cols…, ``__v``, ``__c``, ``__cle``) where ``__cle`` is
    the number of input rows in the same partition-key with value ≤
    ``__v`` — computed WITHOUT an unpartitioned window: rough GK edges
    (collected driver-side, ≤ ``_CUM_BUCKETS`` scalars) split the value
    axis into contiguous buckets, the cumulative window runs WITHIN each
    (part…, bucket) in parallel, and per-bucket offsets come from a
    (#parts × #buckets)-sized summary.  Every value's cumulative count
    is independent of WHERE the bucket edges fall, so the result is
    bit-identical to the naive global window (and to a SQL oracle's)
    for ANY monotone edge placement.  The bucket id is a DETERMINISTIC
    FUNCTION OF THE VALUE (count of collected edges strictly below it),
    never of the physical partitioning — see the invariance note in
    :func:`quantile_bounds`.

    With ``weight_col`` the cumulative is the SUM OF WEIGHTS (exact
    integers expected) instead of the row count — the weighted-CDF
    variant weighted quantiles need; the bucket machinery is identical
    because only the measure changes, never the value axis.

    ``edges_from`` optionally redirects the edge SKETCH pass to a
    cheaper frame with a similar value distribution (e.g. one union leg
    instead of all three): valid for ANY caller because the result is
    bit-identical under any monotone edge placement — the substitute
    frame only steers bucket balance (round-13 optimization: callers
    whose ``nn`` is a multi-scan union skip re-computing it for the
    sketch)."""
    measure = (
        F.count(F.lit(1)) if weight_col is None else F.sum(F.col(weight_col))
    )
    vc = nn.groupBy(
        *part_cols, F.col(value_col).alias("__v")
    ).agg(measure.cast("long").alias("__c"))
    probs = [i / _CUM_BUCKETS for i in range(1, _CUM_BUCKETS)]
    try:
        # Sketch the RAW rows, not the distinct-value table: the edges
        # only steer bucket balance (any monotone placement yields the
        # same result), and sketching nn directly map-combines the GK
        # summary with NO shuffle, where sketching vc would pay the
        # distinct groupBy exchange twice.
        edges = (nn if edges_from is None else edges_from).agg(
            F.expr(
                f"approx_percentile({value_col}, "
                f"array({', '.join(map(str, probs))}), 1000)"
            )
        ).collect()[0][0]
    except Exception:
        edges = None  # non-numeric / sketch-unsupported type: one bucket
    uniq: list = []
    for e in edges or []:
        if e is not None and (not uniq or e != uniq[-1]):
            uniq.append(e)
    if uniq:
        pexpr = F.aggregate(
            F.array(*[F.lit(e) for e in uniq]),
            F.lit(0),
            lambda acc, b: acc + F.when(F.col("__v") > b, 1).otherwise(0),
        )
    else:
        pexpr = F.lit(0)
    pcols = [F.col(c) for c in part_cols]
    wp = (
        Window.partitionBy(*pcols, "__p")
        .orderBy("__v")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    part = vc.withColumn("__p", pexpr).withColumn(
        "__pcum", F.sum("__c").over(wp)
    )
    offsets = (
        part.groupBy(*part_cols, "__p")
        .agg(F.sum("__c").alias("__pc"))
        .select(
            *part_cols,
            "__p",
            F.coalesce(
                F.sum("__pc").over(
                    Window.partitionBy(*pcols)
                    .orderBy("__p")
                    .rowsBetween(Window.unboundedPreceding, -1)
                ),
                F.lit(0),
            ).alias("__off"),
        )
    )
    return part.join(
        F.broadcast(offsets), [*part_cols, "__p"]
    ).withColumn("__cle", F.col("__pcum") + F.col("__off"))


def quantile_bounds(df: DataFrame, value_col: str, num_bins: int) -> DataFrame:
    """The B−1 bin boundaries of :func:`quantile_bins` as ONE row holding a
    sorted ``__bounds`` array — shared by bin assignment here and by any
    operator that must bin a DIFFERENT frame against this frame's
    distribution (e.g. :mod:`.drift`'s PSI, which bins every group against
    the corpus-wide deciles). NULL values are excluded. Integer
    rank-threshold boundaries over the distinct-value table (no float
    interpolation), with the cumulative counts computed by value-bucketed
    parallel windows + a tiny offset table — never an unpartitioned
    global window."""
    nn = df.where(F.col(value_col).isNotNull())
    n_tbl = nn.agg(F.count(F.lit(1)).alias("__n"))
    # Cumulative counts in VALUE order without an unpartitioned window
    # (`Window.orderBy` alone = one-task sort — corpus-sized for a
    # continuous column where every value is distinct): the value table
    # is bucketed into value-contiguous groups by rough GK edges, the
    # cumulative window runs WITHIN each bucket (parallel), and
    # per-bucket offsets come from a #buckets-sized summary — see
    # :func:`bucketed_value_cumsum`.  Each value's cumulative count is
    # independent of WHERE the bucket edges fall, so the result is
    # bit-identical to the global window (and to the SQL oracle) for ANY
    # monotone edge placement (tests:
    # test_quantile_bounds_partition_invariant).
    #
    # The bucket id is a DETERMINISTIC FUNCTION OF THE VALUE (count of
    # driver-collected edges strictly below it), NOT of the physical
    # partitioning: the bucketed frame feeds both the window and the
    # offsets aggregation, and anything partitioning-dependent
    # (repartitionByRange + spark_partition_id) could resolve
    # differently in the two subtrees when the exchange is not reused —
    # Spark's RangePartitioner seeds its boundary sample with the
    # rdd.id, so two materializations of the same range exchange may
    # place a value in different partitions.  Rough GK edges only steer
    # balance; ties never straddle a bucket (strict > fold).
    cum = bucketed_value_cumsum(nn, value_col)
    bounds = (
        cum.crossJoin(F.broadcast(n_tbl))
        .select(
            "__v",
            "__cle",
            "__n",
            F.explode(
                F.sequence(F.lit(1), F.lit(num_bins - 1))
            ).alias("__i"),
        )
        .where(F.col("__cle") * num_bins >= F.col("__i") * F.col("__n"))
        .groupBy("__i")
        .agg(F.min("__v").alias("__bound"))
    )
    return bounds.agg(
        F.array_sort(F.collect_list("__bound")).alias("__bounds")
    )


def quantile_bins(df: DataFrame, value_col: str, num_bins: int = 10) -> DataFrame:
    """Equal-frequency (quantile) binning WITHOUT a global sort — the
    feature-discretization step of a training pipeline, in the Spark-ML
    QuantileDiscretizer shape but integer-exact and engine-reproducible.

    A naive `ntile(B) OVER (ORDER BY x)` is a single-partition global sort —
    a scale-killer.  Instead:

      1. distinct values + counts (one shuffle, value-cardinality sized);
      2. cumulative counts over the VALUE table (window over distinct
         values — small by construction, not corpus-sized);
      3. boundary_i = min value whose cumulative count reaches the rank
         threshold — the comparison is ``cle·B ≥ i·n``, pure integer
         arithmetic, so there is NO float interpolation anywhere and no
         cross-engine ulp risk (type-1 / inverted-CDF quantiles);
      4. the B−1 boundaries broadcast as one sorted array; bin assignment
         is a map-side fold (count of boundaries strictly below x) + 1.

    Ties share a bin by construction.  Heavily repeated values can leave
    later bins empty rather than splitting a tie across bins — the correct
    equal-frequency semantics.  Adds a ``bin`` column (1..B); NULL values
    are excluded from the boundary computation and get a NULL bin.

    Scale: the cumulative counts run over DISTINCT values, value-bucketed
    with per-bucket windows + a broadcast offset table (see
    :func:`quantile_bounds`) — fully parallel even for a continuous
    column where every value is distinct.
    """
    if num_bins < 1:
        raise ValueError(f"num_bins must be >= 1, got {num_bins}")
    if num_bins == 1:
        # sequence(1, 0) would DESCEND to [1, 0] and emit phantom bounds
        # (the shingles_from_tokens descending-sequence trap) — and one bin
        # needs no boundaries at all
        return df.withColumn(
            "bin",
            F.when(F.col(value_col).isNotNull(), F.lit(1)).cast("int"),
        )
    barr = quantile_bounds(df, value_col, num_bins)
    x = F.col(value_col)
    fold = F.aggregate(
        "__bounds",
        F.lit(1),
        lambda acc, b: acc + F.when(x > b, 1).otherwise(0),
    ).cast("int")
    return (
        df.crossJoin(F.broadcast(barr))
        .withColumn("bin", F.when(x.isNotNull(), fold).cast("int"))
        .drop("__bounds")
    )
