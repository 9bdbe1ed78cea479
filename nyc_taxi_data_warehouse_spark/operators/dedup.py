"""Large-scale deduplication operators for training-data pipelines.

Beyond-reference wave (BASELINE.json north star): exact dedup,
MinHash+LSH near-dup, SimHash, and n-gram Jaccard — all expressed as
DataFrame compositions (explode → hash → group → band-join) so Catalyst
plans them as ordinary shuffles; no Python in the hot path.

Portability note: hashes are md5-derived (not Spark's murmur `hash()`)
so a DuckDB oracle can reproduce them bit-for-bit.

Scale design:
- shingling explodes to one row per (doc, shingle): linear in corpus size,
  hash-partitioned by shingle for the candidate join.
- LSH banding turns the quadratic all-pairs problem into an equi-join on
  (band, band_hash) — the classic shuffle-friendly formulation. Hot buckets
  (boilerplate shingles) are the skew risk: AQE skew-join splits the
  shuffle partitions, but only the ``max_bucket`` cap bounds the
  O(|bucket|²) candidate-pair count itself — buckets above the cap are
  boilerplate by construction and are dropped (with the drop observable
  via :func:`lsh_hot_buckets`).
- SimHash reduces each doc to one 64-bit integer; near-dup detection is
  the Manku 4×16-bit band equi-join + cheap bit_count filter, with the
  same hot-bucket cap.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions import text as T


def shingle_rows(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text", n: int = 3
) -> DataFrame:
    """One row per distinct (doc, word-n-gram shingle).

    Two projections on purpose: tokenize once into a real column, then build
    grams from it — see :func:`..functions.text.shingles_from_tokens`.
    """
    tokd = docs.select(F.col(id_col), T.tokens(text_col).alias("__w"))
    return tokd.select(
        F.col(id_col),
        F.explode(F.array_distinct(T.shingles_from_tokens("__w", n))).alias("shingle"),
    )


def minhash_signatures(
    shingles: DataFrame, id_col: str = "doc_id", num_hashes: int = 8
) -> DataFrame:
    """MinHash signature per doc: h_i = min over shingles of a 32-bit slice
    of md5(shingle || '#k').

    One 128-bit digest yields four independent 8-hex-char (32-bit) hash
    values, so `num_hashes` signatures cost ceil(num_hashes/4) md5 calls per
    shingle row instead of `num_hashes` — the md5 is the dominant CPU cost of
    the whole minhash pass at corpus scale. Lexicographic min over fixed-width
    hex slices is a valid uniform min-hash family and is reproducible
    bit-for-bit in any engine with md5 (DuckDB oracle twin:
    ``min(substr(md5(shingle || '#k'), off, 8))``).
    """
    aggs = []
    for i in range(num_hashes):
        k, slot = divmod(i, 4)
        digest = F.md5(F.concat(F.col("shingle"), F.lit(f"#{k}")))
        aggs.append(F.min(F.substring(digest, slot * 8 + 1, 8)).alias(f"h{i}"))
    return shingles.groupBy(id_col).agg(*aggs)


def lsh_bands(
    sig: DataFrame, id_col: str = "doc_id", num_hashes: int = 8, band_size: int = 2
) -> DataFrame:
    """Explode a signature into (doc, band, band_hash) rows."""
    structs = []
    for b in range(num_hashes // band_size):
        cols = [F.col(f"h{i}") for i in range(b * band_size, (b + 1) * band_size)]
        structs.append(
            F.struct(F.lit(b).alias("band"), F.md5(F.concat(*cols)).alias("bh"))
        )
    return sig.select(
        F.col(id_col), F.explode(F.array(*structs)).alias("x")
    ).select(id_col, F.col("x.band").alias("band"), F.col("x.bh").alias("bh"))


DEFAULT_MAX_BUCKET = 1000


def lsh_hot_buckets(
    bands: DataFrame, max_bucket: int = DEFAULT_MAX_BUCKET
) -> DataFrame:
    """Diagnostic: the band buckets the cap would drop, with their sizes —
    run alongside a capped dedup pass to quantify (and audit) what was
    skipped; feed the member docs to the boilerplate report for triage."""
    return (
        bands.groupBy("band", "bh")
        .agg(F.count(F.lit(1)).alias("bucket_size"))
        .where(F.col("bucket_size") > max_bucket)
    )


def lsh_candidate_pairs(
    bands: DataFrame,
    id_col: str = "doc_id",
    max_bucket: int | None = DEFAULT_MAX_BUCKET,
) -> DataFrame:
    """Distinct candidate pairs sharing any LSH band bucket (a < b).

    Formulated as grouped-array pair generation, not a bucket self-join:
    one ``collect_list`` per bucket (a single shuffle on (band, bh) —
    the same key the join would have shuffled on, but ONCE instead of
    once per join side, and the deep shingle→md5→min lineage above is
    computed exactly once), then pairs explode map-side from the array.
    The hot-bucket cap is a free ``size(ids) <= max_bucket`` filter on
    the grouped row.

    ``max_bucket`` caps per-bucket occupancy: without it one boilerplate
    bucket of 10⁶ docs emits 5·10¹¹ pairs and the job never finishes at
    corpus scale (AQE can split a skewed shuffle partition but cannot
    reduce the pair count itself); over-cap buckets are boilerplate by
    definition — the mass `q_boilerplate` surfaces — and a true near-dup
    pair dropped with a hot bucket is still found via any of its other
    bands that land in sane buckets. :func:`lsh_hot_buckets` makes the
    drop observable. ``None`` disables the cap — then a mega-bucket's
    member array must fit in one task's memory, which is exactly the
    regime the cap exists to prevent."""
    g = drop_hot_buckets(bands, max_bucket).groupBy("band", "bh").agg(
        F.collect_list(id_col).alias("__ids")
    )
    return (
        g.select(F.explode("__ids").alias("doc_a"), "__ids")
        .select(
            "doc_a",
            F.explode(F.filter("__ids", lambda x: x > F.col("doc_a"))).alias("doc_b"),
        )
        .distinct()
    )


def drop_hot_buckets(
    bands: DataFrame, max_bucket: int | None, keys: tuple[str, ...] = ("band", "bh")
) -> DataFrame:
    """Remove over-cap buckets BEFORE any ``collect_list``, so a
    mega-bucket's member array is never materialized in an aggregation
    buffer (a 10⁸-doc boilerplate bucket would otherwise build a ~GB list
    just to be discarded by a size filter). The hot set is detected by a
    map-side-combined count — tiny shuffle, and hot buckets are rare by
    construction, so the anti-join side broadcasts and the big frame is
    never shuffled for the filter. Cost: one extra pass over ``bands``'
    lineage — callers persist the short per-doc signature frame ahead of
    this (as the q_* queries do), which makes that pass a cheap projection."""
    if max_bucket is None:
        return bands
    hot = (
        bands.groupBy(*keys)
        .agg(F.count(F.lit(1)).alias("__n"))
        .where(F.col("__n") > max_bucket)
        .select(*keys)
    )
    return bands.join(F.broadcast(hot), list(keys), "left_anti")


def lsh_cross_candidates(
    bands_left: DataFrame,
    bands_right: DataFrame,
    id_col: str = "doc_id",
    max_bucket: int | None = DEFAULT_MAX_BUCKET,
) -> DataFrame:
    """Cross-corpus LSH candidates: (left, right) pairs whose signatures
    collide in ANY band — the near-dup decontamination shape (train ×
    eval), where `lsh_candidate_pairs` is the within-corpus shape. The
    two sides are tagged, unioned, and grouped per bucket in ONE shuffle
    (each side's deep signature DAG is computed exactly once); pairs then
    explode map-side from the per-side arrays, so cost is O(co-bucketed
    l·r pairs), never |train| × |eval|. No a < b filter because the
    corpora are distinct id spaces.

    ``max_bucket`` caps COMBINED (left+right) bucket occupancy — a bucket
    with l left and r right members emits l·r pairs, so the cap bounds
    the cross product the same way it bounds the self-join square."""
    u = bands_left.select(
        F.col(id_col).alias("__id"), "band", "bh", F.lit("l").alias("__side")
    ).unionByName(
        bands_right.select(
            F.col(id_col).alias("__id"), "band", "bh", F.lit("r").alias("__side")
        )
    )
    g = drop_hot_buckets(u, max_bucket).groupBy("band", "bh").agg(
        F.collect_list(F.when(F.col("__side") == "l", F.col("__id"))).alias("__l"),
        F.collect_list(F.when(F.col("__side") == "r", F.col("__id"))).alias("__r"),
    )
    return (
        g.select(F.explode("__l").alias("left_id"), "__r")
        .select("left_id", F.explode("__r").alias("right_id"))
        .distinct()
    )


def cooccur_pair_counts(
    elements: DataFrame,
    id_col: str = "doc_id",
    el_col: str = "shingle",
) -> DataFrame:
    """(doc_a, doc_b, n_common) for every id pair sharing ≥1 element —
    the shared intersection-count core of :func:`jaccard_pairs`,
    :func:`containment_pairs` and the LSH tuning truth set.  Exact:
    unlike :func:`lsh_candidate_pairs`, nothing is dropped.

    Grouped-array formulation, not an element self-join (the
    :func:`lsh_candidate_pairs` idiom): ONE shuffle of the element rows
    on ``el_col`` (a self-join shuffles them twice and sort-merges),
    pairs explode map-side from the per-element member array, then one
    output-sized count aggregation.  Input elements must be distinct per
    (id, element) — both callers build them via ``array_distinct`` —
    so the per-pair row count IS the intersection size.

    HARD PRECONDITION: every element's member list is collected into ONE
    non-spilling aggregation buffer and its O(k²) pairs explode from ONE
    task — the caller must bound per-element membership (all in-repo
    callers feed sampled or corpus-bounded inputs; the LSH path bounds
    it with ``max_bucket``)."""
    g = elements.groupBy(el_col).agg(F.collect_list(id_col).alias("__ids"))
    rows = (
        g.select(F.explode("__ids").alias("doc_a"), "__ids")
        .select(
            "doc_a",
            F.explode(
                F.filter("__ids", lambda x: x > F.col("doc_a"))
            ).alias("doc_b"),
        )
    )
    return rows.groupBy("doc_a", "doc_b").agg(
        F.count(F.lit(1)).alias("n_common")
    )


def jaccard_pairs(shingles: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Exact shingle-set Jaccard for every pair sharing ≥1 shingle.

    O(pairs-with-overlap) not O(n²): co-occurrence grouping only
    materializes co-occurring pairs. Use on LSH candidates or samples at
    scale (:func:`cooccur_pair_counts`' membership precondition).
    """
    sizes = shingles.groupBy(id_col).agg(F.count(F.lit(1)).alias("sz"))
    inter = cooccur_pair_counts(shingles, id_col)
    sa = sizes.select(F.col(id_col).alias("doc_a"), F.col("sz").alias("sz_a"))
    sb = sizes.select(F.col(id_col).alias("doc_b"), F.col("sz").alias("sz_b"))
    return (
        inter.join(F.broadcast(sa), "doc_a")
        .join(F.broadcast(sb), "doc_b")
        .select(
            "doc_a",
            "doc_b",
            (
                F.col("n_common")
                / (F.col("sz_a") + F.col("sz_b") - F.col("n_common"))
            ).alias("jaccard"),
        )
    )


def containment_pairs(shingles: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Asymmetric shingle-set containment |A∩B| / |A| (and /|B|) for every
    pair sharing ≥1 shingle — the quote/subset detector Jaccard misses: a
    short doc wholly embedded in a long one has high containment but low
    Jaccard (Broder's two resemblance measures). Decontamination sweeps
    key on containment-in-eval, not Jaccard, so a benchmark question
    quoted inside a long training doc still trips the filter.

    Same O(pairs-with-overlap) shape as :func:`jaccard_pairs` (the
    shared :func:`cooccur_pair_counts` core); run on LSH candidates or
    samples at scale."""
    sizes = shingles.groupBy(id_col).agg(F.count(F.lit(1)).alias("sz"))
    inter = cooccur_pair_counts(shingles, id_col)
    sa = sizes.select(F.col(id_col).alias("doc_a"), F.col("sz").alias("sz_a"))
    sb = sizes.select(F.col(id_col).alias("doc_b"), F.col("sz").alias("sz_b"))
    return (
        inter.join(F.broadcast(sa), "doc_a")
        .join(F.broadcast(sb), "doc_b")
        .select(
            "doc_a",
            "doc_b",
            (F.col("n_common") / F.col("sz_a")).alias("containment_a"),
            (F.col("n_common") / F.col("sz_b")).alias("containment_b"),
        )
    )


def dup_ngram_coverage(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text", n: int = 3
) -> DataFrame:
    """Corpus-wide duplicated n-gram coverage per document — the
    sequence-level dedup diagnostic of Lee et al., "Deduplicating Training
    Data Makes Language Models Better" (arXiv:2107.06499): what fraction of
    a document's n-gram OCCURRENCES are n-grams that also appear in at
    least one OTHER document.  High coverage = the doc is mostly built from
    text repeated elsewhere (templates, mirrors, quotes) and is a removal /
    down-weight candidate even when no single pair-wise near-dup fires.

    Distinct from :func:`jaccard_pairs` (pair-wise) — this is a corpus
    aggregate and never materializes pairs, so it scales linearly:

      tokenize → explode n-grams            [1 row per occurrence]
      (doc, gram) → occurrence count        [shuffle on (doc, gram)]
      gram → document frequency             [shuffle on gram]
      join + per-doc rollup                 [shuffle on doc]

    The gram→df table is corpus-vocabulary-sized (too big to broadcast at
    100 TB) so the join is a plain shuffle hash join on ``gram``; every
    frame only ever shuffles on its natural key.  All counts are integers
    (exact under any partial-agg order); the fraction is one per-row
    division at the end.
    """
    tokd = docs.select(F.col(id_col), T.tokens(text_col).alias("__w"))
    grams = tokd.select(
        F.col(id_col),
        F.explode(T.shingles_from_tokens("__w", n)).alias("gram"),
    )
    # per feeds BOTH the df aggregation and the join side — persist or the
    # tokenize/explode lineage (the dominant cost) runs twice; released by
    # the ContextCleaner once the caller drops the (lazy) result.  The df
    # side is a map-side-combined aggregation + re-join, NOT a
    # `count() OVER (PARTITION BY gram)` window: a window colocates every
    # occurrence of a hot boilerplate gram in one unsplittable task,
    # while the join form partial-aggs and AQE skew-join can split the
    # skewed probe partition (8× probe measured the window super-linear).
    per = grams.groupBy(id_col, "gram").agg(F.count(F.lit(1)).alias("occ")).persist()
    dfs = per.groupBy("gram").agg(F.count(F.lit(1)).alias("df_docs"))
    return (
        per.join(dfs, "gram")
        .groupBy(id_col)
        .agg(
            F.sum("occ").alias("n_grams"),
            F.sum(F.when(F.col("df_docs") > 1, F.col("occ")).otherwise(F.lit(0))).alias(
                "dup_grams"
            ),
        )
        .select(
            id_col,
            "n_grams",
            "dup_grams",
            (F.col("dup_grams") / F.col("n_grams")).alias("dup_fraction"),
        )
    )


def prefix_filter_pairs(
    elements: DataFrame,
    threshold: float = 0.5,
    id_col: str = "doc_id",
    el_col: str = "shingle",
    max_bucket: int | None = DEFAULT_MAX_BUCKET,
) -> DataFrame:
    """Exact set-Jaccard join via PPJoin-style prefix filtering
    (Xiao et al., WWW'08) — the deterministic alternative to MinHash LSH:
    two sets with Jaccard ≥ t MUST share an element among each one's
    ``⌊|d|·(1−t)⌋+1`` globally-RAREST elements, so only those prefix
    elements generate candidates and the common-element explosion never
    happens.  Unlike LSH there are no false negatives from banding
    (completeness is a theorem, modulo the hot-bucket cap) and no
    signature tuning.

    Input is one row per distinct (id, element) — e.g. :func:`shingle_rows`
    output; element granularity decides selectivity (word 3-grams
    discriminate, bare tokens on a small vocabulary do not).

    Plan shape: per-doc prefix selection is a window over the doc's OWN
    elements ordered by global (df, element) — no global rank, no
    1-partition sort; candidates come from grouped prefix-element postings
    (the repo's map-side pair-explosion pattern) with the standard
    ``max_bucket`` boilerplate cap; verification joins the candidate pairs
    back to per-doc sorted element arrays and computes exact intersection
    map-side.

    Emits (doc_a, doc_b, n_inter, jaccard) for pairs with jaccard ≥ t.
    """
    # persist: toks feeds the df table, the prefix-ranking chain, and the
    # verify arrays. The cached blocks are NOT explicitly unpersisted (the
    # result is lazy — the cache must outlive this function); they are
    # released by the ContextCleaner when the caller drops the returned
    # frame (the persisted RDD is weakly referenced), and MEMORY_AND_DISK
    # eviction bounds the interim footprint.
    toks = elements.select(F.col(id_col), F.col(el_col).alias("tok")).persist()
    # document frequency as a map-side-combined aggregation + re-join, NOT
    # `count() OVER (PARTITION BY tok)`: a window colocates every row of a
    # hot boilerplate token in ONE unsplittable task (Zipfian corpora make
    # that task corpus-fraction-sized), while the join form partial-aggs
    # the counts and AQE skew-join can split the skewed probe partition.
    # The 8× scale probe measured the window form super-linear.
    dfs = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    wp = Window.partitionBy(id_col)
    wr = wp.orderBy("df", "tok")
    ranked = (
        toks.join(dfs, "tok")
        .withColumn("sz", F.count(F.lit(1)).over(wp))
        .withColumn("rn", F.row_number().over(wr))
    )
    # prefix length |d| − ⌈t·|d|⌉ + 1 (Xiao et al. §3.1), computed
    # integer-safe: the naive ⌊|d|·(1−t)⌋+1 loses an ulp when |d|·(1−t)
    # is mathematically integral but (1−t) is inexact in binary (t=0.9,
    # |d|=20 → 1.9999…e0 → floor 1, one prefix element short — a real
    # false-negative hole in the completeness theorem). ceil(t·sz − ε)
    # with ε=1e-9 restores the exact integer ⌈t·|d|⌉ for every |d| ≤ 10^6.
    prefix = ranked.where(
        F.col("rn")
        <= F.col("sz") - F.ceil(F.col("sz") * F.lit(threshold) - F.lit(1e-9)) + 1
    )
    # cap BEFORE collect_list (via drop_hot_buckets) so a boilerplate prefix
    # element never materializes its mega-bucket array in an agg buffer
    postings = drop_hot_buckets(prefix, max_bucket, keys=("tok",)).groupBy("tok").agg(
        F.collect_list(id_col).alias("ids")
    )
    cand = (
        postings.select(
            F.explode(
                F.expr(
                    "flatten(transform(ids, a -> transform("
                    "filter(ids, b -> b > a), b -> struct(a AS doc_a, b AS doc_b))))"
                )
            ).alias("p")
        )
        .select("p.doc_a", "p.doc_b")
        .distinct()
    )
    arrs = toks.groupBy(id_col).agg(
        F.sort_array(F.collect_list("tok")).alias("ts"),
        F.count(F.lit(1)).alias("sz"),
    )
    aa = arrs.select(
        F.col(id_col).alias("doc_a"), F.col("ts").alias("ts_a"), F.col("sz").alias("sz_a")
    )
    bb = arrs.select(
        F.col(id_col).alias("doc_b"), F.col("ts").alias("ts_b"), F.col("sz").alias("sz_b")
    )
    verified = (
        cand.join(aa, "doc_a")
        .join(bb, "doc_b")
        .withColumn("n_inter", F.size(F.array_intersect("ts_a", "ts_b")).cast("long"))
        .withColumn(
            "jaccard",
            F.col("n_inter")
            / (F.col("sz_a") + F.col("sz_b") - F.col("n_inter")),
        )
        .where(F.col("jaccard") >= threshold)
    )
    return verified.select("doc_a", "doc_b", "n_inter", "jaccard")


def group_shingle_overlap(
    docs: DataFrame,
    group_col: str = "source",
    text_col: str = "text",
    n: int = 3,
) -> DataFrame:
    """Cross-source contamination matrix: shingle-set Jaccard + asymmetric
    containment for every pair of corpus groups (sources, snapshots,
    languages…).  This is the source-level rollup of the doc-level
    detectors — the curation dashboard that answers "which feeds mirror
    each other?" before any per-doc dedup work is scheduled.

    Scale shape: the heavy frame is distinct (group, shingle) — linear in
    corpus size, shuffled on its natural key.  The self-join on ``shingle``
    emits at most C(#groups, 2) pairs per shingle, so the pair space is
    bounded by the GROUP count (tens), never the corpus; per-group sizes
    broadcast by the same argument.
    """
    tokd = docs.select(F.col(group_col).alias("grp"), T.tokens(text_col).alias("__w"))
    sh = (
        tokd.select(
            "grp",
            F.explode(F.array_distinct(T.shingles_from_tokens("__w", n))).alias(
                "shingle"
            ),
        )
        .distinct()
        # feeds sizes + both self-join sides; released by the
        # ContextCleaner once the caller drops the result (lazy result ⇒
        # no explicit unpersist here), MEMORY_AND_DISK-evictable meanwhile
        .persist()
    )
    sizes = sh.groupBy("grp").agg(F.count(F.lit(1)).alias("sz"))
    a, b = sh.alias("a"), sh.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.grp") < F.col("b.grp")),
        )
        .groupBy(F.col("a.grp").alias("grp_a"), F.col("b.grp").alias("grp_b"))
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    sa = sizes.select(F.col("grp").alias("grp_a"), F.col("sz").alias("sz_a"))
    sb = sizes.select(F.col("grp").alias("grp_b"), F.col("sz").alias("sz_b"))
    return (
        inter.join(F.broadcast(sa), "grp_a")
        .join(F.broadcast(sb), "grp_b")
        .select(
            F.col("grp_a").alias(f"{group_col}_a"),
            F.col("grp_b").alias(f"{group_col}_b"),
            "n_common",
            (
                F.col("n_common")
                / (F.col("sz_a") + F.col("sz_b") - F.col("n_common"))
            ).alias("jaccard"),
            (F.col("n_common") / F.col("sz_a")).alias("containment_a"),
            (F.col("n_common") / F.col("sz_b")).alias("containment_b"),
        )
    )


def _warn_unconverged(algo: str, max_iter: int, stacklevel: int) -> None:
    """Loud exit when a CC loop runs out of rounds before the fixpoint:
    an unconverged large-star edge set can yield centers that are NOT
    component minima (wrong cluster ids), and unconverged min-label
    output is only partially-propagated mins — neither may masquerade
    as a clean result.  ``stacklevel`` must point at USER code: 3 from
    the min-label loop (user → connected_components → here), 4 from
    the two-phase loop (one extra dispatch frame)."""
    import warnings

    warnings.warn(
        f"connected_components[{algo}] exited after max_iter={max_iter} "
        "rounds WITHOUT converging; cluster ids may be wrong (large_star) "
        "or only partially propagated (min_label). Raise max_iter.",
        RuntimeWarning,
        stacklevel=stacklevel,
    )


def connected_components(
    pairs: DataFrame,
    nodes: DataFrame,
    id_col: str = "doc_id",
    a_col: str = "doc_a",
    b_col: str = "doc_b",
    max_iter: int = 25,
    mode: str = "min_label",
) -> DataFrame:
    """Connected components over near-dup candidate pairs: every doc gets the
    MIN doc id of its component as `cluster_id` (the canonical representative
    — the last step of corpus dedup: keep one doc per cluster).

    Min-label propagation: each round every node takes the min label across
    itself and its neighbors (join + groupBy = one shuffle round), until a
    fixpoint — O(component diameter) rounds. Near-dup graphs are
    overwhelmingly tiny star/clique components, so this converges in 2-3
    rounds; for adversarially chain-shaped graphs at extreme scale, swap in
    the large-star/small-star algorithm (Kiveris et al., "Connected
    Components in MapReduce and Beyond") which converges in O(log n) rounds.
    The fixpoint is unique (min id reachable), so results are deterministic
    regardless of round count. Driver-side loop is coordination only — all
    data movement stays in shuffles.

    Lineage: the edge set and each round's labels are materialized with
    ``localCheckpoint`` — pairs usually arrive at the end of a deep
    LSH/minhash DAG, and without truncation every round re-analyzes the
    whole upstream plan (round-1 measurement: 851 exchanges in the final
    plan, 10-17 s with high variance at sf0.1; checkpointed rounds are flat
    scans). Superseded round references are dropped so the ContextCleaner
    reclaims their blocks. On clusters with preemptible executors, prefer
    ``spark.sparkContext.setCheckpointDir`` + reliable ``checkpoint`` —
    localCheckpoint trades fault tolerance for speed.

    Fixpoint detection: labels decrease monotonically, so for numeric ids an
    unchanged sum(label) IS the fixpoint (one tiny agg per round). For
    non-numeric ids sum() is NULL — that would false-converge after one
    round — so those use an exact changed-row count instead.

    ``mode="large_star"`` swaps in the alternating large-star/small-star
    algorithm (Kiveris et al., "Connected Components in MapReduce and
    Beyond", SOCC'14) — O(log n) rounds on ANY graph shape, including the
    adversarial chain graphs where min-label needs O(diameter) rounds.
    Each round is two groupBy+join passes over the edge set (vs one for
    min-label), so the default stays min-label for the near-dup workload
    (star/clique components, 2-3 rounds); switch for graphs with long
    paths (citation chains, session graphs, transitive link closures).
    Same unique fixpoint — every node labeled with its component min —
    verified equal property-wise in tests/test_operators.py.
    """
    from pyspark.sql.types import NumericType

    # canonicalize to half-size (lo, hi) pairs BEFORE materializing: one
    # distinct over the small canonical frame, and the bidirectional form
    # is rebuilt by a cheap union over the SHALLOW materialized scan —
    # materializing the pre-built bidirectional set instead would double
    # the checkpoint volume and need a second distinct after the
    # union (input orientation is caller-controlled, so dupes of both
    # orientations must collapse either way)
    canon = pairs.select(
        F.least(F.col(a_col), F.col(b_col)).alias("lo"),
        F.greatest(F.col(a_col), F.col(b_col)).alias("hi"),
    ).distinct().localCheckpoint()
    edges = canon.select(
        F.col("lo").alias("src"), F.col("hi").alias("dst")
    ).unionByName(canon.select(F.col("hi").alias("src"), F.col("lo").alias("dst")))
    if mode == "large_star":
        return _cc_two_phase(edges, nodes, id_col, max_iter)
    if mode != "min_label":
        raise ValueError(f"unknown cc mode {mode!r}: use 'min_label' or 'large_star'")
    # Seed labels with min(self, min neighbor) — the first propagation
    # round done as one cheap groupBy over the (already checkpointed,
    # hence SHALLOW) edge scan + a join against nodes, instead of a full
    # edge⋈labels round. Star components are then correct at round
    # 0, so the loop only has to CONFIRM convergence. (Round-1 NOTES
    # warned against seeding from edges — that was before the edge set was
    # materialized first; the deep-lineage hazard is gone.)
    mn = edges.groupBy("src").agg(F.min("dst").alias("__mn"))
    labels = (
        nodes.select(F.col(id_col).alias("node"))
        .join(mn, F.col("node") == F.col("src"), "left")
        .select(
            "node",
            F.least(
                F.col("node"), F.coalesce(F.col("__mn"), F.col("node"))
            ).alias("label"),
        )
        .localCheckpoint(eager=False)
    )
    numeric_ids = isinstance(labels.schema["label"].dataType, NumericType)
    # lazy checkpoints throughout: the convergence probe right after each
    # round IS the materializing action, so every round costs ONE job
    # (eager localCheckpoint + separate probe was two; measured ~35% of
    # q_dedup_cluster's CC phase at sf0.1)
    prev_sum = (
        labels.agg(F.sum("label")).collect()[0][0] if numeric_ids else None
    )
    for _ in range(max_iter):
        prop = edges.join(labels, edges["src"] == labels["node"]).select(
            edges["dst"].alias("node"), labels["label"].alias("label")
        )
        new_labels = (
            labels.unionByName(prop)
            .groupBy("node")
            .agg(F.min("label").alias("label"))
            .localCheckpoint(eager=False)
        )
        if numeric_ids:
            cur_sum = new_labels.agg(F.sum("label")).collect()[0][0]
            converged = cur_sum == prev_sum
            prev_sum = cur_sum
        else:
            converged = (
                new_labels.alias("n")
                .join(labels.alias("o"), "node")
                .where(F.col("n.label") != F.col("o.label"))
                .isEmpty()
            )
        labels = new_labels
        if converged:
            break
    else:
        _warn_unconverged("min_label", max_iter, stacklevel=3)
    return labels.select(
        F.col("node").alias(id_col), F.col("label").alias("cluster_id")
    )


def _cc_two_phase(
    edges: DataFrame, nodes: DataFrame, id_col: str, max_iter: int
) -> DataFrame:
    """Alternating large-star / small-star rounds (Kiveris et al., SOCC'14)
    over the BIDIRECTIONAL distinct edge set built by
    :func:`connected_components`.  Invariant: the working edge set ``E``
    is oriented (u, v) with u > v, one row per undirected edge.

      large-star: per node u with m = min(Γ(u) ∪ {u}), re-link every
        LARGER neighbor w > u directly to m — halves the depth of tall
        trees in one round;
      small-star: per node u (over its smaller neighbors Γ⁻), re-link
        them and u itself to m = min(Γ⁻(u)) — flattens the short spokes.

    Both passes are one groupBy + one join on the node key (natural-key
    shuffles, partial-agg min).  The edge set only ever shrinks toward the
    star set {(member, component-min)}, reached in O(log n) rounds on any
    shape.  Fixpoint detection is EXACT (count match + empty set
    difference — no hash-sum shortcut: a collision would silently emit
    wrong clusters).  Labels: members take their star center, roots and
    isolated nodes take themselves.
    """
    # lazy checkpoints: the count probe right after each round IS the
    # materializing action (same one-job-per-round trick as min_label)
    E = (
        edges.where(F.col("src") > F.col("dst"))
        .select(F.col("src").alias("u"), F.col("dst").alias("v"))
        .localCheckpoint(eager=False)
    )
    prev_n = E.count()  # materializes E; reused as last round's count
    for _ in range(max_iter):
        und = E.unionByName(
            E.select(F.col("v").alias("u"), F.col("u").alias("v"))
        )
        mins = und.groupBy("u").agg(
            F.least(F.min("v"), F.first("u")).alias("m")
        )
        ls = (
            und.join(mins, "u")
            .where(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .distinct()
        )
        mins2 = ls.groupBy("u").agg(F.min("v").alias("m"))
        nbr = (
            ls.join(mins2, "u")
            .where(F.col("v") != F.col("m"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
        )
        new_e = (
            nbr.unionByName(mins2.select("u", F.col("m").alias("v")))
            .distinct()
            .localCheckpoint(eager=False)
        )
        new_n = new_e.count()  # materializes the lazy checkpoint
        converged = new_n == prev_n and new_e.exceptAll(E).isEmpty()
        prev_n = new_n
        E = new_e
        if converged:
            break
    else:
        _warn_unconverged("large_star", max_iter, stacklevel=4)
    centers = E.groupBy("u").agg(F.min("v").alias("__lbl"))
    return (
        nodes.select(F.col(id_col))
        .join(centers.withColumnRenamed("u", id_col), id_col, "left")
        .select(
            id_col,
            F.coalesce("__lbl", F.col(id_col)).alias("cluster_id"),
        )
    )


SIMHASH_BITS = 64
SIMHASH_BANDS = 4
SIMHASH_BAND_BITS = SIMHASH_BITS // SIMHASH_BANDS  # 16
_HEX = "0123456789abcdef"
# bit 63 can't enter a BIGINT as the literal 2^63 — set it as the two's-
# complement sign value instead (engine-portable: no unsigned types needed)
_SIGN64 = "(-9223372036854775807 - 1)"


def _simhash_value_expr() -> str:
    """Fingerprint assembly from the 64 vote signs. Bits 0..62 are plain
    powers of two; bit 63 is added as the sign value. Left-to-right partial
    sums stay within BIGINT (any subset of 2^0..2^62 sums < 2^63), so the
    expression is overflow-safe in both Spark (wrapping) and DuckDB
    (checked) — and identical in both."""
    terms = [
        f"(CASE WHEN s{j} >= 0 THEN {1 << j} ELSE 0 END)"
        for j in range(SIMHASH_BITS - 1)
    ]
    terms.append(f"(CASE WHEN s{SIMHASH_BITS - 1} >= 0 THEN {_SIGN64} ELSE 0 END)")
    return " + ".join(terms)


def simhash(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """64-bit SimHash over the distinct-token set of each document (Manku,
    Jain & Sarma, "Detecting Near-Duplicates for Web Crawling", WWW'07).

    bit_j(md5(token)) votes +1/-1; the sign of the vote sum sets bit j of
    the fingerprint (bit 63 lands on the BIGINT sign bit — XOR/bit_count
    are two's-complement-transparent, so Hamming distance is unaffected).
    Near-dup docs differ in few bits. One md5 per distinct token supplies
    all 64 bits (the first 16 hex chars); the 64 vote sums are one
    partial-aggregatable groupBy — linear in corpus token count, no
    shuffle beyond the per-doc agg."""
    tok = docs.select(
        F.col(id_col), F.explode(F.array_distinct(T.tokens(text_col))).alias("tok")
    ).withColumn("h", F.md5("tok"))
    vote_aggs = []
    for j in range(SIMHASH_BITS):
        pos, shift = j // 4 + 1, j % 4
        bit = f"(shiftright(instr('{_HEX}', substr(h, {pos}, 1)) - 1, {shift}) & 1)"
        vote_aggs.append(
            F.sum(F.expr(f"CASE WHEN {bit} = 1 THEN 1 ELSE -1 END")).alias(f"s{j}")
        )
    votes = tok.groupBy(id_col).agg(*vote_aggs)
    return votes.select(
        F.col(id_col),
        F.expr(f"CAST({_simhash_value_expr()} AS BIGINT)").alias("simhash"),
    )


def simhash_sql_cte(id_col: str = "doc_id") -> str:
    """DuckDB twin of :func:`simhash` (votes + sign bits), as CTE text."""
    votes = ",\n        ".join(
        f"sum(CASE WHEN ((strpos('{_HEX}', substr(h, {j // 4 + 1}, 1)) - 1) >> {j % 4}) & 1 = 1"
        f" THEN 1 ELSE -1 END) AS s{j}"
        for j in range(SIMHASH_BITS)
    )
    return f"""
simtok AS (
    SELECT {id_col}, md5(unnest(list_distinct(
        list_filter(string_split_regex(text, '\\s+'), t -> t <> '')))) AS h
    FROM corpus
),
simvotes AS (
    SELECT {id_col},
        {votes}
    FROM simtok
    GROUP BY {id_col}
),
simhashes AS (
    SELECT {id_col}, CAST({_simhash_value_expr()} AS BIGINT) AS simhash
    FROM simvotes
)
"""


def simhash_bands(hashes: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Explode a 64-bit fingerprint into 4 × 16-bit band keys: one row per
    (doc, band, bkey). Hamming distance ≤ 3 forces ≥ 1 of the 4 bands to
    match EXACTLY (pigeonhole), so near-pair detection becomes an equi-join
    on (band, bkey) — the Manku et al. formulation that replaces the
    O(n²/buckets) prefix-bucket self-join with 4 shuffle-friendly band
    joins over 2^16 keys each. The `& 65535` mask also strips the
    sign-extension of the arithmetic shift on band 3."""
    structs = [
        F.struct(
            F.lit(b).alias("band"),
            F.expr(
                f"CAST(shiftright(simhash, {SIMHASH_BAND_BITS * b}) & 65535 AS INT)"
            ).alias("bkey"),
        )
        for b in range(SIMHASH_BANDS)
    ]
    return hashes.select(
        F.col(id_col), F.col("simhash"), F.explode(F.array(*structs)).alias("x")
    ).select(id_col, "simhash", F.col("x.band").alias("band"), F.col("x.bkey").alias("bkey"))


def simhash_near_pairs(
    hashes: DataFrame,
    id_col: str = "doc_id",
    max_hamming: int = 3,
    max_bucket: int | None = DEFAULT_MAX_BUCKET,
) -> DataFrame:
    """Near-dup pairs by 64-bit SimHash, banded 4 × 16 bits (Manku et al.):
    candidates are pairs agreeing exactly on ≥ 1 band (a plain equi-join on
    (band, bkey)), then the cheap ``bit_count(a ^ b)`` Hamming filter keeps
    pairs ≤ ``max_hamming``. The pigeonhole recall guarantee (every
    Hamming-≤3 pair shares a band) requires ``max_hamming < SIMHASH_BANDS``.

    ``max_bucket`` is the hot-bucket cap: a band bucket holding more than
    this many docs contributes O(|bucket|²) candidate rows — on a web-scale
    corpus a boilerplate-dominated bucket turns the join quadratic. Buckets
    above the cap are DROPPED (they are boilerplate by definition — the
    upstream `q_boilerplate` signal identifies the same mass); a true
    near-pair lost with them is still found through any of its other 3
    bands that hash into sane buckets. ``None`` disables the cap.
    """
    if max_hamming >= SIMHASH_BANDS:
        raise ValueError(
            f"max_hamming={max_hamming} breaks the {SIMHASH_BANDS}-band "
            "pigeonhole recall guarantee (needs max_hamming < bands)"
        )
    bands = drop_hot_buckets(
        simhash_bands(hashes, id_col), max_bucket, keys=("band", "bkey")
    )
    g = bands.groupBy("band", "bkey").agg(
        F.collect_list(
            F.struct(F.col(id_col).alias("id"), F.col("simhash"))
        ).alias("__m")
    )
    return (
        g.select(F.explode("__m").alias("a"), "__m")
        .select(
            "a",
            F.explode(
                F.filter("__m", lambda x: x["id"] > F.col("a.id"))
            ).alias("b"),
        )
        .select(
            F.col("a.id").alias("doc_a"),
            F.col("b.id").alias("doc_b"),
            F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash")))
            .cast("int")
            .alias("hamming"),
        )
        .where(F.col("hamming") <= max_hamming)
        .distinct()
    )


# --- incremental ingest dedup ----------------------------------------------

def signature_records(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 8,
) -> DataFrame:
    """Per-doc signature record for the persisted near-dup store:
    (id, content_hash, h0..h{n-1}).

    `content_hash` is the exact-dup key; the MinHash columns are the
    near-dup key. Docs too short to shingle (< n tokens) keep NULL hash
    columns — they participate in exact dedup only, never in band joins
    (NULL band hashes are filtered before candidate generation).  This is
    the row a daily ingest PERSISTS per document: history's text is never
    rescanned, only its kilobyte-scale signatures are.

    ONE pass, ONE shuffle: `content_hash` rides the shingle explode
    (computed once per doc in the projection, partial-aggregated
    map-side) into the same per-doc aggregation as the min-hashes —
    `explode_outer` keeps shingle-less docs as a NULL-shingle row whose
    md5(NULL)=NULL min yields the same NULL hash columns the old
    doc-grain LEFT JOIN produced, so the join (a second scan of the
    batch plus a doc-grain shuffle) is gone (round-13 optimization:
    ~0.3-0.5 s per ingest generation at sf0.1, one Exchange removed)."""
    tokd = docs.select(
        F.col(id_col),
        F.md5(F.col(text_col)).alias("content_hash"),
        T.tokens(text_col).alias("__w"),
    )
    sh = tokd.select(
        F.col(id_col),
        "content_hash",
        F.explode_outer(
            F.array_distinct(T.shingles_from_tokens("__w", 3))
        ).alias("shingle"),
    )
    aggs = [F.first("content_hash").alias("content_hash")]
    for i in range(num_hashes):
        k, slot = divmod(i, 4)
        digest = F.md5(F.concat(F.col("shingle"), F.lit(f"#{k}")))
        aggs.append(F.min(F.substring(digest, slot * 8 + 1, 8)).alias(f"h{i}"))
    return sh.groupBy(id_col).agg(*aggs)


def incremental_neardup(
    batch: DataFrame,
    store: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 8,
    max_bucket: int | None = DEFAULT_MAX_BUCKET,
) -> tuple[DataFrame, DataFrame]:
    """Dedup a NEW ingest batch against a persisted signature store without
    rescanning history — the composition a daily 100 TB ingest actually
    runs (the reference's MERGE-idempotent ingest, `dags/
    etl_spark_historical.py:349-380`, lifted to near-dup semantics):

    1. exact leg: batch content-hash anti/semi-join vs the store's
       `content_hash` column (no text comparison ever touches history);
    2. near leg: batch MinHash band signatures equi-join the STORE's band
       signatures (`lsh_cross_candidates` — combined hot-bucket cap, cost
       = co-bucketed pairs, never |batch| × |history|);
    3. merge leg: accepted ("new") docs' signature records merge into the
       store insert-only (`merge.merge_insert_only` on the id key) — the
       returned store is the next generation's input.

    Returns ``(report, merged_store)``: `report` has one row per batch
    doc — (id, content_hash, is_exact_dup, n_near_store, decision) with
    decision ∈ {'exact_dup', 'near_dup', 'new'} (exact wins ties) — and
    `merged_store` is the store plus accepted signatures.  Re-ingesting
    the same batch is idempotent: every doc reports exact_dup and the
    store is unchanged (pytest-pinned).

    Within-batch duplicates are NOT collapsed here — compose
    :func:`dedup_exact`/`lsh_candidate_pairs` over the batch first; this
    operator only decides batch-vs-history."""
    from .merge import merge_insert_only

    report, brec, scache = _incremental_report(
        batch, store, id_col, text_col, num_hashes, max_bucket
    )
    # Materialize the decide step while the two heavy inputs are cached,
    # then release them EAGERLY — repeated ingests in one session must
    # not accumulate store-snapshot caches (they are |store|-sized; the
    # report cache kept below is one small row per batch doc).  `merged`
    # recomputes its join from the uncached lineage when consumed —
    # correctness-neutral, and the next generation's call re-persists
    # its own snapshot anyway.
    report = report.persist()
    report.count()
    brec.unpersist()
    scache.unpersist()
    accepted = report.where(F.col("decision") == "new").select(id_col)
    merged = merge_insert_only(
        store, brec.join(accepted, id_col), key=[id_col]
    )
    return report, merged


def _incremental_report(
    batch: DataFrame,
    store: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int,
    max_bucket: int | None,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """The decide-only core of :func:`incremental_neardup`: returns
    (report, batch signature records, persisted store copy) without merging — so the lake-table
    composition (:func:`neardup_store_ingest`) can APPEND just the
    accepted records instead of rewriting the whole store image.

    Both legs consume the batch signatures and the store snapshot twice
    (exact + near), so each is persisted here.  The store is persisted
    through a LOCAL projection (``select("*")`` is a distinct analyzed
    plan) so the CALLER's frame keeps its own cache state untouched.
    Cache ownership: BOTH public callers release the two heavy caches
    eagerly after their first action (:func:`incremental_neardup` after
    materializing the report, :func:`neardup_store_ingest` after its
    append commit) — repeated ingests in one session never accumulate
    store-snapshot caches."""
    brec = signature_records(batch, id_col, text_col, num_hashes).persist()
    store = store.select("*").persist()
    # NULL band hashes (shingle-less docs) must not form a join bucket:
    # groupBy treats NULLs as equal, so an unfiltered NULL bucket would
    # pair every short doc with every other
    sbands = lsh_bands(store, id_col, num_hashes).where(
        F.col("bh").isNotNull()
    )
    bbands = lsh_bands(brec, id_col, num_hashes).where(
        F.col("bh").isNotNull()
    )
    near = (
        lsh_cross_candidates(sbands, bbands, id_col=id_col, max_bucket=max_bucket)
        .groupBy(F.col("right_id").alias(id_col))
        .agg(F.count(F.lit(1)).cast("long").alias("n_near_store"))
    )
    known = (
        store.select("content_hash").distinct().withColumn("__ex", F.lit(1))
    )
    report = (
        brec.join(known, "content_hash", "left")
        .join(near, id_col, "left")
        .select(
            F.col(id_col),
            "content_hash",
            F.when(F.col("__ex").isNotNull(), 1)
            .otherwise(0)
            .cast("int")
            .alias("is_exact_dup"),
            F.coalesce("n_near_store", F.lit(0))
            .cast("long")
            .alias("n_near_store"),
            F.when(F.col("__ex").isNotNull(), "exact_dup")
            .when(F.col("n_near_store") > 0, "near_dup")
            .otherwise("new")
            .alias("decision"),
        )
    )
    return report, brec, store


def neardup_store_ingest(
    spark,
    path: str,
    batch: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 8,
    max_bucket: int | None = DEFAULT_MAX_BUCKET,
) -> tuple[DataFrame, int]:
    """The LAKE-TABLE generation of :func:`incremental_neardup`: the
    signature store lives as a versioned :class:`~..sources.manifest.
    ManifestTable` at ``path``.  The FIRST ingest initializes the store
    with the batch's own signatures (every doc reports 'new'); each later
    ingest dedups the batch against the CURRENT committed snapshot and
    APPENDS only the accepted docs' signature records — an append-only
    commit (never a store rewrite), safe under the manifest's
    optimistic-commit protocol, and the relational anti-join inside the
    decide step is what keeps the append insert-only.  Returns
    ``(report, committed_version)``.  Re-ingesting a batch appends an
    empty record set (every doc reports exact_dup) — idempotent by
    content.  This is the production shape: a daily 100 TB ingest reads
    kilobyte-scale signatures of history, never history's text, and
    grows the store by exactly the accepted delta."""
    from ..sources.manifest import ManifestTable

    tbl = ManifestTable(path)
    if tbl.latest_version() < 0:
        brec = signature_records(batch, id_col, text_col, num_hashes)
        ver = tbl.append(brec)
        report = brec.select(
            F.col(id_col),
            "content_hash",
            F.lit(0).cast("int").alias("is_exact_dup"),
            F.lit(0).cast("long").alias("n_near_store"),
            F.lit("new").alias("decision"),
        )
        return report, ver
    store = tbl.read(spark)
    report, brec, scache = _incremental_report(
        batch, store, id_col, text_col, num_hashes, max_bucket
    )
    # Persist the report BEFORE the append action: the append's lineage
    # runs through `accepted` (a filter of report), so the commit scan
    # populates the report cache, and brec/store can then be released
    # without making the returned report recompute its joins.
    report = report.persist()
    accepted = report.where(F.col("decision") == "new").select(id_col)
    ver = tbl.append(brec.join(accepted, id_col))
    brec.unpersist()
    scache.unpersist()
    return report, ver


# ---------------------------------------------------------------------------
# Bucketed signature-store layout — the 100 TB generation of the store.
# ---------------------------------------------------------------------------

def bucketed_store_tables(name: str) -> tuple[str, str]:
    """Catalog table names of a bucketed signature store: the doc-grain
    signature table (exact leg) and the band-grain LSH table (near leg)."""
    return f"{name}_sigs", f"{name}_bands"


def bucketed_store_ingest(
    spark,
    name: str,
    batch: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 8,
    max_bucket: int | None = DEFAULT_MAX_BUCKET,
    buckets: int = 8,
) -> DataFrame:
    """The BUCKETED-LAYOUT generation of :func:`neardup_store_ingest` —
    the round-12 store-axis probe's recommendation made real: persist the
    store pre-partitioned on its JOIN KEYS so a daily ingest shuffles
    ONLY the batch side, never history.

    Layout (two catalog tables, created on first ingest):

    - ``{name}_sigs``  — doc-grain ``(id, content_hash, h0..h{n-1})``,
      ``CLUSTERED BY (content_hash) INTO {buckets} BUCKETS``: the exact
      leg's ``DISTINCT content_hash`` and its batch join are both
      exchange-free on the store side;
    - ``{name}_bands`` — band-grain ``(id, band, bh)`` (NULL-bh rows
      excluded at write), ``CLUSTERED BY (band, bh)``: the near leg's
      band equi-join AND the hot-bucket occupancy count read the store's
      bucketing instead of shuffling it.

    Every ingest therefore plans zero store-side Exchange: the store
    scans report ``HashPartitioning`` from the bucket metadata, the
    batch side exchanges into the store's {buckets} partitions, and the
    only remaining shuffles are output-sized (candidate-pair distinct).
    Appends preserve the layout — each accepted delta writes its own
    per-bucket files (append-only, no rewrite), which is exactly the
    "free at write time" property the manifest store's probe documented;
    fold the accumulating small files with
    :func:`bucketed_store_compact`.  Spark's bucket metadata lives in
    the catalog, so this generation trades the ManifestTable's
    time-travel for partitioning awareness — a lake format with both
    (Delta/Iceberg) is the production synthesis; this container has
    neither, so the two properties are demonstrated by the two
    generations separately (same decide semantics, same oracle family).

    Decision semantics are IDENTICAL to :func:`incremental_neardup`
    (exact leg wins ties, combined-occupancy hot-bucket cap, 'new' docs
    appended).  First ingest initializes both tables and reports every
    doc 'new'.  Returns the per-doc decision report, MATERIALIZED (the
    append commit consumed it; the two heavy caches are already
    released)."""
    sig_t, band_t = bucketed_store_tables(name)
    brec = signature_records(batch, id_col, text_col, num_hashes).persist()
    bbands = lsh_bands(brec, id_col, num_hashes).where(F.col("bh").isNotNull())

    def _write(df: DataFrame, table: str, keys: list[str], mode: str) -> None:
        # Align task partitioning with the bucket spec first: bucketBy
        # writes one file per (task, bucket), so an unaligned 32-task
        # frame would emit 32×buckets fragments per ingest — aligned,
        # each ingest adds exactly one file per bucket.
        (
            df.repartition(buckets, *[F.col(k) for k in keys])
            .write.mode(mode)
            .format("parquet")
            .bucketBy(buckets, *keys)
            .sortBy(*keys)
            .saveAsTable(table)
        )

    if not spark.catalog.tableExists(sig_t):
        _write(brec, sig_t, ["content_hash"], "overwrite")
        _write(bbands, band_t, ["band", "bh"], "overwrite")
        report = brec.select(
            F.col(id_col),
            "content_hash",
            F.lit(0).cast("int").alias("is_exact_dup"),
            F.lit(0).cast("long").alias("n_near_store"),
            F.lit("new").alias("decision"),
        ).persist()
        report.count()
        brec.unpersist()
        return report

    sigs = spark.table(sig_t)
    sbands = spark.table(band_t)
    # Combined (store + batch) bucket occupancy, the lsh_cross_candidates
    # cap semantics: the store-side count aggregates WITHOUT an Exchange
    # (groupBy on the bucket keys of a bucketed scan); the hot set is
    # rare by construction and broadcasts into both anti-joins.
    scnt = sbands.groupBy("band", "bh").agg(F.count(F.lit(1)).alias("__sn"))
    bcnt = bbands.groupBy("band", "bh").agg(F.count(F.lit(1)).alias("__bn"))
    hot = (
        scnt.join(bcnt, ["band", "bh"], "full_outer")
        .where(
            F.coalesce("__sn", F.lit(0)) + F.coalesce("__bn", F.lit(0))
            > F.lit(max_bucket if max_bucket is not None else (1 << 62))
        )
        .select("band", "bh")
    )
    skept = sbands.join(F.broadcast(hot), ["band", "bh"], "left_anti")
    bkept = bbands.join(F.broadcast(hot), ["band", "bh"], "left_anti")
    near = (
        skept.select(F.col(id_col).alias("__sid"), "band", "bh")
        .join(
            bkept.select(F.col(id_col).alias("__bid"), "band", "bh"),
            ["band", "bh"],
        )
        .select("__bid", "__sid")
        .distinct()
        .groupBy(F.col("__bid").alias(id_col))
        .agg(F.count(F.lit(1)).cast("long").alias("n_near_store"))
    )
    known = (
        sigs.select("content_hash").distinct().withColumn("__ex", F.lit(1))
    )
    report = (
        brec.join(known, "content_hash", "left")
        .join(near, id_col, "left")
        .select(
            F.col(id_col),
            "content_hash",
            F.when(F.col("__ex").isNotNull(), 1)
            .otherwise(0)
            .cast("int")
            .alias("is_exact_dup"),
            F.coalesce("n_near_store", F.lit(0))
            .cast("long")
            .alias("n_near_store"),
            F.when(F.col("__ex").isNotNull(), "exact_dup")
            .when(F.col("n_near_store") > 0, "near_dup")
            .otherwise("new")
            .alias("decision"),
        )
    )
    # Materialize the decisions WITH LINEAGE CUT before the appends
    # mutate the store tables: persist() is not enough — saveAsTable's
    # append refreshes the catalog table and INVALIDATES every dependent
    # cache, so a cached-but-lineage-bearing report would recompute
    # against a store that now contains the batch's own rows and judge
    # every doc an exact dup of itself.  localCheckpoint severs the
    # plan from spark.table() entirely (eager by default).
    report = report.localCheckpoint()
    accepted = report.where(F.col("decision") == "new").select(id_col)
    _write(brec.join(accepted, id_col), sig_t, ["content_hash"], "append")
    _write(
        bbands.join(accepted, id_col), band_t, ["band", "bh"], "append"
    )
    brec.unpersist()
    return report


def bucketed_store_compact(
    spark, name: str, buckets: int = 8
) -> dict[str, tuple[int, int]]:
    """Fold a bucketed store's accumulated per-ingest small files: each
    daily append writes its own per-bucket files, so after N ingests a
    bucket holds N fragments.  Compaction rewrites each table ONCE with
    the SAME bucket spec (content is append-only signatures — a pure
    rewrite, no merge logic) through a staging table + catalog rename,
    so a reader never observes a half-compacted store.  Returns
    ``{table: (files_before, files_after)}``."""
    out: dict[str, tuple[int, int]] = {}
    for table, keys in (
        (bucketed_store_tables(name)[0], ["content_hash"]),
        (bucketed_store_tables(name)[1], ["band", "bh"]),
    ):
        files = spark.table(table).inputFiles()
        before = len(files)
        staged = f"{table}__compacting"
        spark.sql(f"DROP TABLE IF EXISTS {staged}")
        # Read the RAW files, not the catalog table: a bucketed scan
        # reports HashPartitioning, which lets Catalyst elide the
        # realignment shuffle — the write would then emit one file per
        # (input-split, bucket) instead of one per bucket.  A plain
        # file scan has unknown partitioning, so the repartition below
        # actually shuffles and each task holds exactly one bucket.
        (
            spark.read.parquet(*[f.removeprefix("file:") for f in files])
            .repartition(buckets, *[F.col(k) for k in keys])
            .write.mode("overwrite")
            .format("parquet")
            .bucketBy(buckets, *keys)
            .sortBy(*keys)
            .saveAsTable(staged)
        )
        spark.sql(f"DROP TABLE {table}")
        spark.sql(f"ALTER TABLE {staged} RENAME TO {table}")
        out[table] = (before, len(spark.table(table).inputFiles()))
    return out
