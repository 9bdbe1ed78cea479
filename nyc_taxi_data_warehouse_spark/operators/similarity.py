"""Similarity search over embedding columns (`array<float>`).

- `brute_force_knn`: exact cosine top-k — the correctness baseline. The
  query set is broadcast; the corpus streams through executors, so cost is
  O(|corpus| × |queries|) FLOPs with no corpus shuffle. Right answer for
  small query batches at any corpus size.
- `ivf_knn`: the scale path — partition-pruned search that only scans
  corpus cells matching the query's cell (here the `label` column plays the
  IVF coarse-quantizer cell id; a real deployment k-means-assigns it at
  ingest). Turns the cross product into an equi-join Catalyst shuffles on
  the cell key.

All arithmetic via JVM higher-order functions (`zip_with`/`aggregate`).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions import vectors as V


def _top_k(sims: DataFrame, k: int) -> DataFrame:
    w = Window.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("neighbor_id"))
    return (
        sims.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= k)
        .drop("rn")
    )


def brute_force_knn(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact cosine top-k per query (deterministic ties: smaller id wins)."""
    q = queries.select(
        F.col(id_col).alias("query_id"), V.as_double(vec_col).alias("qv")
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"), V.as_double(vec_col).alias("cv")
    )
    sims = c.crossJoin(F.broadcast(q)).select(
        "query_id", "neighbor_id", V.cosine("qv", "cv").alias("sim")
    )
    return _top_k(sims, k)


def ivf_knn(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cell_col: str = "label",
) -> DataFrame:
    """Partition-pruned ANN: only corpus vectors in the query's cell are
    scanned (single-probe IVF)."""
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(cell_col).alias("cell"),
        V.as_double(vec_col).alias("qv"),
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(cell_col).alias("cell"),
        V.as_double(vec_col).alias("cv"),
    )
    sims = c.join(F.broadcast(q), "cell").select(
        "query_id", "neighbor_id", V.cosine("qv", "cv").alias("sim")
    )
    return _top_k(sims, k)


MAX_INLINE_CELLS = 100_000  # k·dim literals above which the plan would bloat


def _codebook_source(
    centroids: DataFrame,
    src_id: str,
    id_dt,
    vec_col: str,
):
    """The codebook as a fold-able array-of-structs, by one of two routes
    that ``MAX_INLINE_CELLS`` selects from the codebook's k·dim:

    - **inline** (k·dim ≤ ``MAX_INLINE_CELLS``): collect the k rows
      driver-side (exactly a k-means codebook broadcast) and inline them
      as a literal — the fold then runs in a single narrow map stage with
      ZERO joins and zero extra plan nodes;
    - **broadcast** (large codebooks): k·dim literal expressions would
      bloat the plan itself (analysis/codegen cost grows with expression
      count, not data), so instead the codebook is aggregated to ONE row
      holding ``collect_list(struct(cid, cv))`` and crossJoined broadcast
      — the same 1-row broadcast-aggregate shape as the corpus-stats
      crossJoins elsewhere. The per-row fold is the identical expression
      over a column instead of a literal, so results match the inline
      path bit-for-bit; plan size is O(1) in k.

    Returns ``(codebook_column, one_row_df_or_None)``; callers crossJoin
    the one-row frame when present.

    One action either way: the k rows are collected once (a Spark
    broadcast pulls the build side to the driver regardless, so the
    collect costs nothing extra) and the inline-vs-broadcast decision is
    made from ``len(rows) × dim`` driver-side — the broadcast frame is
    then rebuilt from the local rows, never by re-running the centroids
    plan."""
    rows = centroids.select(F.col(src_id), V.as_double(vec_col)).collect()
    dim = len(rows[0][1]) if rows else 0
    if len(rows) * dim <= MAX_INLINE_CELLS:
        return (
            F.array(
                *[
                    F.struct(
                        F.lit(r[0]).cast(id_dt).alias("cid"),
                        # one driver round trip per centroid via
                        # array_lit, not dim individual lits — the
                        # per-element py4j expansion of F.lit(list) was
                        # the dominant fixed cost at bench scale (same
                        # executed plan)
                        V.array_lit([float(x) for x in r[1]], "array<double>")
                        .alias("cv"),
                    )
                    for r in rows
                ]
            ),
            None,
        )
    spark = centroids.sparkSession
    cb = (
        spark.createDataFrame(
            [(r[0], list(r[1])) for r in rows], ["cid", "cv"]
        )
        .select(
            F.struct(
                F.col("cid").cast(id_dt).alias("cid"),
                F.col("cv").alias("cv"),
            ).alias("__c")
        )
        .agg(F.collect_list("__c").alias("__codebook"))
    )
    return F.col("__codebook"), cb


def assign_cells(
    vectors: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cent_id_col: str = "centroid_id",
) -> DataFrame:
    """IVF coarse-quantizer assignment: every vector → its nearest centroid
    by cosine (deterministic ties: smaller centroid id).

    Small codebooks are inlined as literals (single narrow map stage: no
    join, no |corpus|×k intermediate, no window shuffle); codebooks past
    ``MAX_INLINE_CELLS`` k·dim switch to the 1-row broadcast-aggregate
    crossJoin automatically — see :func:`_codebook_source`. Either way
    each corpus row folds over the codebook with JVM higher-order
    functions and the results are identical. Iterate with a
    recompute-centroids groupBy for full k-means.

    The centroids frame may key its ids as `cent_id_col` (e.g. a
    `kmeans_fit_exact` codebook) or reuse the vectors' `id_col` name."""
    src_id = cent_id_col if cent_id_col in centroids.columns else id_col
    id_dt = centroids.schema[src_id].dataType
    codebook, cb_df = _codebook_source(centroids, src_id, id_dt, vec_col)
    v = vectors.select(F.col(id_col), V.as_double(vec_col).alias("__qv"))
    if cb_df is not None:
        v = v.crossJoin(F.broadcast(cb_df))
    scored = F.transform(
        codebook,
        lambda c: F.struct(
            V.cosine(F.col("__qv"), c["cv"]).alias("sim"),
            (-c["cid"]).alias("negcid"),
        ),
    )
    best = v.select(F.col(id_col), F.array_max(scored).alias("__best"))
    return best.select(
        F.col(id_col),
        (-F.col("__best.negcid")).cast(id_dt).alias(cent_id_col),
        F.col("__best.sim").alias("sim"),
    )


def kmeans_fit_exact(
    vectors: DataFrame,
    k: int,
    n_iter: int = 3,
    quant: int = 1000,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Lloyd's k-means over an embedding column — the IVF codebook BUILD
    step (`assign_cells` is its assign step, `ivf_knn` its query step).

    Per iteration: (1) assign — one narrow map stage folding the
    codebook per row (no join, no shuffle); (2) recompute — posexplode
    the assigned vectors and sum per (cell, dim): the classic
    map-side-combining shape, shuffling only k×dim partials regardless of
    corpus size. The driver holds nothing but the k-row codebook (the
    same boundary a broadcast variable occupies). Seeding is
    deterministic and partition-order independent: the k vectors with
    smallest md5(id). Every iteration is exact-integer, so two engines
    (or an engine and its SQL oracle) produce the identical codebook:

    - vectors quantize to integers up front (``floor(x·quant)``, the SRP
      lesson applied to clustering) so per-cell coordinate SUMS are exact
      under any partial-aggregation order;
    - centroids stay those integer sum vectors — never divided by the
      member count.  Cosine is scale-invariant (``cos(q, s/n) == cos(q,
      s)``), so assignment against the sum equals assignment against the
      mean while all arithmetic stays on the integer lattice.  Empty cells
      keep their previous vector.

    Overflow headroom: with |x|<1, dim≤64, quant=1000 the largest value any
    double ever holds is dot(s,s) ≤ n²·quant²·dim — exact below 2^53 for
    cells up to ~11.8k members (n ≤ sqrt(2^53 / (quant²·dim)) ≈ 11,863).
    Beyond that, re-seed the iteration from the rounded means (one extra
    quantize step) — or lower quant — rather than letting the sum leave
    the exact-integer range.

    Returns the (centroid_id, ``vec_col``) codebook with integer
    ``array<long>`` coordinates; assign the QUANTIZED corpus against it so
    similarity values are reproducible too."""
    spark = vectors.sparkSession
    v = vectors.select(
        F.col(id_col), V.quantize(vec_col, quant).alias("__q")
    ).persist()
    seeds = (
        v.withColumn("__h", F.md5(F.col(id_col).cast("string")))
        .orderBy("__h", id_col)
        .limit(k)
        .select(id_col, "__q")
        .collect()
    )
    cents: list[tuple] = [(r[0], [int(x) for x in r[1]]) for r in seeds]
    dim = len(cents[0][1])
    id_dt = v.schema[id_col].dataType
    for _ in range(n_iter):
        # inline the codebook fold directly (same expression shape as
        # assign_cells) but KEEP the vector alongside the winning cell —
        # the recompute then posexplodes in the same narrow stage, so each
        # iteration is one map + one k×dim partial agg: no corpus-sized
        # shuffle join anywhere. Past MAX_INLINE_CELLS k·dim the literal
        # codebook would bloat every iteration's plan — switch to the
        # 1-row broadcast collect_list codebook (identical integer
        # arithmetic, O(1) plan size; see _codebook_source).
        if k * dim <= MAX_INLINE_CELLS:
            codebook = F.array(
                *[
                    F.struct(
                        F.lit(cid).cast(id_dt).alias("cid"),
                        # single driver round trip per centroid (see
                        # _codebook_source note) — the cast pins the
                        # integer element type the exact-int fold expects
                        V.array_lit([int(x) for x in vec], "array<long>")
                        .alias("cv"),
                    )
                    for cid, vec in cents
                ]
            )
            vit = v
        else:
            cb = (
                spark.createDataFrame(cents, ["cid", "cv"])
                .select(
                    F.struct(
                        F.col("cid").cast(id_dt).alias("cid"),
                        F.col("cv").alias("cv"),
                    ).alias("__c")
                )
                .agg(F.collect_list("__c").alias("__codebook"))
            )
            codebook = F.col("__codebook")
            vit = v.crossJoin(F.broadcast(cb))
        scored = F.transform(
            codebook,
            lambda c: F.struct(
                V.cosine(F.col("__q"), c["cv"]).alias("sim"),
                (-c["cid"]).alias("negcid"),
            ),
        )
        assigned = vit.select(
            (-F.array_max(scored)["negcid"]).cast(id_dt).alias("centroid_id"),
            F.col("__q"),
        )
        sums = (
            assigned.select("centroid_id", F.posexplode("__q").alias("pos", "x"))
            .groupBy("centroid_id", "pos")
            .agg(F.sum("x").alias("s"))
        )
        new: dict = {}
        for r in sums.collect():
            new.setdefault(r["centroid_id"], {})[r["pos"]] = int(r["s"])
        cents = [
            (
                cid,
                [new[cid][i] for i in range(dim)] if cid in new else vec,
            )
            for cid, vec in cents
        ]
    v.unpersist()
    return spark.createDataFrame(cents, ["centroid_id", "cv"]).select(
        "centroid_id", F.col("cv").alias(vec_col)
    )


def ternary_planes(n_planes: int, dim: int, seed: str = "srp") -> list[list[int]]:
    """Deterministic sparse ternary hyperplanes (Achlioptas-style): entry
    (j, d) is +1 / −1 / 0 with probability 1/6 / 1/6 / 2/3, derived from
    md5(seed:j:d) — a pure function, so any engine (or oracle) rebuilds the
    identical planes with no RNG state."""
    import hashlib

    out = []
    for j in range(n_planes):
        row = []
        for d in range(dim):
            h = int(hashlib.md5(f"{seed}:{j}:{d}".encode()).hexdigest()[:8], 16) % 6
            row.append(1 if h == 0 else (-1 if h == 1 else 0))
        out.append(row)
    return out


def srp_signatures(
    vectors: DataFrame,
    planes: list[list[int]],
    quant: int = 1000,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Sign-random-projection LSH signature per vector — the SimHash
    analogue for embeddings, and the data-INDEPENDENT blocking alternative
    to the k-means/IVF family (no codebook build pass; planes are code,
    not data). Cosine-similar vectors agree on most signs, so near-dups
    collide in signature buckets.

    Vectors are quantized to integers (floor(x·quant)) before the dot
    product: all arithmetic is exact int64, which makes the signature
    bit-reproducible across engines regardless of float summation order —
    the property that lets a SQL oracle verify it. One narrow map stage;
    n_planes × dim multiply-adds per row, no shuffle, no join."""
    qv = F.transform(
        V.as_double(vec_col), lambda x: F.floor(x * quant).cast("long")
    )
    v = vectors.select(F.col(id_col), qv.alias("__q"))
    sig = F.lit(0).cast("long")
    for j, plane in enumerate(planes):
        lit = V.array_lit([int(c) for c in plane], "array<long>")
        dot = F.aggregate(
            F.zip_with(F.col("__q"), lit, lambda a, b: a * b),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        )
        sig = sig + F.when(dot >= 0, F.lit(1 << j)).otherwise(F.lit(0)).cast("long")
    return v.select(F.col(id_col), sig.alias("srp_sig"))


def cosine_pairs(
    vecs: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "v",
) -> DataFrame:
    """All pairs (a < b) with cosine ≥ threshold — embedding near-dup
    detection. Exact O(n²) baseline for small n; use
    `bucketed_cosine_pairs` at scale."""
    a = vecs.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("va"))
    b = vecs.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("vb"))
    return (
        a.crossJoin(b)
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", V.cosine("va", "vb").alias("sim"))
        .where(F.col("sim") >= threshold)
    )


def bucketed_cosine_pairs(
    vecs: DataFrame,
    centroids: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "v",
) -> DataFrame:
    """Blocked near-dup pairs — the 100 TB shape of `cosine_pairs`.

    Every vector is assigned to its nearest centroid (broadcast quantizer,
    no corpus shuffle), then candidates are generated only WITHIN a cell via
    an equi-join Catalyst shuffles on the cell id: O(Σ |cell|²) FLOPs instead
    of O(n²), and no BroadcastNestedLoopJoin anywhere in the plan. Pairs
    whose members quantize to different cells are not compared (the
    standard single-probe ANN recall trade)."""
    cells = assign_cells(vecs, centroids, id_col=id_col, vec_col=vec_col).select(
        id_col, "centroid_id"
    )
    tagged = vecs.join(cells, id_col)
    a = tagged.select(
        F.col(id_col).alias("id_a"),
        F.col(vec_col).alias("va"),
        F.col("centroid_id").alias("cell"),
    )
    b = tagged.select(
        F.col(id_col).alias("id_b"),
        F.col(vec_col).alias("vb"),
        F.col("centroid_id").alias("cell"),
    )
    return (
        a.join(b, "cell")
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", V.cosine("va", "vb").alias("sim"))
        .where(F.col("sim") >= threshold)
    )
