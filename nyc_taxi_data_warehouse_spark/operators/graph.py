"""Iterative graph analytics over edge frames — PageRank on the integer
lattice.

PageRank's distributed shape is the classic per-iteration pattern: join
ranks to edges on src (one shuffle), partial-sum contributions per dst
(map-side combine), rebuild the rank frame. What this module adds is
BIT-REPRODUCIBILITY: plain float PageRank sums contributions in
partition order, so two runs (or an engine and its SQL oracle) disagree
in the last ulps. Here every quantity is an integer:

- ranks live on a ``scale``-denominated lattice (default 1e9 units);
- each edge contributes ``(r_u · w_uv) div W_u`` — NATIVE int64
  division (Spark ``div`` / DuckDB ``//`` / Python ``//``, identical
  for the non-negative values here), never a float: the
  floor-of-double-division shortcut is only exact while quotients stay
  under ~2^23·denominator, a bound real out-weights can break;
- damping applies as ``(85 · x) div 100``, teleport as
  ``(15 · scale) div (100 · n)``;
- dangling mass (nodes with no out-edges) redistributes uniformly as
  ``D div n``.

Overflow bound: the largest product is ``r · w ≤ scale · max_edge_w``;
with the default scale it stays inside int64 for edge weights up to
~9.2e9, and Spark's ANSI mode raises (rather than wrapping) beyond.

Floor losses mean total mass decays by a few units per iteration —
irrelevant for ranking, essential for cross-engine hash equality.

No driver-side scalars: node count, teleport, and dangling mass all
ride 1-row broadcast-aggregate crossJoins (the corpus-stats shape), so
the whole n-iteration computation is one lazy Catalyst plan."""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def undirected_simple(
    edges: DataFrame, src: str = "src", dst: str = "dst"
) -> DataFrame:
    """Canonical undirected simple edges (a < b, loops dropped, dups
    collapsed) from a directed multigraph frame."""
    a = F.least(F.col(src), F.col(dst))
    b = F.greatest(F.col(src), F.col(dst))
    return (
        edges.select(a.alias("a"), b.alias("b"))
        .where(F.col("a") != F.col("b"))
        .distinct()
    )


def triangle_counts(
    edges: DataFrame, src: str = "src", dst: str = "dst"
) -> DataFrame:
    """Per-node triangle participation counts — the local clustering
    signal (community density, link spam, hub detection).

    Classic two-join formulation over canonical a<b edges: wedges
    (a<b<c) from e1.b = e2.a, closed by an edge-existence join on
    (a, c) — each triangle is produced exactly once in its sorted
    orientation, then credited to all three corners. Every join is an
    equi-join on node ids; at web scale the standard hardening is
    degree-ordering the edge direction so high-degree nodes don't fan
    out the wedge join (the a<b canonical order stands in for that
    here). Returns (node, n_triangles) for nodes in ≥1 triangle."""
    e = undirected_simple(edges, src, dst).persist()
    tri = (
        e.alias("e1")
        .join(e.alias("e2"), F.col("e1.b") == F.col("e2.a"))
        .join(
            e.alias("e3"),
            (F.col("e1.a") == F.col("e3.a")) & (F.col("e2.b") == F.col("e3.b")),
        )
        .select(
            F.col("e1.a").alias("x"),
            F.col("e1.b").alias("y"),
            F.col("e2.b").alias("z"),
        )
    )
    out = (
        tri.select(F.col("x").alias("node"))
        .union(tri.select(F.col("y").alias("node")))
        .union(tri.select(F.col("z").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )
    e.unpersist(blocking=False)
    return out


def pagerank_int(
    edges: DataFrame,
    n_iter: int = 3,
    scale: int = 10**9,
    src: str = "src",
    dst: str = "dst",
    weight: str = "w",
) -> DataFrame:
    """Weighted PageRank (damping 0.85) over (src, dst, weight) edges;
    returns (node, rank) with rank on the integer ``scale`` lattice.

    Per iteration: edges ⋈ ranks on src (the one real shuffle at graph
    scale), per-dst integer partial sums, dangling mass via an anti-join
    1-row aggregate. Each iteration's rank frame is localCheckpoint-ed —
    the Pregel discipline: the rank frame is node-sized (small next to
    edges), and without truncation the lazy plan doubles per iteration
    (each round re-derives the previous round's whole lineage on both
    the contribution and dangling branches — audited at 299 exchanges
    for 3 iterations un-truncated, ~10 with). The returned ranks are
    materialized, so the persisted edge and node frames are released
    before returning."""
    e = (
        edges.select(
            F.col(src).alias("src"),
            F.col(dst).alias("dst"),
            F.col(weight).cast("long").alias("w"),
        )
        .persist()
    )
    nodes = (
        e.select(F.col("src").alias("node"))
        .union(e.select(F.col("dst").alias("node")))
        .distinct()
        .persist()
    )
    n_df = nodes.agg(F.count(F.lit(1)).alias("__n"))
    outw = e.groupBy("src").agg(F.sum("w").alias("__outw"))

    r = nodes.crossJoin(F.broadcast(n_df)).select(
        "node",
        F.expr(f"CAST({scale} AS BIGINT) div __n").alias("r"),
    )
    for _ in range(n_iter):
        contrib = (
            e.join(outw, "src")
            .join(r.withColumnRenamed("node", "src"), "src")
            .select(
                F.col("dst").alias("node"),
                F.expr("r * w div __outw").alias("c"),
            )
            .groupBy("node")
            .agg(F.sum("c").alias("c"))
        )
        dang = (
            r.join(outw.select(F.col("src").alias("node")), "node", "left_anti")
            .agg(F.coalesce(F.sum("r"), F.lit(0)).cast("long").alias("__dang"))
        )
        r = (
            nodes.crossJoin(F.broadcast(n_df))
            .crossJoin(F.broadcast(dang))
            .join(contrib, "node", "left")
            .select(
                "node",
                F.expr(
                    f"CAST(15 AS BIGINT) * CAST({scale} AS BIGINT)"
                    f" div (CAST(100 AS BIGINT) * __n)"
                    f" + CAST(85 AS BIGINT)"
                    f" * (coalesce(c, CAST(0 AS BIGINT)) + (__dang div __n))"
                    f" div 100"
                ).alias("r"),
            )
        )
        r = r.localCheckpoint(eager=True)
    e.unpersist()
    nodes.unpersist()
    return r.select("node", F.col("r").alias("rank"))


def bfs_hops(
    edges: DataFrame,
    sources: DataFrame,
    max_iter: int = 16,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Unweighted single/multi-source shortest paths (BFS hop distance)
    by layered frontier expansion — the distributed BFS shape: each
    round is ONE equi-join of the current frontier against the edge
    frame plus an anti-join against the settled set, so a node's first
    reach IS its minimum hop count (no min-relaxation needed, unlike
    weighted SSSP).  ``sources`` is a 1-column (node) frame; returns
    (node, hops) for every reachable node.

    Per-round work is frontier-sized, not graph-sized; the per-round
    ``count()`` is the scalar convergence action (the CC precedent) and
    ``localCheckpoint`` truncates the growing union lineage.  Rounds =
    graph diameter ≤ max_iter.  At cluster scale the edge frame should
    be pre-partitioned on ``src`` so every round's join reuses the same
    exchange."""
    # distinct: duplicate source rows must not become duplicate
    # (node, hops=0) result rows (sources is seed-sized, cheap to dedup)
    dist = sources.select(
        F.col(sources.columns[0]).alias("node"), F.lit(0).alias("hops")
    ).distinct().localCheckpoint()
    frontier = dist.select("node")
    e = edges.select(F.col(src).alias("__s"), F.col(dst).alias("__d")).distinct()
    if e.rdd.getNumPartitions() < e.sparkSession.sparkContext.defaultParallelism:
        e = e.repartition(e.sparkSession.sparkContext.defaultParallelism, "__s")
    e = e.persist()
    try:
        for i in range(1, max_iter + 1):
            cand = (
                frontier.join(e, frontier["node"] == e["__s"])
                .select(F.col("__d").alias("node"))
                .distinct()
            )
            new = cand.join(dist, "node", "left_anti").select(
                "node", F.lit(i).alias("hops")
            )
            new = new.localCheckpoint()
            if new.count() == 0:
                break
            dist = dist.unionByName(new).localCheckpoint()
            frontier = new.select("node")
    finally:
        e.unpersist(blocking=False)
    return dist


def label_propagation(
    edges: DataFrame,
    rounds: int = 4,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Deterministic SYNCHRONOUS label propagation (Raghavan et al.
    2007): every node starts as its own label; each round EVERY node
    simultaneously adopts its neighbors' most frequent label — exact
    integer counts, ties to the SMALLEST label, so there is no
    randomness and any two engines (or a literal replay) produce
    identical rounds.  A node keeps its previous label only by receiving
    it from a neighbor (the synchronous variant's semantics — isolated
    nodes can't occur here because every node comes from an edge).

    ``edges`` is directed as given; symmetrize first (union the swapped
    frame) for undirected semantics, exactly like :func:`pagerank_int`
    consumers do.  Fixed ``rounds`` unroll (synchronous LPA may
    oscillate on bipartite structures, so a convergence loop could spin
    — a fixed horizon is the honest distributed contract); each round is
    one edge⋈label join + one (node, label) count + one per-node top-1,
    every frame graph-sized and ``localCheckpoint``-ed so round plans
    stay flat (the q_kcore lesson).  The label frame is broadcast: it
    is node-sized, small next to the edge frame.

    Returns (node, lab)."""
    both = edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
    labels = (
        both.select(F.col("a").alias("node"))
        .distinct()
        .select("node", F.col("node").alias("lab"))
        .localCheckpoint()
    )
    w = Window.partitionBy("node").orderBy(F.desc("c"), F.asc("lab"))
    for _ in range(rounds):
        lab_b = F.broadcast(labels.select(F.col("node").alias("b"), "lab"))
        labels = (
            both.join(lab_b, "b")
            .groupBy(F.col("a").alias("node"), "lab")
            .agg(F.count(F.lit(1)).cast("long").alias("c"))
            .withColumn("__rn", F.row_number().over(w))
            .where(F.col("__rn") == 1)
            .select("node", "lab")
            .localCheckpoint()
        )
    return labels
