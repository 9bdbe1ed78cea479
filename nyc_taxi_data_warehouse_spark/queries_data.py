"""Training-data-pipeline query registry: dedup, similarity search, and text
analysis over the `documents` / `embeddings` tables, each with a DuckDB
oracle twin (BASELINE.json north-star wave).

Near-dup corpora are constructed deterministically inside the query (the
testdata has no duplicates): text twins are suffix-truncated copies
(`substr(text, 31)`, id + 1_000_000), embedding twins negate the first
component (cosine ≈ 1 − 2·v₁²/‖v‖²). Both constructions are mirrored 1:1
in the oracle SQL.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .functions import text as T
from .functions import vectors as V
from .operators import dedup, similarity
from .plans.nyc_views import load_tables
from .queries_nyc import _rnd
from .streaming.weather_stream import drain_available_now
from .util import session_memo, unique_name


_KMEANS_QUANT = 1000  # embedding quantization lattice (SRP lesson)


# --- corpora ---------------------------------------------------------------

def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_tables(spark, sf_dir)["documents"]


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_tables(spark, sf_dir)["embeddings"]


def _scale_out(df: DataFrame) -> DataFrame:
    """Re-split a narrow scan across all cores before CPU-heavy stages.

    A small single-file parquet table arrives as 1-2 input splits (parquet
    can't split below row-group boundaries), which would serialize the
    shingle/hash/vector work onto 2 of 32 cores. At real scale the source has
    many splits and this is a no-op — we only widen, never shrink.

    The partition-count probe (``df.rdd.getNumPartitions()``) pays a full
    physical-planning pass of the subtree — measured ~0.3 s per FRESH
    DataFrame at sf0.1, once per query invocation (guide §1/§7.3: that is
    driver time, not plan cost).  The count is a pure function of the
    canonicalized analyzed plan within one session (static inputs, fixed
    split conf), so it goes through ``session_memo`` keyed on the plan's
    ``semanticHash`` — a collision would only toggle the widen heuristic,
    never results."""
    target = df.sparkSession.sparkContext.defaultParallelism
    try:
        key = ("scale_out", df._jdf.queryExecution().analyzed().semanticHash())
    except Exception:  # non-SQL backed frame: fall back to the direct probe
        n = df.rdd.getNumPartitions()
    else:
        n = session_memo(df.sparkSession, key, lambda: df.rdd.getNumPartitions())
    if n < target:
        return df.repartition(target)
    return df


def _text_corpus(docs: DataFrame) -> DataFrame:
    """documents ∪ truncated twins → guaranteed near-dup pairs."""
    twins = docs.select(
        (F.col("doc_id") + 1000000).alias("doc_id"),
        F.expr("substring(text, 31)").alias("text"),
    )
    return _scale_out(docs.select("doc_id", "text").unionByName(twins))


SQL_CORPUS = """
corpus AS (
    SELECT doc_id, text FROM documents
    UNION ALL
    SELECT doc_id + 1000000 AS doc_id, substr(text, 31) AS text FROM documents
)
"""

SQL_TOK = """
tok AS (
    SELECT doc_id,
           list_filter(string_split_regex(text, '\\s+'), t -> t <> '') AS w
    FROM corpus
)
"""

SQL_SH = """
sh AS (
    SELECT doc_id, unnest(list_distinct(list_transform(
        range(1, greatest(len(w) - 2, 0) + 1),
        i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))) AS shingle
    FROM tok
)
"""

_NH = 8  # minhash signature width
_MAX_BUCKET = dedup.DEFAULT_MAX_BUCKET  # LSH hot-bucket cap, mirrored in oracles

SQL_MINHASH = (
    """
sig AS (
    SELECT doc_id,
        """
    + ",\n        ".join(
        f"min(substr(md5(shingle || '#{i // 4}'), {(i % 4) * 8 + 1}, 8)) AS h{i}"
        for i in range(_NH)
    )
    + """
    FROM sh GROUP BY doc_id
),
bands AS (
"""
    + "\n    UNION ALL\n".join(
        f"    SELECT doc_id, {b} AS band, md5(h{2*b} || h{2*b+1}) AS bh FROM sig"
        for b in range(_NH // 2)
    )
    + f"""
),
kept AS (
    SELECT band, bh FROM bands GROUP BY 1, 2 HAVING count(*) <= {_MAX_BUCKET}
),
cbands AS (
    SELECT bands.* FROM bands JOIN kept USING (band, bh)
)"""
)


# --- deduplication ---------------------------------------------------------

def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup via content-hash groupBy (every 3rd doc duplicated)."""
    docs = _docs(spark, sf_dir)
    dups = docs.where(F.col("doc_id") % 3 == 0).select(
        (F.col("doc_id") + 2000000).alias("doc_id"), "text"
    )
    corpus = _scale_out(docs.select("doc_id", "text").unionByName(dups))
    return corpus.groupBy(F.md5("text").alias("text_hash")).agg(
        F.count(F.lit(1)).alias("dup_count"),
        F.min("doc_id").alias("canonical_id"),
    )


_SQL_DEDUP_EXACT = """
WITH corpus AS (
    SELECT doc_id, text FROM documents
    UNION ALL
    SELECT doc_id + 2000000 AS doc_id, text FROM documents WHERE doc_id % 3 = 0
)
SELECT md5(text) AS text_hash, count(*) AS dup_count, min(doc_id) AS canonical_id
FROM corpus GROUP BY 1"""


def q_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash(8) + LSH(4 bands × 2) candidate pairs over the twin corpus.

    The signature frame (one short row per doc) is persisted before the band
    self-join: without it each join side would recompute the full
    shingle→md5→groupBy lineage — the dominant cost — twice.
    """
    sh = dedup.shingle_rows(_text_corpus(_docs(spark, sf_dir)))
    sig = dedup.minhash_signatures(sh, num_hashes=_NH).persist()
    return dedup.lsh_candidate_pairs(dedup.lsh_bands(sig, num_hashes=_NH))


_SQL_MINHASH_LSH = (
    "WITH "
    + ",".join([SQL_CORPUS, SQL_TOK, SQL_SH, SQL_MINHASH])
    + """
SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
FROM cbands a JOIN cbands b
  ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id"""
)


def _sql_minhash_ctes(src: str, p: str) -> str:
    """tok→shingle→signature→bands CTE chain over `src`, prefixed `p` —
    the dialect twin of shingle_rows/minhash_signatures/lsh_bands."""
    sig_cols = ",\n        ".join(
        f"min(substr(md5(shingle || '#{i // 4}'), {(i % 4) * 8 + 1}, 8)) AS h{i}"
        for i in range(_NH)
    )
    bands = "\n    UNION ALL\n".join(
        f"    SELECT doc_id, {b} AS band, md5(h{2 * b} || h{2 * b + 1}) AS bh FROM {p}sig"
        for b in range(_NH // 2)
    )
    return f"""
{p}tok AS (
    SELECT doc_id,
           list_filter(string_split_regex(text, '\\s+'), t -> t <> '') AS w
    FROM {src}
),
{p}sh AS (
    SELECT doc_id, unnest(list_distinct(list_transform(
        range(1, greatest(len(w) - 2, 0) + 1),
        i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))) AS shingle
    FROM {p}tok
),
{p}sig AS (
    SELECT doc_id,
        {sig_cols}
    FROM {p}sh GROUP BY doc_id
),
{p}bands AS (
{bands}
)"""


def q_cross_corpus_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NEAR-dup decontamination: MinHash+LSH collision join BETWEEN two
    corpora (train = documents, eval = suffix-truncated twins) — catches
    paraphrase-grade leakage that the exact 8-gram sweep
    (`q_decontaminate`) misses. Signatures are computed per corpus (short
    per-doc rows, persisted before the join), then candidates come from an
    equi-join on the band bucket: cost scales with co-bucketed pairs, not
    |train| × |eval|."""
    docs = _docs(spark, sf_dir)
    train = _scale_out(docs.select("doc_id", "text"))
    ev = _scale_out(
        docs.select("doc_id", F.expr("substring(text, 31)").alias("text"))
    )
    bands = []
    for corpus in (train, ev):
        sig = dedup.minhash_signatures(
            dedup.shingle_rows(corpus), num_hashes=_NH
        ).persist()
        bands.append(dedup.lsh_bands(sig, num_hashes=_NH))
    return dedup.lsh_cross_candidates(bands[0], bands[1]).select(
        F.col("left_id").alias("train_id"), F.col("right_id").alias("eval_id")
    )


_SQL_CROSS_CORPUS_NEARDUP = (
    """
WITH train AS (SELECT doc_id, text FROM documents),
ev AS (SELECT doc_id, substr(text, 31) AS text FROM documents),"""
    + _sql_minhash_ctes("train", "t_")
    + ","
    + _sql_minhash_ctes("ev", "e_")
    + f""",
x_kept AS (
    SELECT band, bh FROM (
        SELECT band, bh FROM t_bands
        UNION ALL
        SELECT band, bh FROM e_bands
    ) GROUP BY 1, 2 HAVING count(*) <= {_MAX_BUCKET}
)
SELECT DISTINCT a.doc_id AS train_id, b.doc_id AS eval_id
FROM t_bands a
JOIN x_kept k ON k.band = a.band AND k.bh = a.bh
JOIN e_bands b ON a.band = b.band AND a.bh = b.bh"""
)


def q_incremental_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental ingest dedup — a new batch vs a PERSISTED signature
    store (`dedup.incremental_neardup`): generation 1 (doc_id % 3 != 0)
    builds the store; generation 2 — the fresh docs (doc_id % 3 == 0)
    plus planted suffix twins (+1e6, of history docs with doc_id % 5 == 1)
    and planted exact copies (+2e6, of history docs with doc_id % 7 == 2)
    — dedups against it WITHOUT rescanning history's text: exact leg =
    content-hash join vs the store column, near leg = MinHash band
    equi-join vs the store's signatures (combined hot-bucket cap).  The
    two-generation oracle recomputes both corpora's signatures and
    restricts the band join to cross (store × batch) pairs — incremental
    ≡ corpus-wide LSH restricted to cross pairs, by construction."""
    hist, batch = _ingest_generations(spark, sf_dir)
    store = dedup.signature_records(hist, num_hashes=_NH)
    report, _merged = dedup.incremental_neardup(
        batch, store, num_hashes=_NH, max_bucket=_MAX_BUCKET
    )
    return report


_SQL_INCREMENTAL_NEARDUP = (
    """
WITH hist AS (SELECT doc_id, text FROM documents WHERE doc_id % 3 <> 0),
batch AS (
    SELECT doc_id, text FROM documents WHERE doc_id % 3 = 0
    UNION ALL
    SELECT doc_id + 1000000 AS doc_id, substr(text, 31) AS text
    FROM documents WHERE doc_id % 3 <> 0 AND doc_id % 5 = 1
    UNION ALL
    SELECT doc_id + 2000000 AS doc_id, text
    FROM documents WHERE doc_id % 3 <> 0 AND doc_id % 7 = 2
),"""
    + _sql_minhash_ctes("hist", "h_")
    + ","
    + _sql_minhash_ctes("batch", "b_")
    + f""",
x_kept AS (
    SELECT band, bh FROM (
        SELECT band, bh FROM h_bands
        UNION ALL
        SELECT band, bh FROM b_bands
    ) GROUP BY 1, 2 HAVING count(*) <= {_MAX_BUCKET}
),
near AS (
    SELECT b.doc_id, CAST(count(DISTINCT h.doc_id) AS BIGINT) AS n_near
    FROM b_bands b
    JOIN x_kept k ON k.band = b.band AND k.bh = b.bh
    JOIN h_bands h ON h.band = b.band AND h.bh = b.bh
    GROUP BY 1
),
hch AS (SELECT DISTINCT md5(text) AS content_hash FROM hist),
bch AS (SELECT doc_id, md5(text) AS content_hash FROM batch)
SELECT bc.doc_id, bc.content_hash,
       CAST(CASE WHEN hc.content_hash IS NOT NULL THEN 1 ELSE 0 END
            AS INTEGER) AS is_exact_dup,
       COALESCE(n.n_near, 0) AS n_near_store,
       CASE WHEN hc.content_hash IS NOT NULL THEN 'exact_dup'
            WHEN n.n_near > 0 THEN 'near_dup'
            ELSE 'new' END AS decision
FROM bch bc
LEFT JOIN hch hc ON hc.content_hash = bc.content_hash
LEFT JOIN near n ON n.doc_id = bc.doc_id"""
)


def _store_generations(spark: SparkSession, sf_dir: str):
    """Three-generation corpus split for the persisted signature-store
    lifecycle (disjoint from `_ingest_generations`' two-way split):
    generation 1 (doc_id % 3 == 1) initializes the store; generation 2 =
    fresh docs (% 3 == 2) + planted suffix twins (+1e6, of gen-1 docs
    with % 5 == 1) + planted exact copies (+2e6, of gen-1 docs with
    % 7 == 2); generation 3 = fresh docs (% 3 == 0) + planted exact
    copies (+3e6, of gen-2 FRESH docs with % 7 == 3 — these only report
    exact_dup if generation 2 actually COMMITTED them, so the leg gates
    the v2 store content) + planted suffix twins (+4e6, of gen-2 fresh
    docs with % 5 == 3 — the near leg against signatures appended at
    v1)."""
    docs = _docs(spark, sf_dir)
    g1 = _scale_out(
        docs.where(F.col("doc_id") % 3 == 1).select("doc_id", "text")
    )
    g2 = _scale_out(
        docs.where(F.col("doc_id") % 3 == 2)
        .select("doc_id", "text")
        .unionByName(
            docs.where((F.col("doc_id") % 3 == 1) & (F.col("doc_id") % 5 == 1))
            .select(
                (F.col("doc_id") + 1000000).alias("doc_id"),
                F.expr("substring(text, 31)").alias("text"),
            )
        )
        .unionByName(
            docs.where((F.col("doc_id") % 3 == 1) & (F.col("doc_id") % 7 == 2))
            .select((F.col("doc_id") + 2000000).alias("doc_id"), "text")
        )
    )
    g3 = _scale_out(
        docs.where(F.col("doc_id") % 3 == 0)
        .select("doc_id", "text")
        .unionByName(
            docs.where((F.col("doc_id") % 3 == 2) & (F.col("doc_id") % 7 == 3))
            .select((F.col("doc_id") + 3000000).alias("doc_id"), "text")
        )
        .unionByName(
            docs.where((F.col("doc_id") % 3 == 2) & (F.col("doc_id") % 5 == 3))
            .select(
                (F.col("doc_id") + 4000000).alias("doc_id"),
                F.expr("substring(text, 31)").alias("text"),
            )
        )
    )
    return g1, g2, g3


def q_neardup_store_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The LAKE-PERSISTED signature-store lifecycle
    (`dedup.neardup_store_ingest`) — the artifact treatment the ANN index
    got in round 11 (`q_ann_index_persist`/`q_ann_index_append`), applied
    to the other half of the incremental-ingest story: generation 1
    initializes the Delta-table store (`write_delta`, v0), generation 2
    dedups against the LOADED v0 snapshot and commits the accepted
    delta append-only (v1), generation 3 dedups against v1's merged
    snapshot and commits v2 (an empty append if gen 3 rejects
    everything).  Every
    ingest reads history's kilobyte-scale signatures from disk, never
    history's text — the reference's MERGE-idempotent ingest (S8,
    `dags/etl_spark_historical.py:349-380`) completed at the artifact
    layer.  Returns both generations' decision reports tagged with the
    committed store version; the oracle is the corpus-wide recompute
    restricted to cross pairs, extended one generation (generation 3's
    store = gen 1 + gen 2's ACCEPTED docs — so the planted gen-3 copies
    of gen-2 docs gate what v1 actually committed)."""
    import hashlib as _h
    import os as _o

    from .util import session_tmpdir

    g1, g2, g3 = _store_generations(spark, sf_dir)
    # Fresh path per invocation: an ingest MUTATES the store (append-only
    # commits), so re-running against a reused path would judge the same
    # batches against a store that already contains them.
    tag = _h.md5(sf_dir.encode()).hexdigest()[:8]
    path = _o.path.join(
        session_tmpdir("neardup_store"), unique_name(f"gen_{tag}")
    )
    _r1, v1 = dedup.neardup_store_ingest(
        spark, path, g1, num_hashes=_NH, max_bucket=_MAX_BUCKET
    )
    r2, v2 = dedup.neardup_store_ingest(
        spark, path, g2, num_hashes=_NH, max_bucket=_MAX_BUCKET
    )
    r3, v3 = dedup.neardup_store_ingest(
        spark, path, g3, num_hashes=_NH, max_bucket=_MAX_BUCKET
    )
    assert (v1, v2, v3) == (0, 1, 2), (v1, v2, v3)

    def _tag(r: DataFrame, gen: int, ver: int) -> DataFrame:
        return r.select(
            F.lit(gen).cast("int").alias("gen"),
            "doc_id",
            "content_hash",
            "is_exact_dup",
            "n_near_store",
            "decision",
            F.lit(ver).cast("int").alias("store_version"),
        )

    return _tag(r2, 2, v2).unionByName(_tag(r3, 3, v3))


_SQL_STORE_REP_T = """
near{n} AS MATERIALIZED (
    SELECT b.doc_id, CAST(count(DISTINCT h.doc_id) AS BIGINT) AS n_near
    FROM {b}bands b
    JOIN kept{n} k ON k.band = b.band AND k.bh = b.bh
    JOIN {s}bands h ON h.band = b.band AND h.bh = b.bh
    GROUP BY 1
),
rep{n} AS MATERIALIZED (
    SELECT bc.doc_id, bc.content_hash,
           CAST(CASE WHEN hc.content_hash IS NOT NULL THEN 1 ELSE 0 END
                AS INTEGER) AS is_exact_dup,
           COALESCE(n.n_near, 0) AS n_near_store,
           CASE WHEN hc.content_hash IS NOT NULL THEN 'exact_dup'
                WHEN n.n_near > 0 THEN 'near_dup'
                ELSE 'new' END AS decision
    FROM (SELECT doc_id, md5(text) AS content_hash FROM {bsrc}) bc
    LEFT JOIN (SELECT DISTINCT md5(text) AS content_hash FROM {ssrc}) hc
           ON hc.content_hash = bc.content_hash
    LEFT JOIN near{n} n ON n.doc_id = bc.doc_id
)"""

_SQL_STORE_KEPT_T = """
kept{n} AS MATERIALIZED (
    SELECT band, bh FROM (
        SELECT band, bh FROM {s}bands
        UNION ALL
        SELECT band, bh FROM {b}bands
    ) GROUP BY 1, 2 HAVING count(*) <= {cap}
)"""

_SQL_STORE_GENS = """
g1 AS MATERIALIZED (
    SELECT doc_id, text FROM documents WHERE doc_id % 3 = 1
),
g2 AS MATERIALIZED (
    SELECT doc_id, text FROM documents WHERE doc_id % 3 = 2
    UNION ALL
    SELECT doc_id + 1000000 AS doc_id, substr(text, 31) AS text
    FROM documents WHERE doc_id % 3 = 1 AND doc_id % 5 = 1
    UNION ALL
    SELECT doc_id + 2000000 AS doc_id, text
    FROM documents WHERE doc_id % 3 = 1 AND doc_id % 7 = 2
),
g3 AS MATERIALIZED (
    SELECT doc_id, text FROM documents WHERE doc_id % 3 = 0
    UNION ALL
    SELECT doc_id + 3000000 AS doc_id, text
    FROM documents WHERE doc_id % 3 = 2 AND doc_id % 7 = 3
    UNION ALL
    SELECT doc_id + 4000000 AS doc_id, substr(text, 31) AS text
    FROM documents WHERE doc_id % 3 = 2 AND doc_id % 5 = 3
),"""


def _sql_store_gen2_ctes() -> str:
    """The shared first level of the store-lifecycle oracles: gen-1/2/3
    sources + rep2 (gen-2 decisions vs the gen-1 store — the
    q_incremental_neardup idiom).  MATERIALIZED CTEs keep the band
    chains from re-expanding under DuckDB's inlining (q_kcore lesson)."""
    return (
        "WITH"
        + _SQL_STORE_GENS
        + _sql_minhash_ctes("g1", "s1_")
        + ","
        + _sql_minhash_ctes("g2", "b2_")
        + ","
        + _SQL_STORE_KEPT_T.format(n=2, s="s1_", b="b2_", cap=_MAX_BUCKET)
        + ","
        + _SQL_STORE_REP_T.format(n=2, s="s1_", b="b2_", bsrc="g2", ssrc="g1")
    )


def _sql_neardup_store_roundtrip() -> str:
    """Two-level nested incremental oracle: rep2 = gen-2 decisions vs the
    gen-1 store, store2 = gen 1 + gen 2's accepted docs, rep3 = gen-3
    decisions vs store2."""
    return (
        _sql_store_gen2_ctes()
        + """,
store2 AS MATERIALIZED (
    SELECT doc_id, text FROM g1
    UNION ALL
    SELECT g2.doc_id, g2.text
    FROM g2 JOIN rep2 ON rep2.doc_id = g2.doc_id
    WHERE rep2.decision = 'new'
),"""
        + _sql_minhash_ctes("store2", "s2_")
        + ","
        + _sql_minhash_ctes("g3", "b3_")
        + ","
        + _SQL_STORE_KEPT_T.format(n=3, s="s2_", b="b3_", cap=_MAX_BUCKET)
        + ","
        + _SQL_STORE_REP_T.format(
            n=3, s="s2_", b="b3_", bsrc="g3", ssrc="store2"
        )
        + """
SELECT CAST(2 AS INTEGER) AS gen, doc_id, content_hash, is_exact_dup,
       n_near_store, decision, CAST(1 AS INTEGER) AS store_version
FROM rep2
UNION ALL
SELECT CAST(3 AS INTEGER) AS gen, doc_id, content_hash, is_exact_dup,
       n_near_store, decision, CAST(2 AS INTEGER) AS store_version
FROM rep3"""
    )


def _tt_store(spark: SparkSession, sf_dir: str) -> str:
    """Two-generation Delta-table signature store for the read-only
    time-travel query, built once per (session, sf_dir) through
    ``session_memo`` — unlike the roundtrip query, nothing mutates the
    store after v1, so re-runs can (and should) reuse the committed
    artifact, and two threads asking at once cannot both ingest into it.
    Each build writes a fresh ``unique_name`` path: a new SparkContext in
    the same process rebuilds, and ingesting into the previous session's
    store would append both generations again as v2 and v3."""
    import hashlib as _h
    import os as _o

    from .util import session_tmpdir

    def build() -> str:
        tag = _h.md5(sf_dir.encode()).hexdigest()[:8]
        path = _o.path.join(session_tmpdir("tt_store"), unique_name(f"tt_{tag}"))
        g1, g2, _g3 = _store_generations(spark, sf_dir)
        dedup.neardup_store_ingest(
            spark, path, g1, num_hashes=_NH, max_bucket=_MAX_BUCKET
        )
        dedup.neardup_store_ingest(
            spark, path, g2, num_hashes=_NH, max_bucket=_MAX_BUCKET
        )
        return path

    return session_memo(spark, ("tt_store", sf_dir), build)


def q_store_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time travel over the versioned signature store — the audit read
    the Delta log's snapshot isolation exists for (`VERSION AS OF`, via
    `read_delta(..., version=)`, on the engine's own artifact): read v0
    and v1 of the two-generation store and tag every CURRENT row with the
    FIRST version that contains it (an anti-join of adjacent snapshots —
    the commit provenance a compliance audit asks for: *when did this
    signature enter the store?*).  Versions are immutable Delta commits,
    so the query is read-only and re-runs reuse the artifact.
    Oracle: gen-1 docs carry version 0; gen-2 docs ACCEPTED against the
    gen-1 store (the rep2 decision recompute) carry version 1."""
    from .sources.delta_read import read_delta

    path = _tt_store(spark, sf_dir)
    v0 = read_delta(spark, path, version=0).select("doc_id", "content_hash")
    v1 = read_delta(spark, path, version=1).select("doc_id", "content_hash")
    delta = v1.join(v0.select("doc_id"), "doc_id", "left_anti")
    return v0.select(
        "doc_id", "content_hash", F.lit(0).cast("int").alias("first_version")
    ).unionByName(
        delta.select(
            "doc_id",
            "content_hash",
            F.lit(1).cast("int").alias("first_version"),
        )
    )


def _sql_store_time_travel() -> str:
    return (
        _sql_store_gen2_ctes()
        + """
SELECT doc_id, md5(text) AS content_hash, CAST(0 AS INTEGER) AS first_version
FROM g1
UNION ALL
SELECT doc_id, content_hash, CAST(1 AS INTEGER) AS first_version
FROM rep2 WHERE decision = 'new'"""
    )


def q_neardup_store_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The BUCKETED-LAYOUT signature-store lifecycle
    (`dedup.bucketed_store_ingest`) — the round-12 store-axis probe's
    recommendation gated: the store persists as two catalog tables
    CLUSTERED BY their join keys (sigs by content_hash, bands by
    (band, bh)), so each ingest generation plans ZERO store-side
    Exchange — the store scans report HashPartitioning from the bucket
    metadata and only the (small) daily batch shuffles
    (tests/test_round13.py pins the plan; the hot-bucket occupancy
    count is exchange-free on the store side too).  Same three
    generations and decide semantics as `q_neardup_store_roundtrip`
    (which gates the VERSIONED Delta-table generation of the same store;
    the engine's lake writers keep no bucket spec, so no one table
    carries both properties).  Oracle: the two-level nested corpus
    recompute, minus the version tags."""
    import hashlib as _h

    g1, g2, g3 = _store_generations(spark, sf_dir)
    # Fresh catalog tables per invocation (ingest mutates the store);
    # previous invocations' tables are dropped to keep the warehouse
    # bounded across repeated bench runs.
    tag = _h.md5(sf_dir.encode()).hexdigest()[:8]
    name = unique_name(f"ndb_{tag}")
    for t in spark.catalog.listTables():
        if t.name.startswith(f"ndb_{tag}_"):
            spark.sql(f"DROP TABLE IF EXISTS {t.name}")
    # A previous PROCESS's tables outlive its in-memory catalog as bare
    # warehouse directories — clear them too or saveAsTable refuses the
    # location (catalog drops above already removed their dirs).
    import os as _os
    import shutil as _sh

    wh = spark.conf.get(
        "spark.sql.warehouse.dir", "spark-warehouse"
    ).removeprefix("file:")
    if _os.path.isdir(wh):
        for d in _os.listdir(wh):
            if d.startswith(f"ndb_{tag}_"):
                _sh.rmtree(_os.path.join(wh, d), ignore_errors=True)
    _r1 = dedup.bucketed_store_ingest(
        spark, name, g1, num_hashes=_NH, max_bucket=_MAX_BUCKET
    )
    r2 = dedup.bucketed_store_ingest(
        spark, name, g2, num_hashes=_NH, max_bucket=_MAX_BUCKET
    )
    r3 = dedup.bucketed_store_ingest(
        spark, name, g3, num_hashes=_NH, max_bucket=_MAX_BUCKET
    )

    def _tag(r: DataFrame, gen: int) -> DataFrame:
        return r.select(
            F.lit(gen).cast("int").alias("gen"),
            "doc_id",
            "content_hash",
            "is_exact_dup",
            "n_near_store",
            "decision",
        )

    return _tag(r2, 2).unionByName(_tag(r3, 3))


def _sql_neardup_store_bucketed() -> str:
    """q_neardup_store_roundtrip's oracle minus the version tags — the
    bucketed generation has identical decide semantics, different
    physical layout."""
    return (
        _sql_store_gen2_ctes()
        + """,
store2 AS MATERIALIZED (
    SELECT doc_id, text FROM g1
    UNION ALL
    SELECT g2.doc_id, g2.text
    FROM g2 JOIN rep2 ON rep2.doc_id = g2.doc_id
    WHERE rep2.decision = 'new'
),"""
        + _sql_minhash_ctes("store2", "s2_")
        + ","
        + _sql_minhash_ctes("g3", "b3_")
        + ","
        + _SQL_STORE_KEPT_T.format(n=3, s="s2_", b="b3_", cap=_MAX_BUCKET)
        + ","
        + _SQL_STORE_REP_T.format(
            n=3, s="s2_", b="b3_", bsrc="g3", ssrc="store2"
        )
        + """
SELECT CAST(2 AS INTEGER) AS gen, doc_id, content_hash, is_exact_dup,
       n_near_store, decision
FROM rep2
UNION ALL
SELECT CAST(3 AS INTEGER) AS gen, doc_id, content_hash, is_exact_dup,
       n_near_store, decision
FROM rep3"""
    )


_HOLT_A, _HOLT_G = 0.3, 0.1  # level / trend smoothing


def q_holt_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt's linear-trend exponential smoothing of the daily event
    count — the forecasting primitive between q_lag_ma's moving average
    (no trend) and the Spark-ML RF (no oracle): one-step-ahead fitted
    values F_t = l_{t-1} + b_{t-1} with l_t = α·y_t + (1−α)(l_{t-1} +
    b_{t-1}), b_t = γ(l_t − l_{t-1}) + (1−γ)b_{t-1}, initialized l₁ =
    y₁, b₁ = y₂ − y₁.

    A smoothing recurrence is inherently sequential, so the engine
    collapses the DAY-GRAIN series (calendar-bounded — the
    fare_daily_features rationale) into one sorted array and folds it
    with `F.aggregate` — the whole recurrence stays a JVM expression
    tree, no Python, no collect; the corpus-grain work is only the
    daily count aggregation.  The oracle replays the identical
    recurrence through a recursive CTE: both engines evaluate the SAME
    per-step double arithmetic on exact integer y's in the SAME order,
    so the fold is bit-reproducible (rounded at the end regardless)."""
    ev = load_tables(spark, sf_dir)["events"].where(F.col("ts").isNotNull())
    daily = ev.groupBy(F.to_date("ts").alias("day")).agg(
        F.count(F.lit(1)).cast("long").alias("y")
    )
    arr = daily.agg(
        F.sort_array(F.collect_list(F.struct("day", "y"))).alias("s")
    )
    a, g = _HOLT_A, _HOLT_G
    # fold state: (l, b, out[(day, y, fhat)]); seeds consume s[1], s[2]
    fold = F.aggregate(
        F.slice(F.col("s"), 2, F.size("s") - 1),
        F.struct(
            F.element_at("s", 1)["y"].cast("double").alias("l"),
            (
                F.element_at("s", 2)["y"] - F.element_at("s", 1)["y"]
            ).cast("double").alias("b"),
            F.expr(
                "CAST(array() AS"
                " array<struct<day date, y bigint, fhat double>>)"
            ).alias("out"),
        ),
        lambda acc, x: F.struct(
            (
                F.lit(a) * x["y"].cast("double")
                + F.lit(1 - a) * (acc["l"] + acc["b"])
            ).alias("l"),
            (
                F.lit(g)
                * (
                    (
                        F.lit(a) * x["y"].cast("double")
                        + F.lit(1 - a) * (acc["l"] + acc["b"])
                    )
                    - acc["l"]
                )
                + F.lit(1 - g) * acc["b"]
            ).alias("b"),
            F.concat(
                acc["out"],
                F.array(
                    F.struct(
                        x["day"].alias("day"),
                        x["y"].alias("y"),
                        (acc["l"] + acc["b"]).alias("fhat"),
                    )
                ),
            ).alias("out"),
        ),
    )
    return (
        arr.where(F.size("s") >= 2)
        .select(F.explode(fold["out"]).alias("r"))
        .select(
            F.col("r.day").alias("day"),
            F.col("r.y").alias("y"),
            _rnd(F.col("r.fhat"), 6).alias("fhat"),
        )
    )


def _sql_holt_linear() -> str:
    a, g = _HOLT_A, _HOLT_G
    # identical arithmetic trees: l' = a*y + (1-a)*(l+b);
    # b' = g*(l' - l) + (1-g)*b; fhat emitted BEFORE the update
    lnew = f"{a!r} * CAST(i.y AS DOUBLE) + {1 - a!r} * (r.l + r.b)"
    return f"""
WITH RECURSIVE daily AS (
    SELECT CAST(ts AS DATE) AS day, CAST(count(*) AS BIGINT) AS y
    FROM events WHERE ts IS NOT NULL GROUP BY 1
),
idx AS (
    SELECT day, y, row_number() OVER (ORDER BY day) AS i FROM daily
),
hw(i, l, b, day, y, fhat) AS (
    SELECT 2,
           {a!r} * CAST(i2.y AS DOUBLE)
               + {1 - a!r} * (CAST(i1.y AS DOUBLE)
                              + CAST(i2.y - i1.y AS DOUBLE)),
           {g!r} * (({a!r} * CAST(i2.y AS DOUBLE)
                     + {1 - a!r} * (CAST(i1.y AS DOUBLE)
                                    + CAST(i2.y - i1.y AS DOUBLE)))
                    - CAST(i1.y AS DOUBLE))
               + {1 - g!r} * CAST(i2.y - i1.y AS DOUBLE),
           i2.day, i2.y,
           CAST(i1.y AS DOUBLE) + CAST(i2.y - i1.y AS DOUBLE)
    FROM idx i1 JOIN idx i2 ON i1.i = 1 AND i2.i = 2
    UNION ALL
    SELECT r.i + 1,
           {lnew},
           {g!r} * (({lnew}) - r.l) + {1 - g!r} * r.b,
           i.day, i.y, r.l + r.b
    FROM hw r JOIN idx i ON i.i = r.i + 1
)
SELECT day, y, round(1e-9 + fhat, 6) AS fhat FROM hw"""


_DBSCAN_EPS = 2  # L-infinity radius on the (n_events, avg_value) lattice
_DBSCAN_MINPTS = 5  # weighted self-inclusive density threshold


def q_dbscan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grid-cell DBSCAN over the user behavior lattice — density-based
    clustering beside the centroid family (q_kmeans_cells /
    q_centroid_assign): users collapse to integer lattice points
    (x = event count, y = lattice-exact mean value), every point gets
    its weighted ε-neighborhood density, core points (density ≥ minPts)
    cluster by ε-reachability (connected components over the core-core
    graph), border points adopt their smallest core neighbor's cluster,
    the rest is noise.

    Scale design — the three classic DBSCAN blow-ups, each closed:
    (1) neighbor search never scans all pairs — points bucket into
    ε-sized grid cells and candidates come from a 9-cell offset
    equi-join (each neighbor found exactly once, no distinct needed);
    (2) identical users collapse FIRST — density is the weighted sum
    over distinct lattice points, so a million identical users cost one
    row; (3) clustering reuses `dedup.connected_components` (min-label
    over localCheckpointed rounds).  L∞ distance keeps everything on
    the exact integer lattice (y = Σ⌊100·value⌋ // (100·n) — never a
    double mean); the oracle replays density over a direct pair join
    and the components through a recursive CTE."""
    ev = load_tables(spark, sf_dir)["events"].where(
        F.col("user_id").isNotNull() & F.col("value").isNotNull()
    )
    pts = (
        ev.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("x"),
            F.sum(F.floor(F.col("value") * 100).cast("long"))
            .cast("long")
            .alias("sv"),
        )
        .select(
            "x",
            F.expr("sv div (100 * x)").cast("long").alias("y"),
        )
        .groupBy("x", "y")
        .agg(F.count(F.lit(1)).cast("long").alias("w"))
        .localCheckpoint()
    )
    eps, minpts = _DBSCAN_EPS, _DBSCAN_MINPTS
    pid = (F.col("x") * 1000000 + F.col("y")).cast("long")
    p = pts.select(pid.alias("pid"), "x", "y", "w")
    offs = spark.range(9).select(
        (F.col("id") % 3 - 1).cast("long").alias("dx"),
        (F.col("id") / 3).cast("long").alias("dy0"),
    ).select("dx", (F.col("dy0") - 1).alias("dy"))
    left = p.crossJoin(F.broadcast(offs)).select(
        F.col("pid").alias("pid_a"),
        F.col("x").alias("xa"),
        F.col("y").alias("ya"),
        F.col("w").alias("wa"),
        (F.expr("x div " + str(eps)) + F.col("dx")).alias("cx"),
        (F.expr("y div " + str(eps)) + F.col("dy")).alias("cy"),
    )
    right = p.select(
        F.col("pid").alias("pid_b"),
        F.col("x").alias("xb"),
        F.col("y").alias("yb"),
        F.col("w").alias("wb"),
        F.expr(f"x div {eps}").alias("cx"),
        F.expr(f"y div {eps}").alias("cy"),
    )
    nbr = (
        left.join(right, ["cx", "cy"])
        .where(
            (F.abs(F.col("xa") - F.col("xb")) <= eps)
            & (F.abs(F.col("ya") - F.col("yb")) <= eps)
            & (F.col("pid_a") != F.col("pid_b"))
        )
        .select("pid_a", "pid_b", "wa", "wb")
        .localCheckpoint()
    )
    dens = (
        p.join(
            nbr.groupBy(F.col("pid_a").alias("pid")).agg(
                F.sum("wb").cast("long").alias("w_nbr")
            ),
            "pid",
            "left",
        )
        .select(
            "pid",
            "x",
            "y",
            "w",
            (F.col("w") + F.coalesce("w_nbr", F.lit(0)))
            .cast("long")
            .alias("density"),
        )
        .localCheckpoint()
    )
    cores = dens.where(F.col("density") >= minpts).select("pid")
    ca = cores.select(F.col("pid").alias("pid_a"))
    cb = cores.select(F.col("pid").alias("pid_b"))
    core_edges = (
        nbr.join(ca, "pid_a")
        .join(cb, "pid_b")
        .where(F.col("pid_a") < F.col("pid_b"))
        .select(F.col("pid_a").alias("doc_a"), F.col("pid_b").alias("doc_b"))
    )
    # large_star, not the min-label default: ε-reachability over a grid
    # LATTICE is the long-path graph shape the CC docstring warns about —
    # min-label needed 20 rounds (O(diameter), ~140 driver jobs) at sf0.1
    # where the two-phase algorithm converges in 6 (O(log n); identical
    # fixpoint, result-hash invariant — round-13 optimization measurement)
    cc = dedup.connected_components(
        core_edges,
        cores.select(F.col("pid").alias("doc_id")),
        mode="large_star",
    ).select(F.col("doc_id").alias("pid"), "cluster_id")
    border = (
        nbr.join(cb.withColumn("__c", F.lit(1)), "pid_b")
        .join(cc.select(F.col("pid").alias("pid_b"), "cluster_id"), "pid_b")
        .groupBy(F.col("pid_a").alias("pid"))
        .agg(F.min("cluster_id").cast("long").alias("b_cluster"))
    )
    return (
        dens.join(cc, "pid", "left")
        .join(border, "pid", "left")
        .select(
            "x",
            "y",
            "w",
            "density",
            F.when(F.col("cluster_id").isNotNull(), "core")
            .when(F.col("b_cluster").isNotNull(), "border")
            .otherwise("noise")
            .alias("role"),
            F.coalesce(F.col("cluster_id"), F.col("b_cluster"))
            .cast("long")
            .alias("cluster"),
        )
    )


def _sql_dbscan() -> str:
    eps, minpts = _DBSCAN_EPS, _DBSCAN_MINPTS
    return f"""
WITH RECURSIVE pts AS (
    SELECT x, y, CAST(count(*) AS BIGINT) AS w
    FROM (
        SELECT CAST(count(*) AS BIGINT) AS x,
               CAST(sum(CAST(floor(value * 100) AS BIGINT))
                    // (100 * count(*)) AS BIGINT) AS y
        FROM events
        WHERE user_id IS NOT NULL AND value IS NOT NULL
        GROUP BY user_id
    ) GROUP BY 1, 2
),
p AS (
    SELECT CAST(x * 1000000 + y AS BIGINT) AS pid, x, y, w FROM pts
),
nbr AS MATERIALIZED (
    SELECT a.pid AS pid_a, b.pid AS pid_b, a.w AS wa, b.w AS wb
    FROM p a JOIN p b
      ON abs(a.x - b.x) <= {eps} AND abs(a.y - b.y) <= {eps}
     AND a.pid <> b.pid
),
dens AS MATERIALIZED (
    SELECT p.pid, p.x, p.y, p.w,
           CAST(p.w + coalesce(n.w_nbr, 0) AS BIGINT) AS density
    FROM p LEFT JOIN (
        SELECT pid_a AS pid, CAST(sum(wb) AS BIGINT) AS w_nbr
        FROM nbr GROUP BY 1
    ) n ON n.pid = p.pid
),
cores AS MATERIALIZED (SELECT pid FROM dens WHERE density >= {minpts}),
ce AS MATERIALIZED (
    SELECT n.pid_a AS src, n.pid_b AS dst
    FROM nbr n JOIN cores a ON a.pid = n.pid_a JOIN cores b ON b.pid = n.pid_b
),
reach(node, lab) AS (
    SELECT pid, pid FROM cores
    UNION
    SELECT e.dst, r.lab FROM reach r JOIN ce e ON e.src = r.node
),
cc AS MATERIALIZED (
    SELECT node AS pid, CAST(min(lab) AS BIGINT) AS cluster_id
    FROM reach GROUP BY 1
),
border AS MATERIALIZED (
    SELECT n.pid_a AS pid, CAST(min(c.cluster_id) AS BIGINT) AS b_cluster
    FROM nbr n JOIN cc c ON c.pid = n.pid_b
    GROUP BY 1
)
SELECT d.x, d.y, d.w, d.density,
       CASE WHEN c.cluster_id IS NOT NULL THEN 'core'
            WHEN b.b_cluster IS NOT NULL THEN 'border'
            ELSE 'noise' END AS role,
       CAST(coalesce(c.cluster_id, b.b_cluster) AS BIGINT) AS cluster
FROM dens d
LEFT JOIN cc c ON c.pid = d.pid
LEFT JOIN border b ON b.pid = d.pid"""


_RDV_SHARDS = 8  # rendezvous baseline shard count (resize probes S+1)


def _rdv_hash_sql(key_expr: str, s: int) -> str:
    """Engine-portable 60-bit rendezvous weight for (key, shard s) —
    DuckDB spelling; the Spark twin uses conv()."""
    return (
        f"CAST(('0x' || substr(md5({key_expr} || '#shard{s}'), 1, 15))"
        " AS BIGINT)"
    )


def q_consistent_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rendezvous (highest-random-weight) shard assignment + the
    minimal-movement resize audit — the data-placement primitive behind
    consistent ingestion, shard-local caches, and sticky routing: each
    doc goes to the shard with the highest md5(key, shard) weight, and
    growing the ring S → S+1 moves EXACTLY the docs whose new shard's
    weight wins — an expected 1/(S+1) of the corpus, with no other doc
    moving (the property modulo-hashing lacks: `hash % S` reshuffles
    ~everything).  Output: per shard under the grown ring, population
    before/after and how many docs moved IN — balance and movement in
    one readout.

    Shape: ZERO shuffles before the ≤S+1-group count — assignment is a
    map-side expression (S+1 md5s per row, all whole-stage codegen);
    ties are impossible (distinct md5 inputs)."""
    d = _docs(spark, sf_dir).select("doc_id")
    key = "CAST(doc_id AS STRING)"
    hs = [
        F.expr(
            f"CAST(conv(substr(md5({key} || '#shard{s}'), 1, 15), 16, 10)"
            " AS BIGINT)"
        ).alias(f"h{s}")
        for s in range(_RDV_SHARDS + 1)
    ]
    w = d.select(*hs)

    def shard_col(n: int):
        m = F.greatest(*[F.col(f"h{s}") for s in range(n)])
        c = F.when(F.col("h0") == m, 0)
        for s in range(1, n):
            c = c.when(F.col(f"h{s}") == m, s)
        return c.cast("long")

    a = w.select(
        shard_col(_RDV_SHARDS).alias("s8"),
        shard_col(_RDV_SHARDS + 1).alias("s9"),
    )
    return (
        a.groupBy(F.col("s9").alias("shard"))
        .agg(
            F.sum(F.when(F.col("s8") == F.col("s9"), 1).otherwise(0))
            .cast("long")
            .alias("stayed"),
            F.sum(F.when(F.col("s8") != F.col("s9"), 1).otherwise(0))
            .cast("long")
            .alias("moved_in"),
            F.count(F.lit(1)).cast("long").alias("n_after"),
        )
        .select("shard", "stayed", "moved_in", "n_after")
    )


def _sql_consistent_hash() -> str:
    key = "CAST(doc_id AS VARCHAR)"
    hs = ",\n           ".join(
        f"{_rdv_hash_sql(key, s)} AS h{s}" for s in range(_RDV_SHARDS + 1)
    )

    def shard_expr(n: int) -> str:
        m = "greatest(" + ", ".join(f"h{s}" for s in range(n)) + ")"
        whens = " ".join(
            f"WHEN h{s} = {m} THEN {s}" for s in range(n)
        )
        return f"CAST(CASE {whens} END AS BIGINT)"

    return f"""
WITH w AS (
    SELECT {hs}
    FROM documents
),
a AS (
    SELECT {shard_expr(_RDV_SHARDS)} AS s8,
           {shard_expr(_RDV_SHARDS + 1)} AS s9
    FROM w
)
SELECT s9 AS shard,
       CAST(sum(CASE WHEN s8 = s9 THEN 1 ELSE 0 END) AS BIGINT) AS stayed,
       CAST(sum(CASE WHEN s8 <> s9 THEN 1 ELSE 0 END) AS BIGINT) AS moved_in,
       CAST(count(*) AS BIGINT) AS n_after
FROM a GROUP BY 1"""


def q_feature_hash_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature-hashing (hashing-trick) collision audit — before
    hash-bucketing a vocabulary into 2^k model slots, measure what the
    trick destroys: distinct corpus tokens hash into 4096 buckets
    (md5-derived, engine-portable), and the report gives feature count,
    buckets used, colliding buckets, features sharing a slot, the worst
    bucket load, and the collision rate.  ONE distinct-token
    aggregation then bucket-grain work; the output is a 1-row summary
    on exact integers (rate = one division, rounded)."""
    from .functions import text as T

    d = _docs(spark, sf_dir)
    toks = (
        d.select(F.explode(T.tokens(F.col("text"))).alias("tok"))
        .where(F.col("tok") != "")
        .distinct()
    )
    b = toks.select(
        F.expr(
            "pmod(CAST(conv(substr(md5(tok), 1, 15), 16, 10) AS BIGINT),"
            " 4096)"
        ).alias("bucket")
    ).groupBy("bucket").agg(F.count(F.lit(1)).cast("long").alias("c"))
    return b.agg(
        F.sum("c").cast("long").alias("n_features"),
        F.count(F.lit(1)).cast("long").alias("buckets_used"),
        F.sum(F.when(F.col("c") > 1, 1).otherwise(0))
        .cast("long")
        .alias("collision_buckets"),
        F.sum(F.when(F.col("c") > 1, F.col("c")).otherwise(0))
        .cast("long")
        .alias("collided_features"),
        F.max("c").cast("long").alias("max_bucket_load"),
    ).select(
        "n_features",
        "buckets_used",
        "collision_buckets",
        "collided_features",
        "max_bucket_load",
        _rnd(
            F.col("collided_features").cast("double")
            / F.col("n_features").cast("double"),
            6,
        ).alias("collision_rate"),
    )


_SQL_FEATURE_HASH_AUDIT = """
WITH toks AS (
    SELECT DISTINCT unnest(list_filter(
        string_split_regex(text, '\\s+'), t -> t <> '')) AS tok
    FROM documents
),
b AS (
    SELECT CAST(('0x' || substr(md5(tok), 1, 15)) AS BIGINT) % 4096
               AS bucket,
           CAST(count(*) AS BIGINT) AS c
    FROM toks GROUP BY 1
),
one AS (
    SELECT CAST(sum(c) AS BIGINT) AS n_features,
           CAST(count(*) AS BIGINT) AS buckets_used,
           CAST(sum(CASE WHEN c > 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS collision_buckets,
           CAST(sum(CASE WHEN c > 1 THEN c ELSE 0 END) AS BIGINT)
               AS collided_features,
           CAST(max(c) AS BIGINT) AS max_bucket_load
    FROM b
)
SELECT n_features, buckets_used, collision_buckets, collided_features,
       max_bucket_load,
       round(1e-9 + CAST(collided_features AS DOUBLE)
             / CAST(n_features AS DOUBLE), 6) AS collision_rate
FROM one"""


def q_gdpr_export(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Subject-access export scope (GDPR Art. 15 — the READ twin of
    `q_rtbf_plan`'s deletion pricing): for every data subject in the
    request cohort (c_custkey % 97 == 7), how many rows each table of
    the star holds about them and the subject's order-date span — the
    per-table manifest a compliance export job materializes.  Customer
    rows match on the key, orders on the FK, lineitems through the
    order FK (one broadcast of the subject keys + one broadcast of the
    subject ORDER keys — the fact scan never shuffles).  Output one row
    per (subject, table), zero-row tables included with n_rows = 0 so
    the export manifest is complete."""
    t = load_tables(spark, sf_dir)
    subj = (
        t["customer"]
        .where(F.col("c_custkey") % 97 == 7)
        .select(F.col("c_custkey").alias("subject_key"))
    )
    cust = (
        t["customer"]
        .join(
            F.broadcast(subj),
            F.col("c_custkey") == F.col("subject_key"),
        )
        .groupBy("subject_key")
        .agg(F.count(F.lit(1)).cast("long").alias("n_rows"))
        .select(
            "subject_key",
            F.lit("customer").alias("table_name"),
            "n_rows",
            F.lit(None).cast("date").alias("first_date"),
            F.lit(None).cast("date").alias("last_date"),
        )
    )
    so = t["orders"].join(
        F.broadcast(subj), F.col("o_custkey") == F.col("subject_key")
    )
    orders = so.groupBy("subject_key").agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.min(F.to_date("o_orderdate")).alias("first_date"),
        F.max(F.to_date("o_orderdate")).alias("last_date"),
    ).select(
        "subject_key",
        F.lit("orders").alias("table_name"),
        "n_rows",
        "first_date",
        "last_date",
    )
    okeys = so.select("subject_key", "o_orderkey")
    li = (
        t["lineitem"]
        .join(
            F.broadcast(okeys),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .groupBy("subject_key")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.min(F.to_date("l_shipdate")).alias("first_date"),
            F.max(F.to_date("l_shipdate")).alias("last_date"),
        )
        .select(
            "subject_key",
            F.lit("lineitem").alias("table_name"),
            "n_rows",
            "first_date",
            "last_date",
        )
    )
    found = cust.unionByName(orders).unionByName(li)
    # complete manifest: every (subject, table) pair, 0 where no rows
    tables = spark.createDataFrame(
        [("customer",), ("orders",), ("lineitem",)], "table_name string"
    )
    frame = subj.crossJoin(F.broadcast(tables))
    return frame.join(found, ["subject_key", "table_name"], "left").select(
        "subject_key",
        "table_name",
        F.coalesce("n_rows", F.lit(0)).cast("long").alias("n_rows"),
        "first_date",
        "last_date",
    )


_SQL_GDPR_EXPORT = """
WITH subj AS (
    SELECT c_custkey AS subject_key FROM customer WHERE c_custkey % 97 = 7
),
cust AS (
    SELECT subject_key, 'customer' AS table_name,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(NULL AS DATE) AS first_date, CAST(NULL AS DATE) AS last_date
    FROM customer JOIN subj ON c_custkey = subject_key
    GROUP BY 1
),
ords AS (
    SELECT subject_key, 'orders' AS table_name,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(min(o_orderdate) AS DATE) AS first_date,
           CAST(max(o_orderdate) AS DATE) AS last_date
    FROM orders JOIN subj ON o_custkey = subject_key
    GROUP BY 1
),
li AS (
    SELECT s.subject_key, 'lineitem' AS table_name,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(min(l.l_shipdate) AS DATE) AS first_date,
           CAST(max(l.l_shipdate) AS DATE) AS last_date
    FROM lineitem l
    JOIN (SELECT subject_key, o_orderkey FROM orders
          JOIN subj ON o_custkey = subject_key) s
      ON l.l_orderkey = s.o_orderkey
    GROUP BY 1
),
found AS (
    SELECT * FROM cust UNION ALL SELECT * FROM ords UNION ALL SELECT * FROM li
),
frame AS (
    SELECT subject_key, t.table_name
    FROM subj CROSS JOIN (
        SELECT unnest(['customer', 'orders', 'lineitem']) AS table_name
    ) t
)
SELECT f.subject_key, f.table_name,
       CAST(COALESCE(fd.n_rows, 0) AS BIGINT) AS n_rows,
       fd.first_date, fd.last_date
FROM frame f
LEFT JOIN found fd
  ON fd.subject_key = f.subject_key AND fd.table_name = f.table_name"""


_RAKE_STOPWORDS = ("a", "the")


def _ingest_generations(spark: SparkSession, sf_dir: str):
    """The two-generation corpus split shared by q_incremental_neardup
    and its streaming preflight: generation 1 (history) = doc_id % 3 != 0;
    generation 2 (the ingest batch) = the fresh docs + planted suffix
    twins (+1e6) + planted exact copies (+2e6)."""
    docs = _docs(spark, sf_dir)
    hist = _scale_out(
        docs.where(F.col("doc_id") % 3 != 0).select("doc_id", "text")
    )
    batch = _scale_out(
        docs.where(F.col("doc_id") % 3 == 0)
        .select("doc_id", "text")
        .unionByName(
            docs.where((F.col("doc_id") % 3 != 0) & (F.col("doc_id") % 5 == 1))
            .select(
                (F.col("doc_id") + 1000000).alias("doc_id"),
                F.expr("substring(text, 31)").alias("text"),
            )
        )
        .unionByName(
            docs.where((F.col("doc_id") % 3 != 0) & (F.col("doc_id") % 7 == 2))
            .select((F.col("doc_id") + 2000000).alias("doc_id"), "text")
        )
    )
    return hist, batch


def q_stream_ingest_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.9 × incremental dedup: the STREAMING ingest preflight against
    the persisted signature store — the 14th streaming query.  The
    generation-2 batch replays as a document stream; each doc pays ONE
    stateless md5 and a stream-static broadcast join against the store's
    content-hash column (history's text never streams, never rescans),
    and a per-shard counter reports known vs new.  This is the exact leg
    of `dedup.incremental_neardup` lifted to the stream; the near leg
    needs a per-doc signature AGGREGATION before its join, which
    Structured Streaming cannot chain ahead of a stream-static join —
    so near-dup stays the batch operator's job (documented split, like
    q_stream_asof's batch-side spine)."""
    from .util import stream_feed

    hist, batch = _ingest_generations(spark, sf_dir)
    known = hist.select(F.md5("text").alias("content_hash")).distinct(
    ).withColumn("__k", F.lit(1))
    stream = stream_feed(batch, "doc_ingest_feed", sf_dir)
    s = stream.select(
        (F.col("doc_id") % 16).alias("shard"),
        F.md5("text").alias("content_hash"),
    )
    agg = (
        s.join(F.broadcast(known), "content_hash", "left")
        .groupBy("shard")
        .agg(
            F.sum(F.when(F.col("__k").isNotNull(), 1).otherwise(0))
            .cast("long")
            .alias("n_known"),
            F.sum(F.when(F.col("__k").isNull(), 1).otherwise(0))
            .cast("long")
            .alias("n_new"),
        )
    )
    return drain_available_now(agg, "q_stream_ingest_dedup_sink")


_SQL_STREAM_INGEST_DEDUP = """
WITH hist AS (SELECT doc_id, text FROM documents WHERE doc_id % 3 <> 0),
batch AS (
    SELECT doc_id, text FROM documents WHERE doc_id % 3 = 0
    UNION ALL
    SELECT doc_id + 1000000 AS doc_id, substr(text, 31) AS text
    FROM documents WHERE doc_id % 3 <> 0 AND doc_id % 5 = 1
    UNION ALL
    SELECT doc_id + 2000000 AS doc_id, text
    FROM documents WHERE doc_id % 3 <> 0 AND doc_id % 7 = 2
),
hch AS (SELECT DISTINCT md5(text) AS kh FROM hist)
SELECT b.doc_id % 16 AS shard,
       CAST(sum(CASE WHEN hch.kh IS NOT NULL THEN 1 ELSE 0 END)
            AS BIGINT) AS n_known,
       CAST(sum(CASE WHEN hch.kh IS NULL THEN 1 ELSE 0 END)
            AS BIGINT) AS n_new
FROM (SELECT doc_id, md5(text) AS bh FROM batch) b
LEFT JOIN hch ON hch.kh = b.bh
GROUP BY 1"""


def q_rake_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAKE keyword extraction (Rose et al. 2010) — corpus-level key
    phrases without a model: texts split into candidate phrases at
    stopword delimiters (running stopword count per doc = phrase id — a
    doc-length-bounded window, never corpus-wide), each word scores
    degree/frequency (degree = Σ lengths of phrases containing it), and a
    phrase scores the sum of its members' word scores.  Top 10 phrases by
    score with exact tiebreaks.

    Exactness: word scores quantize to 1e-6 micro-units via the shared
    textual formula (the q_kruskal_wallis idiom), phrase scores are then
    exact BIGINT sums, and the top-k orders by (score_micro, phrase) —
    no float ever ranks.  Shape: one posexplode, doc-grain windows, a
    vocab-grain broadcast join back, and a global top-10
    (TakeOrdered, never a full sort)."""
    docs = _scale_out(_docs(spark, sf_dir).select("doc_id", "text"))
    words = docs.select(
        "doc_id", T.tokens("text").alias("ws")
    ).select("doc_id", F.posexplode("ws").alias("pos", "word"))
    stop = F.col("word").isin(*_RAKE_STOPWORDS)
    ph = words.select(
        "doc_id",
        "pos",
        "word",
        stop.alias("stop"),
        F.sum(stop.cast("int"))
        .over(Window.partitionBy("doc_id").orderBy("pos"))
        .alias("pid"),
    )
    members = ph.where(~F.col("stop")).persist()
    plen = members.groupBy("doc_id", "pid").agg(
        F.count(F.lit(1)).cast("long").alias("len")
    )
    wscore = (
        members.join(plen, ["doc_id", "pid"])
        .groupBy("word")
        .agg(
            F.sum("len").cast("long").alias("deg"),
            F.count(F.lit(1)).cast("long").alias("freq"),
        )
        .select(
            "word",
            F.expr(
                "CAST(round(deg * 1000000.0 / freq) AS BIGINT)"
            ).alias("score_micro"),
        )
    )
    phr = (
        members.join(F.broadcast(wscore), "word")
        .groupBy("doc_id", "pid")
        .agg(
            F.concat_ws(
                " ",
                F.transform(
                    F.sort_array(
                        F.collect_list(F.struct("pos", "word"))
                    ),
                    lambda x: x["word"],
                ),
            ).alias("phrase"),
            F.count(F.lit(1)).cast("long").alias("n_words"),
            F.sum("score_micro").cast("long").alias("score_micro"),
        )
    )
    return (
        phr.groupBy("phrase")
        .agg(
            F.max("n_words").alias("n_words"),
            F.count(F.lit(1)).cast("long").alias("n_occur"),
            F.max("score_micro").alias("__sm"),
        )
        .orderBy(F.desc("__sm"), F.asc("phrase"))
        .limit(10)
        .select(
            "phrase",
            "n_words",
            "n_occur",
            _rnd(F.col("__sm") / F.lit(1e6), 6).alias("score"),
        )
    )


_SQL_RAKE_KEYWORDS = f"""
WITH tokd AS (
    SELECT doc_id,
           list_filter(string_split_regex(text, '\\s+'), t -> t <> '') AS ws
    FROM documents
),
words AS (
    -- parallel unnests zip: position list and word list pair up row-wise
    SELECT doc_id,
           CAST(unnest(range(1, len(ws) + 1)) AS INTEGER) AS pos,
           unnest(ws) AS word
    FROM tokd
),
ph AS (
    SELECT doc_id, pos, word,
           word IN {_RAKE_STOPWORDS!r} AS stop,
           sum(CASE WHEN word IN {_RAKE_STOPWORDS!r} THEN 1 ELSE 0 END)
               OVER (PARTITION BY doc_id ORDER BY pos) AS pid
    FROM words
),
members AS (SELECT doc_id, pid, pos, word FROM ph WHERE NOT stop),
plen AS (
    SELECT doc_id, pid, CAST(count(*) AS BIGINT) AS len
    FROM members GROUP BY 1, 2
),
wscore AS (
    SELECT word,
           CAST(round(deg * 1000000.0 / freq) AS BIGINT) AS score_micro
    FROM (
        SELECT m.word, CAST(sum(p.len) AS BIGINT) AS deg,
               CAST(count(*) AS BIGINT) AS freq
        FROM members m JOIN plen p USING (doc_id, pid)
        GROUP BY 1)
),
phr AS (
    SELECT m.doc_id, m.pid,
           string_agg(m.word, ' ' ORDER BY m.pos) AS phrase,
           CAST(count(*) AS BIGINT) AS n_words,
           CAST(sum(w.score_micro) AS BIGINT) AS score_micro
    FROM members m JOIN wscore w USING (word)
    GROUP BY 1, 2
)
SELECT phrase, n_words, CAST(n_occur AS BIGINT) AS n_occur,
       round(1e-9 + sm / 1e6, 6) AS score
FROM (
    SELECT phrase, max(n_words) AS n_words, count(*) AS n_occur,
           max(score_micro) AS sm
    FROM phr GROUP BY 1)
ORDER BY sm DESC, phrase ASC LIMIT 10"""


def q_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact word-3-gram Jaccard on a deterministic corpus sample."""
    sample = _text_corpus(_docs(spark, sf_dir)).where(F.col("doc_id") % 20 == 0)
    # persisted: the shingle frame feeds THREE scans (self-join a/b + sizes)
    pairs = dedup.jaccard_pairs(dedup.shingle_rows(sample).persist())
    return pairs.select("doc_a", "doc_b", _rnd(F.col("jaccard"), 6).alias("jaccard"))


_SQL_NGRAM_JACCARD = (
    "WITH "
    + ",".join([SQL_CORPUS, SQL_TOK, SQL_SH])
    + """,
samp AS (SELECT * FROM sh WHERE doc_id % 20 = 0),
sizes AS (SELECT doc_id, count(*) AS sz FROM samp GROUP BY 1),
inter AS (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
    FROM samp a JOIN samp b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
    GROUP BY 1, 2
)
SELECT i.doc_a, i.doc_b,
       round(1e-9 + i.n_common / (sa.sz + sb.sz - i.n_common), 6) AS jaccard
FROM inter i
JOIN sizes sa ON sa.doc_id = i.doc_a
JOIN sizes sb ON sb.doc_id = i.doc_b"""
)


def q_lsh_hot_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hot-bucket observability for the capped LSH dedup path: every band
    bucket larger than the threshold, with its size — what a production
    run audits to see exactly which boilerplate mass the `max_bucket` cap
    skipped (`dedup.lsh_hot_buckets`). Threshold 3 here so the report has
    rows at gate scale; at corpus scale the operational threshold is the
    cap itself (DEFAULT_MAX_BUCKET)."""
    corpus = _text_corpus(_docs(spark, sf_dir))
    sig = dedup.minhash_signatures(dedup.shingle_rows(corpus), num_hashes=_NH)
    return dedup.lsh_hot_buckets(dedup.lsh_bands(sig, num_hashes=_NH), max_bucket=3)


_SQL_LSH_HOT_BUCKETS = (
    "WITH "
    + ",".join([SQL_CORPUS, SQL_TOK, SQL_SH, SQL_MINHASH])
    + """
SELECT band, bh, CAST(count(*) AS BIGINT) AS bucket_size
FROM bands GROUP BY 1, 2 HAVING count(*) > 3"""
)


def q_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric shingle containment (Broder): |A∩B|/|A| and /|B| per
    co-shingled pair on the deterministic sample — the quote/subset
    detector decontamination needs (a benchmark question quoted inside a
    long training doc has high containment-in-eval but low Jaccard). The
    suffix-twin corpus is the planted case: the twin is a near-subset of
    its parent, so containment_b ≫ jaccard."""
    sample = _text_corpus(_docs(spark, sf_dir)).where(F.col("doc_id") % 20 == 0)
    # persisted: the shingle frame feeds THREE scans (self-join a/b + sizes)
    pairs = dedup.containment_pairs(dedup.shingle_rows(sample).persist())
    return pairs.select(
        "doc_a",
        "doc_b",
        _rnd(F.col("containment_a"), 6).alias("containment_a"),
        _rnd(F.col("containment_b"), 6).alias("containment_b"),
    )


_SQL_CONTAINMENT = (
    "WITH "
    + ",".join([SQL_CORPUS, SQL_TOK, SQL_SH])
    + """,
samp AS (SELECT * FROM sh WHERE doc_id % 20 = 0),
sizes AS (SELECT doc_id, count(*) AS sz FROM samp GROUP BY 1),
inter AS (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
    FROM samp a JOIN samp b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
    GROUP BY 1, 2
)
SELECT i.doc_a, i.doc_b,
       round(1e-9 + i.n_common / sa.sz, 6) AS containment_a,
       round(1e-9 + i.n_common / sb.sz, 6) AS containment_b
FROM inter i
JOIN sizes sa ON sa.doc_id = i.doc_a
JOIN sizes sb ON sb.doc_id = i.doc_b"""
)


def q_normalize_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonicalization-then-hash dedup: lowercase / strip punctuation /
    collapse whitespace (`text.canonicalize`), then exact groupBy on the
    canonical md5 — folds case/punct/spacing variants onto one key so the
    expensive near-dup passes only see real content drift. Every 4th doc
    gets a deterministically mangled twin (uppercased + trailing junk)
    that must collapse onto its parent."""
    docs = _docs(spark, sf_dir)
    mangled = docs.where(F.col("doc_id") % 4 == 0).select(
        (F.col("doc_id") + 3000000).alias("doc_id"),
        F.concat(F.upper("text"), F.lit("  !!")).alias("text"),
    )
    corpus = _scale_out(docs.select("doc_id", "text").unionByName(mangled))
    canon = corpus.select("doc_id", T.canonicalize("text").alias("canon"))
    return canon.groupBy(F.md5("canon").alias("canon_hash")).agg(
        F.count(F.lit(1)).cast("long").alias("dup_count"),
        F.min("doc_id").alias("canonical_id"),
    )


_SQL_NORMALIZE_DEDUP = r"""
WITH corpus AS (
    SELECT doc_id, text FROM documents
    UNION ALL
    SELECT doc_id + 3000000 AS doc_id, upper(text) || '  !!' AS text
    FROM documents WHERE doc_id % 4 = 0
),
canon AS (
    SELECT doc_id,
           trim(regexp_replace(regexp_replace(lower(text),
                '[^a-z0-9\s]', '', 'g'), '\s+', ' ', 'g')) AS canon
    FROM corpus
)
SELECT md5(canon) AS canon_hash,
       CAST(count(*) AS BIGINT) AS dup_count,
       min(doc_id) AS canonical_id
FROM canon GROUP BY 1"""


def q_dedup_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ACTIONABLE output of the exact-dedup stage: a removal plan —
    one row per doc to DELETE, naming the canonical survivor it duplicates
    (min doc_id per content hash).  This is the artifact the pipeline
    executes and audits, as opposed to the group-level report
    (q_dedup_exact).  Every third doc gets an exact copy planted at
    id+5,000,000, so the plan is non-trivial and fully deterministic."""
    docs = _docs(spark, sf_dir).select("doc_id", "text")
    copies = docs.where(F.col("doc_id") % 3 == 0).select(
        (F.col("doc_id") + 5000000).alias("doc_id"), "text"
    )
    keys = (
        _scale_out(docs.unionByName(copies))
        .select("doc_id", F.md5("text").alias("h"))
    )
    kept = keys.groupBy("h").agg(F.min("doc_id").alias("kept_id"))
    return (
        keys.join(kept, "h")
        .where(F.col("doc_id") != F.col("kept_id"))
        .select(F.col("doc_id").alias("removed_id"), "kept_id")
    )


_SQL_DEDUP_PLAN = """
WITH corpus AS (
    SELECT doc_id, text FROM documents
    UNION ALL
    SELECT doc_id + 5000000 AS doc_id, text FROM documents WHERE doc_id % 3 = 0
),
keys AS (SELECT doc_id, md5(text) AS h FROM corpus),
kept AS (SELECT h, min(doc_id) AS kept_id FROM keys GROUP BY 1)
SELECT k.doc_id AS removed_id, kp.kept_id
FROM keys k JOIN kept kp USING (h)
WHERE k.doc_id <> kp.kept_id"""


def q_dup_ngram_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide duplicated-3-gram coverage per document (Lee et al.,
    arXiv:2107.06499): fraction of each doc's 3-gram occurrences whose gram
    also appears in ≥1 OTHER doc.  Linear corpus aggregate — no pair join
    anywhere — so it runs where the pair-wise detectors can't.  The
    truncated-twin corpus makes every twinned doc's shared suffix light up
    (twins sit near coverage 1.0; unique docs near 0)."""
    cov = dedup.dup_ngram_coverage(_text_corpus(_docs(spark, sf_dir)))
    return cov.select(
        "doc_id",
        "n_grams",
        "dup_grams",
        _rnd(F.col("dup_fraction"), 6).alias("dup_fraction"),
    )


_SQL_DUP_NGRAM_COVERAGE = (
    "WITH "
    + ",".join([SQL_CORPUS, SQL_TOK])
    + """,
grams AS (
    SELECT doc_id, unnest(list_transform(
        range(1, greatest(len(w) - 2, 0) + 1),
        i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS gram
    FROM tok
),
per AS (SELECT doc_id, gram, count(*) AS occ FROM grams GROUP BY 1, 2),
dfs AS (SELECT gram, count(*) AS df_docs FROM per GROUP BY 1)
SELECT p.doc_id,
       CAST(sum(p.occ) AS BIGINT) AS n_grams,
       CAST(sum(CASE WHEN d.df_docs > 1 THEN p.occ ELSE 0 END) AS BIGINT)
           AS dup_grams,
       round(1e-9 + sum(CASE WHEN d.df_docs > 1 THEN p.occ ELSE 0 END)
             / sum(p.occ), 6) AS dup_fraction
FROM per p JOIN dfs d USING (gram)
GROUP BY 1"""
)


def q_prefix_filter_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PPJoin-style exact shingle-set Jaccard join at threshold 0.5: prefix
    filtering (each doc's ⌊|d|/2⌋+1 rarest 3-gram shingles) generates
    candidates, exact array-intersection verifies — no signatures, no
    banding false negatives.  Deterministic end to end (integer sizes, one
    division).  Shingle granularity, not bare tokens: on a small synthetic
    vocabulary token sets are all near-identical and the join degenerates
    to all-pairs; 3-grams keep candidates to the true near-dups."""
    pairs = dedup.prefix_filter_pairs(
        dedup.shingle_rows(_text_corpus(_docs(spark, sf_dir))), threshold=0.5
    )
    return pairs.select(
        "doc_a", "doc_b", "n_inter", _rnd(F.col("jaccard"), 6).alias("jaccard")
    )


_SQL_PREFIX_FILTER = (
    "WITH "
    + ",".join([SQL_CORPUS, SQL_TOK, SQL_SH])
    + f""",
tokset AS (SELECT doc_id, shingle AS tok FROM sh),
dfs AS (SELECT tok, count(*) AS df FROM tokset GROUP BY 1),
ranked AS (
    SELECT t.doc_id, t.tok,
           row_number() OVER (PARTITION BY t.doc_id ORDER BY d.df, t.tok) AS rn,
           count(*) OVER (PARTITION BY t.doc_id) AS sz
    FROM tokset t JOIN dfs d USING (tok)
),
-- integer-safe prefix length |d| − ⌈t·|d|⌉ + 1, mirroring the operator
prefix AS (SELECT doc_id, tok FROM ranked
           WHERE rn <= sz - ceil(sz * 0.5 - 1e-9) + 1),
pbuckets AS (
    SELECT tok FROM prefix GROUP BY tok
    HAVING count(*) <= {dedup.DEFAULT_MAX_BUCKET}
),
cand AS (
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM prefix a
    JOIN pbuckets USING (tok)
    JOIN prefix b ON a.tok = b.tok AND a.doc_id < b.doc_id
),
arrs AS (
    SELECT doc_id, list(tok ORDER BY tok) AS ts, count(*) AS sz
    FROM tokset GROUP BY 1
)
SELECT c.doc_a, c.doc_b,
       CAST(len(list_intersect(sa.ts, sb.ts)) AS BIGINT) AS n_inter,
       round(1e-9 + len(list_intersect(sa.ts, sb.ts))
             / (sa.sz + sb.sz - len(list_intersect(sa.ts, sb.ts))), 6)
           AS jaccard
FROM cand c
JOIN arrs sa ON sa.doc_id = c.doc_a
JOIN arrs sb ON sb.doc_id = c.doc_b
WHERE len(list_intersect(sa.ts, sb.ts))
      / (sa.sz + sb.sz - len(list_intersect(sa.ts, sb.ts))) >= 0.5"""
)


def q_crosstab_independence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lang × source contingency table with per-cell chi-square
    contributions — the corpus-balance diagnostic ("is language mix
    independent of feed?").  Margins enter as broadcast joins + the 1-row
    grand-total crossJoin (repo pattern: never a separate count action);
    expected counts and (o−e)²/e are per-row IEEE math over exact integer
    margins.  Cell-level on purpose: a FINAL chi² sum would be an
    order-dependent double aggregation; the per-cell frame is deterministic
    and the driver-side total is one trivial reduction away for a user."""
    d = _docs(spark, sf_dir)
    # one source aggregation; every margin re-aggregates the tiny cell
    # frame (margin/cell consistency by construction, 3 scans saved)
    cells = d.groupBy("lang", "source").agg(
        F.count(F.lit(1)).alias("n_obs")
    ).persist()
    rows = cells.groupBy("lang").agg(F.sum("n_obs").alias("row_tot"))
    cols = cells.groupBy("source").agg(F.sum("n_obs").alias("col_tot"))
    grand = cells.agg(F.sum("n_obs").alias("grand_tot"))
    e = F.col("row_tot") * F.col("col_tot") / F.col("grand_tot")
    return (
        cells.join(F.broadcast(rows), "lang")
        .join(F.broadcast(cols), "source")
        .crossJoin(F.broadcast(grand))
        .select(
            "lang",
            "source",
            "n_obs",
            "row_tot",
            "col_tot",
            _rnd(e, 6).alias("expected"),
            _rnd((F.col("n_obs") - e) * (F.col("n_obs") - e) / e, 6).alias(
                "chi2_cell"
            ),
        )
    )


_SQL_CROSSTAB = """
WITH cells AS (
    SELECT lang, source, count(*) AS n_obs FROM documents GROUP BY 1, 2
),
rows_t AS (SELECT lang, count(*) AS row_tot FROM documents GROUP BY 1),
cols_t AS (SELECT source, count(*) AS col_tot FROM documents GROUP BY 1),
grand AS (SELECT count(*) AS grand_tot FROM documents)
SELECT c.lang, c.source, CAST(c.n_obs AS BIGINT) AS n_obs,
       CAST(r.row_tot AS BIGINT) AS row_tot,
       CAST(s.col_tot AS BIGINT) AS col_tot,
       round(1e-9 + r.row_tot * s.col_tot / g.grand_tot, 6) AS expected,
       round(1e-9 + (c.n_obs - r.row_tot * s.col_tot / g.grand_tot)
                    * (c.n_obs - r.row_tot * s.col_tot / g.grand_tot)
                    / (r.row_tot * s.col_tot / g.grand_tot), 6) AS chi2_cell
FROM cells c
JOIN rows_t r USING (lang)
JOIN cols_t s USING (source)
CROSS JOIN grand g"""


def q_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Source-pair contamination matrix over the RAW corpus (no twins):
    shingle-set Jaccard + both containments for every source pair — the
    "which feeds mirror each other?" dashboard that schedules the per-doc
    dedup work.  Pair space is C(#sources,2), bounded by group count."""
    m = dedup.group_shingle_overlap(_docs(spark, sf_dir), group_col="source")
    return m.select(
        "source_a",
        "source_b",
        "n_common",
        _rnd(F.col("jaccard"), 6).alias("jaccard"),
        _rnd(F.col("containment_a"), 6).alias("containment_a"),
        _rnd(F.col("containment_b"), 6).alias("containment_b"),
    )


_SQL_SOURCE_OVERLAP = r"""
WITH tok AS (
    SELECT source,
           list_filter(string_split_regex(text, '\s+'), t -> t <> '') AS w
    FROM documents
),
sh AS (
    SELECT DISTINCT source, unnest(list_transform(
        range(1, greatest(len(w) - 2, 0) + 1),
        i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS shingle
    FROM tok
),
sizes AS (SELECT source, count(*) AS sz FROM sh GROUP BY 1),
inter AS (
    SELECT a.source AS source_a, b.source AS source_b, count(*) AS n_common
    FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.source < b.source
    GROUP BY 1, 2
)
SELECT i.source_a, i.source_b, CAST(i.n_common AS BIGINT) AS n_common,
       round(1e-9 + i.n_common / (sa.sz + sb.sz - i.n_common), 6) AS jaccard,
       round(1e-9 + i.n_common / sa.sz, 6) AS containment_a,
       round(1e-9 + i.n_common / sb.sz, 6) AS containment_b
FROM inter i
JOIN sizes sa ON sa.source = i.source_a
JOIN sizes sb ON sb.source = i.source_b"""


def q_feature_binning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equal-frequency decile binning of doc length WITHOUT a global sort
    (`operators/sampling.py::quantile_bins`): rank-threshold boundaries from
    a value-cardinality-sized cumulative table, broadcast, map-side assign.
    Integer arithmetic end-to-end — no interpolation, no ulp risk.  Output
    is the per-bin rollup (the feature-distribution report)."""
    from .operators import sampling

    d = _docs(spark, sf_dir).select("doc_id", "n_chars")
    b = sampling.quantile_bins(d, "n_chars", num_bins=10)
    return b.groupBy("bin").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.min("n_chars").alias("min_chars"),
        F.max("n_chars").alias("max_chars"),
    )


_SQL_FEATURE_BINNING = """
WITH nn AS (SELECT count(*) AS n FROM documents WHERE n_chars IS NOT NULL),
vc AS (SELECT n_chars AS v, count(*) AS c FROM documents
       WHERE n_chars IS NOT NULL GROUP BY 1),
cum AS (SELECT v, sum(c) OVER (ORDER BY v) AS cle FROM vc),
bounds AS (
    SELECT i, min(v) AS bound
    FROM cum, nn, range(1, 10) t(i)
    WHERE cle * 10 >= i * n
    GROUP BY 1
),
binned AS (
    -- mirror quantile_bins exactly: NULL values are excluded from the
    -- boundary computation (nn/vc above) and get a NULL bin here, so the
    -- oracle stays valid even if the schema ever admits NULL n_chars
    SELECT d.doc_id, d.n_chars,
           CASE WHEN d.n_chars IS NULL THEN NULL
                ELSE 1 + count(b.bound) END AS bin
    FROM documents d LEFT JOIN bounds b ON d.n_chars > b.bound
    GROUP BY 1, 2
)
SELECT CAST(bin AS INT) AS bin,
       CAST(count(*) AS BIGINT) AS n_docs,
       min(n_chars) AS min_chars,
       max(n_chars) AS max_chars
FROM binned GROUP BY 1"""


def q_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population-Stability-Index drift scorecard: each source's doc-length
    distribution vs the corpus-wide one (`operators/drift.psi_by_group`) —
    the monitor that flags a drifted feed BEFORE it contaminates a
    training mix (PSI > 0.25 = shifted).  One boundary pass + one
    binning pass: map-side binning against broadcast corpus-decile
    boundaries into a single persisted (source × bin) count frame, then
    (sources × bins)-sized arithmetic; Laplace smoothing keeps empty
    bins finite and engine-reproducible."""
    from .operators import drift

    out = drift.psi_by_group(
        _docs(spark, sf_dir).select("source", "n_chars"), "source", "n_chars"
    )
    return out.select("source", "n_rows", _rnd(F.col("psi"), 6).alias("psi"))


_SQL_PSI_DRIFT = """
WITH nn AS (
    SELECT doc_id, source, n_chars FROM documents WHERE n_chars IS NOT NULL
),
n_all AS (SELECT count(*) AS n FROM nn),
vc AS (SELECT n_chars AS v, count(*) AS c FROM nn GROUP BY 1),
cum AS (SELECT v, sum(c) OVER (ORDER BY v) AS cle FROM vc),
bounds AS (
    SELECT i, min(v) AS bound
    FROM cum, n_all, range(1, 10) t(i)
    WHERE cle * 10 >= i * n
    GROUP BY 1
),
binned AS (
    SELECT d.source, d.doc_id, 1 + count(b.bound) AS bin
    FROM nn d LEFT JOIN bounds b ON d.n_chars > b.bound
    GROUP BY 1, 2
),
per_g AS (SELECT source, bin, count(*) AS c_g FROM binned GROUP BY 1, 2),
per_ref AS (SELECT bin, count(*) AS c_r FROM binned GROUP BY 1),
n_g AS (SELECT source, sum(c_g) AS n_g FROM per_g GROUP BY 1),
grid AS (
    SELECT g.source, g.n_g,
           (coalesce(pg.c_g, 0) + 1) / (g.n_g + 10) AS p_g,
           (coalesce(pr.c_r, 0) + 1) / (n_all.n + 10) AS p_r
    FROM n_g g
    CROSS JOIN range(1, 11) t(bin)
    LEFT JOIN per_g pg ON pg.source = g.source AND pg.bin = t.bin
    LEFT JOIN per_ref pr ON pr.bin = t.bin
    CROSS JOIN n_all
)
SELECT source, CAST(n_g AS BIGINT) AS n_rows,
       round(1e-9 + sum((p_g - p_r) * ln(p_g / p_r)), 6) AS psi
FROM grid GROUP BY 1, 2"""


def q_divergence_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full binned-divergence scorecard
    (`operators/drift.divergence_by_group`): PSI plus KL(group‖ref),
    Jensen–Shannon (symmetric, ≤ ln 2 — the metric to threshold when
    feeds of very different sizes are compared), and the Pearson χ²
    statistic, all over the SAME corpus-decile ruler and Laplace
    smoothing as q_psi_drift — one corpus aggregation, then
    (sources × bins)-sized arithmetic."""
    from .operators import drift

    out = drift.divergence_by_group(
        _docs(spark, sf_dir).select("source", "n_chars"), "source", "n_chars"
    )
    return out.select(
        "source",
        "n_rows",
        _rnd(F.col("psi"), 6).alias("psi"),
        _rnd(F.col("kl_div"), 6).alias("kl_div"),
        _rnd(F.col("js_div"), 6).alias("js_div"),
        _rnd(F.col("chi2"), 6).alias("chi2"),
    )


_SQL_DIVERGENCE_DRIFT = """
WITH nn AS (
    SELECT doc_id, source, n_chars FROM documents WHERE n_chars IS NOT NULL
),
n_all AS (SELECT count(*) AS n FROM nn),
vc AS (SELECT n_chars AS v, count(*) AS c FROM nn GROUP BY 1),
cum AS (SELECT v, sum(c) OVER (ORDER BY v) AS cle FROM vc),
bounds AS (
    SELECT i, min(v) AS bound
    FROM cum, n_all, range(1, 10) t(i)
    WHERE cle * 10 >= i * n
    GROUP BY 1
),
binned AS (
    SELECT d.source, d.doc_id, 1 + count(b.bound) AS bin
    FROM nn d LEFT JOIN bounds b ON d.n_chars > b.bound
    GROUP BY 1, 2
),
per_g AS (SELECT source, bin, count(*) AS c_g FROM binned GROUP BY 1, 2),
per_ref AS (SELECT bin, count(*) AS c_r FROM binned GROUP BY 1),
n_g AS (SELECT source, sum(c_g) AS n_g FROM per_g GROUP BY 1),
grid AS (
    SELECT g.source, g.n_g,
           (coalesce(pg.c_g, 0) + 1) / (g.n_g + 10) AS p_g,
           (coalesce(pr.c_r, 0) + 1) / (n_all.n + 10) AS p_r
    FROM n_g g
    CROSS JOIN range(1, 11) t(bin)
    LEFT JOIN per_g pg ON pg.source = g.source AND pg.bin = t.bin
    LEFT JOIN per_ref pr ON pr.bin = t.bin
    CROSS JOIN n_all
)
SELECT source, CAST(n_g AS BIGINT) AS n_rows,
       round(1e-9 + sum((p_g - p_r) * ln(p_g / p_r)), 6) AS psi,
       round(1e-9 + sum(p_g * ln(p_g / p_r)), 6) AS kl_div,
       round(1e-9 + sum((p_g * ln(p_g / ((p_g + p_r) / 2))
                         + p_r * ln(p_r / ((p_g + p_r) / 2))) / 2), 6)
           AS js_div,
       round(1e-9 + n_g * sum((p_g - p_r) * (p_g - p_r) / p_r), 6) AS chi2
FROM grid GROUP BY source, n_g"""


def q_ks_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT two-sample Kolmogorov–Smirnov drift per source
    (`operators/drift.ks_by_group`): sup_v |F_source(v) − F_corpus(v)|
    with both CDFs from value-bucketed parallel cumulative windows
    (never an unpartitioned sort) and the comparison in exact integers
    |F_g·n − F·n_g| — the binning-free complement to the PSI/divergence
    scorecard (no ruler to choose; sensitive to any CDF gap).  Work is
    value-cardinality × sources, not corpus-sized."""
    from .operators import drift

    out = drift.ks_by_group(
        _docs(spark, sf_dir).select("source", "n_chars"), "source", "n_chars"
    )
    return out.select("source", "n_rows", _rnd(F.col("ks"), 6).alias("ks"))


_SQL_KS_DRIFT = """
WITH nn AS (
    SELECT source, n_chars AS v FROM documents WHERE n_chars IS NOT NULL
),
gv AS (SELECT v, count(*) AS c FROM nn GROUP BY 1),
acum AS (SELECT v, sum(c) OVER (ORDER BY v) AS ale FROM gv),
gvc AS (SELECT source, v, count(*) AS c FROM nn GROUP BY 1, 2),
gcum AS (
    SELECT source, v,
           sum(c) OVER (PARTITION BY source ORDER BY v) AS gle
    FROM gvc
),
ng AS (SELECT source, count(*) AS n_g FROM nn GROUP BY 1),
na AS (SELECT count(*) AS n_all FROM nn),
grid AS (
    SELECT s.source, a.v, a.ale, g.gle
    FROM (SELECT DISTINCT source FROM nn) s
    CROSS JOIN acum a
    LEFT JOIN gcum g ON g.source = s.source AND g.v = a.v
),
ff AS (
    SELECT source, v, ale,
           coalesce(last_value(gle IGNORE NULLS) OVER (
               PARTITION BY source ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 0) AS fg
    FROM grid
)
SELECT f.source, CAST(ng.n_g AS BIGINT) AS n_rows,
       round(1e-9 + max(abs(fg * na.n_all - ale * ng.n_g))
                    / (ng.n_g * na.n_all), 6) AS ks
FROM ff f JOIN ng USING (source) CROSS JOIN na
GROUP BY 1, 2, ng.n_g, na.n_all"""


def q_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lakehouse change audit gated END-TO-END: what did version 1 add on
    top of version 0?  Writes two lineitem slices through the Delta writer
    (overwrite → version 0, append → version 1), time-travels BOTH versions
    through the log-replay reader, and diffs them with `exceptAll`
    (multiset semantics — duplicate rows in the appended batch survive the
    diff).  The oracle aggregates the appended slice directly, so commit
    protocol, time travel, and the diff algebra are all value-hashed."""
    from .sources import delta_read as D
    from .util import session_tmpdir

    li = load_tables(spark, sf_dir)["lineitem"].select(
        "l_orderkey", "l_quantity"
    )
    t = session_tmpdir("snapshot_diff")
    # pin the versions the writer reports (re-invocations keep appending to
    # the per-process dir, so hardcoded 0/1 would go stale mid-session)
    v_over = D.write_delta(
        li.where(F.col("l_orderkey") % 9 == 0), t, mode="overwrite"
    )
    v_app = D.write_delta(
        li.where(F.col("l_orderkey") % 9 == 4), t, mode="append"
    )
    v0 = D.read_delta(spark, t, version=v_over)
    v1 = D.read_delta(spark, t, version=v_app)
    added = v1.exceptAll(v0)
    return added.groupBy((F.col("l_orderkey") % 10).alias("bucket")).agg(
        F.count(F.lit(1)).cast("long").alias("n_added"),
        F.sum(F.floor(F.col("l_quantity") + 0.5).cast("long"))
        .cast("long")
        .alias("sum_qty"),
    )


_SQL_SNAPSHOT_DIFF = """
SELECT l_orderkey % 10 AS bucket,
       CAST(count(*) AS BIGINT) AS n_added,
       CAST(sum(CAST(floor(l_quantity + 0.5) AS BIGINT)) AS BIGINT) AS sum_qty
FROM lineitem
WHERE l_orderkey % 9 = 4
GROUP BY 1"""


def q_cdc_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC-style snapshot reconciliation: FULL OUTER join of two table
    versions on the natural key, classifying every key as added / removed /
    updated / unchanged — the change feed a downstream incremental consumer
    needs when the source has no log.  Versions are derived
    deterministically from lineitem: v1 drops keys ≡0 (removed), adds keys
    ≡1 shifted out of v0's range (added), and bumps the quantity on keys ≡2
    (updated).  One shuffle per side on the join key; the classification is
    pure expression logic."""
    li = load_tables(spark, sf_dir)["lineitem"].select(
        "l_orderkey",
        "l_linenumber",
        F.floor(F.col("l_quantity") + 0.5).cast("long").alias("qty"),
    )
    base = li.where(F.col("l_orderkey") % 4 != 1)
    v0 = base
    v1 = base.where(F.col("l_orderkey") % 4 != 0).unionByName(
        li.where(F.col("l_orderkey") % 4 == 1)
    ).withColumn(
        "qty",
        F.when(
            F.col("l_orderkey") % 4 == 2, F.col("qty") + 7
        ).otherwise(F.col("qty")),
    )
    from .operators import merge as M

    j = M.snapshot_delta(v0, v1, ["l_orderkey", "l_linenumber"], ["qty"])
    return j.groupBy("change").agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.sum(F.coalesce("qty_new", F.lit(0)) - F.coalesce("qty_old", F.lit(0)))
        .cast("long")
        .alias("qty_delta"),
    )


def q_cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC log apply (`merge.apply_changelog`) — the log-compaction
    complement of q_cdc_classify's snapshot diff: the event stream is a
    keyed change log (key = user_id, LSN = (ts, event_id), op = DELETE
    when event_type = 'error', else upsert of the value payload), and the
    apply compacts it to final table state: per key the highest-LSN op
    wins, a winning delete tombstones the key.  One hash exchange on the
    key, per-key top-1 window, no join — the Debezium-sink shape at any
    log volume.  n_ops (full per-key log depth) rides the same
    exchange."""
    from .operators.merge import apply_changelog

    ev = load_tables(spark, sf_dir)["events"].where(
        F.col("ts").isNotNull() & F.col("user_id").isNotNull()
    )
    log = ev.select(
        "user_id",
        "ts",
        "event_id",
        (F.col("event_type") == "error").alias("is_delete"),
        "value",
    ).withColumn(
        "n_ops",
        F.count(F.lit(1)).over(Window.partitionBy("user_id")).cast("long"),
    )
    return apply_changelog(
        log, key=["user_id"], order_by=["ts", "event_id"],
        delete_col="is_delete",
    ).select(
        "user_id",
        F.col("ts").alias("last_ts"),
        F.col("value").alias("last_value"),
        "n_ops",
    )


def q_stream_cdc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.9 × CDC: the STREAMING upsert view — the 17th streaming query,
    `merge.apply_changelog` lifted to a live Debezium-style consumer.
    The keyed change log replays through the file source; the streaming
    aggregate keeps per key ONE struct `max(struct(ts, event_id,
    is_delete, value))` — lexicographic struct max IS highest-LSN-wins,
    so the state is exactly one current-winner row per key, the
    aggregate is re-delivery-INSENSITIVE (a duplicate op can never beat
    the max), and no dedup state exists at all.  The batch tail unpacks
    the drained winners and drops tombstones; the oracle is the batch
    log-compaction recompute — stream ≡ batch because max is
    order-insensitive.  At cluster scale the sink runs update-mode into
    a MERGE upsert; the memory sink here uses complete for the drain."""
    from .util import stream_feed

    ev = load_tables(spark, sf_dir)["events"].where(
        F.col("ts").isNotNull() & F.col("user_id").isNotNull()
    )
    log = ev.select(
        "user_id",
        "ts",
        "event_id",
        (F.col("event_type") == "error").alias("is_delete"),
        "value",
    )
    stream = stream_feed(log, "cdc_log_feed", sf_dir)
    agg = stream.groupBy("user_id").agg(
        F.max(
            F.struct("ts", "event_id", "is_delete", "value")
        ).alias("w")
    )
    sink = drain_available_now(agg, "q_stream_cdc_sink")
    return sink.where(~F.col("w.is_delete")).select(
        "user_id",
        F.col("w.ts").alias("last_ts"),
        F.col("w.value").alias("last_value"),
    )


_SQL_STREAM_CDC = """
WITH log AS (
    SELECT user_id, ts, event_id, event_type = 'error' AS is_delete, value
    FROM events WHERE ts IS NOT NULL AND user_id IS NOT NULL
),
ranked AS (
    -- Full four-field tie-break mirroring the engine's
    -- max(struct(ts, event_id, is_delete, value)): event_id is unique
    -- per event in the testdata, but the oracle must stay
    -- deterministic even if a feed ever repeats (ts, event_id).
    SELECT user_id, ts, value, is_delete,
           row_number() OVER (
               PARTITION BY user_id
               ORDER BY ts DESC, event_id DESC, is_delete DESC, value DESC
           ) AS rn
    FROM log
)
SELECT user_id, ts AS last_ts, value AS last_value
FROM ranked WHERE rn = 1 AND NOT is_delete"""


_SQL_CDC_APPLY = """
WITH log AS (
    SELECT user_id, ts, event_id, event_type = 'error' AS is_delete, value
    FROM events WHERE ts IS NOT NULL AND user_id IS NOT NULL
),
ranked AS (
    SELECT *,
           row_number() OVER (PARTITION BY user_id
                              ORDER BY ts DESC, event_id DESC) AS rn,
           CAST(count(*) OVER (PARTITION BY user_id) AS BIGINT) AS n_ops
    FROM log
)
SELECT user_id, ts AS last_ts, value AS last_value, n_ops
FROM ranked WHERE rn = 1 AND NOT is_delete"""


_SQL_CDC_CLASSIFY = """
WITH li AS (
    SELECT l_orderkey, l_linenumber,
           CAST(floor(l_quantity + 0.5) AS BIGINT) AS qty
    FROM lineitem
),
v0 AS (SELECT * FROM li WHERE l_orderkey % 4 <> 1),
v1 AS (
    SELECT l_orderkey, l_linenumber,
           CASE WHEN l_orderkey % 4 = 2 THEN qty + 7 ELSE qty END AS qty
    FROM li WHERE l_orderkey % 4 <> 1 AND l_orderkey % 4 <> 0
    UNION ALL
    SELECT l_orderkey, l_linenumber, qty FROM li WHERE l_orderkey % 4 = 1
),
j AS (
    SELECT coalesce(a.l_orderkey, b.l_orderkey) AS k1,
           a.qty AS qty_old, b.qty AS qty_new
    FROM v0 a FULL OUTER JOIN v1 b
      ON a.l_orderkey = b.l_orderkey AND a.l_linenumber = b.l_linenumber
)
SELECT CASE WHEN qty_old IS NULL THEN 'added'
            WHEN qty_new IS NULL THEN 'removed'
            WHEN qty_old <> qty_new THEN 'updated'
            ELSE 'unchanged' END AS change,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(coalesce(qty_new, 0) - coalesce(qty_old, 0)) AS BIGINT)
           AS qty_delta
FROM j GROUP BY 1"""


def q_iceberg_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iceberg time-travel change audit (the Iceberg face of
    q_snapshot_diff): two commits through the v2 writer, BOTH snapshots
    replayed by id through the manifest reader, exceptAll diff aggregated —
    commit protocol, snapshot pinning, and the diff algebra value-hashed
    against a direct oracle over the appended slice."""
    from .sources import iceberg as I
    from .util import session_tmpdir

    li = load_tables(spark, sf_dir)["lineitem"].select(
        "l_orderkey", "l_quantity"
    )
    t = session_tmpdir("iceberg_diff")
    s0 = I.write_iceberg(li.where(F.col("l_orderkey") % 11 == 0), t, mode="overwrite")
    s1 = I.write_iceberg(li.where(F.col("l_orderkey") % 11 == 5), t, mode="append")
    v0 = I.read_iceberg(spark, t, snapshot_id=s0)
    v1 = I.read_iceberg(spark, t, snapshot_id=s1)
    added = v1.exceptAll(v0)
    return added.groupBy((F.col("l_orderkey") % 10).alias("bucket")).agg(
        F.count(F.lit(1)).cast("long").alias("n_added"),
        F.sum(F.floor(F.col("l_quantity") + 0.5).cast("long"))
        .cast("long")
        .alias("sum_qty"),
    )


_SQL_ICEBERG_DIFF = """
SELECT l_orderkey % 10 AS bucket,
       CAST(count(*) AS BIGINT) AS n_added,
       CAST(sum(CAST(floor(l_quantity + 0.5) AS BIGINT)) AS BIGINT) AS sum_qty
FROM lineitem
WHERE l_orderkey % 11 = 5
GROUP BY 1"""


def q_sparse_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Text-side all-pairs similarity WITHOUT embeddings: capped-vocabulary
    TF vectors (df ≤ 100 — the stopword/boilerplate cap), per-doc top-10
    terms, cosine via an inverted-index posting join.  Pairs only ever
    materialize through shared sub-max_df terms, so candidate work is
    O(vocab·max_df²), linear in corpus size.  Truncated twins share their
    whole term profile → cosine ≈ 1; unrelated docs stay under threshold."""
    from .operators import terms as TM

    pairs = TM.sparse_cosine_pairs(
        _text_corpus(_docs(spark, sf_dir)), top_m=10, max_df=100, threshold=0.6
    )
    return pairs.select(
        "doc_a", "doc_b", "dot", _rnd(F.col("cosine"), 6).alias("cosine")
    )


_SQL_SPARSE_COSINE = (
    "WITH "
    + ",".join([SQL_CORPUS, SQL_TOK])
    + """,
exploded AS (SELECT doc_id, unnest(w) AS term FROM tok),
tfx AS (SELECT doc_id, term, count(*) AS tf FROM exploded GROUP BY 1, 2),
low_df AS (SELECT term FROM tfx GROUP BY term HAVING count(*) <= 100),
ranked AS (
    SELECT t.doc_id, t.term, t.tf,
           row_number() OVER (PARTITION BY t.doc_id
                              ORDER BY t.tf DESC, t.term ASC) AS rn
    FROM tfx t JOIN low_df USING (term)
),
kept AS (SELECT doc_id, term, tf FROM ranked WHERE rn <= 10),
norms AS (SELECT doc_id, sum(tf * tf) AS n2 FROM kept GROUP BY 1),
dots AS (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(sum(a.tf * b.tf) AS BIGINT) AS dot
    FROM kept a JOIN kept b ON a.term = b.term AND a.doc_id < b.doc_id
    GROUP BY 1, 2
)
SELECT d.doc_a, d.doc_b, d.dot,
       round(1e-9 + d.dot / (sqrt(CAST(na.n2 AS DOUBLE))
                             * sqrt(CAST(nb.n2 AS DOUBLE))), 6) AS cosine
FROM dots d
JOIN norms na ON na.doc_id = d.doc_a
JOIN norms nb ON nb.doc_id = d.doc_b
WHERE d.dot / (sqrt(CAST(na.n2 AS DOUBLE))
               * sqrt(CAST(nb.n2 AS DOUBLE))) >= 0.6"""
)


def q_delta_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delta interop gated END-TO-END: two lineitem slices go through the
    protocol-conformant writer (`sources/delta_read.py::write_delta`) as
    an overwrite + an append — versioned commit JSON, immutable batch
    dirs — then come back through the log-replay reader and aggregate.
    The oracle computes the identical aggregate over the same slices
    directly, so the whole write→commit→replay→scan path is value-hashed.
    The table dir is the reused per-process scratch (overwrite removes
    every previously-live file first, so re-invocations are stable)."""
    from .sources import delta_read as D
    from .util import session_tmpdir

    li = load_tables(spark, sf_dir)["lineitem"].select(
        "l_orderkey", "l_quantity"
    )
    t = session_tmpdir("delta_roundtrip")
    D.write_delta(li.where(F.col("l_orderkey") % 7 == 0), t, mode="overwrite")
    D.write_delta(li.where(F.col("l_orderkey") % 7 == 3), t, mode="append")
    back = D.read_delta(spark, t)
    return back.groupBy((F.col("l_orderkey") % 10).alias("bucket")).agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.sum(F.floor(F.col("l_quantity") + 0.5).cast("long"))
        .cast("long")
        .alias("sum_qty"),
    )


_SQL_DELTA_ROUNDTRIP = """
WITH src AS (
    SELECT l_orderkey, l_quantity FROM lineitem WHERE l_orderkey % 7 = 0
    UNION ALL
    SELECT l_orderkey, l_quantity FROM lineitem WHERE l_orderkey % 7 = 3
)
SELECT l_orderkey % 10 AS bucket,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(CAST(floor(l_quantity + 0.5) AS BIGINT)) AS BIGINT) AS sum_qty
FROM src GROUP BY 1"""


def q_iceberg_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iceberg interop gated END-TO-END (the Avro-manifest sibling of
    `q_delta_roundtrip`): two lineitem slices go through the v2 writer
    (`sources/iceberg.py::write_iceberg`) as overwrite + append — data
    batch, Avro manifest, manifest list, put-if-absent metadata commit —
    then come back through the manifest-replay reader and aggregate; a
    `count_rows` manifest-only count is cross-checked against the scan
    before returning. The oracle computes the identical aggregate over
    the same slices directly, so write→manifest→replay→scan is
    value-hashed."""
    from .sources import iceberg as I
    from .util import session_tmpdir

    li = load_tables(spark, sf_dir)["lineitem"].select(
        "l_orderkey", "l_quantity"
    )
    t = session_tmpdir("iceberg_roundtrip")
    import shutil

    shutil.rmtree(t, ignore_errors=True)  # reused scratch: fresh table per run
    I.write_iceberg(li.where(F.col("l_orderkey") % 7 == 1), t, mode="overwrite")
    I.write_iceberg(li.where(F.col("l_orderkey") % 7 == 4), t, mode="append")
    back = I.read_iceberg(spark, t)
    n_meta = I.count_rows(t)
    n_scan = back.count()
    if n_meta != n_scan:
        raise RuntimeError(
            f"manifest count {n_meta} != scanned count {n_scan}"
        )
    return back.groupBy((F.col("l_orderkey") % 10).alias("bucket")).agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.sum(F.floor(F.col("l_quantity") + 0.5).cast("long"))
        .cast("long")
        .alias("sum_qty"),
    )


_SQL_ICEBERG_ROUNDTRIP = """
WITH src AS (
    SELECT l_orderkey, l_quantity FROM lineitem WHERE l_orderkey % 7 = 1
    UNION ALL
    SELECT l_orderkey, l_quantity FROM lineitem WHERE l_orderkey % 7 = 4
)
SELECT l_orderkey % 10 AS bucket,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(CAST(floor(l_quantity + 0.5) AS BIGINT)) AS BIGINT) AS sum_qty
FROM src GROUP BY 1"""


def q_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC format support gated end-to-end: a lineitem slice writes to
    ORC (Spark-native columnar sibling of parquet — same predicate
    pushdown/column pruning surface) and reads back for an aggregate the
    oracle computes directly over the source. Completes the format
    matrix beside parquet, CSV, Delta, and Iceberg round-trips."""
    from .util import session_tmpdir

    li = load_tables(spark, sf_dir)["lineitem"].select(
        "l_orderkey", "l_quantity"
    )
    t = session_tmpdir("orc_roundtrip")
    li.where(F.col("l_orderkey") % 7 == 5).write.mode("overwrite").orc(t)
    back = spark.read.orc(t)
    return back.groupBy((F.col("l_orderkey") % 10).alias("bucket")).agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.sum(F.floor(F.col("l_quantity") + 0.5).cast("long"))
        .cast("long")
        .alias("sum_qty"),
    )


_SQL_ORC_ROUNDTRIP = """
SELECT l_orderkey % 10 AS bucket,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(CAST(floor(l_quantity + 0.5) AS BIGINT)) AS BIGINT) AS sum_qty
FROM lineitem WHERE l_orderkey % 7 = 5 GROUP BY 1"""


def q_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Additive schema evolution gated end-to-end — the story every
    long-lived lake table hits: generation 1 of a document table lands
    WITHOUT the lang column, generation 2 adds it, and the merged scan
    (`mergeSchema`) unifies the footer schemas and NULL-backfills the
    old files — no rewrite of history, exactly how a 100 TB table grows
    a column.  The report groups the merged scan per source with the
    NULL-backfill made visible (n_lang_null counts exactly the gen-1
    rows).  The oracle recomputes the union with an explicit NULL lang
    for generation 1."""
    from .util import session_tmpdir

    docs = _docs(spark, sf_dir)
    t = session_tmpdir("schema_evo")
    docs.where(F.col("doc_id") % 2 == 0).select(
        "doc_id", "text", "source"
    ).write.mode("overwrite").parquet(f"{t}/gen1")
    docs.where(F.col("doc_id") % 2 == 1).select(
        "doc_id", "text", "source", "lang"
    ).write.mode("overwrite").parquet(f"{t}/gen2")
    back = spark.read.option("mergeSchema", "true").parquet(
        f"{t}/gen1", f"{t}/gen2"
    )
    return back.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(F.when(F.col("lang").isNull(), 1).otherwise(0))
        .cast("long")
        .alias("n_lang_null"),
        F.count_distinct("lang").cast("long").alias("n_langs"),
    )


_SQL_SCHEMA_EVOLUTION = """
WITH uni AS (
    SELECT doc_id, source, CAST(NULL AS VARCHAR) AS lang
    FROM documents WHERE doc_id % 2 = 0
    UNION ALL
    SELECT doc_id, source, lang FROM documents WHERE doc_id % 2 = 1
)
SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(CASE WHEN lang IS NULL THEN 1 ELSE 0 END) AS BIGINT)
           AS n_lang_null,
       CAST(count(DISTINCT lang) AS BIGINT) AS n_langs
FROM uni GROUP BY 1"""


def q_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """64-bit SimHash fingerprint per corpus doc (Manku et al.)."""
    return dedup.simhash(_text_corpus(_docs(spark, sf_dir)))


_SQL_SIMHASH = (
    "WITH "
    + ",".join([SQL_CORPUS, dedup.simhash_sql_cte()])
    + "\nSELECT doc_id, simhash FROM simhashes"
)


def q_simhash_near(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs, Manku-banded: 64-bit fingerprints split into
    4 × 16-bit bands, candidates from the per-band equi-join (Hamming ≤ 3
    guarantees ≥ 1 exact band match by pigeonhole), hot-bucket cap bounding
    any band bucket's O(m²) pair emission. The whole corpus participates —
    the banding, not sampling, is what keeps the join bounded at scale."""
    corpus = _text_corpus(_docs(spark, sf_dir))
    # persisted: one short row per doc; the band self-join scans it twice
    return dedup.simhash_near_pairs(dedup.simhash(corpus).persist(), max_hamming=3)


_SQL_SIMHASH_NEAR = (
    "WITH "
    + ",".join([SQL_CORPUS, dedup.simhash_sql_cte()])
    + f""",
sbands AS (
    SELECT doc_id, simhash, b.band AS band,
           (simhash >> (16 * b.band)) & 65535 AS bkey
    FROM simhashes, (SELECT unnest([0, 1, 2, 3]) AS band) b
),
s_kept AS (
    SELECT band, bkey FROM sbands
    GROUP BY 1, 2 HAVING count(*) <= {dedup.DEFAULT_MAX_BUCKET}
),
csbands AS (SELECT sbands.* FROM sbands JOIN s_kept USING (band, bkey))
SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER) AS hamming
FROM csbands a JOIN csbands b
  ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= 3"""
)


# --- text analysis ---------------------------------------------------------

_PII_EMAIL = r"[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}"
_PII_PHONE = r"\d{3}-\d{3}-\d{4}"
_PII_SSN = r"\d{3}-\d{2}-\d{4}"


def q_pii_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII detection + redaction over the document corpus — the
    governance pre-training gate beside pseudonymization and RTBF
    (training data must not memorize emails/phones/SSNs): per doc,
    regex match counts by PII class, the redaction certificate (md5 of
    the text AFTER replacing every match with its class placeholder —
    the q_boilerplate_scrub idiom: the oracle certifies the REWRITTEN
    string, not just the counts), and the keep/quarantine verdict.
    Deterministic PII is planted on id-keyed slices so every scale
    factor exercises all three detectors.  Zero shuffles: detection and
    redaction are map-side column expressions (Java regex and DuckDB's
    RE2 agree on this deliberately-common-subset syntax: character
    classes, \\d, bounded repetition — no backrefs, no lookaround).
    SSN redaction runs before the phone pattern (both are digit-dash
    shapes; class order is part of the contract)."""
    d = _docs(spark, sf_dir).select("doc_id", "text")
    did = F.col("doc_id")
    planted = d.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.when(
                did % 7 == 3,
                F.concat(
                    F.lit(" contact user"),
                    did.cast("string"),
                    F.lit("@example.com"),
                ),
            ).otherwise(F.lit("")),
            F.when(did % 11 == 5, F.lit(" call 212-555-0147")).otherwise(
                F.lit("")
            ),
            F.when(did % 13 == 7, F.lit(" ssn 123-45-6789")).otherwise(
                F.lit("")
            ),
        ).alias("text"),
    )
    red = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(F.col("text"), F.lit(_PII_EMAIL), F.lit("[EMAIL]")),
            F.lit(_PII_SSN),
            F.lit("[SSN]"),
        ),
        F.lit(_PII_PHONE),
        F.lit("[PHONE]"),
    )
    return planted.select(
        "doc_id",
        F.regexp_count("text", F.lit(_PII_EMAIL)).cast("long").alias(
            "n_email"
        ),
        F.regexp_count("text", F.lit(_PII_SSN)).cast("long").alias("n_ssn"),
        F.regexp_count(
            F.regexp_replace(F.col("text"), F.lit(_PII_SSN), F.lit("[SSN]")),
            F.lit(_PII_PHONE),
        )
        .cast("long")
        .alias("n_phone"),
        F.md5(red).alias("redacted_hash"),
    ).select(
        "doc_id",
        "n_email",
        "n_ssn",
        "n_phone",
        (F.col("n_email") + F.col("n_ssn") + F.col("n_phone")).alias(
            "pii_total"
        ),
        "redacted_hash",
        F.when(
            F.col("n_email") + F.col("n_ssn") + F.col("n_phone") > 0,
            "quarantine",
        )
        .otherwise("keep")
        .alias("verdict"),
    )


_SQL_PII_SCAN = rf"""
WITH planted AS (
    SELECT doc_id,
           text
           || CASE WHEN doc_id % 7 = 3
                   THEN ' contact user' || CAST(doc_id AS VARCHAR)
                        || '@example.com' ELSE '' END
           || CASE WHEN doc_id % 11 = 5 THEN ' call 212-555-0147'
                   ELSE '' END
           || CASE WHEN doc_id % 13 = 7 THEN ' ssn 123-45-6789'
                   ELSE '' END AS text
    FROM documents
),
scanned AS (
    SELECT doc_id,
           CAST(len(regexp_extract_all(text, '{_PII_EMAIL}')) AS BIGINT)
               AS n_email,
           CAST(len(regexp_extract_all(text, '{_PII_SSN}')) AS BIGINT)
               AS n_ssn,
           CAST(len(regexp_extract_all(
               regexp_replace(text, '{_PII_SSN}', '[SSN]', 'g'),
               '{_PII_PHONE}')) AS BIGINT) AS n_phone,
           md5(regexp_replace(
               regexp_replace(
                   regexp_replace(text, '{_PII_EMAIL}', '[EMAIL]', 'g'),
                   '{_PII_SSN}', '[SSN]', 'g'),
               '{_PII_PHONE}', '[PHONE]', 'g')) AS redacted_hash
    FROM planted
)
SELECT doc_id, n_email, n_ssn, n_phone,
       n_email + n_ssn + n_phone AS pii_total, redacted_hash,
       CASE WHEN n_email + n_ssn + n_phone > 0 THEN 'quarantine'
            ELSE 'keep' END AS verdict
FROM scanned"""


def q_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality scoring: length/diversity/punctuation metrics + composite."""
    d = _docs(spark, sf_dir).select("doc_id", "text", T.tokens("text").alias("__w"))
    return d.select(
        "doc_id",
        T.char_count("text").alias("n_chars_calc"),
        T.word_count_from_tokens("__w").alias("n_words"),
        T.distinct_word_count_from_tokens("__w").alias("n_distinct_words"),
        _rnd(T.punct_ratio("text"), 6).alias("punct_ratio"),
        _rnd(T.stopword_ratio_from_tokens("__w", "en"), 6).alias("stopword_ratio_en"),
        _rnd(T.type_token_ratio_from_tokens("__w"), 6).alias("type_token_ratio"),
        _rnd(T.quality_score_from_tokens("text", "__w"), 6).alias("quality_score"),
    )


_SQL_TEXT_QUALITY = """
WITH tokd AS (
    SELECT doc_id, text,
           list_filter(string_split_regex(text, '\\s+'), t -> t <> '') AS w
    FROM documents
),
m AS (
    SELECT doc_id,
        CAST(length(text) AS BIGINT) AS n_chars_calc,
        CAST(len(w) AS BIGINT) AS n_words,
        CAST(len(list_distinct(w)) AS BIGINT) AS n_distinct_words,
        length(regexp_replace(text, '[A-Za-z0-9\\s]', '', 'g'))
            / greatest(length(text), 1) AS punct_ratio,
        len(list_filter(w, t -> list_contains(['the','a','of','and','to','in','is'], t)))
            / greatest(len(w), 1) AS stopword_ratio_en,
        len(list_distinct(w)) / greatest(len(w), 1) AS type_token_ratio
    FROM tokd
)
SELECT doc_id, n_chars_calc, n_words, n_distinct_words,
       round(1e-9 + punct_ratio, 6) AS punct_ratio,
       round(1e-9 + stopword_ratio_en, 6) AS stopword_ratio_en,
       round(1e-9 + type_token_ratio, 6) AS type_token_ratio,
       round(1e-9 + (least(n_words / 50.0, 1.0) + type_token_ratio
             + (1.0 - least(punct_ratio * 4.0, 1.0))) / 3.0, 6) AS quality_score
FROM m"""


_PROFILE_COLS = [
    "l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
    "l_quantity", "l_extendedprice", "l_discount", "l_tax",
]


def q_profile_columns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-pass column-profiling report over the fact table — the
    profile-before-ingest tool (dbt's `describe`, Deequ's profiler): per
    numeric column its null count, exact distinct count, min, and max,
    unpivoted to one row per column via `stack`.

    Exact distincts keep the oracle exact; they cost Spark one Expand
    (|cols|× row multiplication before partial agg). At 100 TB swap
    `count_distinct` for `approx_count_distinct` (HyperLogLog++, verified
    in tests/test_sketches.py) — the report shape is unchanged."""
    li = load_tables(spark, sf_dir)["lineitem"]
    aggs = []
    for c in _PROFILE_COLS:
        aggs += [
            F.sum(F.col(c).isNull().cast("long")).alias(f"n_{c}"),
            F.count_distinct(F.col(c)).alias(f"d_{c}"),
            F.min(F.col(c).cast("double")).alias(f"mn_{c}"),
            F.max(F.col(c).cast("double")).alias(f"mx_{c}"),
        ]
    row = li.agg(*aggs)
    pairs = ", ".join(
        f"'{c}', n_{c}, d_{c}, mn_{c}, mx_{c}" for c in _PROFILE_COLS
    )
    return row.selectExpr(
        f"stack({len(_PROFILE_COLS)}, {pairs})"
        " as (column_name, n_nulls, n_distinct, min_value, max_value)"
    )


_SQL_PROFILE_COLUMNS = "\nUNION ALL\n".join(
    f"""SELECT '{c}' AS column_name,
       CAST(sum(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,
       CAST(count(DISTINCT {c}) AS BIGINT) AS n_distinct,
       CAST(min({c}) AS DOUBLE) AS min_value,
       CAST(max({c}) AS DOUBLE) AS max_value
FROM lineitem"""
    for c in _PROFILE_COLS
)


def q_char_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-distribution Shannon entropy per document — the classic
    gibberish / encoding-noise / key-mash detector (near-zero entropy =
    repeated characters, ~log(alphabet) = uniform noise; natural text sits
    in a narrow band between). One explode + two keyed aggregations;
    per-char probabilities divide by the document length carried through
    the explode, so no join back to the source. ln is engine-exact; the
    cross-char sum gets the epsilon rounding like every float aggregate.
    Empty documents are excluded up front (Spark's sequence(1, 0) steps
    BACKWARD to [1, 0], which would emit ghost rows; DuckDB's
    string_split('') takes yet another path — filtering is the only
    cross-engine-stable semantics)."""
    d = _scale_out(
        _docs(spark, sf_dir)
        .select("doc_id", "text")
        .where(F.length("text") > 0)
    )
    chars = d.select(
        "doc_id",
        F.length("text").alias("__n"),
        F.explode(
            F.expr("transform(sequence(1, length(text)), i -> substring(text, i, 1))")
        ).alias("ch"),
    )
    cnt = chars.groupBy("doc_id", "ch").agg(
        F.first("__n").alias("__n"), F.count(F.lit(1)).alias("c")
    )
    p = F.col("c") / F.col("__n")
    return cnt.groupBy("doc_id").agg(
        F.first("__n").cast("long").alias("n_chars"),
        F.count(F.lit(1)).cast("long").alias("n_distinct_chars"),
        _rnd(-F.sum(p * F.log(p)), 6).alias("char_entropy"),
    )


_SQL_CHAR_ENTROPY = """
WITH ch AS (
    SELECT doc_id, length(text) AS n, unnest(string_split(text, '')) AS ch
    FROM documents
    WHERE length(text) > 0
), cnt AS (
    SELECT doc_id, ch, any_value(n) AS n, count(*) AS c
    FROM ch GROUP BY doc_id, ch
)
SELECT doc_id,
       CAST(any_value(n) AS BIGINT) AS n_chars,
       CAST(count(*) AS BIGINT) AS n_distinct_chars,
       round(1e-9 + -sum((c / n) * ln(c / n)), 6) AS char_entropy
FROM cnt GROUP BY doc_id"""


def _quality_logit_z(wc, ttr, punct, stop):
    """Pinned-weight logistic logit — written as one chained expression so
    the Spark and DuckDB twins evaluate in the identical IEEE order."""
    return (
        F.lit(-4.0)
        + F.lit(2.0) * F.least(wc / F.lit(50.0), F.lit(1.0))
        + F.lit(3.0) * ttr
        - F.lit(3.0) * punct
        + F.lit(12.0) * stop
    )


def q_quality_model(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-based quality filtering, deployment half: logistic inference
    ``sigmoid(w·x + b)`` over the relational quality features with PINNED
    weights. A trained classifier ships as a weight artifact; its
    INFERENCE is pure per-row math — exp is engine-exact (q_lm_score
    lesson), so the whole scoring path is oracle-gated, keep decision
    included (computed on the unrounded probability; per-row IEEE
    determinism makes the 0.5 comparison engine-stable). Training itself
    is library-specific, like the RF chain — structural parity only."""
    d = _docs(spark, sf_dir).select("doc_id", "text", T.tokens("text").alias("__w"))
    z = _quality_logit_z(
        T.word_count_from_tokens("__w"),
        T.type_token_ratio_from_tokens("__w"),
        T.punct_ratio("text"),
        T.stopword_ratio_from_tokens("__w", "en"),
    )
    p = F.lit(1.0) / (F.lit(1.0) + F.exp(-z))
    return d.select(
        "doc_id",
        _rnd(p, 6).alias("p_keep"),
        (p >= 0.5).cast("int").alias("keep"),
    )


_SQL_QM_FEATURES = r"""
tokd AS (
    SELECT doc_id, text, source, lang,
           list_filter(string_split_regex(text, '\s+'), t -> t <> '') AS w
    FROM documents
), qz AS (
    SELECT doc_id, source, lang, text,
           -4.0 + 2.0 * least(len(w) / 50.0, 1.0)
                + 3.0 * (len(list_distinct(w)) / greatest(len(w), 1))
                - 3.0 * (length(regexp_replace(text, '[A-Za-z0-9\s]', '', 'g'))
                         / greatest(length(text), 1))
                + 12.0 * (len(list_filter(w,
                         t -> list_contains(['the','a','of','and','to','in','is'], t)))
                          / greatest(len(w), 1)) AS z
    FROM tokd
)"""

_SQL_QUALITY_MODEL = f"""
WITH {_SQL_QM_FEATURES}
SELECT doc_id,
       round(1e-9 + 1.0 / (1.0 + exp(-z)), 6) AS p_keep,
       CAST(1.0 / (1.0 + exp(-z)) >= 0.5 AS INTEGER) AS keep
FROM qz"""


def q_curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The end-to-end curation chain as ONE composed plan — the integration
    proof that the operators stack: model-based quality filter
    (`q_quality_model`'s pinned logistic) → exact-dup removal (min doc_id
    survivor per md5(text)) → per-source cap of 20 (`capped_sample`, the
    mixture-construction step). Output is the final training-mix
    membership. Every stage is a column expression or one keyed shuffle;
    nothing materializes between stages, so Catalyst pipelines the whole
    chain into a handful of stages at any scale."""
    from .operators import sampling

    d = _docs(spark, sf_dir).select(
        "doc_id", "text", "source", "lang", T.tokens("text").alias("__w")
    )
    z = _quality_logit_z(
        T.word_count_from_tokens("__w"),
        T.type_token_ratio_from_tokens("__w"),
        T.punct_ratio("text"),
        T.stopword_ratio_from_tokens("__w", "en"),
    )
    kept = d.where(F.lit(1.0) / (F.lit(1.0) + F.exp(-z)) >= 0.5)
    w = Window.partitionBy(F.md5("text")).orderBy("doc_id")
    ded = (
        kept.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .select("doc_id", "source", "lang")
    )
    caps = {f"src{i}": 20 for i in range(20)}
    return sampling.capped_sample(ded, "source", caps, "doc_id", salt="cur")


_SQL_CURATION_PIPELINE = f"""
WITH {_SQL_QM_FEATURES},
kept AS (
    SELECT doc_id, source, lang, text FROM qz
    WHERE 1.0 / (1.0 + exp(-z)) >= 0.5
), ded AS (
    SELECT doc_id, source, lang FROM (
        SELECT doc_id, source, lang,
               row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
        FROM kept) WHERE rn = 1
)
SELECT doc_id, source, lang FROM (
    SELECT doc_id, source, lang,
           row_number() OVER (
               PARTITION BY source
               ORDER BY md5(CAST(doc_id AS VARCHAR) || 'cur') ASC, doc_id ASC
           ) AS rn
    FROM ded
    WHERE source IN ({", ".join(repr(f"src{i}") for i in range(20))})
) WHERE rn <= 20"""


def q_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting: whitespace tokens + chars/4 BPE-ish estimate."""
    d = _docs(spark, sf_dir)
    return d.select(
        "doc_id",
        "n_chars",
        T.word_count("text").alias("ws_tokens"),
        T.token_estimate("text").alias("bpe_est_tokens"),
        T.regex_token_count("text").alias("bpe_pretokens"),
    )


_SQL_TOKEN_COUNT = """
SELECT doc_id, n_chars,
       CAST(len(list_filter(string_split_regex(text, '\\s+'), t -> t <> '')) AS BIGINT) AS ws_tokens,
       CAST(ceil(length(text) / 4.0) AS BIGINT) AS bpe_est_tokens,
       CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS BIGINT) AS bpe_pretokens
FROM documents"""


def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-vote language heuristic vs. the labelled lang column."""
    d = _docs(spark, sf_dir).select("doc_id", "lang", T.tokens("text").alias("__w"))
    return d.select(
        "doc_id",
        "lang",
        T.lang_guess_from_tokens("__w").alias("lang_pred"),
        *[
            T.stopword_hits_from_tokens("__w", lang).alias(f"hits_{lang}")
            for lang in T.STOPWORDS
        ],
    )


def _lang_sql() -> str:
    hit_exprs = ",\n        ".join(
        "len(list_filter(w, t -> list_contains(["
        + ",".join(f"'{w}'" for w in ws)
        + f"], t))) AS hits_{lang}"
        for lang, ws in T.STOPWORDS.items()
    )
    langs = list(T.STOPWORDS)
    best = "greatest(" + ", ".join(f"hits_{lang}" for lang in langs) + ")"
    case = "CASE " + " ".join(
        f"WHEN {best} > 0 AND hits_{lang} = {best} THEN '{lang}'" for lang in langs
    ) + " ELSE 'und' END"
    return f"""
WITH tokd AS (
    SELECT doc_id, lang,
           list_filter(string_split_regex(text, '\\s+'), t -> t <> '') AS w
    FROM documents
),
hits AS (
    SELECT doc_id, lang,
        {hit_exprs}
    FROM tokd
)
SELECT doc_id, lang, {case} AS lang_pred,
       hits_en, hits_es, hits_fr, hits_de
FROM hits"""


def q_embedding_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension embedding feature health: n / mean / variance for
    every vector coordinate — the drift monitor an embedding pipeline
    checks after every model or preprocessing change.  Components quantize to
    the integer lattice first (the SRP lesson), so the power sums are
    exact under any partial-agg order and mean/variance are one per-row
    expression at the end; posexplode keeps it one narrow pass + one
    (dim)-keyed aggregation."""
    e = _emb(spark, sf_dir)
    q = e.select(
        F.posexplode(V.quantize("embedding", _KMEANS_QUANT)).alias("dim_idx", "x")
    )
    sums = q.groupBy("dim_idx").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    )
    mean_q = F.col("sx") / F.col("n")
    var_q = (
        F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    ) / (F.col("n") * F.col("n"))
    return sums.select(
        F.col("dim_idx").cast("int").alias("dim_idx"),
        F.col("n").cast("long").alias("n"),
        F.col("sx").cast("long").alias("sum_q"),
        _rnd(mean_q, 6).alias("mean_q"),
        _rnd(var_q, 6).alias("var_q"),
    )


_SQL_EMBEDDING_STATS = f"""
WITH u AS (
    SELECT unnest(list_transform(
        range(1, len(embedding) + 1),
        i -> {{'i': i, 'x': embedding[i]}})) AS e
    FROM embeddings
),
q AS (
    SELECT e.i - 1 AS dim_idx,
           CAST(floor(CAST(e.x AS DOUBLE) * {_KMEANS_QUANT}) AS BIGINT) AS x
    FROM u
),
sums AS (
    SELECT dim_idx, count(*) AS n, sum(x) AS sx, sum(x * x) AS sxx
    FROM q GROUP BY 1
)
SELECT CAST(dim_idx AS INT) AS dim_idx,
       CAST(n AS BIGINT) AS n,
       CAST(sx AS BIGINT) AS sum_q,
       round(1e-9 + sx / n, 6) AS mean_q,
       round(1e-9 + (n * sxx - sx * sx) / (n * n), 6) AS var_q
FROM sums"""


def q_preference_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Preference-pair assembly for DPO-style training: per (lang, source)
    stratum, the best and worst document by a quality metric (vocabulary
    size here — any score column slots in) become one (chosen, rejected)
    row.  ONE aggregation pass via max_by/min_by over deterministic
    struct orders — no self-join, no windows over the corpus; strata that
    cannot produce a pair (singletons, or every doc tied on the metric —
    both resolve chosen == rejected) drop out."""
    d = _docs(spark, sf_dir).select(
        "lang",
        "source",
        "doc_id",
        T.distinct_word_count("text").alias("metric"),
        (-F.col("doc_id")).alias("neg_id"),
    )
    g = d.groupBy("lang", "source").agg(
        F.expr("max_by(doc_id, struct(metric, neg_id))").alias("chosen_id"),
        F.max("metric").alias("chosen_score"),
        F.expr("min_by(doc_id, struct(metric, doc_id))").alias("rejected_id"),
        F.min("metric").alias("rejected_score"),
    )
    return g.where(F.col("chosen_id") != F.col("rejected_id")).select(
        "lang",
        "source",
        "chosen_id",
        "chosen_score",
        "rejected_id",
        "rejected_score",
    )


_SQL_PREFERENCE_PAIRS = r"""
WITH m AS (
    SELECT lang, source, doc_id,
           CAST(len(list_distinct(list_filter(
               string_split_regex(text, '\s+'), t -> t <> ''))) AS BIGINT)
               AS metric
    FROM documents
),
r AS (
    SELECT *,
           row_number() OVER (PARTITION BY lang, source
                              ORDER BY metric DESC, doc_id ASC) AS rc,
           row_number() OVER (PARTITION BY lang, source
                              ORDER BY metric ASC, doc_id ASC) AS rr
    FROM m
),
c AS (SELECT lang, source, doc_id AS chosen_id, metric AS chosen_score
      FROM r WHERE rc = 1),
x AS (SELECT lang, source, doc_id AS rejected_id, metric AS rejected_score
      FROM r WHERE rr = 1)
SELECT c.lang, c.source, c.chosen_id, c.chosen_score,
       x.rejected_id, x.rejected_score
FROM c JOIN x USING (lang, source)
WHERE c.chosen_id <> x.rejected_id"""


def q_negative_samples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic negative sampling for contrastive training: each
    anchor draws 3 pseudo-random RANKS in [0, n) via md5 and maps them
    back to REAL doc ids through `sampling.global_index` (bucketed dense
    rank — no global sort, no dense-id-space assumption: works on sparse,
    1-based, or non-numeric id spaces alike).  Collisions with the
    anchor's own rank advance by one (mod n).  Reproducible across
    engines, runs, and partitionings — the property a training pipeline
    needs for resumable epochs.  One corpus scan + the two bucketed-rank
    shuffles + a rank-equi-join to resolve ids."""
    from .operators import sampling

    d = _docs(spark, sf_dir).select("doc_id")
    idx = sampling.global_index(d, "doc_id")  # (doc_id, idx) permutation
    n = idx.agg(F.count(F.lit(1)).alias("__n"))
    out = idx.crossJoin(F.broadcast(n)).select(
        "doc_id",
        "idx",
        F.explode(F.array(*[F.lit(j) for j in (1, 2, 3)])).alias("neg_rank"),
        "__n",
    )
    raw = F.conv(
        F.substring(
            F.md5(F.concat_ws("#", F.col("doc_id"), F.col("neg_rank"))), 1, 8
        ),
        16,
        10,
    ).cast("long")
    cand = F.pmod(raw, F.col("__n"))
    neg = F.when(cand == F.col("idx"), F.pmod(cand + 1, F.col("__n"))).otherwise(
        cand
    )
    picked = out.select(
        "doc_id", "neg_rank", neg.cast("long").alias("__pick")
    )
    resolve = idx.select(F.col("idx").alias("__pick"), F.col("doc_id").alias("neg_id"))
    return picked.join(resolve, "__pick").select("doc_id", "neg_rank", "neg_id")


_SQL_NEGATIVE_SAMPLES = """
WITH b AS (
    SELECT doc_id,
           CAST(('0x' || substr(md5(doc_id || 'gidx'), 1, 8)) AS BIGINT)
               % 256 AS bucket
    FROM documents
),
idx AS (
    SELECT doc_id, row_number() OVER (ORDER BY bucket, doc_id) - 1 AS idx
    FROM b
),
n AS (SELECT count(*) AS cnt FROM documents),
a AS (
    SELECT doc_id, idx, r.neg_rank
    FROM idx, (SELECT unnest([1, 2, 3]) AS neg_rank) r
),
c AS (
    SELECT doc_id, idx, neg_rank,
           CAST(('0x' || substr(md5(doc_id || '#' || neg_rank), 1, 8))
                AS BIGINT) % cnt AS cand,
           cnt
    FROM a, n
)
SELECT c.doc_id, CAST(c.neg_rank AS INT) AS neg_rank, i.doc_id AS neg_id
FROM c JOIN idx i
  ON i.idx = CASE WHEN c.cand = c.idx THEN (c.cand + 1) % c.cnt
                  ELSE c.cand END"""


def q_shard_checksums(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-export delivery receipts: content-hash shard assignment
    (8 shards) plus a per-shard ORDER-INDEPENDENT checksum — the sum of a
    32-bit md5 slice per row, exact under any partial-agg order, so a
    consumer re-derives it shard-by-shard after transfer without sorting
    anything.  32-bit slices keep the int64 sum exact to ~2^30 rows per
    shard; widen the shard count, not the slice, beyond that."""
    d = _docs(spark, sf_dir).select("doc_id", "text")
    row_h = F.conv(
        F.substring(F.md5(F.concat_ws("|", F.col("doc_id"), F.col("text"))), 1, 8),
        16,
        10,
    ).cast("long")
    shard = F.pmod(
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10)
        .cast("long"),
        F.lit(8),
    )
    return (
        d.select(shard.alias("shard_id"), row_h.alias("__h"))
        .groupBy("shard_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.sum("__h").cast("long").alias("checksum"),
        )
    )


_SQL_SHARD_CHECKSUMS = """
WITH h AS (
    SELECT CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
                AS BIGINT) % 8 AS shard_id,
           CAST(('0x' || substr(md5(doc_id || '|' || text), 1, 8))
                AS BIGINT) AS rh
    FROM documents
)
SELECT shard_id, CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(rh) AS BIGINT) AS checksum
FROM h GROUP BY 1"""


def q_langid_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classifier evaluation as a relational query: confusion matrix of the
    stopword-vote language heuristic against the labelled ``lang`` column,
    with per-true-language share (the recall diagonal).  The model-eval
    loop a curation pipeline runs after every heuristic change — counts are
    exact integers, the share is one per-row division."""
    d = _docs(spark, sf_dir).select("lang", T.tokens("text").alias("__w"))
    pred = d.select("lang", T.lang_guess_from_tokens("__w").alias("lang_pred"))
    cm = pred.groupBy("lang", "lang_pred").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs")
    )
    wl = Window.partitionBy("lang")
    return cm.select(
        "lang",
        "lang_pred",
        "n_docs",
        _rnd(F.col("n_docs") / F.sum("n_docs").over(wl), 6).alias("share"),
    )


def _langid_eval_sql() -> str:
    return f"""
WITH base AS ({_lang_sql()})
SELECT lang, lang_pred,
       CAST(count(*) AS BIGINT) AS n_docs,
       round(1e-9 + count(*) / sum(count(*)) OVER (PARTITION BY lang), 6)
           AS share
FROM base GROUP BY 1, 2"""


def q_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-insensitive document fingerprint (md5 of sorted token set)."""
    d = _docs(spark, sf_dir)
    return d.select("doc_id", T.fingerprint("text").alias("fingerprint"))


_SQL_FINGERPRINT = """
SELECT doc_id,
       md5(array_to_string(list_sort(list_distinct(
           list_filter(string_split_regex(text, '\\s+'), t -> t <> ''))), ' ')) AS fingerprint
FROM documents"""


# --- similarity search -----------------------------------------------------

_VEC_SQL = """
q AS (
    SELECT vec_id AS query_id, label, CAST(embedding AS DOUBLE[]) AS v
    FROM embeddings WHERE vec_id % 50 = 0
),
c AS (
    SELECT vec_id AS neighbor_id, label, CAST(embedding AS DOUBLE[]) AS v
    FROM embeddings
)
"""

_COS = (
    "list_sum(list_transform(range(1, len(q.v) + 1), i -> q.v[i] * c.v[i]))"
    " / (sqrt(list_sum(list_transform(range(1, len(q.v) + 1), i -> q.v[i] * q.v[i])))"
    " * sqrt(list_sum(list_transform(range(1, len(c.v) + 1), i -> c.v[i] * c.v[i]))))"
)


def q_knn_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-5 for the deterministic query subset (vec_id%50=0)."""
    emb = _emb(spark, sf_dir)
    out = similarity.brute_force_knn(
        emb.where(F.col("vec_id") % 50 == 0), _scale_out(emb), k=5
    )
    return out.select("query_id", "neighbor_id", _rnd(F.col("sim"), 6).alias("sim"))


_SQL_KNN = (
    "WITH "
    + _VEC_SQL
    + f""",
sims AS (
    SELECT q.query_id, c.neighbor_id, {_COS} AS sim
    FROM q CROSS JOIN c
),
ranked AS (
    SELECT *, row_number() OVER (
        PARTITION BY query_id ORDER BY sim DESC, neighbor_id ASC) AS rn
    FROM sims
)
SELECT query_id, neighbor_id, round(1e-9 + sim, 6) AS sim
FROM ranked WHERE rn <= 5"""
)


def q_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partition-pruned (IVF-style, label = cell) cosine top-3."""
    emb = _emb(spark, sf_dir)
    out = similarity.ivf_knn(emb.where(F.col("vec_id") % 50 == 0), _scale_out(emb), k=3)
    return out.select("query_id", "neighbor_id", _rnd(F.col("sim"), 6).alias("sim"))


_SQL_ANN_IVF = (
    "WITH "
    + _VEC_SQL
    + f""",
sims AS (
    SELECT q.query_id, c.neighbor_id, {_COS} AS sim
    FROM q JOIN c ON q.label = c.label
),
ranked AS (
    SELECT *, row_number() OVER (
        PARTITION BY query_id ORDER BY sim DESC, neighbor_id ASC) AS rn
    FROM sims
)
SELECT query_id, neighbor_id, round(1e-9 + sim, 6) AS sim
FROM ranked WHERE rn <= 3"""
)


def q_ann_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN quality evaluation: recall@5 of the IVF-pruned search against
    the exact brute-force baseline, per query — the measure-don't-guess
    harness for the speed/recall trade. Runs on the sampled query set, so
    cost is two bounded top-k jobs plus a tiny join; at 100 TB you
    evaluate on a fixed probe sample exactly like this."""
    emb = _emb(spark, sf_dir)
    qset = emb.where(F.col("vec_id") % 50 == 0)
    corpus = _scale_out(emb)
    k = 5
    exact = similarity.brute_force_knn(qset, corpus, k=k).select(
        "query_id", "neighbor_id"
    )
    approx = similarity.ivf_knn(qset, corpus, k=k).select("query_id", "neighbor_id")
    hits = (
        exact.join(approx, ["query_id", "neighbor_id"])
        .groupBy("query_id")
        .agg(F.count(F.lit(1)).alias("n_hits"))
    )
    qids = qset.select(F.col("vec_id").alias("query_id"))
    return qids.join(hits, "query_id", "left").select(
        "query_id",
        F.coalesce(F.col("n_hits"), F.lit(0)).cast("long").alias("n_hits"),
        _rnd(F.coalesce(F.col("n_hits"), F.lit(0)) / F.lit(k), 6).alias(
            "recall_at_5"
        ),
    )


_SQL_ANN_RECALL = (
    "WITH "
    + _VEC_SQL
    + f""",
sims_e AS (
    SELECT q.query_id, c.neighbor_id, {_COS} AS sim
    FROM q CROSS JOIN c
),
ranked_e AS (
    SELECT query_id, neighbor_id, row_number() OVER (
        PARTITION BY query_id ORDER BY sim DESC, neighbor_id ASC) AS rn
    FROM sims_e
),
sims_a AS (
    SELECT q.query_id, c.neighbor_id, {_COS} AS sim
    FROM q JOIN c ON q.label = c.label
),
ranked_a AS (
    SELECT query_id, neighbor_id, row_number() OVER (
        PARTITION BY query_id ORDER BY sim DESC, neighbor_id ASC) AS rn
    FROM sims_a
),
hits AS (
    SELECT e.query_id, count(*) AS n_hits
    FROM ranked_e e JOIN ranked_a a
      ON e.query_id = a.query_id AND e.neighbor_id = a.neighbor_id
    WHERE e.rn <= 5 AND a.rn <= 5
    GROUP BY 1
)
SELECT qq.query_id,
       CAST(coalesce(n_hits, 0) AS BIGINT) AS n_hits,
       round(1e-9 + coalesce(n_hits, 0) / 5.0, 6) AS recall_at_5
FROM (SELECT DISTINCT query_id FROM q) qq LEFT JOIN hits USING (query_id)"""
)


def q_centroid_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF quantizer build: assign every embedding to its nearest seed
    centroid (vec_id % 100 = 0) by cosine — broadcast k-means assign step."""
    emb = _emb(spark, sf_dir)
    out = similarity.assign_cells(_scale_out(emb), emb.where(F.col("vec_id") % 100 == 0))
    return out.select("vec_id", "centroid_id", _rnd(F.col("sim"), 6).alias("sim"))


_SQL_CENTROID_ASSIGN = f"""
WITH q AS (
    SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS v
    FROM embeddings
),
c AS (
    SELECT vec_id AS neighbor_id, CAST(embedding AS DOUBLE[]) AS v
    FROM embeddings WHERE vec_id % 100 = 0
),
sims AS (
    SELECT q.query_id, c.neighbor_id, {_COS} AS sim
    FROM q CROSS JOIN c
),
ranked AS (
    SELECT *, row_number() OVER (
        PARTITION BY query_id ORDER BY sim DESC, neighbor_id ASC) AS rn
    FROM sims
)
SELECT query_id AS vec_id, neighbor_id AS centroid_id,
       round(1e-9 + sim, 6) AS sim
FROM ranked WHERE rn = 1"""


def q_cell_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-modal curation rollup: join each document's text-quality
    metrics to its embedding's IVF cell (doc_id = vec_id) and aggregate
    per cell — the diagnostic that tells you WHERE in embedding space the
    low-quality mass lives. The cell assignment is the shuffle-free
    codebook fold; the join shuffles on the id (broadcast-able when one
    side is a dim); the rollup is k rows."""
    emb = _emb(spark, sf_dir)
    cells = similarity.assign_cells(
        _scale_out(emb), emb.where(F.col("vec_id") % 100 == 0)
    ).select("vec_id", "centroid_id")
    d = _docs(spark, sf_dir).select(
        "doc_id", "n_chars", "text", T.tokens("text").alias("__w")
    )
    q = d.select(
        "doc_id",
        "n_chars",
        T.word_count_from_tokens("__w").alias("n_words"),
        T.punct_ratio("text").alias("pr"),
        T.type_token_ratio_from_tokens("__w").alias("ttr"),
    ).withColumn(
        "quality",
        (
            F.least(F.col("n_words") / 50.0, F.lit(1.0))
            + F.col("ttr")
            + (1.0 - F.least(F.col("pr") * 4.0, F.lit(1.0)))
        )
        / 3.0,
    )
    joined = q.join(cells, q.doc_id == cells.vec_id)
    return joined.groupBy("centroid_id").agg(
        F.count(F.lit(1)).alias("n_docs"),
        _rnd(F.avg("quality"), 6).alias("avg_quality"),
        _rnd(F.avg("n_chars"), 4).alias("avg_chars"),
    )


_SQL_CELL_QUALITY = f"""
WITH q AS (
    SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS v
    FROM embeddings
),
c AS (
    SELECT vec_id AS neighbor_id, CAST(embedding AS DOUBLE[]) AS v
    FROM embeddings WHERE vec_id % 100 = 0
),
sims AS (
    SELECT q.query_id, c.neighbor_id, {_COS} AS sim
    FROM q CROSS JOIN c
),
cells AS (
    SELECT query_id AS vec_id, neighbor_id AS centroid_id
    FROM (
        SELECT *, row_number() OVER (
            PARTITION BY query_id ORDER BY sim DESC, neighbor_id ASC) AS rn
        FROM sims
    ) WHERE rn = 1
),
tokd AS (
    SELECT doc_id, n_chars,
           list_filter(string_split_regex(text, '\\s+'), t -> t <> '') AS w,
           length(regexp_replace(text, '[A-Za-z0-9\\s]', '', 'g'))
               / greatest(length(text), 1) AS pr
    FROM documents
),
m AS (
    SELECT doc_id, n_chars,
           (least(len(w) / 50.0, 1.0)
            + len(list_distinct(w)) / greatest(len(w), 1)
            + (1.0 - least(pr * 4.0, 1.0))) / 3.0 AS quality
    FROM tokd
)
SELECT centroid_id, count(*) AS n_docs,
       round(1e-9 + avg(quality), 6) AS avg_quality,
       round(1e-9 + avg(n_chars), 4) AS avg_chars
FROM m JOIN cells ON m.doc_id = cells.vec_id
GROUP BY 1"""


def q_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup pairs (cosine ≥ 0.9) over sampled vectors plus
    first-component-negated twins — centroid-blocked form: vectors are
    quantized to their nearest seed centroid (vec_id % 50 = 0, broadcast)
    and only within-cell pairs are compared, so the plan is an equi-join
    shuffled on the cell id (no O(n²) crossJoin). The oracle mirrors the
    identical single-probe blocking."""
    emb = _scale_out(_emb(spark, sf_dir).where(F.col("vec_id") % 10 == 0))
    base = emb.select("vec_id", V.as_double("embedding").alias("v"))
    twin = base.select(
        (F.col("vec_id") + 1000000).alias("vec_id"),
        F.concat(
            F.array(-F.element_at("v", 1)), F.expr("slice(v, 2, size(v) - 1)")
        ).alias("v"),
    )
    corpus = base.unionByName(twin)
    cents = base.where(F.col("vec_id") % 50 == 0)
    pairs = similarity.bucketed_cosine_pairs(corpus, cents, threshold=0.9)
    return pairs.select("id_a", "id_b", _rnd(F.col("sim"), 6).alias("sim"))


_SQL_EMB_NEARDUP = f"""
WITH base AS (
    SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
    FROM embeddings WHERE vec_id % 10 = 0
),
twin AS (
    SELECT vec_id + 1000000 AS vec_id, list_concat([-v[1]], v[2:]) AS v FROM base
),
corpus AS (SELECT * FROM base UNION ALL SELECT * FROM twin),
cents AS (SELECT * FROM base WHERE vec_id % 50 = 0),
assign AS (
    SELECT query_id AS vec_id, neighbor_id AS cell FROM (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id, {_COS} AS sim,
               row_number() OVER (PARTITION BY q.vec_id
                                  ORDER BY {_COS} DESC, c.vec_id ASC) AS rn
        FROM corpus q CROSS JOIN cents c
    ) WHERE rn = 1
),
tagged AS (
    SELECT corpus.vec_id, corpus.v, assign.cell
    FROM corpus JOIN assign USING (vec_id)
),
sims AS (
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        {_COS.replace('q.', 'a.').replace('c.', 'b.')} AS sim
    FROM tagged a JOIN tagged b ON a.cell = b.cell AND a.vec_id < b.vec_id
)
SELECT id_a, id_b, round(1e-9 + sim, 6) AS sim
FROM sims WHERE sim >= 0.9"""


def q_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style SEMANTIC dedup, end to end (Abbas et al. 2023,
    "SemDeDup: Data-efficient learning at web-scale through semantic
    deduplication"): centroid-blocked embedding near-dup pairs (cosine ≥
    0.9, the `q_embedding_neardup` construction) → connected components
    → one canonical (min-id) survivor per semantic cluster, emitted as
    the per-vector keep/remove decision table with cluster sizes — the
    artifact a curation pipeline joins back to drop semantic duplicates.

    Scale shape: within-cell pair generation (never O(n²)), iterative CC
    over the (small) pair set, and a #clusters-sized broadcast join for
    the sizes — the corpus crosses exactly the shuffles the pair + CC
    steps already need."""
    emb = _scale_out(_emb(spark, sf_dir).where(F.col("vec_id") % 10 == 0))
    base = emb.select("vec_id", V.as_double("embedding").alias("v"))
    twin = base.select(
        (F.col("vec_id") + 1000000).alias("vec_id"),
        F.concat(
            F.array(-F.element_at("v", 1)), F.expr("slice(v, 2, size(v) - 1)")
        ).alias("v"),
    )
    corpus = base.unionByName(twin)
    cents = base.where(F.col("vec_id") % 50 == 0)
    pairs = similarity.bucketed_cosine_pairs(corpus, cents, threshold=0.9)
    labels = dedup.connected_components(
        pairs.select(
            F.col("id_a").alias("doc_a"), F.col("id_b").alias("doc_b")
        ),
        corpus.select(F.col("vec_id").alias("doc_id")),
    )
    sizes = labels.groupBy("cluster_id").agg(
        F.count(F.lit(1)).cast("long").alias("cluster_size")
    )
    return labels.join(F.broadcast(sizes), "cluster_id").select(
        F.col("doc_id").alias("vec_id"),
        F.col("cluster_id").cast("long").alias("cluster_id"),
        "cluster_size",
        (F.col("doc_id") == F.col("cluster_id")).alias("keep"),
    )


_SQL_SEMDEDUP = (
    "WITH RECURSIVE base AS (\n"
    "    SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v\n"
    "    FROM embeddings WHERE vec_id % 10 = 0\n"
    "),\n"
    "twin AS (\n"
    "    SELECT vec_id + 1000000 AS vec_id, list_concat([-v[1]], v[2:]) AS v"
    " FROM base\n"
    "),\n"
    "corpus AS (SELECT * FROM base UNION ALL SELECT * FROM twin),\n"
    "cents AS (SELECT * FROM base WHERE vec_id % 50 = 0),\n"
    "assign AS (\n"
    "    SELECT query_id AS vec_id, neighbor_id AS cell FROM (\n"
    f"        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id, {_COS} AS sim,\n"
    "               row_number() OVER (PARTITION BY q.vec_id\n"
    f"                                  ORDER BY {_COS} DESC, c.vec_id ASC) AS rn\n"
    "        FROM corpus q CROSS JOIN cents c\n"
    "    ) WHERE rn = 1\n"
    "),\n"
    "tagged AS (\n"
    "    SELECT corpus.vec_id, corpus.v, assign.cell\n"
    "    FROM corpus JOIN assign USING (vec_id)\n"
    "),\n"
    "pairs AS (\n"
    "    SELECT a.vec_id AS id_a, b.vec_id AS id_b\n"
    "    FROM tagged a JOIN tagged b ON a.cell = b.cell AND a.vec_id < b.vec_id\n"
    f"    WHERE {_COS.replace('q.', 'a.').replace('c.', 'b.')} >= 0.9\n"
    "),\n"
    "edges AS (\n"
    "    SELECT id_a AS src, id_b AS dst FROM pairs\n"
    "    UNION\n"
    "    SELECT id_b AS src, id_a AS dst FROM pairs\n"
    "),\n"
    "reach(node, lab) AS (\n"
    "    SELECT vec_id, vec_id FROM corpus\n"
    "    UNION\n"
    "    SELECT e.dst, r.lab FROM reach r JOIN edges e ON e.src = r.node\n"
    "),\n"
    "labels AS (\n"
    "    SELECT node AS vec_id, min(lab) AS cluster_id FROM reach GROUP BY node\n"
    "),\n"
    "sizes AS (\n"
    "    SELECT cluster_id, CAST(count(*) AS BIGINT) AS cluster_size\n"
    "    FROM labels GROUP BY 1\n"
    ")\n"
    "SELECT l.vec_id, CAST(l.cluster_id AS BIGINT) AS cluster_id,\n"
    "       s.cluster_size, l.vec_id = l.cluster_id AS keep\n"
    "FROM labels l JOIN sizes s USING (cluster_id)"
)


def q_dedup_cluster(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup clustering: LSH candidate pairs → connected components → one
    canonical (min-id) representative per near-dup cluster. The iterative
    min-label propagation has no single-query SQL form; the oracle uses a
    recursive CTE reaching the same unique fixpoint."""
    corpus = _text_corpus(_docs(spark, sf_dir))
    sh = dedup.shingle_rows(corpus)
    # persisted: the capped pair generation consumes bands twice (hot-set
    # detection + the grouped collect); one short row per doc
    sig = dedup.minhash_signatures(sh, num_hashes=_NH).persist()
    pairs = dedup.lsh_candidate_pairs(dedup.lsh_bands(sig, num_hashes=_NH))
    return dedup.connected_components(pairs, corpus.select("doc_id"))


_SQL_DEDUP_CLUSTER = (
    "WITH RECURSIVE "
    + ",".join([SQL_CORPUS, SQL_TOK, SQL_SH, SQL_MINHASH])
    + """,
pairs AS (
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM cbands a JOIN cbands b
      ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id
),
edges AS (
    SELECT doc_a AS src, doc_b AS dst FROM pairs
    UNION
    SELECT doc_b AS src, doc_a AS dst FROM pairs
),
reach(node, lab) AS (
    SELECT doc_id, doc_id FROM corpus
    UNION
    SELECT e.dst, r.lab FROM reach r JOIN edges e ON e.src = r.node
)
SELECT node AS doc_id, min(lab) AS cluster_id FROM reach GROUP BY node"""
)


def q_cc_two_phase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SAME dedup-clustering pipeline as `q_dedup_cluster`, but the
    connected-components step runs the alternating large-star/small-star
    algorithm (Kiveris et al., SOCC'14 — O(log n) rounds on any graph
    shape) instead of min-label propagation.  Both reach the identical
    unique fixpoint (every doc labeled with its component-min id), so the
    recursive-CTE oracle is shared verbatim — this entry gates the
    two-phase implementation itself against DuckDB, not just against the
    sibling Spark path."""
    corpus = _text_corpus(_docs(spark, sf_dir))
    sh = dedup.shingle_rows(corpus)
    sig = dedup.minhash_signatures(sh, num_hashes=_NH).persist()
    pairs = dedup.lsh_candidate_pairs(dedup.lsh_bands(sig, num_hashes=_NH))
    return dedup.connected_components(
        pairs, corpus.select("doc_id"), mode="large_star"
    )


def q_global_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dense 0-based global index over doc ids via the bucketed two-pass
    rank (`sampling.global_index`) — rank↔key resolution for samplers
    without a single-partition global sort.  The oracle replays the
    documented permutation (ORDER BY md5-bucket, key) with a plain
    row_number, so the bucket arithmetic, offset cumulation, and join-back
    are all value-hashed."""
    from .operators import sampling

    return sampling.global_index(
        _docs(spark, sf_dir).select("doc_id"), "doc_id"
    ).select("doc_id", "idx")


_SQL_GLOBAL_INDEX = """
WITH b AS (
    SELECT doc_id,
           CAST(('0x' || substr(md5(doc_id || 'gidx'), 1, 8)) AS BIGINT)
               % 256 AS bucket
    FROM documents
)
SELECT doc_id,
       CAST(row_number() OVER (ORDER BY bucket, doc_id) - 1 AS BIGINT) AS idx
FROM b"""


def q_boilerplate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-frequent-shingle boilerplate scoring (the CCNet idea at
    shingle granularity): a 3-gram appearing in ≥2% of documents is
    corpus boilerplate (templates, navigation, legal footers at web
    scale); each document reports how much of it is boilerplate — the
    quality filter that strips templated content before LLM training.

    Shapes: the doc×shingle frame is built once and persisted (it feeds
    both the doc-frequency agg and the per-doc rollup); the frequent set
    is vocabulary-sized → broadcast back (swap for a shuffle join on
    open-vocabulary corpora); the corpus size joins as a 1-row broadcast
    aggregate (q_bm25 pattern — never a separate count action)."""
    d = _scale_out(_docs(spark, sf_dir).select("doc_id", "text"))
    sh = dedup.shingle_rows(d).persist()
    stats = d.agg(F.count_distinct("doc_id").alias("n_docs"))
    frequent = (
        sh.groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("df"))
        .crossJoin(F.broadcast(stats))
        .where(F.col("df") * 50 >= F.col("n_docs"))
        .select("shingle", F.lit(1).alias("__b"))
    )
    n_boiler = F.sum(F.coalesce(F.col("__b"), F.lit(0))).cast("long")
    return (
        sh.join(F.broadcast(frequent), "shingle", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_shingles"),
            n_boiler.alias("n_boiler"),
        )
        .withColumn(
            "boiler_ratio",
            _rnd(F.col("n_boiler") / F.col("n_shingles"), 6),
        )
    )


_SQL_BOILERPLATE = r"""
WITH tok AS (
    SELECT doc_id,
           list_filter(string_split_regex(text, '\s+'), t -> t <> '') AS w
    FROM documents
), sh AS (
    SELECT doc_id, unnest(list_distinct(list_transform(
        range(1, greatest(len(w) - 2, 0) + 1),
        i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))) AS shingle
    FROM tok
), stats AS (SELECT count(DISTINCT doc_id) AS n_docs FROM documents),
dfreq AS (SELECT shingle, count(*) AS df FROM sh GROUP BY 1),
freq AS (SELECT shingle FROM dfreq, stats WHERE df * 50 >= n_docs)
SELECT sh.doc_id,
       CAST(count(*) AS BIGINT) AS n_shingles,
       CAST(sum(CASE WHEN f.shingle IS NOT NULL THEN 1 ELSE 0 END)
            AS BIGINT) AS n_boiler,
       round(1e-9 +
             CAST(sum(CASE WHEN f.shingle IS NOT NULL THEN 1 ELSE 0 END)
                  AS DOUBLE) / count(*), 6) AS boiler_ratio
FROM sh LEFT JOIN freq f ON sh.shingle = f.shingle
GROUP BY sh.doc_id"""


def q_dup_rate_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source duplication matrix: LSH near-dup candidate pairs
    rolled up by unordered (source_a, source_b) — the contamination /
    licensing diagnostic that shows which sources copy which. Reuses the
    minhash band join; each pair side maps back to its source via a
    broadcast of the doc_id→source dim (the synthetic corpus twins rejoin
    their parent through doc_id % 1_000_000)."""
    docs = _docs(spark, sf_dir)
    corpus = _text_corpus(docs)
    # persisted: capped pair generation consumes bands twice
    sig = dedup.minhash_signatures(
        dedup.shingle_rows(corpus), num_hashes=_NH
    ).persist()
    pairs = dedup.lsh_candidate_pairs(dedup.lsh_bands(sig, num_hashes=_NH))
    dim = docs.select("doc_id", "source")
    j = (
        pairs.select(
            (F.col("doc_a") % 1000000).alias("ka"),
            (F.col("doc_b") % 1000000).alias("kb"),
        )
        .join(
            F.broadcast(dim.select(F.col("doc_id").alias("ka"), F.col("source").alias("sa"))),
            "ka",
        )
        .join(
            F.broadcast(dim.select(F.col("doc_id").alias("kb"), F.col("source").alias("sb"))),
            "kb",
        )
    )
    return j.groupBy(
        F.least("sa", "sb").alias("source_a"),
        F.greatest("sa", "sb").alias("source_b"),
    ).agg(F.count(F.lit(1)).cast("long").alias("n_pairs"))


_SQL_DUP_RATE_BY_SOURCE = (
    "WITH "
    + ",".join([SQL_CORPUS, SQL_TOK, SQL_SH, SQL_MINHASH])
    + """,
pairs AS (
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM cbands a JOIN cbands b
      ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id
)
SELECT least(da.source, db.source) AS source_a,
       greatest(da.source, db.source) AS source_b,
       CAST(count(*) AS BIGINT) AS n_pairs
FROM pairs p
JOIN documents da ON da.doc_id = p.doc_a % 1000000
JOIN documents db ON db.doc_id = p.doc_b % 1000000
GROUP BY 1, 2"""
)


def q_array_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Higher-order array functions over the embedding column — the
    JVM-side vector-math family (aggregate fold for norms, filter for
    sparsity, transform for clipping) that keeps 100 TB of `array<float>`
    work out of Python entirely."""
    emb = _emb(spark, sf_dir).select("vec_id", V.as_double("embedding").alias("v"))
    norm_sq = F.aggregate("v", F.lit(0.0), lambda acc, x: acc + x * x)
    return emb.select(
        "vec_id",
        F.size("v").alias("dim"),
        _rnd(F.sqrt(norm_sq), 6).alias("l2_norm"),
        F.size(F.filter("v", lambda x: x > 0)).alias("n_positive"),
        _rnd(
            F.aggregate(
                F.transform("v", lambda x: F.least(F.greatest(x, F.lit(-0.5)), F.lit(0.5))),
                F.lit(0.0),
                lambda acc, x: acc + x,
            ),
            6,
        ).alias("clipped_sum"),
    )


_SQL_ARRAY_OPS = """
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)
SELECT vec_id,
       CAST(len(v) AS INTEGER) AS dim,
       round(1e-9 + sqrt(list_sum(list_transform(v, x -> x * x))), 6) AS l2_norm,
       CAST(len(list_filter(v, x -> x > 0)) AS INTEGER) AS n_positive,
       round(1e-9 + list_sum(list_transform(v, x -> least(greatest(x, -0.5), 0.5))), 6) AS clipped_sum
FROM e"""


def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Eval-set decontamination: flag eval documents sharing any word-8-gram
    with the training corpus (the standard benchmark-contamination sweep).
    Eval set = truncated twins of a doc sample (contaminated by
    construction) ∪ token-reversed twins (clean: reversal destroys 8-gram
    sequences). Distinct train 8-grams → LEFT join → per-doc hit count."""
    docs = _docs(spark, sf_dir)
    train_sh = (
        dedup.shingle_rows(_scale_out(docs.select("doc_id", "text")), n=8)
        .select("shingle")
        .distinct()
        .withColumn("__hit", F.lit(1))
    )
    sample = docs.where(F.col("doc_id") % 13 == 0)
    contaminated = sample.select(
        (F.col("doc_id") + 1000000).alias("doc_id"),
        F.expr("substring(text, 31)").alias("text"),
    )
    clean = sample.select(
        (F.col("doc_id") + 3000000).alias("doc_id"),
        F.concat_ws(
            " ", F.reverse(T.tokens("text"))
        ).alias("text"),
    )
    eval_docs = _scale_out(contaminated.unionByName(clean))
    eval_sh = dedup.shingle_rows(eval_docs, n=8)
    joined = eval_sh.join(F.broadcast(train_sh), "shingle", "left")
    return joined.groupBy("doc_id").agg(
        F.sum(F.coalesce(F.col("__hit"), F.lit(0))).alias("n_shared_ngrams"),
        (F.sum(F.coalesce(F.col("__hit"), F.lit(0))) > 0).alias("is_contaminated"),
    )


_GRAM8 = " || ' ' || ".join(f"w[i+{k}]" for k in range(8)).replace("w[i+0]", "w[i]")

_SQL_DECONTAMINATE = f"""
WITH tokd AS (
    SELECT doc_id,
           list_filter(string_split_regex(text, '\\s+'), t -> t <> '') AS w
    FROM documents
),
train_sh AS (
    -- valid starts for an 8-gram are 1 .. len(w)-7 (1-based)
    SELECT DISTINCT unnest(list_distinct(list_transform(
        range(1, greatest(len(w) - 7, 0) + 1), i -> {_GRAM8}))) AS shingle
    FROM tokd
),
eval_docs AS (
    SELECT doc_id + 1000000 AS doc_id, substr(text, 31) AS text
    FROM documents WHERE doc_id % 13 = 0
    UNION ALL
    SELECT doc_id + 3000000 AS doc_id,
           array_to_string(list_reverse(
               list_filter(string_split_regex(text, '\\s+'), t -> t <> '')), ' ')
    FROM documents WHERE doc_id % 13 = 0
),
eval_tok AS (
    SELECT doc_id,
           list_filter(string_split_regex(text, '\\s+'), t -> t <> '') AS w
    FROM eval_docs
),
eval_sh AS (
    SELECT doc_id, unnest(list_distinct(list_transform(
        range(1, greatest(len(w) - 7, 0) + 1), i -> {_GRAM8}))) AS shingle
    FROM eval_tok
)
SELECT e.doc_id,
       -- CAST: DuckDB sum(INT) widens to HUGEINT, Spark emits BIGINT and the
       -- driver hash is width-sensitive.
       CAST(sum(CASE WHEN t.shingle IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
           AS n_shared_ngrams,
       sum(CASE WHEN t.shingle IS NOT NULL THEN 1 ELSE 0 END) > 0 AS is_contaminated
FROM eval_sh e LEFT JOIN train_sh t ON e.shingle = t.shingle
GROUP BY e.doc_id"""


def q_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram-LM fluency scoring over the documents corpus (CCNet-style
    quality filter): avg conditional log-prob + perplexity per doc."""
    from .operators import terms

    d = _scale_out(_docs(spark, sf_dir).select("doc_id", "text"))
    out = terms.bigram_lm_scores(d)
    return out.select(
        "doc_id",
        "n_bigrams",
        _rnd(F.col("avg_logp"), 6).alias("avg_logp"),
        _rnd(F.exp(-F.col("avg_logp")), 4).alias("perplexity"),
    )


_SQL_LM_SCORE = """
WITH tokd AS (
    SELECT doc_id,
           list_filter(string_split_regex(text, '\\s+'), t -> t <> '') AS w
    FROM documents
),
big AS (
    SELECT doc_id, w[i] AS w1, w[i + 1] AS w2
    FROM tokd, unnest(range(1, len(w))) AS t(i)
    WHERE len(w) >= 2
),
cb AS (SELECT w1, w2, count(*) AS c_pair FROM big GROUP BY 1, 2),
cw AS (SELECT w1, count(*) AS c_head FROM big GROUP BY 1),
scored AS (
    SELECT b.doc_id, ln(cb.c_pair / CAST(cw.c_head AS DOUBLE)) AS logp
    FROM big b
    JOIN cb ON cb.w1 = b.w1 AND cb.w2 = b.w2
    JOIN cw ON cw.w1 = b.w1
),
agg AS (
    SELECT doc_id, count(*) AS n_bigrams, avg(logp) AS avg_logp
    FROM scored GROUP BY 1
)
SELECT doc_id, n_bigrams,
       round(1e-9 + avg_logp, 6) AS avg_logp,
       round(1e-9 + exp(-avg_logp), 4) AS perplexity
FROM agg"""


def q_edit_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Candidate-pair verification by exact Levenshtein distance: LSH
    proposes, edit distance confirms (sampled pairs; at scale this is the
    post-filter stage after banding, never an all-pairs pass). JVM
    `levenshtein` matches DuckDB's definition exactly."""
    corpus = _text_corpus(_docs(spark, sf_dir)).persist()
    sh = dedup.shingle_rows(corpus)
    sig = dedup.minhash_signatures(sh, num_hashes=_NH).persist()
    pairs = dedup.lsh_candidate_pairs(dedup.lsh_bands(sig, num_hashes=_NH)).where(
        F.col("doc_a") % 10 == 0
    )
    a = corpus.select(F.col("doc_id").alias("doc_a"), F.col("text").alias("text_a"))
    b = corpus.select(F.col("doc_id").alias("doc_b"), F.col("text").alias("text_b"))
    joined = pairs.join(a, "doc_a").join(b, "doc_b")
    return joined.select(
        "doc_a",
        "doc_b",
        F.levenshtein("text_a", "text_b").alias("edit_distance"),
        _rnd(
            F.lit(1.0)
            - F.levenshtein("text_a", "text_b")
            / F.greatest(F.length("text_a"), F.length("text_b")),
            6,
        ).alias("edit_similarity"),
    )


_SQL_EDIT_DISTANCE = (
    "WITH "
    + ",".join([SQL_CORPUS, SQL_TOK, SQL_SH, SQL_MINHASH])
    + """,
pairs AS (
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM cbands a JOIN cbands b
      ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id
)
SELECT p.doc_a, p.doc_b,
       CAST(levenshtein(ca.text, cb.text) AS INTEGER) AS edit_distance,
       round((1.0 - levenshtein(ca.text, cb.text)
             / greatest(length(ca.text), length(cb.text))) + 1e-9, 6)
           AS edit_similarity
FROM pairs p
JOIN corpus ca ON ca.doc_id = p.doc_a
JOIN corpus cb ON cb.doc_id = p.doc_b
WHERE p.doc_a % 10 = 0"""
)


# --- scrubbing / sampling / stats ------------------------------------------

def q_text_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII/URL scrubbing: emails and URLs injected deterministically, then
    masked; whitespace normalized. Pure regexp_replace chains (RE2-safe)."""
    d = _docs(spark, sf_dir)
    dirty = d.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit("  contact user"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com  via https://ex.com/d/"),
            F.col("doc_id").cast("string"),
            F.lit(" now"),
        ).alias("text"),
    )
    return dirty.select(
        "doc_id",
        T.normalize_whitespace(T.scrub_urls(T.scrub_emails("text"))).alias("clean"),
    )


_SQL_TEXT_SCRUB = r"""
WITH dirty AS (
    SELECT doc_id,
           text || '  contact user' || CAST(doc_id AS VARCHAR)
                || '@example.com  via https://ex.com/d/' || CAST(doc_id AS VARCHAR)
                || ' now' AS text
    FROM documents
)
SELECT doc_id,
       trim(regexp_replace(
           regexp_replace(
               regexp_replace(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
               'https?://[^\s]+', '<URL>', 'g'),
           '\s+', ' ', 'g')) AS clean
FROM dirty"""


def q_sample_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-hash 10% sample of the corpus — stable across runs,
    partitionings, and engines (inclusion is a pure function of doc_id)."""
    from .operators import sampling

    d = _docs(spark, sf_dir)
    return sampling.hash_sample(d, "doc_id", pct=10, salt="s1").select(
        "doc_id", "lang", "n_chars"
    )


# DuckDB lacks base-16 string→int conv; rebuild the same 8-hex-digit value
# positionally (identical digits → identical bucket).
_HEXVAL = " + ".join(
    f"(strpos('0123456789abcdef', substr(h, {i + 1}, 1)) - 1) * {16 ** (7 - i)}"
    for i in range(8)
)


def q_epoch_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reproducible epoch-1 training-order permutation of the corpus
    (`operators/sampling.py::epoch_shuffle`): md5-keyed shard assignment +
    within-shard rank. The order a data loader feeds a trainer — different
    each epoch, bit-identical on re-run and across engines, and NEVER a
    global single-partition sort: one hash shuffle on shard, then each of
    the 16 shards ranks independently."""
    from .operators import sampling

    d = _docs(spark, sf_dir).select("doc_id")
    return sampling.epoch_shuffle(d, "doc_id", epoch=1, n_shards=16)


_SQL_EPOCH_SHUFFLE = f"""
WITH keyed AS (
    SELECT doc_id,
           md5(CAST(doc_id AS VARCHAR) || 'ep1:') AS shuffle_key,
           substr(md5(CAST(doc_id AS VARCHAR) || 'ep1-shard'), 1, 8) AS h
    FROM documents
), sharded AS (
    SELECT doc_id, shuffle_key,
           CAST(({_HEXVAL}) % 16 AS INTEGER) AS shard
    FROM keyed
)
SELECT doc_id, shard, shuffle_key,
       CAST(row_number() OVER (
           PARTITION BY shard ORDER BY shuffle_key ASC, doc_id ASC
       ) AS INTEGER) AS rank_in_shard
FROM sharded"""

_SQL_SAMPLE_HASH = f"""
WITH hashed AS (
    SELECT doc_id, lang, n_chars,
           substr(md5(CAST(doc_id AS VARCHAR) || 's1'), 1, 8) AS h
    FROM documents
)
SELECT doc_id, lang, n_chars
FROM hashed
WHERE ({_HEXVAL}) % 100 < 10"""


def q_sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 5-per-language sample (balanced subset construction)."""
    from .operators import sampling

    d = _docs(spark, sf_dir)
    return sampling.stratified_sample(d, ["lang"], "doc_id", k=5, salt="s2").select(
        "doc_id", "lang"
    )


_SQL_SAMPLE_STRATIFIED = """
WITH ranked AS (
    SELECT doc_id, lang,
           row_number() OVER (
               PARTITION BY lang
               ORDER BY md5(CAST(doc_id AS VARCHAR) || 's2') ASC, doc_id ASC
           ) AS rn
    FROM documents
)
SELECT doc_id, lang FROM ranked WHERE rn <= 5"""


def q_split_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test split summary: every document is
    assigned by content-hash bucket (`train_val_test_split`, 80/10/10),
    then counted per (split, lang). Assignment is a pure map-side
    expression — the only shuffle is the final tiny rollup — and a
    document's split can never change across re-ingests, which is what
    keeps eval sets uncontaminated at 100 TB."""
    from .operators import sampling

    d = sampling.train_val_test_split(
        _docs(spark, sf_dir), "doc_id", val_pct=10, test_pct=10, salt="sp"
    )
    return d.groupBy("split", "lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        _rnd(F.avg("n_chars"), 4).alias("avg_chars"),
    )


_SQL_SPLIT_ASSIGN = f"""
WITH hashed AS (
    SELECT lang, n_chars,
           substr(md5(CAST(doc_id AS VARCHAR) || 'sp'), 1, 8) AS h
    FROM documents
), b AS (
    SELECT lang, n_chars, ({_HEXVAL}) % 100 AS bucket FROM hashed
)
SELECT CASE WHEN bucket < 10 THEN 'test'
            WHEN bucket < 20 THEN 'val'
            ELSE 'train' END AS split,
       lang, count(*) AS n_docs,
       round(1e-9 + avg(n_chars), 4) AS avg_chars
FROM b GROUP BY 1, 2"""


def _hexval_of(col: str) -> str:
    """The `_HEXVAL` first-8-hex-chars-to-int expression over an
    arbitrary column name (the original is bound to a column named h)."""
    return " + ".join(
        f"(strpos('0123456789abcdef', substr({col}, {i + 1}, 1)) - 1)"
        f" * {16 ** (7 - i)}"
        for i in range(8)
    )


def q_cluster_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NEAR-DUP-AWARE train/val/test split — the leakage-proof form of
    q_split_assign: documents are split by the content hash of their
    near-dup CLUSTER id (MinHash LSH pairs → connected components → min
    doc id as the cluster key), so a document and its paraphrases can
    never straddle train and test.  The report self-grades: per split
    (docs, clusters) plus two audit columns — clusters straddling splits
    under cluster-keyed assignment (structurally 0) and under the naive
    DOC-keyed assignment (the leak count the cluster keying prevents;
    nonzero whenever any multi-doc cluster exists).

    Shape: the split is a pure map-side hash of the cluster key; the
    only extra cost over q_dedup_cluster is two tiny cluster-grain
    rollups."""
    from .operators import sampling

    corpus = _text_corpus(_docs(spark, sf_dir))
    sh = dedup.shingle_rows(corpus)
    sig = dedup.minhash_signatures(sh, num_hashes=_NH).persist()
    pairs = dedup.lsh_candidate_pairs(dedup.lsh_bands(sig, num_hashes=_NH))
    cl = dedup.connected_components(pairs, corpus.select("doc_id")).persist()
    d = sampling.train_val_test_split(cl, "cluster_id", salt="clsp")
    dd_ = sampling.train_val_test_split(cl, "doc_id", salt="clsp")
    leak = (
        d.groupBy("cluster_id")
        .agg(F.count_distinct("split").alias("__nc"))
        .agg(
            F.sum(F.when(F.col("__nc") > 1, 1).otherwise(0))
            .cast("long")
            .alias("leak_cluster_keyed")
        )
        .crossJoin(
            dd_.groupBy("cluster_id")
            .agg(F.count_distinct("split").alias("__nd"))
            .agg(
                F.sum(F.when(F.col("__nd") > 1, 1).otherwise(0))
                .cast("long")
                .alias("leak_doc_keyed")
            )
        )
    )
    return (
        d.groupBy("split")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.count_distinct("cluster_id").cast("long").alias("n_clusters"),
        )
        .crossJoin(F.broadcast(leak))
    )


_SQL_CLUSTER_SPLIT = (
    "WITH RECURSIVE "
    + ",".join([SQL_CORPUS, SQL_TOK, SQL_SH, SQL_MINHASH])
    + f""",
pairs AS (
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM cbands a JOIN cbands b
      ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id
),
edges AS (
    SELECT doc_a AS src, doc_b AS dst FROM pairs
    UNION
    SELECT doc_b AS src, doc_a AS dst FROM pairs
),
reach(node, lab) AS (
    SELECT doc_id, doc_id FROM corpus
    UNION
    SELECT e.dst, r.lab FROM reach r JOIN edges e ON e.src = r.node
),
cl AS (
    SELECT node AS doc_id, min(lab) AS cluster_id FROM reach GROUP BY node
),
sp AS (
    SELECT doc_id, cluster_id,
           CASE WHEN cb < 10 THEN 'test' WHEN cb < 20 THEN 'val'
                ELSE 'train' END AS split,
           CASE WHEN db < 10 THEN 'test' WHEN db < 20 THEN 'val'
                ELSE 'train' END AS dsplit
    FROM (
        SELECT doc_id, cluster_id,
               ({_hexval_of("ch")}) % 100 AS cb,
               ({_hexval_of("dh")}) % 100 AS db
        FROM (
            SELECT doc_id, cluster_id,
                   substr(md5(CAST(cluster_id AS VARCHAR) || 'clsp'), 1, 8)
                       AS ch,
                   substr(md5(CAST(doc_id AS VARCHAR) || 'clsp'), 1, 8)
                       AS dh
            FROM cl))
),
leak AS (
    SELECT
        (SELECT CAST(sum(CASE WHEN nc > 1 THEN 1 ELSE 0 END) AS BIGINT)
         FROM (SELECT cluster_id, count(DISTINCT split) AS nc
               FROM sp GROUP BY 1)) AS leak_cluster_keyed,
        (SELECT CAST(sum(CASE WHEN nd > 1 THEN 1 ELSE 0 END) AS BIGINT)
         FROM (SELECT cluster_id, count(DISTINCT dsplit) AS nd
               FROM sp GROUP BY 1)) AS leak_doc_keyed
)
SELECT split, CAST(count(*) AS BIGINT) AS n_docs,
       CAST(count(DISTINCT cluster_id) AS BIGINT) AS n_clusters,
       leak_cluster_keyed, leak_doc_keyed
FROM sp CROSS JOIN leak
GROUP BY 1, 4, 5"""
)


def q_dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical-survivor selection — the curation HALF of dedup that
    `q_dedup_exact` (group stats) doesn't emit: within each exact-dup
    group keep exactly ONE document by an explicit policy (longest text,
    then smallest doc_id) and carry the group's multiplicity. Both window
    functions share one hash-partitioned shuffle on the content hash."""
    from pyspark.sql import Window

    docs = _docs(spark, sf_dir).select("doc_id", "text", "lang", "source", "n_chars")
    dups = docs.where(F.col("doc_id") % 3 == 0).withColumn(
        "doc_id", F.col("doc_id") + 2000000
    )
    corpus = _scale_out(docs.unionByName(dups)).withColumn("text_hash", F.md5("text"))
    w_rank = Window.partitionBy("text_hash").orderBy(
        F.desc("n_chars"), F.asc("doc_id")
    )
    w_all = Window.partitionBy("text_hash")
    return (
        corpus.withColumn("rn", F.row_number().over(w_rank))
        .withColumn("dup_count", F.count(F.lit(1)).over(w_all))
        .where(F.col("rn") == 1)
        .select("doc_id", "lang", "source", "n_chars", "dup_count")
    )


_SQL_DEDUP_KEEP_BEST = """
WITH corpus AS (
    SELECT doc_id, text, lang, source, n_chars FROM documents
    UNION ALL
    SELECT doc_id + 2000000 AS doc_id, text, lang, source, n_chars
    FROM documents WHERE doc_id % 3 = 0
), g AS (
    SELECT *, md5(text) AS text_hash FROM corpus
)
SELECT doc_id, lang, source, n_chars,
       count(*) OVER (PARTITION BY text_hash) AS dup_count
FROM g
QUALIFY row_number() OVER (
    PARTITION BY text_hash ORDER BY n_chars DESC, doc_id ASC
) = 1"""


def q_filter_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-filter funnel: how many documents each curation rule would
    drop, plus the surviving count — the go/no-go report run before
    committing a filter config. Metrics are computed once per doc (single
    tokenize), flags are pure column expressions, and the whole funnel
    reduces to ONE partial-aggregated row before a constant-size unpivot:
    at 100 TB this is a scan plus a 7-value shuffle."""
    d = _docs(spark, sf_dir).select("doc_id", "text", T.tokens("text").alias("__w"))
    m = d.select(
        T.word_count_from_tokens("__w").alias("n_words"),
        T.punct_ratio("text").alias("pr"),
        T.stopword_ratio_from_tokens("__w", "en").alias("sr"),
        T.type_token_ratio_from_tokens("__w").alias("ttr"),
    )
    f = m.select(
        (F.col("n_words") < 10).cast("long").alias("f_short"),
        (F.col("n_words") > 2000).cast("long").alias("f_long"),
        (F.col("ttr") < 0.3).cast("long").alias("f_rep"),
        (F.col("pr") > 0.2).cast("long").alias("f_punct"),
        (F.col("sr") < 0.01).cast("long").alias("f_stop"),
    )
    a = f.agg(
        F.count(F.lit(1)).alias("n_total"),
        F.sum("f_short").alias("s_short"),
        F.sum("f_long").alias("s_long"),
        F.sum("f_rep").alias("s_rep"),
        F.sum("f_punct").alias("s_punct"),
        F.sum("f_stop").alias("s_stop"),
        F.sum(
            (
                F.col("f_short") + F.col("f_long") + F.col("f_rep")
                + F.col("f_punct") + F.col("f_stop")
                == 0
            ).cast("long")
        ).alias("s_kept"),
    )
    pairs = F.create_map(
        F.lit("total"), F.col("n_total"),
        F.lit("too_short"), F.col("s_short"),
        F.lit("too_long"), F.col("s_long"),
        F.lit("low_diversity"), F.col("s_rep"),
        F.lit("high_punct"), F.col("s_punct"),
        F.lit("low_stopword"), F.col("s_stop"),
        F.lit("kept"), F.col("s_kept"),
    )
    return a.select(
        F.explode(pairs).alias("rule", "n_docs"), F.col("n_total")
    ).select(
        "rule",
        "n_docs",
        _rnd(F.col("n_docs") / F.col("n_total"), 6).alias("share"),
    )


_SQL_FILTER_FUNNEL = """
WITH tokd AS (
    SELECT doc_id, text,
           list_filter(string_split_regex(text, '\\s+'), t -> t <> '') AS w
    FROM documents
),
m AS (
    SELECT CAST(len(w) AS BIGINT) AS n_words,
        length(regexp_replace(text, '[A-Za-z0-9\\s]', '', 'g'))
            / greatest(length(text), 1) AS pr,
        len(list_filter(w, t -> list_contains(['the','a','of','and','to','in','is'], t)))
            / greatest(len(w), 1) AS sr,
        len(list_distinct(w)) / greatest(len(w), 1) AS ttr
    FROM tokd
),
f AS (
    SELECT CASE WHEN n_words < 10 THEN 1 ELSE 0 END AS f_short,
           CASE WHEN n_words > 2000 THEN 1 ELSE 0 END AS f_long,
           CASE WHEN ttr < 0.3 THEN 1 ELSE 0 END AS f_rep,
           CASE WHEN pr > 0.2 THEN 1 ELSE 0 END AS f_punct,
           CASE WHEN sr < 0.01 THEN 1 ELSE 0 END AS f_stop
    FROM m
),
a AS (
    SELECT count(*) AS n_total,
           CAST(sum(f_short) AS BIGINT) AS s_short,
           CAST(sum(f_long) AS BIGINT) AS s_long,
           CAST(sum(f_rep) AS BIGINT) AS s_rep,
           CAST(sum(f_punct) AS BIGINT) AS s_punct,
           CAST(sum(f_stop) AS BIGINT) AS s_stop,
           CAST(sum(CASE WHEN f_short + f_long + f_rep + f_punct + f_stop = 0
                         THEN 1 ELSE 0 END) AS BIGINT) AS s_kept
    FROM f
)
SELECT rule, n_docs, round(1e-9 + n_docs / n_total, 6) AS share
FROM (
    SELECT 'total' AS rule, n_total AS n_docs, n_total FROM a
    UNION ALL SELECT 'too_short', s_short, n_total FROM a
    UNION ALL SELECT 'too_long', s_long, n_total FROM a
    UNION ALL SELECT 'low_diversity', s_rep, n_total FROM a
    UNION ALL SELECT 'high_punct', s_punct, n_total FROM a
    UNION ALL SELECT 'low_stopword', s_stop, n_total FROM a
    UNION ALL SELECT 'kept', s_kept, n_total FROM a
)"""


def q_chunk_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window token chunking (50-token chunks, 10-token overlap) —
    the doc→training-example shape transform. Entirely map-side (tokenize,
    offset sequence, slice, explode): no shuffle at any corpus size. Chunks
    are emitted as (count, content-hash) so the gate compares values
    without hauling full chunk text through the harness."""
    from .operators import chunking

    d = _scale_out(_docs(spark, sf_dir))
    ch = chunking.chunk_tokens(d, chunk_size=50, overlap=10)
    return ch.select(
        "doc_id",
        "chunk_idx",
        F.size("chunk").cast("long").alias("n_tokens"),
        F.md5(F.concat_ws(" ", "chunk")).alias("chunk_hash"),
    )


_SQL_CHUNK_DOCS = """
WITH tok AS (
    SELECT doc_id,
           list_filter(string_split_regex(text, '\\s+'), t -> t <> '') AS w
    FROM documents
), st AS (
    SELECT doc_id, w, unnest(range(1, greatest(len(w) - 10, 1) + 1, 40)) AS s
    FROM tok WHERE len(w) > 0
)
SELECT doc_id,
       CAST((s - 1) // 40 AS INTEGER) AS chunk_idx,
       CAST(len(list_slice(w, s, s + 49)) AS BIGINT) AS n_tokens,
       md5(array_to_string(list_slice(w, s, s + 49), ' ')) AS chunk_hash
FROM st"""


def q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sharded concat-and-cut sequence packing (budget 512 tokens,
    8 shards): documents are laid end-to-end per hash shard in
    content-hash order and cut every 512 tokens; the rollup reports each
    bin's document count and token mass. The per-shard window is the only
    shuffle, and parallelism = n_shards independent of corpus size."""
    from .operators import chunking

    d = _scale_out(_docs(spark, sf_dir)).select(
        "doc_id", T.word_count("text").alias("n_tok")
    )
    packed = chunking.pack_sequences(d, budget=512, n_shards=8)
    return packed.groupBy("shard", "bin_idx").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tok").alias("total_tokens"),
        F.min("start_offset").alias("bin_start"),
    )


_SQL_PACK_SEQUENCES = f"""
WITH tok AS (
    SELECT doc_id,
           CAST(len(list_filter(string_split_regex(text, '\\s+'), t -> t <> '')) AS BIGINT) AS n_tok,
           md5(CAST(doc_id AS VARCHAR) || 'pack') AS hh
    FROM documents
), sh AS (
    SELECT doc_id, n_tok, hh, substr(hh, 1, 8) AS h FROM tok
), shard_of AS (
    SELECT doc_id, n_tok, hh,
           CAST(({_HEXVAL}) % 8 AS INTEGER) AS shard
    FROM sh
), off AS (
    SELECT shard, doc_id, n_tok,
           CAST(sum(n_tok) OVER (
               PARTITION BY shard ORDER BY hh, doc_id
               ROWS UNBOUNDED PRECEDING) - n_tok AS BIGINT) AS start_offset
    FROM shard_of
)
SELECT shard,
       CAST(floor(start_offset / 512) AS BIGINT) AS bin_idx,
       count(*) AS n_docs,
       CAST(sum(n_tok) AS BIGINT) AS total_tokens,
       min(start_offset) AS bin_start
FROM off GROUP BY 1, 2"""


_SRP_PLANES = 16
_SRP_DIM = 64
_SRP_QUANT = 1000


def q_srp_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sign-random-projection LSH over embeddings — the data-INDEPENDENT
    blocking family beside the k-means/IVF one: no codebook build pass,
    the hyperplanes are deterministic code. Integer-quantized ternary
    projections keep every dot product in exact int64, so the signature
    is bit-reproducible in any engine. One narrow map stage; the bucket
    (top 8 bits) is the LSH blocking key."""
    planes = similarity.ternary_planes(_SRP_PLANES, _SRP_DIM)
    sigs = similarity.srp_signatures(
        _scale_out(_emb(spark, sf_dir)), planes, quant=_SRP_QUANT
    )
    return sigs.select(
        "vec_id",
        "srp_sig",
        F.floor(F.col("srp_sig") / F.lit(256)).cast("long").alias("bucket"),
    )


def _sql_srp_sig_expr() -> str:
    """DuckDB twin of srp_signatures over a quantized `qv` column."""
    from .operators.similarity import ternary_planes

    planes = ternary_planes(_SRP_PLANES, _SRP_DIM)
    terms = []
    for j, plane in enumerate(planes):
        lst = "[" + ", ".join(str(c) for c in plane) + "]"
        terms.append(
            f"CASE WHEN list_sum(list_transform(range(1, {_SRP_DIM} + 1), "
            f"i -> qv[i] * ({lst})[i])) >= 0 THEN {1 << j} ELSE 0 END"
        )
    return "\n         + ".join(terms)


_SQL_SRP_QUANT_LAMBDA = (
    f"x -> CAST(floor(CAST(x AS DOUBLE) * {_SRP_QUANT}) AS BIGINT)"
)


def _sql_srp_lsh() -> str:
    return f"""
WITH q AS (
    SELECT vec_id,
           list_transform(embedding, {_SQL_SRP_QUANT_LAMBDA}) AS qv
    FROM embeddings
), s AS (
    SELECT vec_id, CAST({_sql_srp_sig_expr()} AS BIGINT) AS srp_sig FROM q
)
SELECT vec_id, srp_sig, srp_sig // 256 AS bucket FROM s"""


def q_srp_near_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SRP-LSH used for BLOCKING end-to-end: signatures over a corpus plus
    positively-scaled re-encodings (×2 — same direction, as a re-encoded
    duplicate would be), candidates only within the top-8-bit signature
    bucket, kept when Hamming distance ≤ 2. Same O(co-bucketed pairs)
    shape as the centroid-blocked variant but with zero build pass. The
    signature frame is persisted before the self-join (both sides would
    re-run the projection otherwise)."""
    planes = similarity.ternary_planes(_SRP_PLANES, _SRP_DIM)
    base = _emb(spark, sf_dir).where(F.col("vec_id") % 5 == 0).select(
        "vec_id", V.as_double("embedding").alias("embedding")
    )
    twins = base.select(
        (F.col("vec_id") + 1000000).alias("vec_id"),
        F.transform("embedding", lambda x: x * F.lit(2.0)).alias("embedding"),
    )
    corpus = _scale_out(base.unionByName(twins))
    sigs = (
        similarity.srp_signatures(corpus, planes, quant=_SRP_QUANT)
        .withColumn("bucket", F.floor(F.col("srp_sig") / F.lit(256)).cast("long"))
        .persist()
    )
    a = sigs.select(
        F.col("vec_id").alias("id_a"), F.col("srp_sig").alias("sig_a"), "bucket"
    )
    b = sigs.select(
        F.col("vec_id").alias("id_b"), F.col("srp_sig").alias("sig_b"), "bucket"
    )
    ham = F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b"))).cast("long")
    return (
        a.join(b, "bucket")
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", ham.alias("hamming"))
        .where(F.col("hamming") <= 2)
    )


def _sql_srp_near_pairs() -> str:
    return f"""
WITH corpus AS (
    SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e
    FROM embeddings WHERE vec_id % 5 = 0
    UNION ALL
    SELECT vec_id + 1000000 AS vec_id,
           list_transform(embedding, x -> CAST(x AS DOUBLE) * 2.0) AS e
    FROM embeddings WHERE vec_id % 5 = 0
), q AS (
    SELECT vec_id,
           list_transform(e, {_SQL_SRP_QUANT_LAMBDA.replace('CAST(x AS DOUBLE)', 'x')}) AS qv
    FROM corpus
), s AS (
    SELECT vec_id, CAST({_sql_srp_sig_expr()} AS BIGINT) AS sig FROM q
), b AS (
    SELECT vec_id, sig, sig // 256 AS bucket FROM s
)
SELECT a.vec_id AS id_a, bb.vec_id AS id_b,
       CAST(bit_count(xor(a.sig, bb.sig)) AS BIGINT) AS hamming
FROM b a JOIN b bb ON a.bucket = bb.bucket AND a.vec_id < bb.vec_id
WHERE bit_count(xor(a.sig, bb.sig)) <= 2"""


_KMEANS_K, _KMEANS_ITERS = 8, 3  # q_kmeans_cells codebook size and rounds


def q_kmeans_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end IVF codebook lifecycle: `kmeans_fit_exact` builds the
    codebook (Lloyd's, deterministic md5-of-id seeding, integer-lattice
    arithmetic), `assign_cells` quantizes the corpus shuffle-free, and the
    rollup reports per-cell population and mean quantization similarity —
    the balance diagnostic that decides whether a codebook is usable for
    ANN blocking.

    Oracled by a fully-unrolled 3-iteration Lloyd's in DuckDB SQL: the
    exact variant quantizes vectors to ints and keeps centroids as integer
    SUM vectors (cosine is scale-invariant), so every assignment and every
    centroid coordinate is bit-identical across engines — only the final
    avg(sim) needs the epsilon rounding."""
    e = _scale_out(_emb(spark, sf_dir))
    cb = similarity.kmeans_fit_exact(
        e, k=_KMEANS_K, n_iter=_KMEANS_ITERS, quant=_KMEANS_QUANT
    )
    q = e.select("vec_id", V.quantize("embedding", _KMEANS_QUANT).alias("qv"))
    a = similarity.assign_cells(
        q, cb.withColumnRenamed("embedding", "qv"), vec_col="qv"
    )
    return a.groupBy("centroid_id").agg(
        F.count(F.lit(1)).alias("n_vecs"),
        _rnd(F.avg("sim"), 4).alias("avg_quant_sim"),
    )




def _sql_kmeans_cells() -> str:
    """Unrolled Lloyd's-in-SQL oracle twin of `kmeans_fit_exact` +
    `assign_cells`: _KMEANS_ITERS × (assign, integer-sum recompute with
    empty-cell carryover) then one final assign and the rollup. The cosine
    expression mirrors the engine's op order exactly: int dot products
    cast to double, sqrt per side, one division."""
    sim = (
        "CAST(dqc AS DOUBLE)"
        " / (sqrt(CAST(dqq AS DOUBLE)) * sqrt(CAST(dcc AS DOUBLE)))"
    )
    parts = [
        f"""WITH v AS (
    SELECT vec_id,
           list_transform(embedding,
               x -> CAST(floor(CAST(x AS DOUBLE) * {_KMEANS_QUANT}) AS BIGINT)) AS q
    FROM embeddings
), c0 AS (
    SELECT vec_id AS cid, q AS cv
    FROM v ORDER BY md5(CAST(vec_id AS VARCHAR)) ASC, vec_id ASC LIMIT {_KMEANS_K}
)"""
    ]
    for t in range(1, _KMEANS_ITERS + 2):
        parts.append(f""", sims{t} AS (
    SELECT v.vec_id, c.cid,
           sum(v.q[t.i] * c.cv[t.i]) AS dqc,
           sum(v.q[t.i] * v.q[t.i]) AS dqq,
           sum(c.cv[t.i] * c.cv[t.i]) AS dcc
    FROM v CROSS JOIN c{t - 1} c CROSS JOIN range(1, 65) t(i)
    GROUP BY 1, 2
), a{t} AS (
    SELECT vec_id, cid, sim FROM (
        SELECT vec_id, cid, {sim} AS sim,
               row_number() OVER (
                   PARTITION BY vec_id ORDER BY {sim} DESC, cid ASC) AS rn
        FROM sims{t}) WHERE rn = 1
)""")
        if t <= _KMEANS_ITERS:
            parts.append(f""", n{t} AS (
    SELECT cid, list(s ORDER BY pos) AS cv FROM (
        SELECT a.cid, t.i AS pos, CAST(sum(v.q[t.i]) AS BIGINT) AS s
        FROM a{t} a JOIN v USING (vec_id)
        CROSS JOIN range(1, 65) t(i)
        GROUP BY 1, 2)
    GROUP BY cid
), c{t} AS (
    SELECT c{t - 1}.cid, coalesce(n{t}.cv, c{t - 1}.cv) AS cv
    FROM c{t - 1} LEFT JOIN n{t} ON n{t}.cid = c{t - 1}.cid
)""")
    parts.append(f"""
SELECT cid AS centroid_id, CAST(count(*) AS BIGINT) AS n_vecs,
       round(1e-9 + avg(sim), 4) AS avg_quant_sim
FROM a{_KMEANS_ITERS + 1} GROUP BY cid""")
    return "".join(parts)


_SQL_KMEANS_CELLS = _sql_kmeans_cells()


_PQ_M, _PQ_K, _PQ_ITER = 4, 8, 2


def _pq_codebook(spark: SparkSession, sf_dir: str) -> list:
    """One trained PQ codebook per (session, sf_dir) through
    ``session_memo``, shared by the codebook/search/recall queries — the
    same offline-build reuse as `_ivfpq_index`: `pq_fit` is deterministic
    (md5-of-id seeding, exact-integer Lloyd's), so reuse is bit-identical
    to refitting, and the ~4 sequential fit collects are index-build
    cost, not per-query serving cost.  The memoized value is a
    driver-side k·dim int list — no DataFrame, nothing to invalidate on
    clearCache."""
    from .operators import pq

    return session_memo(
        spark,
        ("pq_codebook", sf_dir),
        lambda: pq.pq_fit(
            _emb(spark, sf_dir), m=_PQ_M, k=_PQ_K, n_iter=_PQ_ITER,
            quant=_KMEANS_QUANT,
        ),
    )


def q_pq_codebook(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization codebook build (`operators/pq.pq_fit`): m=4
    per-subspace Lloyd's with exact-integer floor-mean centroids and
    integer-L2 assignment, md5-of-id seeding. The whole training loop is
    on the integer lattice, so the oracle (an unrolled per-subspace
    Lloyd's in SQL) reproduces every centroid coordinate bit-for-bit.
    Output: one row per (subspace, code) with the centroid serialized as
    a ','-joined string (array gate outputs avoided by repo policy)."""
    from .operators import pq

    # narrow fit input on purpose: partition-order-independent codebook,
    # and the iterative fit is scheduling-bound, not data-bound
    cb = _pq_codebook(spark, sf_dir)
    return pq.pq_codebook_df(spark, cb).select(
        "subspace", "code_id", F.array_join("cv", ",").alias("cv_str")
    )


def q_pq_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end PQ ANN lifecycle: fit → encode the corpus to m codes
    per vector → ADC top-5 for the deterministic query subset
    (vec_id%50=0). Search never touches raw corpus vectors — scores are
    integer subspace-dot-table sums over the 1-byte codes, ties broken
    on neighbor id, so the full result frame is hash-reproducible."""
    from .operators import pq

    e = _emb(spark, sf_dir)
    corpus = _scale_out(e)
    # fit on the NARROW frame: the codebook is partition-order independent
    # by design, and the tiny iterative aggregations pay per-task scheduling
    # cost, not data cost — only the CPU-heavy encode wants the wide corpus
    cb = _pq_codebook(spark, sf_dir)
    codes = pq.pq_encode(corpus, cb, quant=_KMEANS_QUANT)
    out = pq.pq_search(
        e.where(F.col("vec_id") % 50 == 0), codes, cb, k=5, quant=_KMEANS_QUANT
    )
    return out.select(
        "query_id", "neighbor_id", "adc_score", F.col("rank").cast("long").alias("rank")
    )


def _sql_pq_ctes(
    m: int = _PQ_M,
    k: int = _PQ_K,
    n_iter: int = _PQ_ITER,
    dim: int = 64,
    quant: int = _KMEANS_QUANT,
    prefix: str = "",
    src: str = "embeddings",
    vec: str = "embedding",
    quantize: bool = True,
) -> str:
    """Unrolled per-subspace Lloyd's-in-SQL twin of `pq.pq_fit` +
    `pq.pq_encode`: subspace is a data dimension (CROSS JOIN range(0,m)
    + 1-based inclusive list slicing), so one CTE chain trains all m
    codebooks at once. Every sum is CAST back to BIGINT (DuckDB HUGEINT
    lesson); the floor-mean divides exact integer sums as doubles —
    safe because quotients are ≤ quant·max|x| with ≥1/n distance to the
    nearest integer when fractional (n = cell size), far above double
    ulp at that magnitude.

    Parameterized so chains compose (IVFADC): ``prefix`` namespaces
    every CTE ({p}v, {p}sl, {p}c{t}, {p}a{t}…), ``src``/``vec`` pick
    the input relation/column, ``quantize=False`` takes already-integer
    vectors (residuals) verbatim."""
    sub = dim // m
    p = prefix
    qexpr = (
        f"list_transform({vec}, x -> CAST(floor(CAST(x AS DOUBLE) * {quant}) AS BIGINT))"
        if quantize
        else f"list_transform({vec}, x -> CAST(x AS BIGINT))"
    )
    parts = [
        f"""{p}v AS (
    SELECT vec_id, {qexpr} AS q
    FROM {src}
), {p}sl AS (
    SELECT vec_id, s.s AS sub,
           {p}v.q[CAST(s.s * {sub} + 1 AS INTEGER) : CAST(s.s * {sub} + {sub} AS INTEGER)] AS sv
    FROM {p}v CROSS JOIN range(0, {m}) s(s)
), {p}seed AS (
    SELECT vec_id, rn - 1 AS code_id FROM (
        SELECT vec_id, row_number() OVER (
            ORDER BY md5(CAST(vec_id AS VARCHAR)) ASC, vec_id ASC) AS rn
        FROM {p}v) WHERE rn <= {k}
), {p}c0 AS (
    SELECT {p}sl.sub, {p}seed.code_id, {p}sl.sv AS cv
    FROM {p}seed JOIN {p}sl USING (vec_id)
)"""
    ]
    for t in range(1, n_iter + 2):
        parts.append(f""", {p}d{t} AS (
    SELECT {p}sl.vec_id, {p}sl.sub, c.code_id,
           CAST(sum(({p}sl.sv[r.i] - c.cv[r.i]) * ({p}sl.sv[r.i] - c.cv[r.i]))
                AS BIGINT) AS dist
    FROM {p}sl JOIN {p}c{t - 1} c USING (sub) CROSS JOIN range(1, {sub + 1}) r(i)
    GROUP BY 1, 2, 3
), {p}a{t} AS (
    SELECT vec_id, sub, code_id FROM (
        SELECT vec_id, sub, code_id, row_number() OVER (
            PARTITION BY vec_id, sub ORDER BY dist ASC, code_id ASC) AS rn
        FROM {p}d{t}) WHERE rn = 1
)""")
        if t <= n_iter:
            parts.append(f""", {p}n{t} AS (
    SELECT sub, code_id, list(mu ORDER BY pos) AS cv FROM (
        SELECT a.sub, a.code_id, r.i AS pos,
               CAST(floor(CAST(sum({p}sl.sv[r.i]) AS DOUBLE) / count(*))
                    AS BIGINT) AS mu
        FROM {p}a{t} a JOIN {p}sl USING (vec_id, sub)
        CROSS JOIN range(1, {sub + 1}) r(i)
        GROUP BY 1, 2, 3)
    GROUP BY 1, 2
), {p}c{t} AS (
    SELECT c.sub, c.code_id, coalesce(n.cv, c.cv) AS cv
    FROM {p}c{t - 1} c LEFT JOIN {p}n{t} n USING (sub, code_id)
)""")
    return "".join(parts)


_SQL_PQ_CODEBOOK = (
    "WITH "
    + _sql_pq_ctes()
    + f"""
SELECT sub AS subspace, code_id, array_to_string(cv, ',') AS cv_str
FROM c{_PQ_ITER}"""
)

_SQL_PQ_SEARCH = (
    "WITH "
    + _sql_pq_ctes()
    + f""", qsl AS (
    SELECT vec_id AS query_id, sub, sv FROM sl WHERE vec_id % 50 = 0
), sc AS (
    SELECT qsl.query_id, e.vec_id AS neighbor_id,
           CAST(sum(qsl.sv[r.i] * c.cv[r.i]) AS BIGINT) AS adc_score
    FROM a{_PQ_ITER + 1} e
    JOIN c{_PQ_ITER} c USING (sub, code_id)
    JOIN qsl USING (sub)
    CROSS JOIN range(1, {64 // _PQ_M + 1}) r(i)
    GROUP BY 1, 2
)
SELECT query_id, neighbor_id, adc_score, rank FROM (
    SELECT *, row_number() OVER (
        PARTITION BY query_id ORDER BY adc_score DESC, neighbor_id ASC) AS rank
    FROM sc) WHERE rank <= 5"""
)


def q_pq_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@5 of PQ ADC search against the exact cosine top-5 — the
    compression-quality diagnostic that decides (m, k) for a deployment,
    mirroring `q_ann_recall`'s role for IVF blocking. Self-matches are
    guaranteed hits, so recall floors at 1/5; the interesting signal is
    the tail. Integer ADC ranking and exact-cosine ranking come from the
    already-oracled pipelines; the overlap count per query is exact."""
    from .operators import pq

    e = _emb(spark, sf_dir)
    corpus = _scale_out(e)
    queries = e.where(F.col("vec_id") % 50 == 0)
    cb = _pq_codebook(spark, sf_dir)
    approx = pq.pq_search(
        queries, pq.pq_encode(corpus, cb, quant=_KMEANS_QUANT), cb,
        k=5, quant=_KMEANS_QUANT,
    ).select("query_id", "neighbor_id")
    exact = similarity.brute_force_knn(queries, corpus, k=5).select(
        "query_id", "neighbor_id"
    )
    hits = approx.join(exact, ["query_id", "neighbor_id"]).groupBy(
        "query_id"
    ).agg(F.count(F.lit(1)).alias("n_hits"))
    return (
        exact.select("query_id").distinct()
        .join(hits, "query_id", "left")
        .select(
            "query_id",
            F.coalesce("n_hits", F.lit(0)).cast("long").alias("n_hits"),
            (F.coalesce("n_hits", F.lit(0)) / 5.0).alias("recall_at_5"),
        )
    )


def _sql_pq_recall() -> str:
    return (
        "WITH "
        + _sql_pq_ctes()
        + f""", qsl AS (
    SELECT vec_id AS query_id, sub, sv FROM sl WHERE vec_id % 50 = 0
), adc AS (
    SELECT qsl.query_id, e.vec_id AS neighbor_id,
           CAST(sum(qsl.sv[r.i] * c.cv[r.i]) AS BIGINT) AS adc_score
    FROM a{_PQ_ITER + 1} e
    JOIN c{_PQ_ITER} c USING (sub, code_id)
    JOIN qsl USING (sub)
    CROSS JOIN range(1, {64 // _PQ_M + 1}) r(i)
    GROUP BY 1, 2
), approx AS (
    SELECT query_id, neighbor_id FROM (
        SELECT *, row_number() OVER (
            PARTITION BY query_id ORDER BY adc_score DESC, neighbor_id ASC) AS rn
        FROM adc) WHERE rn <= 5
), """
        + _VEC_SQL.strip().rstrip()
        + f""", exact AS (
    SELECT query_id, neighbor_id FROM (
        SELECT q.query_id, c.neighbor_id, row_number() OVER (
            PARTITION BY q.query_id
            ORDER BY {_COS} DESC, c.neighbor_id ASC) AS rn
        FROM q CROSS JOIN c) WHERE rn <= 5
), hits AS (
    SELECT query_id, count(*) AS n_hits
    FROM approx JOIN exact USING (query_id, neighbor_id)
    GROUP BY 1
)
SELECT e.query_id,
       CAST(coalesce(h.n_hits, 0) AS BIGINT) AS n_hits,
       coalesce(h.n_hits, 0) / 5.0 AS recall_at_5
FROM (SELECT DISTINCT query_id FROM exact) e
LEFT JOIN hits h USING (query_id)"""
    )


_SQL_PQ_RECALL = _sql_pq_recall()


def _ivfpq_index(spark: SparkSession, sf_dir: str):
    """One fitted IVFADC index per (session, sf_dir) through
    ``session_memo``, shared by the search/recall/multiprobe queries: the
    ~5 sequential fit collects are the index BUILD (offline at
    deployment), not per-query serving cost, and the fit is deterministic
    so reuse is bit-identical to refitting (round-6 verdict #4).  The
    memoized codebooks are driver-side k·dim lists; the encoded-corpus
    frame lazily re-materialises its persist after a harness clearCache."""
    from .operators import pq

    return session_memo(
        spark,
        ("ivfpq_index", sf_dir),
        lambda: pq.ivfpq_build(
            _scale_out(_emb(spark, sf_dir)),
            k_cells=8,
            m=_PQ_M,
            k_codes=4,
            coarse_iter=2,
            fine_iter=1,
            quant=_KMEANS_QUANT,
        ),
    )


def q_ivfpq_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVFADC — the FAISS-style composition of the engine's two ANN
    primitives (`pq.ivfpq_search`): exact-integer coarse k-means (m=1
    `pq_fit`) partitions the corpus into 8 cells, a shared 4×4 PQ
    codebook quantizes the residual x − centroid(cell), and each query
    scores only its own cell's codes via integer squared-L2 ADC (the
    Jégou formulation — cross-cell comparable, which is what lets
    ``n_probe`` widen the search) — an equi-join on the cell id, never a
    cross join. Oracled by composing two prefixed unrolled-Lloyd's CTE
    chains (coarse over embeddings, fine over the residual CTE) plus the
    within-cell scoring join."""
    from .operators import pq

    e = _emb(spark, sf_dir)
    out = pq.ivfpq_search(
        e.where(F.col("vec_id") % 50 == 0),
        _scale_out(e),
        k_cells=8,
        m=_PQ_M,
        k_codes=4,
        k=5,
        coarse_iter=2,
        fine_iter=1,
        quant=_KMEANS_QUANT,
        index=_ivfpq_index(spark, sf_dir),
    )
    return out.select(
        "query_id", "neighbor_id", "adc_dist", F.col("rank").cast("long").alias("rank")
    )


def _sql_ivfpq_search() -> str:
    coarse = _sql_pq_ctes(
        m=1, k=8, n_iter=2, dim=64, prefix="co", src="embeddings",
        vec="embedding", quantize=True,
    )
    fine = _sql_pq_ctes(
        m=_PQ_M, k=4, n_iter=1, dim=64, prefix="f", src="res", vec="r",
        quantize=False,
    )
    sub = 64 // _PQ_M
    return (
        "WITH "
        + coarse
        + """, res AS (
    SELECT cov.vec_id, a.code_id AS cell,
           list_transform(range(1, 65),
               i -> cov.q[CAST(i AS INTEGER)] - c.cv[CAST(i AS INTEGER)]) AS r
    FROM cov
    JOIN coa3 a USING (vec_id)
    JOIN coc2 c ON c.sub = a.sub AND c.code_id = a.code_id
), """
        + fine
        + f""", sc AS (
    SELECT qc.vec_id AS query_id, xc.vec_id AS neighbor_id,
           CAST(sum((qs.sv[r.i] - c.cv[r.i]) * (qs.sv[r.i] - c.cv[r.i]))
                AS BIGINT) AS adc_dist
    FROM res qc
    JOIN res xc ON xc.cell = qc.cell
    JOIN fsl qs ON qs.vec_id = qc.vec_id
    JOIN fa2 e ON e.vec_id = xc.vec_id AND e.sub = qs.sub
    JOIN fc1 c ON c.sub = e.sub AND c.code_id = e.code_id
    CROSS JOIN range(1, {sub + 1}) r(i)
    WHERE qc.vec_id % 50 = 0
    GROUP BY 1, 2
)
SELECT query_id, neighbor_id, adc_dist, rank FROM (
    SELECT *, row_number() OVER (
        PARTITION BY query_id ORDER BY adc_dist ASC, neighbor_id ASC) AS rank
    FROM sc) WHERE rank <= 5"""
    )


_SQL_IVFPQ_SEARCH = _sql_ivfpq_search()


def _ann_store(spark: SparkSession, sf_dir: str, kind: str) -> str:
    """Lake path of the PERSISTED IVFADC index for this (session, sf_dir)
    — built and committed once through ``session_memo``, then served from
    disk (`pq.ivfpq_save` / `ivfpq_load`; versioned manifest-committed
    layout).  kind='full'
    saves the shared `_ivfpq_index` fit; kind='twogen' fits generation 1
    (vec_id % 10 != 0) only, commits v1, then `ivfpq_append`s generation
    2 encoded against the FROZEN codebooks as v2 — the incremental-ingest
    artifact lifecycle."""
    import hashlib

    from .operators import pq
    from .util import session_tmpdir

    def build() -> str:
        import os as _o

        tag = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
        path = _o.path.join(session_tmpdir("ann_store"), f"{kind}_{tag}")
        if kind == "full":
            pq.ivfpq_save(spark, _ivfpq_index(spark, sf_dir), path)
        else:
            e = _emb(spark, sf_dir)
            gen1 = pq.ivfpq_build(
                _scale_out(e.where(F.col("vec_id") % 10 != 0)),
                k_cells=8, m=_PQ_M, k_codes=4, coarse_iter=2,
                fine_iter=1, quant=_KMEANS_QUANT,
            )
            pq.ivfpq_save(spark, gen1, path)
            pq.ivfpq_append(
                spark, path, _scale_out(e.where(F.col("vec_id") % 10 == 0))
            )
        return path

    return session_memo(spark, ("ann_store", sf_dir, kind), build)


def q_ann_index_persist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN serving from the LAKE-PERSISTED index artifact — the restart
    story `q_ivfpq_search`'s in-session memo lacks: the coarse centroids,
    PQ codebooks, and cell-partitioned code table are committed to a
    versioned store (`pq.ivfpq_save`), and serving LOADS them
    (`pq.ivfpq_load`) instead of re-paying the fit — codebooks are k·m
    driver rows, the code table stays a lazy parquet scan whose cell
    partitioning prunes under the serving equi-join (DPP at cluster
    scale).  The fit is deterministic, so disk-served results are
    bit-identical to the in-memory index and share `q_ivfpq_search`'s
    oracle."""
    from .operators import pq

    e = _emb(spark, sf_dir)
    idx = pq.ivfpq_load(spark, _ann_store(spark, sf_dir, "full"))
    out = pq.ivfpq_search(
        e.where(F.col("vec_id") % 50 == 0),
        _scale_out(e),
        k_cells=8, m=_PQ_M, k_codes=4, k=5, coarse_iter=2, fine_iter=1,
        quant=_KMEANS_QUANT, index=idx,
    )
    return out.select(
        "query_id", "neighbor_id", "adc_dist",
        F.col("rank").cast("long").alias("rank"),
    )


def q_ann_index_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental ANN ingest against FROZEN codebooks — the daily-batch
    lifecycle of the persisted index: generation 1 (vec_id % 10 != 0)
    fits and commits v1; generation 2 encodes against v1's codebooks
    (two narrow map stages, NO fit, history's codes untouched) and
    commits v2 = insert-only merge (`pq.ivfpq_append`); serving loads v2
    and answers the standard query batch over the merged code table.
    The oracle fits Lloyd's over generation 1 ONLY, then encodes the
    FULL corpus against those centroids — exactly the frozen-codebook
    contract, so incremental ≡ from-scratch-encode by construction."""
    from .operators import pq

    e = _emb(spark, sf_dir)
    idx = pq.ivfpq_load(spark, _ann_store(spark, sf_dir, "twogen"))
    out = pq.ivfpq_search(
        e.where(F.col("vec_id") % 50 == 0),
        _scale_out(e),
        k_cells=8, m=_PQ_M, k_codes=4, k=5, coarse_iter=2, fine_iter=1,
        quant=_KMEANS_QUANT, index=idx,
    )
    return out.select(
        "query_id", "neighbor_id", "adc_dist",
        F.col("rank").cast("long").alias("rank"),
    )


def _sql_ann_index_append() -> str:
    """Two-generation IVFADC oracle: Lloyd's chains fit over generation 1
    only (`emb1`), then the FULL corpus assigns/encodes against those
    frozen centroids."""
    coarse = _sql_pq_ctes(
        m=1, k=8, n_iter=2, dim=64, prefix="co", src="emb1",
        vec="embedding", quantize=True,
    )
    fine = _sql_pq_ctes(
        m=_PQ_M, k=4, n_iter=1, dim=64, prefix="f", src="res1", vec="r",
        quantize=False,
    )
    sub = 64 // _PQ_M
    return (
        "WITH emb1 AS (SELECT vec_id, embedding FROM embeddings "
        "WHERE vec_id % 10 <> 0),\n"
        + coarse
        + f""", allv AS (
    SELECT vec_id,
           list_transform(embedding,
               x -> CAST(floor(CAST(x AS DOUBLE) * {_KMEANS_QUANT}) AS BIGINT)) AS q
    FROM embeddings
), alld AS (
    SELECT allv.vec_id, c.code_id,
           CAST(sum((allv.q[r.i] - c.cv[r.i]) * (allv.q[r.i] - c.cv[r.i]))
                AS BIGINT) AS dist
    FROM allv JOIN coc2 c ON c.sub = 0 CROSS JOIN range(1, 65) r(i)
    GROUP BY 1, 2
), alla AS (
    SELECT vec_id, code_id FROM (
        SELECT vec_id, code_id, row_number() OVER (
            PARTITION BY vec_id ORDER BY dist ASC, code_id ASC) AS rn
        FROM alld) WHERE rn = 1
), res AS (
    SELECT allv.vec_id, a.code_id AS cell,
           list_transform(range(1, 65),
               i -> allv.q[CAST(i AS INTEGER)] - c.cv[CAST(i AS INTEGER)]) AS r
    FROM allv
    JOIN alla a USING (vec_id)
    JOIN coc2 c ON c.sub = 0 AND c.code_id = a.code_id
), res1 AS (SELECT * FROM res WHERE vec_id % 10 <> 0), """
        + fine
        + f""", asl AS (
    SELECT vec_id, s.s AS sub,
           res.r[CAST(s.s * {sub} + 1 AS INTEGER) : CAST(s.s * {sub} + {sub} AS INTEGER)] AS sv
    FROM res CROSS JOIN range(0, {_PQ_M}) s(s)
), ed AS (
    SELECT asl.vec_id, asl.sub, c.code_id,
           CAST(sum((asl.sv[r.i] - c.cv[r.i]) * (asl.sv[r.i] - c.cv[r.i]))
                AS BIGINT) AS dist
    FROM asl JOIN fc1 c USING (sub) CROSS JOIN range(1, {sub + 1}) r(i)
    GROUP BY 1, 2, 3
), ea AS (
    SELECT vec_id, sub, code_id FROM (
        SELECT vec_id, sub, code_id, row_number() OVER (
            PARTITION BY vec_id, sub ORDER BY dist ASC, code_id ASC) AS rn
        FROM ed) WHERE rn = 1
), sc AS (
    SELECT qc.vec_id AS query_id, xc.vec_id AS neighbor_id,
           CAST(sum((qs.sv[r.i] - c.cv[r.i]) * (qs.sv[r.i] - c.cv[r.i]))
                AS BIGINT) AS adc_dist
    FROM res qc
    JOIN res xc ON xc.cell = qc.cell
    JOIN asl qs ON qs.vec_id = qc.vec_id
    JOIN ea e ON e.vec_id = xc.vec_id AND e.sub = qs.sub
    JOIN fc1 c ON c.sub = e.sub AND c.code_id = e.code_id
    CROSS JOIN range(1, {sub + 1}) r(i)
    WHERE qc.vec_id % 50 = 0
    GROUP BY 1, 2
)
SELECT query_id, neighbor_id, adc_dist, rank FROM (
    SELECT *, row_number() OVER (
        PARTITION BY query_id ORDER BY adc_dist ASC, neighbor_id ASC) AS rank
    FROM sc) WHERE rank <= 5"""
    )


_SQL_ANN_INDEX_APPEND = _sql_ann_index_append()


_IVFPQ_PROBES = 2  # q_ivfpq_multiprobe's coarse cells scored per query


def q_ivfpq_multiprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVFADC with ``n_probe=2`` — the standard recall/cost dial: each
    query scores codes in its TWO nearest coarse cells, each probed cell
    using its own residual q − centroid(cell). Cross-cell score
    comparability is exactly why the ADC is squared-L2 (a residual dot
    product is rank-valid only within one cell — the bug the multi-probe
    tests caught). The oracle extends the single-probe CTE chain with a
    per-query cell ranking (top-2 by exact integer L2) and per-probed-
    cell residual slices."""
    from .operators import pq

    e = _emb(spark, sf_dir)
    out = pq.ivfpq_search(
        e.where(F.col("vec_id") % 50 == 0),
        _scale_out(e),
        k_cells=8,
        m=_PQ_M,
        k_codes=4,
        k=5,
        coarse_iter=2,
        fine_iter=1,
        quant=_KMEANS_QUANT,
        n_probe=_IVFPQ_PROBES,
        index=_ivfpq_index(spark, sf_dir),
    )
    return out.select(
        "query_id", "neighbor_id", "adc_dist", F.col("rank").cast("long").alias("rank")
    )


def _sql_ivfpq_multiprobe() -> str:
    coarse = _sql_pq_ctes(
        m=1, k=8, n_iter=2, dim=64, prefix="co", src="embeddings",
        vec="embedding", quantize=True,
    )
    fine = _sql_pq_ctes(
        m=_PQ_M, k=4, n_iter=1, dim=64, prefix="f", src="res", vec="r",
        quantize=False,
    )
    sub = 64 // _PQ_M
    return (
        "WITH "
        + coarse
        + """, res AS (
    SELECT cov.vec_id, a.code_id AS cell,
           list_transform(range(1, 65),
               i -> cov.q[CAST(i AS INTEGER)] - c.cv[CAST(i AS INTEGER)]) AS r
    FROM cov
    JOIN coa3 a USING (vec_id)
    JOIN coc2 c ON c.sub = a.sub AND c.code_id = a.code_id
), """
        + fine
        + f""", qpd AS (
    SELECT v.vec_id, c.code_id,
           CAST(sum((v.q[r.i] - c.cv[r.i]) * (v.q[r.i] - c.cv[r.i]))
                AS BIGINT) AS dist
    FROM cov v
    JOIN coc2 c ON TRUE
    CROSS JOIN range(1, 65) r(i)
    WHERE v.vec_id % 50 = 0
    GROUP BY 1, 2
), qprobe AS (
    SELECT vec_id, code_id AS cell FROM (
        SELECT vec_id, code_id, row_number() OVER (
            PARTITION BY vec_id ORDER BY dist ASC, code_id ASC) AS rn
        FROM qpd) WHERE rn <= {_IVFPQ_PROBES}
), qres AS (
    SELECT p.vec_id, p.cell,
           list_transform(range(1, 65),
               i -> v.q[CAST(i AS INTEGER)] - c.cv[CAST(i AS INTEGER)]) AS r
    FROM qprobe p
    JOIN cov v USING (vec_id)
    JOIN coc2 c ON c.code_id = p.cell
), qsl AS (
    SELECT vec_id, cell, s.s AS sub,
           qres.r[CAST(s.s * {sub} + 1 AS INTEGER)
                  : CAST(s.s * {sub} + {sub} AS INTEGER)] AS sv
    FROM qres CROSS JOIN range(0, {_PQ_M}) s(s)
), sc AS (
    SELECT qs.vec_id AS query_id, xc.vec_id AS neighbor_id,
           CAST(sum((qs.sv[r.i] - c.cv[r.i]) * (qs.sv[r.i] - c.cv[r.i]))
                AS BIGINT) AS adc_dist
    FROM qsl qs
    JOIN res xc ON xc.cell = qs.cell
    JOIN fa2 e ON e.vec_id = xc.vec_id AND e.sub = qs.sub
    JOIN fc1 c ON c.sub = e.sub AND c.code_id = e.code_id
    CROSS JOIN range(1, {sub + 1}) r(i)
    GROUP BY 1, 2
)
SELECT query_id, neighbor_id, adc_dist, rank FROM (
    SELECT *, row_number() OVER (
        PARTITION BY query_id ORDER BY adc_dist ASC, neighbor_id ASC) AS rank
    FROM sc) WHERE rank <= 5"""
    )


_SQL_IVFPQ_MULTIPROBE = _sql_ivfpq_multiprobe()


def q_ivfpq_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@5 of IVFADC (single-probe, cell-pruned, residual-coded)
    against the exact cosine top-5 — closing the ANN recall triangle:
    `q_ann_recall` pins IVF blocking, `q_pq_recall` pins exhaustive-ADC
    compression, this pins their COMPOSITION, which is what a deployment
    actually serves (and what `bench.py` now reports as the headline ANN
    number). Single-probe IVFADC recall is bounded by cell agreement
    between query and true neighbors, so it reads LOWER than either
    component alone — that gap is the multi-probe motivation, made
    visible here."""
    from .operators import pq

    e = _emb(spark, sf_dir)
    corpus = _scale_out(e)
    queries = e.where(F.col("vec_id") % 50 == 0)
    approx = pq.ivfpq_search(
        queries, corpus, k_cells=8, m=_PQ_M, k_codes=4, k=5,
        coarse_iter=2, fine_iter=1, quant=_KMEANS_QUANT,
        index=_ivfpq_index(spark, sf_dir),
    ).select("query_id", "neighbor_id")
    exact = similarity.brute_force_knn(queries, corpus, k=5).select(
        "query_id", "neighbor_id"
    )
    hits = approx.join(exact, ["query_id", "neighbor_id"]).groupBy(
        "query_id"
    ).agg(F.count(F.lit(1)).alias("n_hits"))
    return (
        exact.select("query_id").distinct()
        .join(hits, "query_id", "left")
        .select(
            "query_id",
            F.coalesce("n_hits", F.lit(0)).cast("long").alias("n_hits"),
            (F.coalesce("n_hits", F.lit(0)) / 5.0).alias("recall_at_5"),
        )
    )


def _sql_ivfpq_recall() -> str:
    """The full IVFADC chain nests as ONE CTE (DuckDB scopes the inner
    WITH inside the parenthesis), composed with the same exact-cosine /
    hits CTEs `_sql_pq_recall` uses."""
    return (
        "WITH approx AS (\n"
        + _SQL_IVFPQ_SEARCH
        + "\n), "
        + _VEC_SQL.strip()
        + f""", exact AS (
    SELECT query_id, neighbor_id FROM (
        SELECT q.query_id, c.neighbor_id, row_number() OVER (
            PARTITION BY q.query_id
            ORDER BY {_COS} DESC, c.neighbor_id ASC) AS rn
        FROM q CROSS JOIN c) WHERE rn <= 5
), hits AS (
    SELECT approx.query_id, count(*) AS n_hits
    FROM approx JOIN exact
      ON approx.query_id = exact.query_id
     AND approx.neighbor_id = exact.neighbor_id
    GROUP BY 1
)
SELECT e.query_id,
       CAST(coalesce(h.n_hits, 0) AS BIGINT) AS n_hits,
       coalesce(h.n_hits, 0) / 5.0 AS recall_at_5
FROM (SELECT DISTINCT query_id FROM exact) e
LEFT JOIN hits h USING (query_id)"""
    )


_SQL_IVFPQ_RECALL = _sql_ivfpq_recall()


_BPE_MERGES = 6


def q_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE tokenizer training (`operators/bpe.bpe_train`): one
    corpus-scale word count, then 6 merge rounds over the vocab-sized
    word-freq table — each round one pair aggregation + a 1-row top-pair
    collect + a literal replace. The learned merge table is the
    tokenizer artifact; exact-integer counts with (count desc, pair asc)
    ties make it bit-reproducible against the unrolled SQL twin (top
    pair per round via scalar subqueries)."""
    from .operators import bpe

    return bpe.bpe_train(_scale_out(_docs(spark, sf_dir)), _BPE_MERGES)


def q_bpe_tokenize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenize the corpus with the freshly learned BPE merges
    (`operators/bpe.apply_merges`): per document, the post-merge subword
    count — the sequence-length statistic a training pipeline needs
    before packing. Gates the merge APPLICATION path (greedy
    left-to-right literal replaces) on top of the training path."""
    from .operators import bpe

    d = _scale_out(_docs(spark, sf_dir))
    mt = bpe.bpe_train(d, _BPE_MERGES)
    merges = [(r["lhs"], r["rhs"]) for r in mt.collect()]
    out = bpe.apply_merges(d, merges)
    return out.select(
        "doc_id", F.size("tokens").cast("long").alias("n_bpe_tokens")
    )


def _sql_bpe_ctes(n_merges: int = _BPE_MERGES) -> str:
    """Unrolled BPE-training-in-SQL twin of `bpe.bpe_train`: per round,
    pair counts from the bracket-split symbol strings (symbols are
    individually ␞…␟-bracketed — see `operators/bpe.py` — so a pair
    match can never cross a symbol boundary), the top pair by (count
    desc, lhs asc, rhs asc) via LIMIT 1, and a replace() whose
    search/replacement strings are scalar subqueries on that top row —
    replace() is left-to-right non-overlapping in both engines, which is
    exactly greedy BPE merge application."""
    # chr(30)=␞ OPEN, chr(31)=␟ CLOSE; split token = ␟␞
    parts = [
        """wf AS (
    SELECT word, count(*) AS freq FROM (
        SELECT unnest(list_filter(string_split_regex(text, '\\s+'), t -> t <> '')) AS word
        FROM documents)
    WHERE word NOT LIKE '%' || chr(30) || '%'
      AND word NOT LIKE '%' || chr(31) || '%'
    GROUP BY 1
), s0 AS (
    SELECT word, array_to_string(list_transform(range(1, length(word) + 1),
        i -> chr(30) || substr(word, CAST(i AS INTEGER), 1) || chr(31)), '') AS sym, freq
    FROM wf
)"""
    ]
    for r in range(1, n_merges + 1):
        parts.append(f""", p{r} AS (
    SELECT p['lhs'] AS lhs, p['rhs'] AS rhs, CAST(sum(freq) AS BIGINT) AS pair_count
    FROM (
        SELECT unnest(list_transform(range(1, len(s)),
            i -> struct_pack(lhs := s[CAST(i AS INTEGER)],
                             rhs := s[CAST(i AS INTEGER) + 1]))) AS p, freq
        FROM (SELECT string_split(substr(sym, 2, length(sym) - 2),
                                  chr(31) || chr(30)) AS s, freq
              FROM s{r - 1}))
    GROUP BY 1, 2
), t{r} AS (
    SELECT lhs, rhs, pair_count FROM p{r}
    ORDER BY pair_count DESC, lhs ASC, rhs ASC LIMIT 1
), s{r} AS (
    SELECT word, replace(sym,
        (SELECT chr(30) || lhs || chr(31) || chr(30) || rhs || chr(31) FROM t{r}),
        (SELECT chr(30) || lhs || rhs || chr(31) FROM t{r})) AS sym, freq
    FROM s{r - 1}
)""")
    return "".join(parts)


_SQL_BPE_MERGES = (
    "WITH "
    + _sql_bpe_ctes()
    + "\n"
    + " UNION ALL ".join(
        f"SELECT CAST({r} AS BIGINT) AS merge_rank, lhs, rhs, pair_count FROM t{r}"
        for r in range(1, _BPE_MERGES + 1)
    )
)

_SQL_BPE_TOKENIZE = (
    "WITH "
    + _sql_bpe_ctes()
    + f"""
SELECT d.doc_id,
       CAST(sum(len(string_split(substr(s{_BPE_MERGES}.sym, 2,
                length(s{_BPE_MERGES}.sym) - 2), chr(31) || chr(30))))
            AS BIGINT) AS n_bpe_tokens
FROM (
    SELECT doc_id,
           unnest(list_filter(string_split_regex(text, '\\s+'), t -> t <> '')) AS word
    FROM documents) d
JOIN s{_BPE_MERGES} USING (word)
GROUP BY 1"""
)



def q_tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer fertility audit per language — the metric that decides
    whether a tokenizer is fair to a language mix (fertility = BPE
    subwords per word; chars per subword): languages a tokenizer
    fragments pay more sequence budget per character, which skews both
    training mix and serving cost.  Composes the learned BPE
    (`operators/bpe.bpe_train` + `apply_merges`, the q_bpe_tokenize
    artifact path) with a per-language rollup: Σ subwords, Σ words,
    Σ chars are exact BIGINT from the same clean-word population the
    tokenizer trains on (bracket-char words dropped in BOTH engines),
    two divisions at the end.  Shape: the corpus-scale work is the
    word count + one tokenize map; the rollup is language-grain."""
    from .operators import bpe

    d = _scale_out(_docs(spark, sf_dir).select("doc_id", "text", "lang"))
    mt = bpe.bpe_train(d, _BPE_MERGES)
    merges = [(r["lhs"], r["rhs"]) for r in mt.collect()]
    tok = bpe.apply_merges(d, merges).select(
        "doc_id", F.size("tokens").cast("long").alias("n_bpe")
    )
    words = bpe._clean_words(
        d.select("doc_id", "lang", F.explode(T.tokens("text")).alias("word"))
    ).groupBy("doc_id", "lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_words"),
        F.sum(F.length("word")).cast("long").alias("n_chars"),
    )
    return (
        words.join(tok, "doc_id")
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_words").cast("long").alias("n_words"),
            F.sum("n_bpe").cast("long").alias("n_bpe_tokens"),
            _rnd(
                F.sum("n_bpe").cast("double")
                / F.sum("n_words").cast("double"),
                6,
            ).alias("fertility"),
            _rnd(
                F.sum("n_chars").cast("double")
                / F.sum("n_bpe").cast("double"),
                6,
            ).alias("chars_per_token"),
        )
    )


_SQL_TOKENIZER_FERTILITY = (
    "WITH "
    + _sql_bpe_ctes()
    + f""",
dw AS MATERIALIZED (
    SELECT doc_id, lang, word FROM (
        SELECT doc_id, lang,
               unnest(list_filter(string_split_regex(text, '\\s+'),
                                  t -> t <> '')) AS word
        FROM documents)
    WHERE word NOT LIKE '%' || chr(30) || '%'
      AND word NOT LIKE '%' || chr(31) || '%'
),
per_doc AS MATERIALIZED (
    SELECT dw.doc_id, dw.lang,
           CAST(count(*) AS BIGINT) AS n_words,
           CAST(sum(length(dw.word)) AS BIGINT) AS n_chars,
           CAST(sum(len(string_split(substr(s{_BPE_MERGES}.sym, 2,
                    length(s{_BPE_MERGES}.sym) - 2), chr(31) || chr(30))))
                AS BIGINT) AS n_bpe
    FROM dw JOIN s{_BPE_MERGES} USING (word)
    GROUP BY 1, 2
)
SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_words) AS BIGINT) AS n_words,
       CAST(sum(n_bpe) AS BIGINT) AS n_bpe_tokens,
       round(1e-9 + CAST(sum(n_bpe) AS DOUBLE)
             / CAST(sum(n_words) AS DOUBLE), 6) AS fertility,
       round(1e-9 + CAST(sum(n_chars) AS DOUBLE)
             / CAST(sum(n_bpe) AS DOUBLE), 6) AS chars_per_token
FROM per_doc GROUP BY 1"""
)


_MIXTURE_CAPS = {f"src{i}": (15 if i % 2 == 0 else 5) for i in range(18)}


def q_mixture_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-mixture construction: per-source document caps (even sources
    15, odd 5, src18/src19 excluded) applied via `capped_sample` — the
    deterministic up/down-weighting step that builds a training mix from
    heterogeneous sources. Membership is a pure function of doc_id, so the
    mix is stable under re-ingest; the caps live in an inlined literal
    map (no join)."""
    from .operators import sampling

    d = _docs(spark, sf_dir)
    return sampling.capped_sample(
        d, "source", _MIXTURE_CAPS, "doc_id", salt="mx"
    ).select("doc_id", "source", "lang")


_SQL_MIXTURE_SAMPLE = f"""
WITH ranked AS (
    SELECT doc_id, source, lang,
           row_number() OVER (
               PARTITION BY source
               ORDER BY md5(CAST(doc_id AS VARCHAR) || 'mx') ASC, doc_id ASC
           ) AS rn
    FROM documents
    WHERE source IN ({", ".join(repr(s) for s in _MIXTURE_CAPS)})
)
SELECT doc_id, source, lang FROM ranked
WHERE rn <= CASE WHEN CAST(substr(source, 4) AS INTEGER) % 2 = 0
                 THEN 15 ELSE 5 END"""


_MIXTURE_WEIGHTS = {f"src{i}": (3 if i % 2 == 0 else 1) for i in range(18)}
_MIXTURE_BUDGET = 500_000


def q_mixture_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget mixture planning (`sampling.mixture_plan`) — the
    data-recipe calculation behind published LLM training mixes: integer
    weights (even sources 3, odd 1, src18/src19 excluded) and a 500k
    token budget yield each source's token target (``budget·w DIV Σw``,
    pure integer), sampling rate, and epoch count (rate > 1 ⇒ the
    source repeats — the up-weighting of small high-quality corpora).
    n_chars stands in for tokens (the planner is unit-agnostic). One
    corpus groupBy; weights inlined as a literal map."""
    from .operators import sampling

    out = sampling.mixture_plan(
        _docs(spark, sf_dir), "source", _MIXTURE_WEIGHTS,
        _MIXTURE_BUDGET, "n_chars",
    )
    return out.select(
        "source", "n_docs", "avail_tokens", "weight", "target_tokens",
        _rnd(F.col("rate"), 6).alias("rate"), "epochs",
    )


_SQL_MIXTURE_PLAN = f"""
WITH w(source, weight) AS (VALUES {", ".join(
    f"('src{i}', {3 if i % 2 == 0 else 1})" for i in range(18)
)}),
agg AS (
    SELECT d.source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(d.n_chars) AS BIGINT) AS avail_tokens,
           CAST(max(w.weight) AS BIGINT) AS weight
    FROM documents d JOIN w ON w.source = d.source
    GROUP BY 1
)
SELECT source, n_docs, avail_tokens, weight,
       CAST(({_MIXTURE_BUDGET} * weight) // {sum(
           3 if i % 2 == 0 else 1 for i in range(18))} AS BIGINT)
           AS target_tokens,
       round(1e-9 + (({_MIXTURE_BUDGET} * weight) // {sum(
           3 if i % 2 == 0 else 1 for i in range(18))}) * 1.0
           / avail_tokens, 6) AS rate,
       CAST((({_MIXTURE_BUDGET} * weight) // {sum(
           3 if i % 2 == 0 else 1 for i in range(18))}
           + avail_tokens - 1) // avail_tokens AS BIGINT) AS epochs
FROM agg WHERE avail_tokens > 0"""


def q_mixture_temperature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-0.5 mixture planning (`sampling.mixture_temperature`):
    weights derive FROM the data as ⌊√avail⌋ — the multinomial
    temperature trick that up-weights small sources (α = 0.5 is the one
    temperature with an exact cross-engine witness: IEEE sqrt is
    correctly rounded, libm pow is not).  Reports each source's
    temperature target beside the temperature-1 proportional baseline
    and the resulting boost — small sources boost > 1, the head damps.
    One corpus groupBy + two 1-row broadcasts; all integer until the
    two reporting divisions."""
    from .operators import sampling

    out = sampling.mixture_temperature(
        _docs(spark, sf_dir), "source", "n_chars", _MIXTURE_BUDGET
    )
    return out.select(
        "source",
        "n_docs",
        "avail_tokens",
        "weight",
        "target_tokens",
        "prop_tokens",
        _rnd(F.col("boost"), 4).alias("boost"),
        _rnd(F.col("rate"), 6).alias("rate"),
        "epochs",
    )


_SQL_MIXTURE_TEMPERATURE = f"""
WITH agg AS (
    SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS avail_tokens
    FROM documents GROUP BY 1
    HAVING sum(n_chars) > 0
),
w AS (
    SELECT *, CAST(floor(sqrt(CAST(avail_tokens AS DOUBLE))) AS BIGINT)
        AS weight
    FROM agg
),
tot AS (
    SELECT CAST(sum(weight) AS BIGINT) AS tw,
           CAST(sum(avail_tokens) AS BIGINT) AS ta
    FROM w
)
SELECT source, n_docs, avail_tokens, weight,
       CAST(({_MIXTURE_BUDGET} * weight) // tw AS BIGINT) AS target_tokens,
       CAST(({_MIXTURE_BUDGET} * avail_tokens) // ta AS BIGINT)
           AS prop_tokens,
       round(1e-9 + (({_MIXTURE_BUDGET} * weight) // tw)
             / CAST(greatest(({_MIXTURE_BUDGET} * avail_tokens) // ta, 1)
                    AS DOUBLE), 4) AS boost,
       round(1e-9 + (({_MIXTURE_BUDGET} * weight) // tw) * 1.0
             / avail_tokens, 6) AS rate,
       CAST((({_MIXTURE_BUDGET} * weight) // tw + avail_tokens - 1)
            // avail_tokens AS BIGINT) AS epochs
FROM w, tot"""


def q_key_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-key skew diagnostic (`skew.key_skew_report`) — the
    observability companion to the salting operators and the Count-Min
    join-size preflight: before committing a 100 TB shuffle, read the
    top heavy keys, their cumulative share, and the Herfindahl-derived
    EFFECTIVE key count (eff_keys ≪ shuffle partitions ⇒ salt or let
    AQE split).  One key-cardinality aggregation (persisted for its two
    consumers), TakeOrdered top-20, windows only over the 20-row
    pruned frame; Σc² stays an exact integer."""
    from .operators import skew

    out = skew.key_skew_report(
        load_tables(spark, sf_dir)["orders"], "o_custkey", top_n=20
    )
    return out.select(
        "rank",
        F.col("key").cast("long").alias("key"),
        "cnt",
        "n_rows",
        "n_keys",
        _rnd(F.col("share"), 6).alias("share"),
        _rnd(F.col("cum_share"), 6).alias("cum_share"),
        _rnd(F.col("hhi"), 8).alias("hhi"),
        _rnd(F.col("eff_keys"), 4).alias("eff_keys"),
    )


_SQL_KEY_SKEW = """
WITH counts AS (
    SELECT o_custkey AS key, CAST(count(*) AS BIGINT) AS cnt
    FROM orders GROUP BY 1
),
summary AS (
    SELECT CAST(sum(cnt) AS BIGINT) AS n_rows,
           CAST(count(*) AS BIGINT) AS n_keys,
           CAST(sum(cnt * cnt) AS BIGINT) AS c2
    FROM counts
),
top AS (SELECT * FROM counts ORDER BY cnt DESC, key LIMIT 20),
ranked AS (
    SELECT key, cnt,
           CAST(row_number() OVER (ORDER BY cnt DESC, key) AS INTEGER)
               AS rank,
           CAST(sum(cnt) OVER (ORDER BY cnt DESC, key
                               ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
    FROM top
)
SELECT rank, CAST(key AS BIGINT) AS key, cnt, n_rows, n_keys,
       round(1e-9 + cnt / CAST(n_rows AS DOUBLE), 6) AS share,
       round(1e-9 + cum / CAST(n_rows AS DOUBLE), 6) AS cum_share,
       round(1e-9 + c2 / CAST(n_rows * n_rows AS DOUBLE), 8) AS hhi,
       round(1e-9 + (n_rows * n_rows) / CAST(c2 AS DOUBLE), 4) AS eff_keys
FROM ranked, summary"""


def q_ohlc_bars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly OHLC downsampling of the purchase-value stream — the
    bar-chart/observability rollup (open/high/low/close/volume per
    window) done as ONE aggregation: open and close are `min_by`/
    `max_by` over the total (ts, event_id) order (event_id breaks ts
    ties, the W3 argmax discipline — no corpus window, no self-join),
    high/low/volume are plain min/max/sum on the exact 1e-2 integer
    lattice.  The oracle ranks first/last per hour relationally
    (DuckDB's arg_min/arg_max has no struct overload).  Map-side
    combinable at any scale; output bounded by the hour domain."""
    ev = load_tables(spark, sf_dir)["events"]
    e = ev.where(
        (F.col("event_type") == "purchase")
        & F.col("ts").isNotNull()
        & F.col("value").isNotNull()
    ).select(
        F.date_trunc("hour", "ts").alias("hour_ts"),
        F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long").alias("v_u"),
        "ts",
        "event_id",
    )
    ordk = F.struct("ts", "event_id")
    return (
        e.groupBy("hour_ts")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_trades"),
            F.min_by("v_u", ordk).cast("long").alias("open_u"),
            F.max("v_u").cast("long").alias("high_u"),
            F.min("v_u").cast("long").alias("low_u"),
            F.max_by("v_u", ordk).cast("long").alias("close_u"),
            F.sum("v_u").cast("long").alias("sum_u"),
        )
        .select(
            "hour_ts",
            "n_trades",
            "open_u",
            "high_u",
            "low_u",
            "close_u",
            "sum_u",
            _rnd(F.col("sum_u") / 100.0 / F.col("n_trades"), 4).alias(
                "avg_value"
            ),
        )
    )


_SQL_OHLC_BARS = """
WITH e AS (
    SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hour_ts,
           CAST(floor(value * 100 + 0.5) AS BIGINT) AS v_u,
           ts, event_id
    FROM events
    WHERE event_type = 'purchase' AND ts IS NOT NULL AND value IS NOT NULL
),
r AS (
    SELECT *,
           row_number() OVER (PARTITION BY hour_ts
                              ORDER BY ts, event_id) AS rn_a,
           row_number() OVER (PARTITION BY hour_ts
                              ORDER BY ts DESC, event_id DESC) AS rn_d
    FROM e
)
SELECT hour_ts,
       CAST(count(*) AS BIGINT) AS n_trades,
       CAST(max(CASE WHEN rn_a = 1 THEN v_u END) AS BIGINT) AS open_u,
       CAST(max(v_u) AS BIGINT) AS high_u,
       CAST(min(v_u) AS BIGINT) AS low_u,
       CAST(max(CASE WHEN rn_d = 1 THEN v_u END) AS BIGINT) AS close_u,
       CAST(sum(v_u) AS BIGINT) AS sum_u,
       round(1e-9 + sum(v_u) / 100.0 / count(*), 4) AS avg_value
FROM r GROUP BY 1"""


def q_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-touch / last-touch conversion attribution — the marketing
    rollup beside the funnel and path queries: every purchase credits
    (a) the user's FIRST preceding non-purchase event and (b) the LAST
    one before the purchase, and the query reports per (model, channel)
    conversion counts, reached users, and within-model share.  Both
    credits come from ONE pass of per-user windows over the total
    (ts, event_id) order (`first/last(..., ignorenulls)` with a
    channel column nulled on purchases) — no self-join, no as-of
    range probe; window partitions are bounded by per-user activity,
    the same shape as q_event_paths.  The (model, channel) unpivot is a
    map-side explode; shares divide exact integers over the
    post-aggregation frame."""
    ev = load_tables(spark, sf_dir)["events"]
    e = ev.where(
        F.col("ts").isNotNull()
        & F.col("user_id").isNotNull()
        & F.col("event_type").isNotNull()
    ).select(
        "user_id",
        "ts",
        "event_id",
        "event_type",
        F.when(
            F.col("event_type") != "purchase", F.col("event_type")
        ).alias("ch"),
    )
    w_before = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    touched = e.select(
        "event_type",
        F.first("ch", ignorenulls=True).over(w_before).alias("first_ch"),
        F.last("ch", ignorenulls=True).over(w_before).alias("last_ch"),
        "user_id",
    ).where(
        (F.col("event_type") == "purchase") & F.col("last_ch").isNotNull()
    )
    credits = touched.select(
        "user_id",
        F.explode(
            F.array(
                F.struct(
                    F.lit("first_touch").alias("model"),
                    F.col("first_ch").alias("channel"),
                ),
                F.struct(
                    F.lit("last_touch").alias("model"),
                    F.col("last_ch").alias("channel"),
                ),
            )
        ).alias("c"),
    ).select("user_id", "c.model", "c.channel")
    agg = credits.groupBy("model", "channel").agg(
        F.count(F.lit(1)).cast("long").alias("n_conversions"),
        F.count_distinct("user_id").cast("long").alias("n_users"),
    )
    tot = agg.groupBy("model").agg(
        F.sum("n_conversions").cast("long").alias("__t")
    )
    return agg.join(F.broadcast(tot), "model").select(
        "model",
        "channel",
        "n_conversions",
        "n_users",
        _rnd(F.col("n_conversions") / F.col("__t"), 6).alias("share"),
    )


_SQL_ATTRIBUTION = """
WITH e AS (
    SELECT user_id, ts, event_id, event_type,
           CASE WHEN event_type <> 'purchase' THEN event_type END AS ch
    FROM events
    WHERE ts IS NOT NULL AND user_id IS NOT NULL AND event_type IS NOT NULL
),
touched AS (
    SELECT event_type,
           first_value(ch IGNORE NULLS) OVER w AS first_ch,
           last_value(ch IGNORE NULLS) OVER w AS last_ch,
           user_id
    FROM e
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
),
credits AS (
    SELECT user_id, 'first_touch' AS model, first_ch AS channel
    FROM touched WHERE event_type = 'purchase' AND last_ch IS NOT NULL
    UNION ALL
    SELECT user_id, 'last_touch' AS model, last_ch AS channel
    FROM touched WHERE event_type = 'purchase' AND last_ch IS NOT NULL
),
agg AS (
    SELECT model, channel,
           CAST(count(*) AS BIGINT) AS n_conversions,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
    FROM credits GROUP BY 1, 2
),
tot AS (
    SELECT model, CAST(sum(n_conversions) AS BIGINT) AS t
    FROM agg GROUP BY 1
)
SELECT a.model, a.channel, a.n_conversions, a.n_users,
       round(1e-9 + a.n_conversions / CAST(t.t AS DOUBLE), 6) AS share
FROM agg a JOIN tot t USING (model)"""


def q_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles of document length per language —
    Spark `percentile` and DuckDB `quantile_cont` share the linear-
    interpolation definition."""
    d = _docs(spark, sf_dir)
    return d.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        _rnd(F.expr("percentile(n_chars, 0.5)"), 4).alias("p50_chars"),
        _rnd(F.expr("percentile(n_chars, 0.9)"), 4).alias("p90_chars"),
        _rnd(F.expr("percentile(n_chars, 0.99)"), 4).alias("p99_chars"),
    )


_SQL_PERCENTILES = """
SELECT lang, count(*) AS n_docs,
       round(1e-9 + quantile_cont(n_chars, 0.5), 4) AS p50_chars,
       round(1e-9 + quantile_cont(n_chars, 0.9), 4) AS p90_chars,
       round(1e-9 + quantile_cont(n_chars, 0.99), 4) AS p99_chars
FROM documents GROUP BY 1"""


def q_percentiles_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-based percentiles — the 100 TB path beside exact
    `q_percentiles`: `approx_percentile` (Greenwald-Khanna) keeps a
    bounded-size sketch per partition and merges map-side, where the exact
    form materializes every group's values. At this accuracy GK returns
    exact discrete ranks, matching DuckDB `quantile_disc` (verified on the
    gate data at sf 0.001 / 0.01 / 0.1)."""
    d = _docs(spark, sf_dir)
    return d.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.expr("approx_percentile(n_chars, 0.5, 1000000)").alias("p50_chars"),
        F.expr("approx_percentile(n_chars, 0.9, 1000000)").alias("p90_chars"),
        F.expr("approx_percentile(n_chars, 0.99, 1000000)").alias("p99_chars"),
    )


_SQL_PERCENTILES_APPROX = """
SELECT lang, count(*) AS n_docs,
       quantile_disc(n_chars, 0.5) AS p50_chars,
       quantile_disc(n_chars, 0.9) AS p90_chars,
       quantile_disc(n_chars, 0.99) AS p99_chars
FROM documents GROUP BY 1"""


def q_length_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document-length histogram per language: 100-char buckets (clamped to
    a 0-10 overflow bucket) with within-language share — the
    length-distribution diagnostic every curation pipeline runs before
    choosing truncation/filter thresholds. Pure integer bucketing keeps the
    map side trivial; one shuffle on (lang, bucket), then a tiny window for
    the shares."""
    from pyspark.sql import Window

    d = _docs(spark, sf_dir).select(
        "lang",
        F.least(F.floor(F.col("n_chars") / 100), F.lit(10)).cast("int").alias("bucket"),
    )
    h = d.groupBy("lang", "bucket").agg(F.count(F.lit(1)).alias("n_docs"))
    w = Window.partitionBy("lang")
    return h.select(
        "lang",
        "bucket",
        "n_docs",
        _rnd(F.col("n_docs") / F.sum("n_docs").over(w), 6).alias("share"),
    )


_SQL_LENGTH_HISTOGRAM = """
WITH b AS (
    SELECT lang,
           CAST(least(floor(n_chars / 100), 10) AS INTEGER) AS bucket
    FROM documents
),
h AS (
    SELECT lang, bucket, count(*) AS n_docs FROM b GROUP BY 1, 2
)
SELECT lang, bucket, n_docs,
       round(1e-9 + n_docs / sum(n_docs) OVER (PARTITION BY lang), 6) AS share
FROM h"""


def q_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-document repetition metrics (the Gopher/RefinedWeb repetition
    filters): repeated-token fraction, duplicate word-3-gram fraction, and
    most-frequent-token share. Array metrics are pure JVM column work on one
    materialized token array; the top-token share is the distributed
    explode → (doc, token) count → per-doc max shape (shuffles on natural
    keys, no per-row quadratic scan)."""
    d = _scale_out(_docs(spark, sf_dir).select("doc_id", "text"))
    tokd = d.select("doc_id", T.tokens("text").alias("__w"))
    # materialize gram/distinct ARRAY SIZES stepwise: each projection
    # references the previous one's arrays more than once, which keeps
    # CollapseProject from inlining the interpreted higher-order expressions
    # back into every consumer (re-tokenizing per element otherwise)
    sized = tokd.select(
        "doc_id",
        "__w",
        T.shingles_from_tokens("__w", 3).alias("__g"),
    ).select(
        "doc_id",
        F.size("__w").alias("__nw"),
        F.size(F.array_distinct("__w")).alias("__dw"),
        F.size("__g").alias("__ng"),
        F.size(F.array_distinct("__g")).alias("__dg"),
    )
    base = sized.select(
        "doc_id",
        F.col("__nw").cast("long").alias("n_tokens"),
        _rnd(
            F.lit(1.0) - F.col("__dw") / F.greatest("__nw", F.lit(1)), 6
        ).alias("dup_token_frac"),
        _rnd(
            F.lit(1.0) - F.col("__dg") / F.greatest("__ng", F.lit(1)), 6
        ).alias("dup_3gram_frac"),
    )
    ex = tokd.select("doc_id", F.explode("__w").alias("tok"))
    top = (
        ex.groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("doc_id")
        .agg(F.max("c").alias("__top"))
    )
    return base.join(top, "doc_id", "left").select(
        "doc_id",
        "n_tokens",
        "dup_token_frac",
        "dup_3gram_frac",
        _rnd(
            F.coalesce(F.col("__top") / F.col("n_tokens"), F.lit(0.0)), 6
        ).alias("top_token_frac"),
    )


_SQL_REPETITION = """
WITH tokd AS (
    SELECT doc_id,
           list_filter(string_split_regex(text, '\\s+'), t -> t <> '') AS w
    FROM documents
),
grams AS (
    SELECT doc_id,
           CASE WHEN len(w) >= 3
                THEN list_transform(range(1, greatest(len(w) - 2, 0) + 1),
                                    i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])
                ELSE [] END AS g,
           w
    FROM tokd
),
tops AS (
    SELECT doc_id, max(c) AS top FROM (
        SELECT doc_id, t, count(*) AS c
        FROM (SELECT doc_id, unnest(w) AS t FROM tokd)
        GROUP BY 1, 2
    ) GROUP BY 1
)
SELECT g.doc_id,
       len(g.w) AS n_tokens,
       round((1.0 - len(list_distinct(g.w)) / greatest(len(g.w), 1)) + 1e-9, 6)
           AS dup_token_frac,
       round((1.0 - len(list_distinct(g.g)) / greatest(len(g.g), 1)) + 1e-9, 6)
           AS dup_3gram_frac,
       round(1e-9 + coalesce(t.top / len(g.w), 0.0), 6) AS top_token_frac
FROM grams g LEFT JOIN tops t ON g.doc_id = t.doc_id"""


def q_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 terms per doc by smoothed tf-idf (deterministic ties)."""
    from .operators import terms

    d = _scale_out(_docs(spark, sf_dir).select("doc_id", "text"))
    out = terms.top_terms(d, k=3)
    return out.select(
        "doc_id", "term", "tf", "df", _rnd(F.col("tfidf"), 6).alias("tfidf"),
        F.col("rank").alias("term_rank")
    )


_SQL_TOP_TERMS = """
WITH tok AS (
    SELECT doc_id, unnest(list_filter(string_split_regex(text, '\\s+'), t -> t <> '')) AS term
    FROM documents
),
tf AS (
    SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY 1, 2
),
dfreq AS (
    SELECT term, count(*) AS df FROM tf GROUP BY 1
),
n AS (SELECT count(DISTINCT doc_id) AS n_docs FROM documents),
scored AS (
    SELECT tf.doc_id, tf.term, tf.tf, dfreq.df,
           tf.tf * (ln((n.n_docs + 1.0) / (dfreq.df + 1.0)) + 1.0) AS tfidf
    FROM tf JOIN dfreq USING (term) CROSS JOIN n
),
ranked AS (
    SELECT *, row_number() OVER (
        PARTITION BY doc_id ORDER BY tfidf DESC, term ASC) AS term_rank
    FROM scored
)
SELECT doc_id, term, tf, df, round(1e-9 + tfidf, 6) AS tfidf,
       CAST(term_rank AS INTEGER) AS term_rank
FROM ranked WHERE term_rank <= 3"""


# --- multimodal ------------------------------------------------------------

def q_multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal decode path end-to-end: opaque binary payload + typed
    metadata → Arrow-batched `mapInPandas` feature extraction (deterministic
    fake codec — byte statistics — so the oracle can mirror it; the Spark
    plumbing is the real product)."""
    from .sources import multimodal

    d = _docs(spark, sf_dir)
    media = _scale_out(
        d.select(
            F.col("doc_id").cast("string").alias("media_id"),
            F.lit("image").alias("media_type"),
            F.col("text").cast("binary").alias("payload"),
        )
    )
    media = multimodal.attach_media_metadata(media)
    feats = multimodal.decode_image_batch(media)
    return feats.select(
        "media_id",
        "n_bytes",
        _rnd(F.col("mean_byte"), 6).alias("mean_byte"),
        "feature_hash",
    )


_SQL_MULTIMODAL = """
SELECT CAST(doc_id AS VARCHAR) AS media_id,
       CAST(length(text) AS INTEGER) AS n_bytes,
       round(1e-9 + coalesce(list_aggregate(
           list_transform(range(1, length(text) + 1), i -> ascii(substr(text, i, 1))),
           'avg'), 0.0), 6) AS mean_byte,
       md5(text) AS feature_hash
FROM documents"""


def q_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video frame-sampling plan: explode sampled frame indices per media
    row (metadata-only — the decode stays behind the codec plug-in)."""
    from .sources import multimodal

    d = _docs(spark, sf_dir)
    media = multimodal.attach_media_metadata(
        d.select(
            F.col("doc_id").cast("string").alias("media_id"),
            F.col("text").cast("binary").alias("payload"),
        )
    )
    return multimodal.frame_sample_plan(media, every_nth=30, bytes_per_frame=4)


_SQL_FRAME_SAMPLE = """
SELECT CAST(doc_id AS VARCHAR) AS media_id,
       CAST(unnest(range(0, greatest(CAST(floor(length(text) / 4) AS INTEGER), 0) + 1, 30))
            AS INTEGER) AS frame_idx
FROM documents"""


def q_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted-index (posting-list) construction — the retrieval-side build
    step of a search/RAG pipeline: term → numerically-sorted postings +
    document frequency. One shuffle on the term key; postings stay
    distributed (one row per term), never collected to the driver. At
    100 TB the identical plan shards by term hash; high-df stopword terms
    are the skew risk, and `doc_freq` is exactly the diagnostic for
    choosing the cutoff (salting or dropping the head terms). Postings are
    emitted as a '|'-joined string (a stable canonical form; the engine
    keeps the array shape internally)."""
    d = _scale_out(_docs(spark, sf_dir).select("doc_id", "text"))
    tok = d.select("doc_id", T.tokens("text").alias("__w"))
    pairs = tok.select("doc_id", F.explode(F.array_distinct("__w")).alias("term"))
    return pairs.groupBy("term").agg(
        F.concat_ws(
            "|",
            F.transform(
                F.sort_array(F.collect_list("doc_id")), lambda x: x.cast("string")
            ),
        ).alias("postings"),
        F.count(F.lit(1)).alias("doc_freq"),
    )


_SQL_INVERTED_INDEX = r"""
WITH tok AS (
    SELECT doc_id,
           list_filter(string_split_regex(text, '\s+'), t -> t <> '') AS w
    FROM documents
),
pairs AS (
    SELECT doc_id, unnest(list_distinct(w)) AS term FROM tok
)
SELECT term,
       string_agg(CAST(doc_id AS VARCHAR), '|' ORDER BY doc_id) AS postings,
       count(*) AS doc_freq
FROM pairs GROUP BY term"""


def q_embedding_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Int8 symmetric per-vector quantization — the 4× vector-compression
    step before an ANN index build: scale = max|x|/127, code =
    floor(x·127/max|x|). Pure JVM higher-order expressions; floor (not
    round) keeps the codes bit-identical across engines, and per-row double
    arithmetic is bit-exact so the reconstruction-error column needs no
    tolerance. Codes are emitted as a ','-joined string (canonical form;
    the engine keeps the int array internally)."""
    e = _scale_out(_emb(spark, sf_dir)).select(
        "vec_id", V.as_double("embedding").alias("v")
    )
    m = e.select(
        "vec_id", "v", F.array_max(F.transform("v", F.abs)).alias("mx")
    ).where(F.col("mx") > 0)
    qz = m.select(
        "vec_id",
        "v",
        "mx",
        F.transform(
            "v", lambda x: F.floor(x * 127.0 / F.col("mx")).cast("int")
        ).alias("q8"),
    )
    return qz.select(
        "vec_id",
        F.size("v").alias("n_dims"),
        _rnd(F.col("mx"), 6).alias("max_abs"),
        F.concat_ws(",", F.transform("q8", lambda x: x.cast("string"))).alias("codes"),
        _rnd(
            F.array_max(
                F.zip_with(
                    "v",
                    "q8",
                    lambda x, qi: F.abs(x - qi.cast("double") * F.col("mx") / 127.0),
                )
            ),
            6,
        ).alias("max_abs_err"),
    )


_SQL_EMBEDDING_QUANTIZE = """
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
m AS (
    SELECT vec_id, v, list_max(list_transform(v, x -> abs(x))) AS mx
    FROM e WHERE list_max(list_transform(v, x -> abs(x))) > 0
),
qz AS (
    SELECT vec_id, v, mx,
           list_transform(v, x -> CAST(floor(x * 127.0 / mx) AS INTEGER)) AS q8
    FROM m
)
SELECT vec_id,
       CAST(len(v) AS INTEGER) AS n_dims,
       round(1e-9 + mx, 6) AS max_abs,
       array_to_string(q8, ',') AS codes,
       round(1e-9 + list_max(list_transform(range(1, len(v) + 1),
             i -> abs(v[i] - CAST(q8[i] AS DOUBLE) * mx / 127.0))), 6) AS max_abs_err
FROM qz"""


def q_lsh_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-accuracy evaluation for the MinHash pipeline — the text-side
    analogue of `q_ann_recall`: for every LSH candidate pair, the Jaccard
    estimated from signature-slot agreement (matches/8) beside the exact
    shingle Jaccard, with the absolute error. This is the knob-tuning
    diagnostic for (num_hashes, band_size): at 100 TB you run it on a
    candidate sample to pick thresholds before the full dedup sweep. Exact
    Jaccard is computed only for co-occurring pairs (never all-pairs), and
    the shingle frame is persisted once for its three consumers
    (signatures, intersections, set sizes)."""
    sh = dedup.shingle_rows(_text_corpus(_docs(spark, sf_dir))).persist()
    sig = dedup.minhash_signatures(sh, num_hashes=_NH).persist()
    cand = dedup.lsh_candidate_pairs(dedup.lsh_bands(sig, num_hashes=_NH))
    siga = sig.select(
        F.col("doc_id").alias("doc_a"),
        *[F.col(f"h{i}").alias(f"__a{i}") for i in range(_NH)],
    )
    sigb = sig.select(
        F.col("doc_id").alias("doc_b"),
        *[F.col(f"h{i}").alias(f"__b{i}") for i in range(_NH)],
    )
    est = sum(
        F.when(F.col(f"__a{i}") == F.col(f"__b{i}"), 1).otherwise(0)
        for i in range(_NH)
    ) / F.lit(float(_NH))
    exact = dedup.jaccard_pairs(sh)
    out = (
        cand.join(siga, "doc_a")
        .join(sigb, "doc_b")
        .withColumn("__est", est)
        .join(exact, ["doc_a", "doc_b"], "left")
    )
    return out.select(
        "doc_a",
        "doc_b",
        _rnd(F.col("__est"), 6).alias("est_jaccard"),
        _rnd(F.coalesce(F.col("jaccard"), F.lit(0.0)), 6).alias("exact_jaccard"),
        _rnd(F.abs(F.col("__est") - F.coalesce(F.col("jaccard"), F.lit(0.0))), 6).alias(
            "abs_err"
        ),
    )


_SQL_LSH_RECALL = (
    "WITH "
    + ",".join([SQL_CORPUS, SQL_TOK, SQL_SH, SQL_MINHASH])
    + """,
cand AS (
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM cbands a JOIN cbands b
      ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id
),
inter AS (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
    FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
    GROUP BY 1, 2
),
sz AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY 1),
est AS (
    SELECT c.doc_a, c.doc_b,
           ("""
    + " + ".join(
        f"(CASE WHEN sa.h{i} = sb.h{i} THEN 1 ELSE 0 END)" for i in range(_NH)
    )
    + f""") / {float(_NH)} AS est_j
    FROM cand c
    JOIN sig sa ON sa.doc_id = c.doc_a
    JOIN sig sb ON sb.doc_id = c.doc_b
),
ex AS (
    SELECT e.doc_a, e.doc_b, e.est_j,
           coalesce(i.n_common / (sa.sz + sb.sz - i.n_common), 0.0) AS ex_j
    FROM est e
    LEFT JOIN inter i ON i.doc_a = e.doc_a AND i.doc_b = e.doc_b
    JOIN sz sa ON sa.doc_id = e.doc_a
    JOIN sz sb ON sb.doc_id = e.doc_b
)
SELECT doc_a, doc_b,
       round(1e-9 + est_j, 6) AS est_jaccard,
       round(1e-9 + ex_j, 6) AS exact_jaccard,
       round(1e-9 + abs(est_j - ex_j), 6) AS abs_err
FROM ex"""
)


def q_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rate-based corpus reweighting (`sampling.weighted_sample`): even
    sources keep ~80% of documents, odd sources ~30% — the deterministic
    Bernoulli complement to `q_mixture_sample`'s absolute caps
    (temperature-style source mixing reweights by RATE; caps bound by
    COUNT). Pure map-side predicate: no shuffle, stable under re-ingest."""
    from .operators import sampling

    d = _docs(spark, sf_dir)
    rate = F.when(
        F.substring("source", 4, 10).cast("int") % 2 == 0, F.lit(0.8)
    ).otherwise(F.lit(0.3))
    return sampling.weighted_sample(d, "doc_id", rate, salt="wt").select(
        "doc_id", "source", "lang"
    )


_PS_K = 100  # fixed sample size


def q_priority_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sampling WITHOUT replacement, fixed size k — the
    Efraimidis–Spirakis A-ES scheme that q_weighted_sample's Bernoulli
    rates can't give (rates yield a BINOMIAL sample size; training-data
    budgets need exactly k rows drawn ∝ weight): each doc draws a
    deterministic md5 uniform u ∈ (0,1] and competes on the priority
    key ln(u)/w (monotone in u^(1/w), the classic A-ES key; w =
    n_chars, so longer docs win proportionally more often), and the
    global top-k by key is the sample.

    Shape: the key is a pure map-side expression; selection is the
    two-stage top-k (per-shard row_number ≤ k on a hash-partitioned
    window, then the final window over ≤ 32k survivors) — no global
    sort of the corpus ever happens, the q_ndcg_mrr pattern.
    Exactness: the uniform is exact integer arithmetic, ln and the
    division are per-row engine-identical doubles, ordering ties break
    on doc_id, and the reported key is quantized to 1e-15."""
    d = (
        _docs(spark, sf_dir)
        .select("doc_id", "lang", "n_chars")
        .where(F.col("n_chars") > 0)
    )
    h = F.conv(
        F.substring(
            F.md5(F.concat(F.col("doc_id").cast("string"), F.lit("es#"))),
            1,
            8,
        ),
        16,
        10,
    ).cast("long")
    keyed = d.select(
        "doc_id",
        "lang",
        "n_chars",
        (F.log((h + F.lit(1)) / F.lit(4294967296.0)) / F.col("n_chars"))
        .alias("key"),
    )
    w_shard = Window.partitionBy(F.pmod(F.col("doc_id"), F.lit(32))).orderBy(
        F.desc("key"), F.asc("doc_id")
    )
    surv = (
        keyed.withColumn("__r", F.row_number().over(w_shard))
        .where(F.col("__r") <= _PS_K)
        .drop("__r")
    )
    w_all = Window.orderBy(F.desc("key"), F.asc("doc_id"))
    return (
        surv.withColumn(
            "sample_rank", F.row_number().over(w_all).cast("int")
        )
        .where(F.col("sample_rank") <= _PS_K)
        .select(
            "sample_rank",
            "doc_id",
            "lang",
            "n_chars",
            F.round(F.col("key") * F.lit(1e15)).cast("long")
            .alias("key_femto"),
        )
    )


_SQL_PRIORITY_SAMPLE = f"""
WITH hashed AS (
    SELECT doc_id, lang, n_chars,
           substr(md5(CAST(doc_id AS VARCHAR) || 'es#'), 1, 8) AS h
    FROM documents WHERE n_chars > 0
),
keyed AS (
    SELECT doc_id, lang, n_chars,
           ln((({_HEXVAL}) + 1) / 4294967296.0) / n_chars AS key
    FROM hashed
),
ranked AS (
    SELECT CAST(row_number() OVER (ORDER BY key DESC, doc_id)
               AS INTEGER) AS sample_rank,
           doc_id, lang, n_chars,
           CAST(round(key * 1e15) AS BIGINT) AS key_femto
    FROM keyed
)
SELECT * FROM ranked WHERE sample_rank <= {_PS_K}"""


_TE_SMOOTH = 10  # pseudo-count mass toward the global prior


def q_target_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leave-one-out target encoding of `source` against the length
    label — the feature-engineering step q_feature_binning's score bins
    don't cover (categorical → numeric by the target's group mean,
    with the row's OWN label excluded so the feature never leaks its
    target, plus the m-estimate smoothed variant that shrinks rare
    groups toward the global prior). te_loo is NULL for singleton
    groups (nothing left after excluding self).

    Shape: one group aggregation (source grain) broadcast back over a
    map-side projection — the corpus is scanned once and never
    shuffled.  Exactness: group sums/counts are BIGINT; both encodings
    are single shared textual expressions over (sy_g, y, n_g, prior)
    with the only doubles per-row engine-identical divisions."""
    d = _docs(spark, sf_dir).select(
        "doc_id",
        "source",
        (F.col("n_chars") >= 300).cast("long").alias("y"),
    )
    g = d.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_g"),
        F.sum("y").cast("long").alias("sy_g"),
    )
    prior = d.agg(
        (F.sum("y") / F.count(F.lit(1)).cast("double")).alias("prior")
    )
    loo = (
        "CASE WHEN n_g <= 1 THEN NULL"
        " ELSE (sy_g - y) / CAST(n_g - 1 AS DOUBLE) END"
    )
    sm = (
        f"((sy_g - y) + {_TE_SMOOTH}.0 * prior)"
        f" / CAST((n_g - 1) + {_TE_SMOOTH} AS DOUBLE)"
    )
    return (
        d.join(F.broadcast(g), "source")
        .crossJoin(F.broadcast(prior))
        .select(
            "doc_id",
            "source",
            "y",
            "n_g",
            _rnd(F.expr(loo), 6).alias("te_loo"),
            _rnd(F.expr(sm), 6).alias("te_smoothed"),
        )
    )


_SQL_TARGET_ENCODE = f"""
WITH d AS (
    SELECT doc_id, source, CAST(n_chars >= 300 AS BIGINT) AS y
    FROM documents
),
g AS (
    SELECT source, CAST(count(*) AS BIGINT) AS n_g,
           CAST(sum(y) AS BIGINT) AS sy_g
    FROM d GROUP BY 1
),
p AS (SELECT sum(y) / CAST(count(*) AS DOUBLE) AS prior FROM d)
SELECT doc_id, d.source, y, n_g,
       round(1e-9 + (CASE WHEN n_g <= 1 THEN NULL
             ELSE (sy_g - y) / CAST(n_g - 1 AS DOUBLE) END), 6) AS te_loo,
       round(1e-9 + (((sy_g - y) + {_TE_SMOOTH}.0 * prior)
             / CAST((n_g - 1) + {_TE_SMOOTH} AS DOUBLE)), 6) AS te_smoothed
FROM d JOIN g USING (source), p"""


_SQL_WEIGHTED_SAMPLE = f"""
WITH hashed AS (
    SELECT doc_id, source, lang,
           substr(md5(CAST(doc_id AS VARCHAR) || 'wt'), 1, 8) AS h
    FROM documents
)
SELECT doc_id, source, lang
FROM hashed
WHERE ({_HEXVAL}) % 10000 <
      (CASE WHEN CAST(substr(source, 4) AS INTEGER) % 2 = 0
            THEN 0.8 ELSE 0.3 END) * 10000"""


def q_winsorize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-pass feature normalization: per-language p05/p95 length
    thresholds (exact interpolated percentile ≡ DuckDB quantile_cont),
    broadcast back onto the corpus, values clipped into the band and
    outliers flagged — the winsorization step before length-sensitive
    quality scoring. Thresholds are epsilon-rounded BEFORE the comparison
    on both sides, so borderline integers can never classify differently
    across engines (interpolated doubles are only last-ulp reproducible).
    Shape: tiny per-group percentile agg + broadcast join, no second
    shuffle of the corpus."""
    d = _docs(spark, sf_dir)
    th = d.groupBy("lang").agg(
        _rnd(F.expr("percentile(n_chars, 0.05)"), 4).alias("p05"),
        _rnd(F.expr("percentile(n_chars, 0.95)"), 4).alias("p95"),
    )
    x = F.col("n_chars").cast("double")
    return (
        d.join(F.broadcast(th), "lang")
        .select(
            "doc_id",
            "lang",
            "n_chars",
            F.least(F.greatest(x, F.col("p05")), F.col("p95")).alias("clipped"),
            ((x < F.col("p05")) | (x > F.col("p95"))).alias("is_outlier"),
        )
    )


_SQL_WINSORIZE = """
WITH th AS (
    SELECT lang,
           round(1e-9 + quantile_cont(n_chars, 0.05), 4) AS p05,
           round(1e-9 + quantile_cont(n_chars, 0.95), 4) AS p95
    FROM documents GROUP BY 1
)
SELECT doc_id, d.lang, n_chars,
       least(greatest(CAST(n_chars AS DOUBLE), p05), p95) AS clipped,
       (CAST(n_chars AS DOUBLE) < p05 OR CAST(n_chars AS DOUBLE) > p95)
           AS is_outlier
FROM documents d JOIN th ON d.lang = th.lang"""


def q_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document-level PMI co-occurrence mining: for term pairs appearing
    together in ≥20 documents, pmi = ln(n_pair·N / (df_a·df_b)) over
    presence counts — the word-association statistic behind collocation
    extraction and embedding-evaluation probes. The pair space is bounded
    by the per-doc distinct-term count (presence self-join per doc), never
    vocabulary²; document frequencies ride as a broadcast. All counts stay
    integers until the single ln()."""
    d = _scale_out(_docs(spark, sf_dir).select("doc_id", "text"))
    tok = d.select("doc_id", T.tokens("text").alias("__w"))
    pres = tok.select(
        "doc_id", F.explode(F.array_distinct("__w")).alias("term")
    ).persist()
    n_docs = pres.agg(F.count_distinct("doc_id").alias("n_docs"))
    dfreq = pres.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    a, b = pres.alias("a"), pres.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.doc_id") == F.col("b.doc_id"))
            & (F.col("a.term") < F.col("b.term")),
        )
        .groupBy(
            F.col("a.term").alias("term_a"), F.col("b.term").alias("term_b")
        )
        .agg(F.count(F.lit(1)).alias("n_pair"))
        .where(F.col("n_pair") >= 20)
    )
    dfa = dfreq.select(F.col("term").alias("term_a"), F.col("df").alias("df_a"))
    dfb = dfreq.select(F.col("term").alias("term_b"), F.col("df").alias("df_b"))
    out = (
        pairs.join(F.broadcast(dfa), "term_a")
        .join(F.broadcast(dfb), "term_b")
        .crossJoin(F.broadcast(n_docs))
    )
    return out.select(
        "term_a",
        "term_b",
        "n_pair",
        _rnd(
            F.log((F.col("n_pair") * F.col("n_docs")) / (F.col("df_a") * F.col("df_b"))),
            6,
        ).alias("pmi"),
    )


_SQL_PMI = r"""
WITH tok AS (
    SELECT doc_id,
           list_filter(string_split_regex(text, '\s+'), t -> t <> '') AS w
    FROM documents
),
pres AS (SELECT doc_id, unnest(list_distinct(w)) AS term FROM tok),
n AS (SELECT count(DISTINCT doc_id) AS n_docs FROM pres),
dfreq AS (SELECT term, count(*) AS df FROM pres GROUP BY 1),
pairs AS (
    SELECT a.term AS term_a, b.term AS term_b, count(*) AS n_pair
    FROM pres a JOIN pres b
      ON a.doc_id = b.doc_id AND a.term < b.term
    GROUP BY 1, 2
    HAVING count(*) >= 20
)
SELECT term_a, term_b, n_pair,
       round(1e-9 + ln((p.n_pair * n.n_docs) / (da.df * db.df)), 6) AS pmi
FROM pairs p
JOIN dfreq da ON da.term = p.term_a
JOIN dfreq db ON db.term = p.term_b
CROSS JOIN n"""


_BM25_QUERY = ("hash", "join", "scan")


def q_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 retrieval scoring (k1=1.2, b=0.75) of the corpus against a
    fixed query — the ranking half of the search pipeline whose index half
    is `q_inverted_index`. Shape: tf restricted to query terms (tiny after
    the IN filter), df and corpus stats broadcast, per-term contributions
    summed per doc. ln/exp are engine-exact (proven by `q_lm_score`), so
    only the final cross-term sum needs the epsilon rounding. At 100 TB
    the same plan serves query batches: the only per-query state is the
    broadcast df row set."""
    d = _scale_out(_docs(spark, sf_dir).select("doc_id", "text"))
    tok = d.select("doc_id", T.tokens("text").alias("__w")).persist()
    dl = tok.select("doc_id", F.size("__w").cast("long").alias("dl"))
    tf = (
        tok.select("doc_id", F.explode("__w").alias("term"))
        .where(F.col("term").isin(*_BM25_QUERY))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    stats = dl.agg(
        F.count(F.lit(1)).alias("n_docs"), F.avg("dl").alias("avgdl")
    )
    scored = (
        tf.join(F.broadcast(dfreq), "term")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
    )
    idf = F.log(
        (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1.0
    )
    contrib = (
        idf
        * (F.col("tf") * 2.2)
        / (F.col("tf") + 1.2 * (0.25 + 0.75 * F.col("dl") / F.col("avgdl")))
    )
    return (
        scored.select("doc_id", contrib.alias("__c"))
        .groupBy("doc_id")
        .agg(_rnd(F.sum("__c"), 6).alias("bm25"))
    )


_SQL_BM25 = r"""
WITH tok AS (
    SELECT doc_id,
           list_filter(string_split_regex(text, '\s+'), t -> t <> '') AS w
    FROM documents
),
dl AS (SELECT doc_id, CAST(len(w) AS BIGINT) AS dl FROM tok),
tf AS (
    SELECT doc_id, term, count(*) AS tf
    FROM (SELECT doc_id, unnest(w) AS term FROM tok)
    WHERE term IN ('hash', 'join', 'scan')
    GROUP BY 1, 2
),
dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
stats AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM dl),
scored AS (
    SELECT t.doc_id,
           ln((s.n_docs - d.df + 0.5) / (d.df + 0.5) + 1.0)
           * (t.tf * 2.2)
           / (t.tf + 1.2 * (0.25 + 0.75 * l.dl / s.avgdl)) AS c
    FROM tf t
    JOIN dfreq d USING (term)
    JOIN dl l USING (doc_id)
    CROSS JOIN stats s
)
SELECT doc_id, round(1e-9 + sum(c), 6) AS bm25
FROM scored GROUP BY 1"""


def q_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over (source, lang) — all four grouping levels (cell, per-source,
    per-lang, grand total) in one pass, completing the multidimensional-agg
    family beside ROLLUP (`q_rollup`) and PIVOT (`q_pivot`). This is the
    corpus-composition dashboard query of a training-data pipeline: how many
    docs/chars each source×language cell contributes to the mix.
    `grouping_id()` matches DuckDB `GROUPING()` bit-for-bit."""
    d = _docs(spark, sf_dir)
    return d.cube("source", "lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
        F.grouping_id().alias("level_id"),
    )


_SQL_CUBE = """
SELECT source, lang, count(*) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS total_chars,
       GROUPING(source, lang) AS level_id
FROM documents GROUP BY CUBE(source, lang)"""


def q_hll_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source vocabulary size by deterministic HyperLogLog (p=9,
    512 registers, std-err ≈ 4.6%) beside the exact COUNT(DISTINCT) and
    the realized relative error — the corpus-cardinality monitor that
    stays cheap at 100 TB: map-side partial max reduces every partition
    to ≤ 512 register rows per source, so the shuffle is sketch-sized,
    not vocabulary-sized (the exact twin shuffles the full token stream).
    Spark's builtin approx_count_distinct is HLL++ with a JVM-internal
    register layout no oracle can replay; `operators/sketches.py` derives
    registers from md5 so the identical sketch is plain SQL in DuckDB."""
    from .operators import sketches

    d = _scale_out(_docs(spark, sf_dir).select("source", "text"))
    tok = d.select(
        "source", F.explode(T.tokens("text")).alias("token")
    ).persist()  # feeds sketch + exact twin; cached until harness clearCache
    est = sketches.hll_estimate(tok, "token", group_cols=("source",), p=9)
    exact = tok.groupBy("source").agg(
        F.count_distinct("token").cast("long").alias("exact_distinct")
    )
    return est.join(exact, "source").select(
        "source",
        "used_registers",
        "zero_registers",
        _rnd(F.col("est_distinct"), 4).alias("est_distinct"),
        "exact_distinct",
        _rnd(
            (F.col("est_distinct") - F.col("exact_distinct"))
            / F.col("exact_distinct"),
            6,
        ).alias("rel_err"),
    )


def _hll_distinct_sql() -> str:
    from .operators import sketches

    frag = sketches.sql_hll_estimate(
        "SELECT source, token FROM tokv", "token", ("source",), p=9
    )
    return f"""
WITH tokv AS (
    SELECT source,
           unnest(list_filter(string_split_regex(text, '\\s+'), t -> t <> '')) AS token
    FROM documents
),
{frag},
exact AS (
    SELECT source, CAST(count(DISTINCT token) AS BIGINT) AS exact_distinct
    FROM tokv GROUP BY 1
)
SELECT e.source, used_registers, zero_registers,
       round(1e-9 + est_distinct, 4) AS est_distinct,
       exact_distinct,
       round(1e-9 + (est_distinct - exact_distinct) / exact_distinct, 6)
           AS rel_err
FROM hll_est e JOIN exact USING (source)"""


def q_countmin_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min heavy-hitter check: sketch the corpus token frequencies
    into a fixed 4×1024 counter table, then point-query the exact top-15
    tokens and report the collision over-count (cm_est ≥ exact always —
    Cormode–Muthukrishnan).  The sketch is the 100-TB path for frequency
    monitoring: counters partial-agg map-side to ≤ 4096 rows total no
    matter the corpus; the exact probe list is the verification harness.
    Top-15 selection goes through `sampling.top_k_prune` (salted two-phase)
    so no vocabulary-sized single-task window exists in the plan."""
    from .operators import sampling, sketches

    d = _scale_out(_docs(spark, sf_dir).select("doc_id", "text"))
    tok = d.select(F.explode(T.tokens("text")).alias("token"))
    tc = tok.groupBy("token").agg(
        F.count(F.lit(1)).cast("long").alias("exact_cnt")
    ).persist()  # feeds counters + probe ranking; cached until harness clearCache
    counters = sketches.cm_counters(tc, "token", "exact_cnt")
    order = [F.desc("exact_cnt"), F.asc("token")]
    pruned = sampling.top_k_prune(tc, [], order, k=15, salt_key="token")
    probes = (
        pruned.withColumn("rank", F.row_number().over(Window.orderBy(*order)))
        .where(F.col("rank") <= 15)
    )
    out = sketches.cm_lookup(counters, probes)
    return out.select(
        "token",
        F.col("rank").cast("int").alias("rank"),
        "exact_cnt",
        "cm_est",
        (F.col("cm_est") - F.col("exact_cnt")).cast("long").alias("overcount"),
    )


_SQL_COUNTMIN_TOPK = """
WITH tokv AS (
    SELECT unnest(list_filter(string_split_regex(text, '\\s+'), t -> t <> '')) AS token
    FROM documents
),
tc AS (
    SELECT token, CAST(count(*) AS BIGINT) AS exact_cnt FROM tokv GROUP BY 1
),
cm_rows AS (
    SELECT jj.j,
           CAST(CAST(('0x' || substr(md5(CAST(jj.j AS VARCHAR) || '#' || token), 1, 8))
                     AS BIGINT) % 1024 AS INTEGER) AS slot,
           exact_cnt
    FROM tc, (SELECT unnest([0, 1, 2, 3]) AS j) jj
),
counters AS (
    SELECT j, slot, CAST(sum(exact_cnt) AS BIGINT) AS c
    FROM cm_rows GROUP BY 1, 2
),
probes AS (
    SELECT token, exact_cnt,
           row_number() OVER (ORDER BY exact_cnt DESC, token ASC) AS rank
    FROM tc QUALIFY rank <= 15
),
probe_slots AS (
    SELECT p.token, p.exact_cnt, p.rank, jj.j,
           CAST(CAST(('0x' || substr(md5(CAST(jj.j AS VARCHAR) || '#' || p.token), 1, 8))
                     AS BIGINT) % 1024 AS INTEGER) AS slot
    FROM probes p, (SELECT unnest([0, 1, 2, 3]) AS j) jj
)
SELECT ps.token, CAST(ps.rank AS INTEGER) AS rank,
       ps.exact_cnt,
       CAST(min(coalesce(c.c, 0)) AS BIGINT) AS cm_est,
       CAST(min(coalesce(c.c, 0)) - ps.exact_cnt AS BIGINT) AS overcount
FROM probe_slots ps LEFT JOIN counters c USING (j, slot)
GROUP BY ps.token, ps.rank, ps.exact_cnt"""


def q_bloom_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Portable Bloom filter (`sketches.bloom_bits`/`bloom_probe`) —
    completing the engine-independent sketch trio (HLL registers,
    Count-Min counters, Bloom bits): the has-orders customer set folds
    to a ≤ m-row bit-position table (md5 hash family, rebuildable by any
    SQL engine; bits OR-merge by UNION/DISTINCT), every customer probes
    it, and the query reports per-segment membership, maybe-counts, the
    FALSE-POSITIVE count against the exact semi-join truth, and the
    structurally-zero false-negative count.  m=4096, k=4 sized so the
    false-positive rate is non-trivial and the measurement means
    something.  This is the ship-the-filter-not-the-keys join preflight:
    at 100 TB the bit table broadcasts in kilobytes and prunes the fact
    scan before the real join."""
    from .operators import sketches

    t = load_tables(spark, sf_dir)
    m_bits, k_hashes = 4096, 4
    members = t["orders"].select(
        F.col("o_custkey").alias("custkey")
    ).distinct()
    bits = sketches.bloom_bits(members, "custkey", m_bits, k_hashes)
    probes = t["customer"].select(
        F.col("c_custkey").alias("custkey"), "c_mktsegment"
    )
    probed = sketches.bloom_probe(bits, probes, "custkey", m_bits, k_hashes)
    flagged = probed.join(
        members.withColumn("__m", F.lit(1)), "custkey", "left"
    ).select(
        "c_mktsegment",
        "may_contain",
        F.coalesce("__m", F.lit(0)).alias("is_member"),
    )
    return (
        flagged.groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_customers"),
            F.sum("is_member").cast("long").alias("n_members"),
            F.sum("may_contain").cast("long").alias("n_maybe"),
            F.sum(
                ((F.col("may_contain") == 1) & (F.col("is_member") == 0))
                .cast("int")
            ).cast("long").alias("n_false_pos"),
            F.sum(
                ((F.col("may_contain") == 0) & (F.col("is_member") == 1))
                .cast("int")
            ).cast("long").alias("n_false_neg"),
        )
        .select(
            "c_mktsegment",
            "n_customers",
            "n_members",
            "n_maybe",
            "n_false_pos",
            "n_false_neg",
            _rnd(
                F.col("n_false_pos")
                / F.greatest(F.col("n_customers") - F.col("n_members"), F.lit(1)),
                6,
            ).alias("fpr"),
        )
    )


_SQL_BLOOM_PORTABLE = """
WITH members AS (SELECT DISTINCT o_custkey AS custkey FROM orders),
js AS (SELECT unnest([0, 1, 2, 3]) AS j),
bits AS (
    SELECT DISTINCT
           CAST(('0x' || substr(md5(CAST(j AS VARCHAR) || '#'
                                    || CAST(custkey AS VARCHAR)), 1, 12))
                AS BIGINT) % 4096 AS bit
    FROM members, js
),
probe_pos AS (
    SELECT c.c_custkey AS custkey, c.c_mktsegment,
           CAST(('0x' || substr(md5(CAST(j.j AS VARCHAR) || '#'
                                    || CAST(c.c_custkey AS VARCHAR)), 1, 12))
                AS BIGINT) % 4096 AS bit
    FROM customer c, js j
),
probed AS (
    SELECT p.custkey, p.c_mktsegment,
           CAST(min(CASE WHEN b.bit IS NULL THEN 0 ELSE 1 END) AS INTEGER)
               AS may_contain
    FROM probe_pos p LEFT JOIN bits b USING (bit)
    GROUP BY 1, 2
),
flagged AS (
    SELECT p.c_mktsegment, p.may_contain,
           CASE WHEN m.custkey IS NULL THEN 0 ELSE 1 END AS is_member
    FROM probed p LEFT JOIN members m USING (custkey)
)
SELECT c_mktsegment,
       CAST(count(*) AS BIGINT) AS n_customers,
       CAST(sum(is_member) AS BIGINT) AS n_members,
       CAST(sum(may_contain) AS BIGINT) AS n_maybe,
       CAST(sum(CASE WHEN may_contain = 1 AND is_member = 0
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_false_pos,
       CAST(sum(CASE WHEN may_contain = 0 AND is_member = 1
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_false_neg,
       round(1e-9 + CAST(sum(CASE WHEN may_contain = 1 AND is_member = 0
                                  THEN 1 ELSE 0 END) AS DOUBLE)
                    / greatest(count(*) - sum(is_member), 1), 6) AS fpr
FROM flagged
GROUP BY 1"""


def q_histogram_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable fixed-ruler histogram registers — the quantile leg of
    the portable-sketch family (HLL→distinct, Count-Min→frequency,
    Bloom→membership, histogram→quantiles): per-shard (l_returnflag)
    bin-count tables over a FIXED literal ruler (bin = price_u div 5e5,
    ~21 bins) sum-merge into the whole-corpus histogram with zero loss
    (no data-dependent edges → no re-bucketing on merge; the
    ``merge_lossless`` column states it relationally, like
    q_hll_union).  The merged ~21-row histogram then answers p25/50/75/
    p90: estimate = the lower edge of the first bin whose cumulative
    count reaches the type-1 target rank, compared against the EXACT
    type-1 quantile (bucketed-window distributed CDF, never an
    unpartitioned sort) with the |err| < bin-width guarantee as a
    verification column.  All ranks and errors are integer units; the
    registers are the 100 TB shape — each executor emits ≤ #bins rows,
    merge is a map-side sum, history rolls up without rescans."""
    from .operators.sampling import bucketed_value_cumsum

    t = load_tables(spark, sf_dir)
    w_bin = 500_000
    li = t["lineitem"].select(
        F.col("l_returnflag").alias("shard"),
        F.floor(F.col("l_extendedprice") * 100 + F.lit(0.5))
        .cast("long")
        .alias("v"),
    )
    binc = F.expr(f"CAST(v div {w_bin} AS BIGINT)")
    regs = li.groupBy("shard", binc.alias("bin")).agg(
        F.count(F.lit(1)).cast("long").alias("cnt")
    )
    merged = regs.groupBy("bin").agg(F.sum("cnt").cast("long").alias("cnt"))
    direct = li.groupBy(binc.alias("bin")).agg(
        F.count(F.lit(1)).cast("long").alias("cnt2")
    )
    lossless = merged.join(direct, "bin", "full_outer").agg(
        F.min(
            (
                F.col("cnt").isNotNull()
                & F.col("cnt2").isNotNull()
                & (F.col("cnt") == F.col("cnt2"))
            ).cast("int")
        ).alias("merge_lossless")
    )
    hist = merged.select(
        "bin",
        "cnt",
        F.sum("cnt")
        .over(
            Window.orderBy("bin").rowsBetween(Window.unboundedPreceding, 0)
        )
        .cast("long")
        .alias("cum"),
    )
    nrow = merged.agg(F.sum("cnt").cast("long").alias("n"))
    qs = (
        spark.range(1)
        .select(
            F.explode(
                F.array(*[F.lit(p) for p in (25, 50, 75, 90)])
            ).alias("pct")
        )
        .crossJoin(F.broadcast(nrow))
        .select(
            "pct",
            "n",
            F.expr("CAST((pct * n + 99) div 100 AS BIGINT)").alias("target"),
        )
    )
    est = (
        qs.join(F.broadcast(hist), F.col("cum") >= F.col("target"))
        .groupBy("pct")
        .agg(F.min("bin").cast("long").alias("est_bin"))
    )
    cdf = bucketed_value_cumsum(li, "v")
    exact = (
        cdf.crossJoin(F.broadcast(qs))
        .where(F.col("__cle") >= F.col("target"))
        .groupBy("pct")
        .agg(F.min("__v").cast("long").alias("exact_u"))
    )
    return (
        qs.join(est, "pct")
        .join(exact, "pct")
        .crossJoin(F.broadcast(lossless))
        .select(
            "pct",
            F.col("n").alias("n_rows"),
            F.col("target").alias("target_rank"),
            "est_bin",
            (F.col("est_bin") * w_bin).cast("long").alias("est_u"),
            "exact_u",
            F.abs(F.col("exact_u") - F.col("est_bin") * w_bin)
            .cast("long")
            .alias("abs_err_u"),
            F.lit(w_bin).cast("long").alias("bin_width_u"),
            (F.abs(F.col("exact_u") - F.col("est_bin") * w_bin) < w_bin)
            .cast("int")
            .alias("within_bound"),
            "merge_lossless",
        )
    )


_SQL_HISTOGRAM_QUANTILES = """
WITH li AS (
    SELECT l_returnflag AS shard,
           CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS v
    FROM lineitem
),
regs AS (
    SELECT shard, CAST(v // 500000 AS BIGINT) AS bin,
           CAST(count(*) AS BIGINT) AS cnt
    FROM li GROUP BY 1, 2
),
merged AS (
    SELECT bin, CAST(sum(cnt) AS BIGINT) AS cnt FROM regs GROUP BY 1
),
direct AS (
    SELECT CAST(v // 500000 AS BIGINT) AS bin,
           CAST(count(*) AS BIGINT) AS cnt2
    FROM li GROUP BY 1
),
lossless AS (
    SELECT CAST(min(CASE WHEN m.cnt IS NOT NULL AND d.cnt2 IS NOT NULL
                          AND m.cnt = d.cnt2 THEN 1 ELSE 0 END)
               AS INTEGER) AS merge_lossless
    FROM merged m FULL OUTER JOIN direct d USING (bin)
),
hist AS (
    SELECT bin, cnt,
           CAST(sum(cnt) OVER (ORDER BY bin ROWS UNBOUNDED PRECEDING)
               AS BIGINT) AS cum
    FROM merged
),
nrow AS (SELECT CAST(sum(cnt) AS BIGINT) AS n FROM merged),
qs AS (
    SELECT pct, n, CAST((pct * n + 99) // 100 AS BIGINT) AS target
    FROM (SELECT unnest([25, 50, 75, 90]) AS pct), nrow
),
est AS (
    SELECT q.pct, CAST(min(h.bin) AS BIGINT) AS est_bin
    FROM qs q JOIN hist h ON h.cum >= q.target
    GROUP BY 1
),
cdf AS (
    SELECT v, CAST(sum(cnt) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING)
               AS BIGINT) AS cle
    FROM (SELECT v, count(*) AS cnt FROM li GROUP BY 1)
),
exact AS (
    SELECT q.pct, CAST(min(c.v) AS BIGINT) AS exact_u
    FROM qs q JOIN cdf c ON c.cle >= q.target
    GROUP BY 1
)
SELECT q.pct, q.n AS n_rows, q.target AS target_rank,
       e.est_bin, CAST(e.est_bin * 500000 AS BIGINT) AS est_u,
       x.exact_u,
       CAST(abs(x.exact_u - e.est_bin * 500000) AS BIGINT) AS abs_err_u,
       CAST(500000 AS BIGINT) AS bin_width_u,
       CAST(abs(x.exact_u - e.est_bin * 500000) < 500000 AS INTEGER)
           AS within_bound,
       l.merge_lossless
FROM qs q JOIN est e USING (pct) JOIN exact x USING (pct)
CROSS JOIN lossless l"""


def q_seasonal_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classical seasonal decomposition of the daily event series
    (STL-lite, additive): trend = centered 7-day moving average
    (emitted only where the window is FULL — a partial edge window
    would bias the trend), seasonal = day-of-week mean of the detrended
    series, residual = y − trend − seasonal.  The anomaly-detection
    companion to W1/W2's trailing features: residuals are what you
    threshold once weekly seasonality is explained away.

    Exactness: the trend numerator stays the integer 7-day sum and the
    seasonal numerator the integer Σ(7·y − sum7); each divides ONCE by
    its integer denominator, and the residual chains the two doubles
    left-to-right identically in both engines before the epsilon-shifted
    rounding.  Shape: one corpus scan → a day-grain aggregate; every
    window runs over the post-aggregation day frame (≤ #days rows), so
    the decomposition costs one map-side-combinable groupBy at any
    corpus size."""
    ev = load_tables(spark, sf_dir)["events"]
    daily = ev.groupBy(F.to_date("ts").alias("d")).agg(
        F.count(F.lit(1)).cast("long").alias("y")
    )
    w7 = Window.orderBy("d").rowsBetween(-3, 3)
    w = daily.select(
        "d",
        "y",
        F.sum("y").over(w7).cast("long").alias("sum7"),
        F.count(F.lit(1)).over(w7).cast("long").alias("cnt7"),
        (F.dayofweek("d") - F.lit(1)).cast("int").alias("dow"),
    )
    seas = (
        w.where(F.col("cnt7") == 7)
        .groupBy("dow")
        .agg(
            F.sum(F.lit(7) * F.col("y") - F.col("sum7"))
            .cast("long")
            .alias("s_num"),
            F.count(F.lit(1)).cast("long").alias("s_cnt"),
        )
    )
    seasonal = F.col("s_num") / (F.lit(7) * F.col("s_cnt"))
    full = F.col("cnt7") == 7
    return w.join(F.broadcast(seas), "dow").select(
        "d",
        "dow",
        "y",
        F.when(full, _rnd(F.col("sum7") / F.lit(7.0), 6)).alias("trend"),
        _rnd(seasonal, 6).alias("seasonal"),
        F.when(
            full,
            _rnd(F.col("y") - F.col("sum7") / F.lit(7.0) - seasonal, 6),
        ).alias("residual"),
    )


_SQL_SEASONAL_DECOMPOSE = """
WITH daily AS (
    SELECT CAST(ts AS DATE) AS d, CAST(count(*) AS BIGINT) AS y
    FROM events GROUP BY 1
),
w AS (
    SELECT d, y,
           CAST(sum(y) OVER w7 AS BIGINT) AS sum7,
           CAST(count(*) OVER w7 AS BIGINT) AS cnt7,
           CAST(date_part('dow', d) AS INTEGER) AS dow
    FROM daily
    WINDOW w7 AS (ORDER BY d ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
),
seas AS (
    SELECT dow, CAST(sum(7 * y - sum7) AS BIGINT) AS s_num,
           CAST(count(*) AS BIGINT) AS s_cnt
    FROM w WHERE cnt7 = 7 GROUP BY 1
)
SELECT w.d, w.dow, w.y,
       CASE WHEN w.cnt7 = 7
            THEN round(1e-9 + w.sum7 / 7.0, 6) END AS trend,
       round(1e-9 + CAST(s.s_num AS DOUBLE) / (7 * s.s_cnt), 6) AS seasonal,
       CASE WHEN w.cnt7 = 7
            THEN round((w.y - w.sum7 / 7.0
                        - CAST(s.s_num AS DOUBLE) / (7 * s.s_cnt)) + 1e-9, 6)
       END AS residual
FROM w JOIN seas s USING (dow)"""


def q_market_basket(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket co-occurrence mining: the top-50 part pairs that
    ship together in one order, with support and lift — the association
    layer between per-token PMI (q_pmi) and per-order aggregates.
    Pair generation is the grouped-array pattern (one shuffle on the
    order key, pairs exploded map-side with x > anchor), so candidate
    mass is Σ C(basket, 2) — bounded by basket size, never |parts|².
    Ranking is on the INTEGER pair count with (part_a, part_b)
    tie-breaks (the cut crosses a tie region at every SF, so the order
    must be total); lift = c_ab·n / (c_a·c_b) divides exact integers
    once.  At 100 TB this is the same plan: the explode is map-side,
    the pair aggregate combines partially, and only 50 rows meet the
    broadcast count joins."""
    li = load_tables(spark, sf_dir)["lineitem"]
    b = li.select("l_orderkey", "l_partkey").distinct().persist()
    # ContextCleaner note: cached until harness clearCache (repo policy)
    items = b.groupBy("l_orderkey").agg(
        F.sort_array(F.collect_list("l_partkey")).alias("ps")
    )

    def _gt(anchor):
        def inner(x):
            return x > anchor

        return inner

    pairs = items.select(
        F.explode("ps").alias("pa"), "ps"
    ).select(
        "pa",
        F.explode(F.filter("ps", _gt(F.col("pa")))).alias("pb"),
    )
    pc = pairs.groupBy("pa", "pb").agg(
        F.count(F.lit(1)).cast("long").alias("pair_count")
    )
    top = pc.orderBy(
        F.desc("pair_count"), F.asc("pa"), F.asc("pb")
    ).limit(50)
    ic = b.groupBy("l_partkey").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    n = b.select("l_orderkey").distinct().agg(
        F.count(F.lit(1)).cast("long").alias("n_orders")
    )
    return (
        top.join(
            F.broadcast(ic.select(F.col("l_partkey").alias("pa"),
                                  F.col("c").alias("count_a"))),
            "pa",
        )
        .join(
            F.broadcast(ic.select(F.col("l_partkey").alias("pb"),
                                  F.col("c").alias("count_b"))),
            "pb",
        )
        .crossJoin(F.broadcast(n))
        .select(
            F.col("pa").cast("long").alias("part_a"),
            F.col("pb").cast("long").alias("part_b"),
            "pair_count",
            "count_a",
            "count_b",
            "n_orders",
            _rnd(F.col("pair_count") / F.col("n_orders"), 6).alias("support"),
            _rnd(
                (F.col("pair_count") * F.col("n_orders"))
                / (F.col("count_a") * F.col("count_b")).cast("double"),
                4,
            ).alias("lift"),
        )
    )


_SQL_MARKET_BASKET = """
WITH b AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
pc AS (
    SELECT a.l_partkey AS pa, b2.l_partkey AS pb,
           CAST(count(*) AS BIGINT) AS pair_count
    FROM b a JOIN b b2
      ON a.l_orderkey = b2.l_orderkey AND a.l_partkey < b2.l_partkey
    GROUP BY 1, 2
),
top AS (
    SELECT * FROM pc ORDER BY pair_count DESC, pa, pb LIMIT 50
),
ic AS (
    SELECT l_partkey, CAST(count(*) AS BIGINT) AS c FROM b GROUP BY 1
),
n AS (
    SELECT CAST(count(DISTINCT l_orderkey) AS BIGINT) AS n_orders FROM b
)
SELECT CAST(t.pa AS BIGINT) AS part_a, CAST(t.pb AS BIGINT) AS part_b,
       t.pair_count, ia.c AS count_a, ib.c AS count_b, n.n_orders,
       round(1e-9 + t.pair_count / CAST(n.n_orders AS DOUBLE), 6)
           AS support,
       round(1e-9 + (t.pair_count * n.n_orders)
             / CAST(ia.c * ib.c AS DOUBLE), 4) AS lift
FROM top t
JOIN ic ia ON ia.l_partkey = t.pa
JOIN ic ib ON ib.l_partkey = t.pb
CROSS JOIN n"""


# 24 rounds: the synthetic corpus is near-isotropic (λ2/λ1 ≈ 0.93), so
# power iteration needs ~24 rounds for a ≥0.98 Rayleigh/λ1 ratio; each
# round is a 64×64 integer matvec — driver-side free, 24 unrolled CTEs
# oracle-side.
_PCA_ITERS = 24


def q_pca_power(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top principal component of the embedding distribution by
    bit-reproducible power iteration — the spectral feature-health
    monitor beside q_embedding_stats' per-dimension moments (a single
    dominant direction = collapsed embeddings; its variance share is
    the collapse metric).

    Numerics: components quantize to the integer lattice, the scatter
    matrix S = n·Σxxᵀ − (Σx)(Σx)ᵀ is EXACT integers, and every power
    step stays integer — matrix·vector in int64 (S pre-shrunk by a
    sign-safe div 2^16 so each SCALE=1000 round provably fits, and the
    per-round rescale caps magnitudes independent of round count),
    rescaling by sign(w)·(|w|·1000 div max|w|) (abs-then-div on BOTH
    engines because Spark `div` truncates while DuckDB `//` floors —
    they only agree on non-negatives, the PageRank lesson).  The
    Rayleigh quotient and loadings divide exact integers once at the
    end (IEEE sqrt is correctly rounded, so ‖v‖ is engine-identical).

    Shape: one corpus scan → posexplode → a vec_id-keyed self-join
    whose output is dim²-bounded (64² rows), then every iteration is a
    broadcast join over the dim² frame.  At larger dim you block the
    outer product by sub-dim (the PQ layout); the corpus is never
    shuffled twice."""
    e = _emb(spark, sf_dir)
    q = e.select(
        "vec_id",
        F.posexplode(V.quantize("embedding", _KMEANS_QUANT)).alias("i", "x"),
    ).persist()  # sums + both self-join sides; cached until harness clearCache
    sums = q.groupBy("i").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").cast("long").alias("sx"),
    )
    pairs = (
        q.alias("a")
        .join(q.alias("b"), "vec_id")
        .groupBy(F.col("a.i").alias("i"), F.col("b.i").alias("j"))
        .agg(F.sum(F.col("a.x") * F.col("b.x")).cast("long").alias("sxx"))
    )
    s_rows = (
        pairs.join(
            F.broadcast(sums.select("i", "n", F.col("sx").alias("sxi"))), "i"
        )
        .join(
            F.broadcast(
                sums.select(F.col("i").alias("j"), F.col("sx").alias("sxj"))
            ),
            "j",
        )
        .selectExpr("i", "j", "n * sxx - sxi * sxj AS s")
        .selectExpr(
            "i",
            "j",
            "CASE WHEN s < 0 THEN -((-s) div 65536) "
            "ELSE s div 65536 END AS sq",
        )
        .collect()  # dim²-bounded (64² rows) — codebook-sized, like the
        # PQ/k-means centroid collects: the corpus-sized work is the ONE
        # scatter-matrix aggregation above; iterating the 4096-entry S
        # relationally cost ~25 tiny shuffle stages of pure latency
    )
    s_mat = {(r.i, r.j): r.sq for r in s_rows}
    dims = sorted({i for i, _ in s_mat})
    # exact-integer power iteration, formulas mirroring the SQL twin
    # (abs-then-floor-div keeps Spark div / DuckDB // / Python // equal)
    vvec = {i: 1 for i in dims}

    def _matvec(vv_):
        return {
            i: sum(s_mat.get((i, j), 0) * vv_[j] for j in dims) for i in dims
        }

    for _ in range(_PCA_ITERS):
        w = _matvec(vvec)
        m = max(max(abs(x) for x in w.values()), 1)
        vvec = {
            i: (-((-w[i]) * 1000 // m) if w[i] < 0 else w[i] * 1000 // m)
            for i in dims
        }
    u = _matvec(vvec)
    vsv = sum(vvec[i] * u[i] for i in dims)
    vv = sum(vvec[i] * vvec[i] for i in dims)
    tr = sum(s_mat.get((i, i), 0) for i in dims)
    # floats are NOT computed in Python (Python round() is banker's;
    # F.round is half-up): re-inject the exact integers and let Spark
    # divide + epsilon-round, exactly as the oracle does
    fin = spark.createDataFrame(
        [(i, vvec[i]) for i in dims], "i int, v long"
    )
    return fin.select(
        F.col("i").cast("int").alias("dim_idx"),
        F.col("v").cast("long").alias("v_q"),
        _rnd(F.col("v") / F.sqrt(F.lit(vv).cast("double")), 6).alias(
            "loading"
        ),
        _rnd(F.lit(vsv) / F.lit(vv).cast("double"), 4).alias("rayleigh_q"),
        _rnd(F.lit(vsv) / F.lit(vv * tr).cast("double"), 6).alias(
            "var_share"
        ),
    )


def _sql_pca_power() -> str:
    iters = []
    prev = "v0"
    for r in range(1, _PCA_ITERS + 1):
        # MATERIALIZED is load-bearing: DuckDB inlines plain CTEs, so a
        # 24-deep chain each referencing smat + the previous v would
        # expand to an exponentially-sized plan (observed as "Too many
        # open files" from the re-opened parquet leaves).
        iters.append(
            f"""w{r} AS MATERIALIZED (
    SELECT s.i AS i, CAST(sum(s.sq * v.v) AS BIGINT) AS w
    FROM smat s JOIN {prev} v ON s.j = v.i GROUP BY 1
),
m{r} AS MATERIALIZED (SELECT greatest(max(abs(w)), 1) AS m FROM w{r}),
v{r} AS MATERIALIZED (
    SELECT i, CAST(CASE WHEN w < 0 THEN -(((-w) * 1000) // m)
                        ELSE (w * 1000) // m END AS BIGINT) AS v
    FROM w{r}, m{r}
)"""
        )
        prev = f"v{r}"
    return f"""
WITH un AS (
    SELECT vec_id, unnest(list_transform(
        range(1, len(embedding) + 1),
        k -> {{'i': k, 'x': embedding[k]}})) AS e
    FROM embeddings
),
q AS (
    SELECT vec_id, e.i - 1 AS i,
           CAST(floor(CAST(e.x AS DOUBLE) * {_KMEANS_QUANT}) AS BIGINT) AS x
    FROM un
),
sums AS (
    SELECT i, CAST(count(*) AS BIGINT) AS n, CAST(sum(x) AS BIGINT) AS sx
    FROM q GROUP BY 1
),
pairs AS (
    SELECT a.i AS i, b.i AS j, CAST(sum(a.x * b.x) AS BIGINT) AS sxx
    FROM q a JOIN q b USING (vec_id) GROUP BY 1, 2
),
sfull AS (
    SELECT p.i, p.j, si.n * p.sxx - si.sx * sj.sx AS s
    FROM pairs p JOIN sums si ON p.i = si.i JOIN sums sj ON p.j = sj.i
),
smat AS MATERIALIZED (
    SELECT i, j, CAST(CASE WHEN s < 0 THEN -((-s) // 65536)
                           ELSE s // 65536 END AS BIGINT) AS sq
    FROM sfull
),
v0 AS MATERIALIZED (SELECT DISTINCT i, CAST(1 AS BIGINT) AS v FROM smat),
{', '.join(iters)},
u AS (
    SELECT s.i AS i, CAST(sum(s.sq * v.v) AS BIGINT) AS u
    FROM smat s JOIN v{_PCA_ITERS} v ON s.j = v.i GROUP BY 1
),
fin AS (SELECT t.i, t.v, u.u FROM v{_PCA_ITERS} t JOIN u USING (i)),
scal AS (
    SELECT CAST(sum(v * u) AS BIGINT) AS vsv,
           CAST(sum(v * v) AS BIGINT) AS vv
    FROM fin
),
tr AS (SELECT CAST(sum(sq) AS BIGINT) AS tr FROM smat WHERE i = j)
SELECT CAST(f.i AS INTEGER) AS dim_idx,
       CAST(f.v AS BIGINT) AS v_q,
       round(1e-9 + f.v / sqrt(CAST(s.vv AS DOUBLE)), 6) AS loading,
       round(1e-9 + s.vsv / CAST(s.vv AS DOUBLE), 4) AS rayleigh_q,
       round(1e-9 + s.vsv / CAST(s.vv * t.tr AS DOUBLE), 6) AS var_share
FROM fin f CROSS JOIN scal s CROSS JOIN tr t"""


def q_split_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split-contamination audit — the check a training pipeline runs
    AFTER dedup clustering and split assignment: a duplicate cluster
    whose members straddle train and eval means the held-out metric is
    measuring memorization.  Composes the exact-dup twin corpus
    (q_dedup_exact's construction), the deterministic content-hash
    split (`sampling.train_val_test_split`, so twins with different ids
    scatter across splits and leakage genuinely exists), and a
    per-cluster rollup, reporting per split: total docs, docs in
    multi-member clusters, docs whose cluster straddles splits, and —
    the number that matters — eval docs whose cluster also contains a
    TRAIN doc.  Shape: one hash aggregation on the content hash plus a
    same-key join (the exchange is reused), output bounded by 3 rows."""
    from .operators import sampling

    docs = _docs(spark, sf_dir)
    dups = docs.where(F.col("doc_id") % 3 == 0).select(
        (F.col("doc_id") + 2000000).alias("doc_id"), "text"
    )
    corpus = _scale_out(docs.select("doc_id", "text").unionByName(dups))
    sp = sampling.train_val_test_split(
        corpus, "doc_id", val_pct=10, test_pct=10, salt="sp"
    )
    dh = sp.select(F.md5("text").alias("h"), "doc_id", "split")
    cl = dh.groupBy("h").agg(
        F.count(F.lit(1)).cast("long").alias("c_docs"),
        F.count_distinct("split").cast("long").alias("n_splits"),
        F.max((F.col("split") == "train").cast("int")).alias("has_train"),
    )
    return (
        dh.join(cl, "h")
        .groupBy("split")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum((F.col("c_docs") > 1).cast("int"))
            .cast("long")
            .alias("n_dup_docs"),
            F.sum((F.col("n_splits") > 1).cast("int"))
            .cast("long")
            .alias("n_cross_split_docs"),
            F.sum(
                ((F.col("has_train") == 1) & (F.col("split") != "train"))
                .cast("int")
            )
            .cast("long")
            .alias("n_train_contaminated"),
        )
    )


_SQL_SPLIT_LEAKAGE = f"""
WITH corpus AS (
    SELECT doc_id, text FROM documents
    UNION ALL
    SELECT doc_id + 2000000 AS doc_id, text FROM documents
    WHERE doc_id % 3 = 0
),
sp AS (
    SELECT doc_id, text,
           CASE WHEN bucket < 10 THEN 'test'
                WHEN bucket < 20 THEN 'val'
                ELSE 'train' END AS split
    FROM (
        SELECT doc_id, text, ({_HEXVAL}) % 100 AS bucket
        FROM (SELECT doc_id, text,
                     substr(md5(CAST(doc_id AS VARCHAR) || 'sp'), 1, 8) AS h
              FROM corpus)
    )
),
dh AS (SELECT md5(text) AS h, doc_id, split FROM sp),
cl AS (
    SELECT h, CAST(count(*) AS BIGINT) AS c_docs,
           CAST(count(DISTINCT split) AS BIGINT) AS n_splits,
           max(CASE WHEN split = 'train' THEN 1 ELSE 0 END) AS has_train
    FROM dh GROUP BY 1
)
SELECT d.split,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(CASE WHEN c.c_docs > 1 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_dup_docs,
       CAST(sum(CASE WHEN c.n_splits > 1 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_cross_split_docs,
       CAST(sum(CASE WHEN c.has_train = 1 AND d.split <> 'train'
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_train_contaminated
FROM dh d JOIN cl c USING (h)
GROUP BY 1"""


def q_stream_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.9 × sketches: streaming membership filter with bounded state —
    the Bloom leg beside q_stream_hll (distinct) and q_stream_cm
    (frequency).  The event feed replays through the file source and
    folds into one per-day Bloom bit table (`groupBy(window, bit)` —
    state ≤ days × m rows regardless of feed volume; a bit can only ever
    be SET, so the sketch is re-delivery-insensitive by construction and
    needs no dedup state).  Batch-side, the first day's user cohort
    probes each day's drained bit table — the streaming form of the
    returning-user preflight: ship kilobytes of bits, not the user set —
    and the query reports per day the maybe-count against the exact
    cohort∩day truth (false positives measured, false negatives
    structurally zero).  The oracle rebuilds bits + probes relationally
    from the batch events view: stream and batch bit tables must agree
    bit-for-bit."""
    from .util import stream_feed

    m_bits, k_hashes = 1024, 3
    ev = (
        load_tables(spark, sf_dir)["events"]
        .select("ts", "user_id")
        .where(F.col("ts").isNotNull() & F.col("user_id").isNotNull())
    )
    # memoized 16-way feed staging: parallel write + a genuine
    # 2-micro-batch replay under maxFilesPerTrigger=8; later calls in
    # the same process (bench reruns) reuse the staged files
    stream = stream_feed(ev, "event_feed_bloom", sf_dir)

    def _pos(jc, keyc):
        return F.pmod(
            F.conv(
                F.substring(F.md5(F.concat_ws("#", jc, keyc)), 1, 12), 16, 10
            ).cast("long"),
            F.lit(m_bits),
        )

    rows = stream.select(
        F.window("ts", "1 day").alias("win"),
        F.col("user_id").cast("string").alias("__k"),
        F.explode(F.array(*[F.lit(j) for j in range(k_hashes)])).alias("j"),
    ).select("win", _pos(F.col("j"), F.col("__k")).alias("bit"))
    bits = rows.groupBy("win", "bit").agg(F.max(F.lit(1)).alias("__set"))
    sink = drain_available_now(bits, "q_stream_bloom_sink").select(
        F.col("win.start").alias("day"), "bit", "__set"
    )

    du = (
        ev.select(F.date_trunc("day", "ts").alias("day"), "user_id")
        .distinct()
        .persist()  # four consumers; cached until harness clearCache
    )
    d0 = du.agg(F.min("day").alias("__d0"))
    cohort = (
        du.join(F.broadcast(d0), F.col("day") == F.col("__d0"))
        .select("user_id")
        .distinct()
    )
    cpos = cohort.select(
        "user_id",
        F.explode(F.array(*[F.lit(j) for j in range(k_hashes)])).alias("j"),
    ).select(
        "user_id",
        _pos(F.col("j"), F.col("user_id").cast("string")).alias("bit"),
    )
    days = du.select("day").distinct()
    hit = (
        cpos.crossJoin(F.broadcast(days))
        .join(F.broadcast(sink), ["day", "bit"], "left")
        .groupBy("day", "user_id")
        .agg(F.min(F.coalesce(F.col("__set"), F.lit(0))).alias("__may"))
    )
    maybe = hit.groupBy("day").agg(
        F.sum("__may").cast("long").alias("n_maybe")
    )
    ov = (
        du.join(cohort, "user_id")
        .groupBy("day")
        .agg(F.count(F.lit(1)).cast("long").alias("__ov"))
    )
    nu = du.groupBy("day").agg(F.count(F.lit(1)).cast("long").alias("n_users"))
    nc = cohort.agg(F.count(F.lit(1)).cast("long").alias("n_cohort"))
    return (
        nu.join(maybe, "day")
        .join(ov, "day", "left")
        .crossJoin(F.broadcast(nc))
        .select(
            "day",
            "n_users",
            "n_cohort",
            F.coalesce("__ov", F.lit(0)).cast("long").alias("n_true_overlap"),
            "n_maybe",
            (F.col("n_maybe") - F.coalesce("__ov", F.lit(0)))
            .cast("long")
            .alias("n_false_pos"),
        )
    )


_SQL_STREAM_BLOOM = """
WITH ev AS (
    SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day, user_id
    FROM events WHERE ts IS NOT NULL AND user_id IS NOT NULL
),
du AS (SELECT DISTINCT day, user_id FROM ev),
d0 AS (SELECT min(day) AS d0 FROM du),
cohort AS (SELECT DISTINCT user_id FROM du, d0 WHERE day = d0),
js AS (SELECT unnest([0, 1, 2]) AS j),
bits AS (
    SELECT DISTINCT day,
           CAST(('0x' || substr(md5(CAST(j AS VARCHAR) || '#'
                                    || CAST(user_id AS VARCHAR)), 1, 12))
                AS BIGINT) % 1024 AS bit
    FROM du, js
),
cpos AS (
    SELECT c.user_id,
           CAST(('0x' || substr(md5(CAST(j.j AS VARCHAR) || '#'
                                    || CAST(c.user_id AS VARCHAR)), 1, 12))
                AS BIGINT) % 1024 AS bit
    FROM cohort c, js j
),
days AS (SELECT DISTINCT day FROM du),
hit AS (
    SELECT d.day, p.user_id,
           min(CASE WHEN b.bit IS NULL THEN 0 ELSE 1 END) AS may
    FROM days d CROSS JOIN cpos p
    LEFT JOIN bits b ON b.day = d.day AND b.bit = p.bit
    GROUP BY 1, 2
),
maybe AS (SELECT day, CAST(sum(may) AS BIGINT) AS n_maybe FROM hit GROUP BY 1),
ov AS (
    SELECT du.day, CAST(count(*) AS BIGINT) AS ov
    FROM du JOIN cohort USING (user_id) GROUP BY 1
),
nu AS (SELECT day, CAST(count(*) AS BIGINT) AS n_users FROM du GROUP BY 1),
nc AS (SELECT CAST(count(*) AS BIGINT) AS n_cohort FROM cohort)
SELECT n.day, n.n_users, c.n_cohort,
       CAST(COALESCE(o.ov, 0) AS BIGINT) AS n_true_overlap,
       m.n_maybe,
       CAST(m.n_maybe - COALESCE(o.ov, 0) AS BIGINT) AS n_false_pos
FROM nu n JOIN maybe m USING (day) LEFT JOIN ov o USING (day)
CROSS JOIN nc c"""


def q_stream_cm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.9 × sketches: Count-Min heavy-hitter monitoring over a STREAM
    with bounded state — the streaming counterpart of `q_countmin_topk`.
    The document feed replays through the file source and folds straight
    into the 4×1024 counter table via the SAME `sketches.cm_counters`
    the batch path uses (counters are sums, so the streaming aggregation
    is exactly-once under the availableNow replay and its state is ≤
    depth×width rows regardless of feed volume — no watermark needed for
    an unwindowed complete-mode aggregate).  Batch-side, the exact
    top-15 tokens probe the DRAINED counter sink via `cm_lookup`; the
    oracle is literally `_SQL_COUNTMIN_TOPK` — stream counters must
    equal batch counters exactly for the hashes to match."""
    from .operators import sampling, sketches
    from .util import stream_feed

    d = _docs(spark, sf_dir).select("doc_id", "text")
    stream = stream_feed(d, "doc_feed_cm", sf_dir, n_files=8)
    tok = stream.select(
        F.explode(T.tokens("text")).alias("token"), F.lit(1).alias("cnt")
    )
    counters = sketches.cm_counters(tok, "token", "cnt")
    sink = drain_available_now(counters, "q_stream_cm_sink").select("j", "slot", "c")

    tok_b = _docs(spark, sf_dir).select(
        F.explode(T.tokens("text")).alias("token")
    )
    tc = (
        tok_b.groupBy("token")
        .agg(F.count(F.lit(1)).cast("long").alias("exact_cnt"))
        .persist()  # feeds ranking twice; cached until harness clearCache
    )
    order = [F.desc("exact_cnt"), F.asc("token")]
    pruned = sampling.top_k_prune(tc, [], order, k=15, salt_key="token")
    probes = pruned.withColumn(
        "rank", F.row_number().over(Window.orderBy(*order))
    ).where(F.col("rank") <= 15)
    out = sketches.cm_lookup(sink, probes)
    return out.select(
        "token",
        F.col("rank").cast("int").alias("rank"),
        "exact_cnt",
        "cm_est",
        (F.col("cm_est") - F.col("exact_cnt")).cast("long").alias("overcount"),
    )


def q_hll_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch algebra: merging the 20 per-source HLL register files
    (register-wise MAX) yields BIT-IDENTICAL registers — and therefore the
    identical estimate — to sketching the whole corpus directly.  This is
    the property that makes distinct-counting distributable: per-partition
    (or per-day, per-source) sketches roll up losslessly, so a 100 TB
    backfill never re-scans history to refresh a global cardinality.  The
    query emits both estimates, the exact global vocabulary, and the
    merged==direct flag (always 1)."""
    from .operators import sketches

    d = _scale_out(_docs(spark, sf_dir).select("source", "text"))
    tok = d.select(
        "source", F.explode(T.tokens("text")).alias("token")
    ).persist()  # three consumers; cached until harness clearCache
    per_src = sketches.hll_registers(tok, "token", group_cols=("source",), p=9)
    merged_regs = per_src.groupBy("bucket").agg(F.max("rho").alias("rho"))

    direct = sketches.hll_estimate(tok, "token", p=9).select(
        F.col("est_distinct").alias("__direct")
    )
    merged = sketches.hll_estimate_from_registers(merged_regs, (), p=9).select(
        F.col("est_distinct").alias("__merged")
    )
    exact = tok.agg(F.count_distinct("token").cast("long").alias("exact_distinct"))
    return (
        merged.crossJoin(direct)
        .crossJoin(exact)
        .select(
            _rnd(F.col("__merged"), 4).alias("est_merged"),
            _rnd(F.col("__direct"), 4).alias("est_direct"),
            (F.col("__merged") == F.col("__direct")).cast("int").alias("merge_lossless"),
            "exact_distinct",
        )
    )


def _hll_union_sql() -> str:
    from .operators import sketches

    frag = sketches.sql_hll_estimate(
        "SELECT token FROM tokv", "token", (), p=9
    )
    num = sketches.hll_alpha_numerator(9)
    return f"""
WITH tokv AS (
    SELECT source,
           unnest(list_filter(string_split_regex(text, '\\s+'), t -> t <> '')) AS token
    FROM documents
),
src_h AS (
    SELECT source,
           CAST(('0x' || substr(md5(CAST(token AS VARCHAR)), 1, 15)) AS BIGINT) AS h
    FROM tokv
),
src_regs AS (
    SELECT source, CAST(h % 512 AS INTEGER) AS bucket,
           MAX(CASE WHEN h // 512 = 0 THEN 52
                    ELSE 52 - length(bin(h // 512)) END) AS rho
    FROM src_h GROUP BY source, bucket
),
merged_regs AS (
    SELECT bucket, MAX(rho) AS rho FROM src_regs GROUP BY 1
),
merged_per AS (
    SELECT CAST(count(*) AS INTEGER) AS used,
           CAST(sum(CAST(1 AS BIGINT) << (52 - rho)) AS BIGINT) AS s
    FROM merged_regs
),
merged_est AS (
    SELECT CASE WHEN {num!r}
                     / CAST(s + CAST(512 - used AS BIGINT)
                            * CAST({1 << 52} AS BIGINT) AS DOUBLE) <= 1280.0
                 AND 512 - used > 0
                THEN 512.0 * ln(512.0 / CAST(512 - used AS DOUBLE))
                ELSE {num!r}
                     / CAST(s + CAST(512 - used AS BIGINT)
                            * CAST({1 << 52} AS BIGINT) AS DOUBLE)
           END AS est_merged
    FROM merged_per
),
{frag},
exact AS (
    SELECT CAST(count(DISTINCT token) AS BIGINT) AS exact_distinct FROM tokv
)
SELECT round(1e-9 + m.est_merged, 4) AS est_merged,
       round(1e-9 + e.est_distinct, 4) AS est_direct,
       CAST(m.est_merged = e.est_distinct AS INTEGER) AS merge_lossless,
       x.exact_distinct
FROM merged_est m, hll_est e, exact x"""


def q_hll_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise source-vocabulary overlap by HLL inclusion–exclusion:
    |A∩B| ≈ est(A) + est(B) − est(A∪B), where est(A∪B) comes from the
    register-wise MAX of the two per-source register files (the lossless
    merge q_hll_union proves) — so estimating ALL k·(k−1)/2 pair overlaps
    costs k fixed-size sketches + a pair-list join over ≤ k·2^p register
    rows, never a token-level self-join.  That is the 100-TB corpus
    cross-contamination triage: the exact intersection (the verification
    column here, and the q_source_overlap serving path) shuffles the full
    (source, token) set, the sketch path shuffles kilobytes.  The pair
    register merge is two broadcast equi-joins of the tiny pair list
    (UNION ALL of the src_a-side and src_b-side rows), not an OR-join, so
    the plan stays hash-based.  est_intersection may go slightly negative
    under sketch error — reported as-is beside the exact truth."""
    from .operators import sketches

    d = _scale_out(_docs(spark, sf_dir).select("source", "text"))
    tok = d.select(
        "source", F.explode(T.tokens("text")).alias("token")
    ).persist()  # feeds registers + exact twin; cached until harness clearCache
    regs = sketches.hll_registers(
        tok, "token", group_cols=("source",), p=9
    ).persist()  # singles + both pair-join sides; cached until harness clearCache
    singles = sketches.hll_estimate_from_registers(regs, ("source",), p=9)

    # the source list is k rows (bounded by the source domain, independent
    # of corpus size) — a sanctioned bounded collect; enumerating the
    # k·(k−1)/2 pair list driver-side keeps the crossJoin subtree (and its
    # ~6 extra micro-stages) out of the plan entirely
    srcs = sorted(r[0] for r in regs.select("source").distinct().collect())
    pairs = spark.createDataFrame(
        [(a, b) for a in srcs for b in srcs if a < b],
        "src_a string, src_b string",
    )
    pair_rows = regs.join(
        F.broadcast(pairs), F.col("source") == F.col("src_a")
    ).select("src_a", "src_b", "bucket", "rho").unionAll(
        regs.join(
            F.broadcast(pairs), F.col("source") == F.col("src_b")
        ).select("src_a", "src_b", "bucket", "rho")
    )
    union_regs = pair_rows.groupBy("src_a", "src_b", "bucket").agg(
        F.max("rho").alias("rho")
    )
    union_est = sketches.hll_estimate_from_registers(
        union_regs, ("src_a", "src_b"), p=9
    ).select("src_a", "src_b", F.col("est_distinct").alias("__est_u"))

    ea = singles.select(
        F.col("source").alias("src_a"), F.col("est_distinct").alias("__est_a")
    )
    eb = singles.select(
        F.col("source").alias("src_b"), F.col("est_distinct").alias("__est_b")
    )
    # exact leg via the grouped-array idiom (one shuffle of the token
    # rows; collect_set dedups (source, token) inside the aggregation),
    # not distinct → self-join → pair groupBy (three token-level
    # exchanges): per-token source sets are bounded by the source domain
    # k, so the agg state is tiny and pairs explode map-side
    exact = (
        tok.groupBy("token")
        .agg(F.collect_set("source").alias("__srcs"))
        .select(F.explode("__srcs").alias("src_a"), "__srcs")
        .select(
            "src_a",
            F.explode(
                F.filter("__srcs", lambda x: x > F.col("src_a"))
            ).alias("src_b"),
        )
        .groupBy("src_a", "src_b")
        .agg(F.count(F.lit(1)).cast("long").alias("exact_intersection"))
    )
    return (
        union_est.join(F.broadcast(ea), "src_a")
        .join(F.broadcast(eb), "src_b")
        .join(exact, ["src_a", "src_b"], "left")
        .select(
            "src_a",
            "src_b",
            _rnd(F.col("__est_a"), 4).alias("est_a"),
            _rnd(F.col("__est_b"), 4).alias("est_b"),
            _rnd(F.col("__est_u"), 4).alias("est_union"),
            _rnd(
                F.col("__est_a") + F.col("__est_b") - F.col("__est_u"), 4
            ).alias("est_intersection"),
            F.coalesce(F.col("exact_intersection"), F.lit(0).cast("long")).alias(
                "exact_intersection"
            ),
        )
    )


def _hll_overlap_sql() -> str:
    from .operators import sketches

    tail_u = sketches.sql_hll_estimate_from_registers(
        "union_regs", ("src_a", "src_b"), p=9, prefix="u"
    )
    tail_s = sketches.sql_hll_estimate_from_registers(
        "src_regs", ("source",), p=9, prefix="s"
    )
    return f"""
WITH tokv AS (
    SELECT source,
           unnest(list_filter(string_split_regex(text, '\\s+'), t -> t <> '')) AS token
    FROM documents
),
src_h AS (
    SELECT source,
           CAST(('0x' || substr(md5(CAST(token AS VARCHAR)), 1, 15)) AS BIGINT) AS h
    FROM tokv
),
src_regs AS (
    SELECT source, CAST(h % 512 AS INTEGER) AS bucket,
           MAX(CASE WHEN h // 512 = 0 THEN 52
                    ELSE 52 - length(bin(h // 512)) END) AS rho
    FROM src_h GROUP BY source, bucket
),
pairs AS (
    SELECT a.source AS src_a, b.source AS src_b
    FROM (SELECT DISTINCT source FROM src_regs) a,
         (SELECT DISTINCT source FROM src_regs) b
    WHERE a.source < b.source
),
union_regs AS (
    SELECT src_a, src_b, bucket, MAX(rho) AS rho FROM (
        SELECT p.src_a, p.src_b, r.bucket, r.rho
        FROM src_regs r JOIN pairs p ON r.source = p.src_a
        UNION ALL
        SELECT p.src_a, p.src_b, r.bucket, r.rho
        FROM src_regs r JOIN pairs p ON r.source = p.src_b
    ) GROUP BY 1, 2, 3
),
{tail_u},
{tail_s},
dt AS (SELECT DISTINCT source, token FROM tokv),
exact AS (
    SELECT a.source AS src_a, b.source AS src_b,
           CAST(count(*) AS BIGINT) AS exact_intersection
    FROM dt a JOIN dt b ON a.token = b.token AND a.source < b.source
    GROUP BY 1, 2
)
SELECT u.src_a, u.src_b,
       round(1e-9 + sa.est_distinct, 4) AS est_a,
       round(1e-9 + sb.est_distinct, 4) AS est_b,
       round(1e-9 + u.est_distinct, 4) AS est_union,
       round((sa.est_distinct + sb.est_distinct - u.est_distinct) + 1e-9, 4)
           AS est_intersection,
       COALESCE(x.exact_intersection, CAST(0 AS BIGINT)) AS exact_intersection
FROM u_est u
JOIN s_est sa ON sa.source = u.src_a
JOIN s_est sb ON sb.source = u.src_b
LEFT JOIN exact x ON x.src_a = u.src_a AND x.src_b = u.src_b"""


def q_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style document quality filter (Rae et al. 2021, public):
    per-document rule flags — word-count bounds, mean-word-length band,
    ≥80% alphabetic words, ≥2 stopword hits, symbol-to-word ratio — plus
    the composite keep verdict.  Pure JVM column expressions over ONE
    materialized token array (the higher-order-function lesson), so the
    filter is a map-side projection with no shuffle at any corpus size;
    thresholds are the published ones except min-words (10, scaled to the
    synthetic corpus' 10–100-word docs).  Flags derive from UNROUNDED
    exact-integer-ratio doubles in both engines; rounding is display-only."""
    d = _scale_out(_docs(spark, sf_dir).select("doc_id", "lang", "text"))
    t = d.select("doc_id", "lang", "text", T.tokens("text").alias("__w"))
    m = t.select(
        "doc_id",
        "lang",
        T.word_count_from_tokens("__w").alias("n_words"),
        T.mean_word_length_from_tokens("__w").alias("__mwl"),
        T.alpha_word_ratio_from_tokens("__w").alias("__alpha"),
        T.stopword_hits_from_tokens("__w", "en").alias("stop_hits"),
        T.symbol_word_ratio("text", "__w").alias("__sym"),
    )
    r_words = F.col("n_words").between(10, 100000)
    r_mean = F.col("__mwl").between(3.0, 10.0)
    r_alpha = F.col("__alpha") >= 0.8
    r_stop = F.col("stop_hits") >= 2
    r_sym = F.col("__sym") <= 0.1
    return m.select(
        "doc_id",
        "lang",
        "n_words",
        _rnd(F.col("__mwl"), 6).alias("mean_word_len"),
        _rnd(F.col("__alpha"), 6).alias("alpha_ratio"),
        "stop_hits",
        _rnd(F.col("__sym"), 6).alias("symbol_ratio"),
        r_words.cast("int").alias("r_words"),
        r_mean.cast("int").alias("r_mean_len"),
        r_alpha.cast("int").alias("r_alpha"),
        r_stop.cast("int").alias("r_stopwords"),
        r_sym.cast("int").alias("r_symbols"),
        (r_words & r_mean & r_alpha & r_stop & r_sym).cast("int").alias("keep"),
    )


_SQL_GOPHER_RULES = """
WITH tokd AS (
    SELECT doc_id, lang, text,
           list_filter(string_split_regex(text, '\\s+'), t -> t <> '') AS w
    FROM documents
),
m AS (
    SELECT doc_id, lang,
        CAST(len(w) AS BIGINT) AS n_words,
        CAST(list_sum(list_transform(w, t -> length(t))) AS BIGINT)
            / greatest(len(w), 1) AS mwl,
        len(list_filter(w, t -> regexp_matches(t, '[A-Za-z]')))
            / greatest(len(w), 1) AS alpha,
        CAST(len(list_filter(w,
            t -> list_contains(['the','a','of','and','to','in','is'], t)))
            AS BIGINT) AS stop_hits,
        (length(text) - length(replace(text, '#', ''))
         + (length(text) - length(replace(text, '...', ''))) / 3)
            / greatest(len(w), 1) AS sym
    FROM tokd
)
SELECT doc_id, lang, n_words,
       round(1e-9 + mwl, 6) AS mean_word_len,
       round(1e-9 + alpha, 6) AS alpha_ratio,
       stop_hits,
       round(1e-9 + sym, 6) AS symbol_ratio,
       CAST(n_words BETWEEN 10 AND 100000 AS INTEGER) AS r_words,
       CAST(mwl BETWEEN 3.0 AND 10.0 AS INTEGER) AS r_mean_len,
       CAST(alpha >= 0.8 AS INTEGER) AS r_alpha,
       CAST(stop_hits >= 2 AS INTEGER) AS r_stopwords,
       CAST(sym <= 0.1 AS INTEGER) AS r_symbols,
       CAST(n_words BETWEEN 10 AND 100000 AND mwl BETWEEN 3.0 AND 10.0
            AND alpha >= 0.8 AND stop_hits >= 2 AND sym <= 0.1
            AS INTEGER) AS keep
FROM m"""


def q_dsir_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance-resampling selection (Xie et al. 2023): hashed-token
    bucket models of the target (lang='en') vs the raw corpus, per-doc
    log-likelihood-ratio score, top-200 selection.  The corpus folds to a
    ≤4096-row bucket-count frame in one scan, the weight table broadcasts,
    and selection goes through the salted two-phase prune — no structure in
    the plan grows with corpus size except the one doc-id-keyed score
    shuffle.  Ranking uses the ROUNDED score (BM25 float-sum precedent) so
    both engines rank identical values; doc_id breaks ties totally."""
    from .operators import sampling, selection

    d = _scale_out(_docs(spark, sf_dir).select("doc_id", "lang", "text"))
    tok = (
        d.select(
            "doc_id",
            (F.col("lang") == "en").alias("is_target"),
            F.explode(T.tokens("text")).alias("__t"),
        )
        .select(
            "doc_id",
            "is_target",
            selection.hashed_token_bucket("__t", 4096).alias("bucket"),
        )
        .persist()  # counts + scoring consumers; cached until harness clearCache
    )
    weights = selection.dsir_bucket_weights(tok, num_buckets=4096)
    scored = selection.dsir_scores(tok, weights).select(
        "doc_id", _rnd(F.col("dsir_score"), 6).alias("dsir_score")
    )
    scored = scored.join(
        d.select("doc_id", "lang"), "doc_id"
    )
    order = [F.desc("dsir_score"), F.asc("doc_id")]
    pruned = sampling.top_k_prune(scored, [], order, k=200, salt_key="doc_id")
    return (
        pruned.withColumn("rank", F.row_number().over(Window.orderBy(*order)))
        .where(F.col("rank") <= 200)
        .select("doc_id", "lang", "dsir_score", F.col("rank").cast("int").alias("rank"))
    )


_SQL_DSIR_SELECT = """
WITH tokd AS (
    SELECT doc_id, lang = 'en' AS is_target,
           unnest(list_filter(string_split_regex(text, '\\s+'), t -> t <> '')) AS token
    FROM documents
),
b AS (
    SELECT doc_id, is_target,
           CAST(CAST(('0x' || substr(md5(token), 1, 8)) AS BIGINT) % 4096
                AS INTEGER) AS bucket
    FROM tokd
),
cnts AS (
    SELECT bucket,
           CAST(sum(CASE WHEN is_target THEN 1 ELSE 0 END) AS BIGINT) AS ct,
           CAST(count(*) AS BIGINT) AS cr
    FROM b GROUP BY 1
),
tot AS (
    SELECT CAST(sum(ct) AS BIGINT) AS nt, CAST(sum(cr) AS BIGINT) AS nr
    FROM cnts
),
w AS (
    SELECT bucket,
           ln((CAST(ct AS DOUBLE) + 1.0) / (CAST(nt AS DOUBLE) + 4096.0))
         - ln((CAST(cr AS DOUBLE) + 1.0) / (CAST(nr AS DOUBLE) + 4096.0))
               AS log_w
    FROM cnts, tot
),
ds AS (
    SELECT doc_id, round(1e-9 + sum(log_w), 6) AS dsir_score
    FROM b JOIN w USING (bucket) GROUP BY 1
),
r AS (
    SELECT d.doc_id, d.lang, ds.dsir_score,
           row_number() OVER (ORDER BY ds.dsir_score DESC, d.doc_id ASC) AS rank
    FROM ds JOIN documents d USING (doc_id)
)
SELECT doc_id, lang, dsir_score, CAST(rank AS INTEGER) AS rank
FROM r WHERE rank <= 200"""


def q_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-governance k-anonymity audit: group sizes over the
    quasi-identifier tuple (nation, market segment, account-balance
    千-bin) with the k<5 re-identification flag — the pre-release check a
    training-data pipeline runs before shipping any customer-derived
    table.  One hash aggregation; group count is bounded by the
    quasi-identifier domain (~nations × segments × bins), not row count,
    so the output never scales with the corpus."""
    c = load_tables(spark, sf_dir)["customer"]
    bin_ = F.floor(F.col("c_acctbal") / 1000).cast("long")
    g = (
        c.select("c_nationkey", "c_mktsegment", bin_.alias("acctbal_bin"))
        .groupBy("c_nationkey", "c_mktsegment", "acctbal_bin")
        .agg(F.count(F.lit(1)).cast("long").alias("group_size"))
    )
    return g.select(
        "c_nationkey",
        "c_mktsegment",
        "acctbal_bin",
        "group_size",
        (F.col("group_size") < 5).cast("int").alias("at_risk"),
    )


_SQL_K_ANONYMITY = """
SELECT c_nationkey, c_mktsegment,
       CAST(floor(c_acctbal / 1000) AS BIGINT) AS acctbal_bin,
       CAST(count(*) AS BIGINT) AS group_size,
       CAST(count(*) < 5 AS INTEGER) AS at_risk
FROM customer
GROUP BY 1, 2, 3"""


def q_l_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """l-diversity audit — k-anonymity's companion (Machanavajjhala et
    al.): a quasi-identifier group can be large yet still leak if its
    SENSITIVE attribute is homogeneous.  QI = the q_k_anonymity tuple
    (nation, segment, balance 千-bin); sensitive = the customer's order
    priority (via the orders join).  Reports BOTH standard variants per
    QI group: distinct-l (count of distinct sensitive values) and
    entropy-l (entropy of the sensitive distribution ≥ ln l), with the
    l=3 at-risk flag.  Shape: two map-side-combinable aggregations —
    (QI, sensitive) counts then QI rollup; entropy folds exact integer
    counts as ln(n) − Σ c·ln(c)/n, one float log per (QI, sensitive)
    row, output bounded by the QI × priority domain, never row count."""
    t = load_tables(spark, sf_dir)
    bin_ = F.floor(F.col("c_acctbal") / 1000).cast("long")
    j = (
        t["orders"]
        .join(
            F.broadcast(
                t["customer"].select(
                    "c_custkey",
                    "c_nationkey",
                    "c_mktsegment",
                    bin_.alias("acctbal_bin"),
                )
            ),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .select(
            "c_nationkey", "c_mktsegment", "acctbal_bin", "o_orderpriority"
        )
    )
    per_sv = j.groupBy(
        "c_nationkey", "c_mktsegment", "acctbal_bin", "o_orderpriority"
    ).agg(F.count(F.lit(1)).cast("long").alias("__c"))
    per_qi = per_sv.groupBy("c_nationkey", "c_mktsegment", "acctbal_bin").agg(
        F.sum("__c").cast("long").alias("n_rows"),
        F.count(F.lit(1)).cast("long").alias("distinct_sensitive"),
        F.sum(F.col("__c") * F.log("__c")).alias("__clnc"),
    )
    entropy = F.log(F.col("n_rows")) - F.col("__clnc") / F.col("n_rows")
    return per_qi.select(
        "c_nationkey",
        "c_mktsegment",
        "acctbal_bin",
        "n_rows",
        "distinct_sensitive",
        _rnd(entropy, 6).alias("entropy"),
        # threshold epsilon-shifted: a UNIFORM 3-value group has entropy
        # exactly ln 3, and the JVM-vs-libm last-ulp difference would
        # otherwise decide the flag (the repo-wide "no float decides
        # membership" rule)
        (
            (F.col("distinct_sensitive") < 3)
            | (entropy < F.lit(math.log(3.0) - 1e-9))
        ).cast("int").alias("at_risk_l3"),
    )


_SQL_L_DIVERSITY = f"""
WITH j AS (
    SELECT c_nationkey, c_mktsegment,
           CAST(floor(c_acctbal / 1000) AS BIGINT) AS acctbal_bin,
           o_orderpriority
    FROM orders JOIN customer ON o_custkey = c_custkey
),
per_sv AS (
    SELECT c_nationkey, c_mktsegment, acctbal_bin, o_orderpriority,
           CAST(count(*) AS BIGINT) AS c
    FROM j GROUP BY 1, 2, 3, 4
),
per_qi AS (
    SELECT c_nationkey, c_mktsegment, acctbal_bin,
           CAST(sum(c) AS BIGINT) AS n_rows,
           CAST(count(*) AS BIGINT) AS distinct_sensitive,
           sum(c * ln(c)) AS clnc
    FROM per_sv GROUP BY 1, 2, 3
)
SELECT c_nationkey, c_mktsegment, acctbal_bin, n_rows, distinct_sensitive,
       round((ln(n_rows) - clnc / n_rows) + 1e-9, 6) AS entropy,
       CAST(distinct_sensitive < 3
            OR (ln(n_rows) - clnc / n_rows) < {math.log(3.0) - 1e-9!r}
            AS INTEGER) AS at_risk_l3
FROM per_qi"""


def q_t_closeness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """t-closeness audit (Li, Li, Venkatasubramanian 2007) — the third
    leg of the governance trio after k-anonymity and l-diversity: a QI
    group passes l-diversity yet still leaks if its sensitive-attribute
    DISTRIBUTION differs from the table's (skewness attack).  t is the
    Earth Mover's Distance between the group's and the global ordinal
    distribution of order priority (same QI/sensitive choice as
    q_l_diversity): with m ordered values, EMD = (1/(m−1)) Σ_{i<m}
    |CumP_g(i) − CumQ(i)|.  Exactness: cumulative-count differences are
    cross-multiplied into integers (|C_g·n − C·n_g|) and divided ONCE
    at the end; the t>0.2 at-risk flag is decided by the pure-integer
    inequality 5·Σ|…| > n_g·n·(m−1), so no float ever decides
    membership.  Shape: (QI, sensitive) counts → (QI-groups × m) grid
    via a broadcast of the m-row global axis — all work bounded by the
    QI × priority domain, never the corpus row count."""
    t = load_tables(spark, sf_dir)
    bin_ = F.floor(F.col("c_acctbal") / 1000).cast("long")
    qi_cols = ["c_nationkey", "c_mktsegment", "acctbal_bin"]
    j = (
        t["orders"]
        .join(
            F.broadcast(
                t["customer"].select(
                    "c_custkey",
                    "c_nationkey",
                    "c_mktsegment",
                    bin_.alias("acctbal_bin"),
                )
            ),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .select(*qi_cols, "o_orderpriority")
    )
    per_sv = j.groupBy(*qi_cols, "o_orderpriority").agg(
        F.count(F.lit(1)).cast("long").alias("__cg")
    )
    # Global axis: per-priority counts + global cumulative + n + m —
    # bounded by the priority domain (5 rows), derived from per_sv so
    # the corpus is scanned once.
    glob = per_sv.groupBy("o_orderpriority").agg(
        F.sum("__cg").cast("long").alias("__c")
    )
    axis = glob.select(
        "o_orderpriority",
        "__c",
        F.sum("__c")
        .over(
            Window.orderBy("o_orderpriority").rowsBetween(
                Window.unboundedPreceding, 0
            )
        )
        .cast("long")
        .alias("__cum"),
        F.row_number().over(Window.orderBy("o_orderpriority")).alias("__rn"),
        F.sum("__c").over(Window.partitionBy()).cast("long").alias("__n"),
        F.count(F.lit(1)).over(Window.partitionBy()).cast("long").alias("__m"),
    )
    qi = per_sv.groupBy(*qi_cols).agg(F.sum("__cg").cast("long").alias("n_rows"))
    grid = (
        qi.crossJoin(F.broadcast(axis))
        .join(per_sv, qi_cols + ["o_orderpriority"], "left")
        .select(
            *qi_cols,
            "n_rows",
            "__rn",
            "__m",
            "__n",
            "__cum",
            F.coalesce("__cg", F.lit(0)).alias("__cg"),
        )
    )
    wcum = (
        Window.partitionBy(*qi_cols)
        .orderBy("__rn")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum_g = F.sum("__cg").over(wcum).cast("long")
    diff = grid.select(
        *qi_cols,
        "n_rows",
        "__m",
        "__n",
        F.when(
            F.col("__rn") < F.col("__m"),
            F.abs(cum_g * F.col("__n") - F.col("__cum") * F.col("n_rows")),
        )
        .otherwise(F.lit(0))
        .cast("long")
        .alias("__d"),
    )
    agg = diff.groupBy(*qi_cols).agg(
        F.first("n_rows").alias("n_rows"),
        F.first("__m").alias("__m"),
        F.first("__n").alias("__n"),
        F.sum("__d").cast("long").alias("__emd_num"),
    )
    den = (
        F.col("n_rows")
        * F.col("__n")
        * F.greatest(F.col("__m") - 1, F.lit(1))
    )
    return agg.select(
        *qi_cols,
        F.col("n_rows").cast("long").alias("n_rows"),
        _rnd(F.col("__emd_num") / den, 6).alias("t_closeness"),
        (F.col("__emd_num") * 5 > den).cast("int").alias("at_risk_t02"),
    )


_SQL_T_CLOSENESS = """
WITH j AS (
    SELECT c_nationkey, c_mktsegment,
           CAST(floor(c_acctbal / 1000) AS BIGINT) AS acctbal_bin,
           o_orderpriority
    FROM orders JOIN customer ON o_custkey = c_custkey
),
per_sv AS (
    SELECT c_nationkey, c_mktsegment, acctbal_bin, o_orderpriority,
           CAST(count(*) AS BIGINT) AS cg
    FROM j GROUP BY 1, 2, 3, 4
),
axis AS (
    SELECT o_orderpriority, c,
           CAST(sum(c) OVER (ORDER BY o_orderpriority
                             ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum,
           row_number() OVER (ORDER BY o_orderpriority) AS rn,
           CAST(sum(c) OVER () AS BIGINT) AS n,
           CAST(count(*) OVER () AS BIGINT) AS m
    FROM (SELECT o_orderpriority, CAST(sum(cg) AS BIGINT) AS c
          FROM per_sv GROUP BY 1)
),
qi AS (
    SELECT c_nationkey, c_mktsegment, acctbal_bin,
           CAST(sum(cg) AS BIGINT) AS n_rows
    FROM per_sv GROUP BY 1, 2, 3
),
grid AS (
    SELECT q.c_nationkey, q.c_mktsegment, q.acctbal_bin, q.n_rows,
           a.rn, a.m, a.n, a.cum, COALESCE(p.cg, 0) AS cg
    FROM qi q CROSS JOIN axis a
    LEFT JOIN per_sv p
      ON p.c_nationkey = q.c_nationkey
     AND p.c_mktsegment = q.c_mktsegment
     AND p.acctbal_bin = q.acctbal_bin
     AND p.o_orderpriority = a.o_orderpriority
),
diff AS (
    SELECT c_nationkey, c_mktsegment, acctbal_bin, n_rows, m, n,
           CASE WHEN rn < m THEN
               abs(CAST(sum(cg) OVER (
                       PARTITION BY c_nationkey, c_mktsegment, acctbal_bin
                       ORDER BY rn ROWS UNBOUNDED PRECEDING) AS BIGINT) * n
                   - cum * n_rows)
           ELSE 0 END AS d
    FROM grid
),
agg AS (
    SELECT c_nationkey, c_mktsegment, acctbal_bin,
           any_value(n_rows) AS n_rows, any_value(m) AS m,
           any_value(n) AS n, CAST(sum(d) AS BIGINT) AS emd_num
    FROM diff GROUP BY 1, 2, 3
)
SELECT c_nationkey, c_mktsegment, acctbal_bin,
       CAST(n_rows AS BIGINT) AS n_rows,
       round(1e-9 + CAST(emd_num AS DOUBLE)
             / (n_rows * n * greatest(m - 1, 1)), 6) AS t_closeness,
       CAST(emd_num * 5 > n_rows * n * greatest(m - 1, 1) AS INTEGER)
           AS at_risk_t02
FROM agg"""


def q_cm_join_size(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pre-flight join-cardinality estimation from Count-Min sketches
    (Cormode–Muthukrishnan inner product): predict
    |orders ⋈ lineitem ON orderkey| from two 4×4096 counter tables — two
    linear scans + a broadcast 4096-row join instead of the real key
    shuffle.  The optimizer-style capability a 100 TB planner wants
    before committing to a join strategy; the estimate never
    under-counts, and the query reports it beside the exact join size
    and the collision over-ratio."""
    from .operators import sketches

    t = load_tables(spark, sf_dir)
    co = sketches.cm_counters(
        t["orders"]
        .groupBy(F.col("o_orderkey").cast("string").alias("k"))
        .agg(F.count(F.lit(1)).alias("cnt")),
        "k",
        "cnt",
        width=4096,
    )
    cl = sketches.cm_counters(
        t["lineitem"]
        .groupBy(F.col("l_orderkey").cast("string").alias("k"))
        .agg(F.count(F.lit(1)).alias("cnt")),
        "k",
        "cnt",
        width=4096,
    )
    est = sketches.cm_inner_product(co, cl)
    exact = (
        t["orders"]
        .join(t["lineitem"], F.col("o_orderkey") == F.col("l_orderkey"))
        .agg(F.count(F.lit(1)).cast("long").alias("exact_join_rows"))
    )
    return est.crossJoin(exact).select(
        "exact_join_rows",
        "cm_join_est",
        _rnd(F.col("cm_join_est") / F.col("exact_join_rows"), 6).alias(
            "over_ratio"
        ),
    )


_SQL_CM_JOIN_SIZE = """
WITH ok AS (
    SELECT CAST(o_orderkey AS VARCHAR) AS k, CAST(count(*) AS BIGINT) AS cnt
    FROM orders GROUP BY 1
),
lk AS (
    SELECT CAST(l_orderkey AS VARCHAR) AS k, CAST(count(*) AS BIGINT) AS cnt
    FROM lineitem GROUP BY 1
),
js AS (SELECT unnest([0, 1, 2, 3]) AS j),
co AS (
    SELECT j,
           CAST(CAST(('0x' || substr(md5(CAST(j AS VARCHAR) || '#' || k), 1, 8))
                     AS BIGINT) % 4096 AS INTEGER) AS slot,
           CAST(sum(cnt) AS BIGINT) AS c
    FROM ok, js GROUP BY 1, 2
),
cl AS (
    SELECT j,
           CAST(CAST(('0x' || substr(md5(CAST(j AS VARCHAR) || '#' || k), 1, 8))
                     AS BIGINT) % 4096 AS INTEGER) AS slot,
           CAST(sum(cnt) AS BIGINT) AS c
    FROM lk, js GROUP BY 1, 2
),
per_j AS (
    SELECT co.j, CAST(sum(co.c * cl.c) AS BIGINT) AS est
    FROM co JOIN cl USING (j, slot) GROUP BY 1
),
per_j_full AS (
    -- a depth row with no overlapping slots estimates 0 and must enter
    -- the min (matches cm_inner_product's outer-join-over-depth)
    SELECT coalesce(est, 0) AS est
    FROM js LEFT JOIN per_j USING (j)
),
est AS (SELECT CAST(min(est) AS BIGINT) AS cm_join_est FROM per_j_full),
exact AS (
    SELECT CAST(count(*) AS BIGINT) AS exact_join_rows
    FROM orders JOIN lineitem ON o_orderkey = l_orderkey
)
SELECT exact_join_rows, cm_join_est,
       round(1e-9 + CAST(cm_join_est AS DOUBLE) / exact_join_rows, 6)
           AS over_ratio
FROM est, exact"""


_KMV_K = 64
# (k-1) * 2^60 folded to ONE Python double literal (exactly representable:
# 63 needs 6 mantissa bits) — both engines divide the same literal by the
# same integer k-th hash, so the estimate is bit-identical.
_KMV_NUM = float(_KMV_K - 1) * float(1 << 60)


def q_kmv_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV (bottom-k / K-Minimum-Values) distinct-count sketch (Beyer et
    al. 2007): per-event-type user-day cardinality from a 64-row hash
    sketch, plus the set-UNION estimate from merging the five per-type
    sketches (`sketches.kmv_merge`) — the mergeability that HLL shares
    but exact COUNT(DISTINCT) does not.  The shuffled state is ≤ k
    distinct hashes per group regardless of input size; the exact
    distinct counts ride along as the verification harness.  Groups
    below k hashes take the exact path (the sketch IS the set)."""
    from .operators import sketches

    ev = load_tables(spark, sf_dir)["events"]
    base = ev.select(
        "event_type",
        F.concat_ws("#", F.col("user_id"), F.to_date("ts")).alias("v"),
    )
    bott = sketches.kmv_bottom_k(base, "v", ("event_type",), _KMV_K).persist()
    est_t = sketches.kmv_estimate_from_bottom(
        bott, ("event_type",), _KMV_K
    ).withColumnRenamed("event_type", "scope")
    merged = sketches.kmv_merge([bott.select("h")], (), _KMV_K)
    est_all = sketches.kmv_estimate_from_bottom(merged, (), _KMV_K).select(
        F.lit("ALL").alias("scope"), "n_kept", "est_distinct"
    )
    exact_t = (
        base.distinct()
        .groupBy(F.col("event_type").alias("scope"))
        .agg(F.count(F.lit(1)).cast("long").alias("exact_distinct"))
    )
    exact_all = (
        base.select("v")
        .distinct()
        .agg(F.count(F.lit(1)).cast("long").alias("exact_distinct"))
        .select(F.lit("ALL").alias("scope"), "exact_distinct")
    )
    est = est_t.unionByName(est_all)
    exact = exact_t.unionByName(exact_all)
    return est.join(exact, "scope").select(
        "scope",
        "n_kept",
        "est_distinct",
        "exact_distinct",
        _rnd(
            F.abs(F.col("est_distinct") - F.col("exact_distinct"))
            / F.col("exact_distinct"),
            4,
        ).alias("rel_err"),
    )


_SQL_KMV_DISTINCT = f"""
WITH base AS (
    SELECT event_type,
           CAST(user_id AS VARCHAR) || '#' ||
           CAST(CAST(ts AS DATE) AS VARCHAR) AS v
    FROM events
),
h AS (
    SELECT DISTINCT event_type,
           CAST(('0x' || substr(md5(v), 1, 15)) AS BIGINT) AS h
    FROM base
),
rb AS (
    SELECT event_type, h,
           row_number() OVER (PARTITION BY event_type ORDER BY h) AS rn
    FROM h
),
bott AS (SELECT event_type, h FROM rb WHERE rn <= {_KMV_K}),
est_t AS (
    SELECT event_type AS scope, CAST(count(*) AS BIGINT) AS n_kept,
           CAST(max(h) AS BIGINT) AS hk
    FROM bott GROUP BY 1
),
mh AS (SELECT DISTINCT h FROM bott),
rm AS (SELECT h, row_number() OVER (ORDER BY h) AS rn FROM mh),
est_all AS (
    SELECT 'ALL' AS scope, CAST(count(*) AS BIGINT) AS n_kept,
           CAST(max(h) AS BIGINT) AS hk
    FROM rm WHERE rn <= {_KMV_K}
),
uni AS (SELECT * FROM est_t UNION ALL SELECT * FROM est_all),
vals AS (
    SELECT scope, n_kept,
           round(1e-9 + CASE WHEN n_kept < {_KMV_K}
                             THEN CAST(n_kept AS DOUBLE)
                             ELSE {_KMV_NUM!r} / CAST(hk AS DOUBLE) END,
                 4) AS est_distinct
    FROM uni
),
exact_t AS (
    SELECT event_type AS scope,
           CAST(count(DISTINCT v) AS BIGINT) AS exact_distinct
    FROM base GROUP BY 1
),
exact_all AS (
    SELECT 'ALL' AS scope,
           CAST(count(DISTINCT v) AS BIGINT) AS exact_distinct
    FROM base
),
ex AS (SELECT * FROM exact_t UNION ALL SELECT * FROM exact_all)
SELECT v.scope, v.n_kept, v.est_distinct, e.exact_distinct,
       round(1e-9 + abs(v.est_distinct - e.exact_distinct)
             / e.exact_distinct, 4) AS rel_err
FROM vals v JOIN ex e USING (scope)"""


_MG_K = 16
_MG_SHARDS = 8


def q_mg_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Misra-Gries / SpaceSaving mergeable heavy hitters (Agarwal et al.
    2012): shard the event stream by record hash (each shard models one
    mapper's MG(k) summary, ≤ k rows), merge the shard summaries
    (`sketches.mg_merge`) and verify the theorem against exact counts —
    every surviving key satisfies 0 ≤ exact − est ≤ bound where bound =
    Σ shard deltas + merge delta ≤ n/(k+1).  The cluster-scale shape:
    only k·shards summary rows ever shuffle, never the key universe —
    the deterministic counterpart to Count-Min top-k (no collision
    overcount; undercount bounded instead)."""
    from .operators import sketches

    ev = load_tables(spark, sf_dir)["events"]
    base = ev.select(
        F.pmod(
            F.conv(
                F.substring(F.md5(F.col("event_id").cast("string")), 1, 15),
                16,
                10,
            ).cast("long"),
            F.lit(_MG_SHARDS),
        ).alias("shard"),
        F.col("user_id").alias("key"),
    )
    counts = base.groupBy("shard", "key").agg(
        F.count(F.lit(1)).cast("long").alias("cnt")
    ).persist()  # feeds the summary AND the delta accounting; sketch-sized
    ssum = sketches.mg_compress(counts, "key", "cnt", ("shard",), _MG_K)
    # sum EVERY shard's delta (a shard whose summary emptied still
    # contributes its subtraction to the undercount bound)
    shard_delta = sketches.mg_deltas(
        counts, "key", "cnt", ("shard",), _MG_K
    ).agg(F.sum("delta").cast("long").alias("d1"))
    merged = sketches.mg_merge(ssum.select("key", "weight"), (), _MG_K)
    exact = ev.groupBy(F.col("user_id").alias("key")).agg(
        F.count(F.lit(1)).cast("long").alias("exact_cnt")
    )
    out = (
        merged.join(exact, "key")
        .crossJoin(F.broadcast(shard_delta))
        .select(
            "key",
            F.col("weight").alias("est"),
            "exact_cnt",
            (F.col("exact_cnt") - F.col("weight")).cast("long").alias(
                "undercount"
            ),
            (F.col("d1") + F.col("delta")).cast("long").alias("bound"),
        )
        .withColumn(
            "ok",
            (
                (F.col("undercount") >= 0)
                & (F.col("undercount") <= F.col("bound"))
            ).cast("int"),
        )
    )
    w = Window.orderBy(F.desc("est"), F.asc("key"))
    return out.withColumn("rank", F.row_number().over(w).cast("int"))


def q_stream_mg_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.9 × sketches: STREAMING Misra-Gries heavy hitters — the 15th
    streaming query and the deterministic-guarantee top-k beside
    q_stream_cm's randomized counts: per-shard MG(k) counters maintained
    by a custom `applyInPandasWithState` operator (state ≤ k rows per
    shard, fixed regardless of feed volume), shards keyed by a HASH OF
    THE KEY so each key's whole stream folds into one summary.

    What the oracle gates is the slicing-INVARIANT part of MG: every key
    with global frequency > n/(k+1) is guaranteed a surviving counter
    under ANY micro-batch slicing (streaming/topk_stream.py), so the
    heavy-key set — exact counts computed batch-side, heaviness decided
    by the cross-multiplied integer cnt·(k+1) > n — inner-joined against
    the final summary must equal the heavy-key set itself.  A missing
    heavy key shrinks the row count and fails the gate.  Estimated
    weights are slicing-dependent and are bound-checked in pytest, never
    hash-compared.  Skew is planted: keys 0 and 1 each absorb ~25% of
    events (user_id % 4 < 2 folds to the tiny key), everyone else stays
    unique."""
    from .streaming.topk_stream import mg_topk_stream
    from .util import stream_feed

    ev = load_tables(spark, sf_dir)["events"].where(
        F.col("user_id").isNotNull() & F.col("ts").isNotNull()
    )
    skey = F.when(
        F.col("user_id") % 4 < 2, F.col("user_id") % 4
    ).otherwise(F.col("user_id"))
    feed = ev.select(skey.alias("key"))
    stream = (
        stream_feed(feed, "mg_feed", sf_dir)
        .withColumn(
            "shard",
            F.pmod(
                F.conv(
                    F.substring(F.md5(F.col("key").cast("string")), 1, 15),
                    16,
                    10,
                ).cast("long"),
                F.lit(_MG_SHARDS),
            ).cast("int"),
        )
    )
    out = mg_topk_stream(stream, k=_MG_K)
    sink = drain_available_now(out, "q_stream_mg_topk_sink", "update")
    # max-seq per shard via a window (a sink self-join trips Catalyst's
    # conflicting-reference check on the memory view); shard domain is 8
    final_keys = (
        sink.withColumn(
            "__mx", F.max("seq").over(Window.partitionBy("shard"))
        )
        .where(F.col("seq") == F.col("__mx"))
        .select("key")
        .distinct()
    )
    exact = feed.groupBy("key").agg(
        F.count(F.lit(1)).cast("long").alias("exact_cnt")
    )
    n = feed.agg(F.count(F.lit(1)).cast("long").alias("__n"))
    heavy = exact.crossJoin(F.broadcast(n)).where(
        F.col("exact_cnt") * (_MG_K + 1) > F.col("__n")
    )
    return heavy.join(final_keys, "key").select("key", "exact_cnt")


_SQL_STREAM_MG_TOPK = f"""
WITH keyed AS (
    SELECT CASE WHEN user_id % 4 < 2 THEN user_id % 4 ELSE user_id END
               AS key
    FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
),
tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM keyed)
SELECT key, CAST(count(*) AS BIGINT) AS exact_cnt
FROM keyed CROSS JOIN tot
GROUP BY key, n
HAVING count(*) * {_MG_K + 1} > n"""


_SQL_MG_TOPK = f"""
WITH base AS (
    SELECT CAST(CAST(('0x' || substr(md5(CAST(event_id AS VARCHAR)), 1, 15))
                     AS BIGINT) % {_MG_SHARDS} AS BIGINT) AS shard,
           user_id AS key
    FROM events
),
counts AS (
    SELECT shard, key, CAST(count(*) AS BIGINT) AS cnt
    FROM base GROUP BY 1, 2
),
ranked AS (
    SELECT *, row_number() OVER (PARTITION BY shard
                                 ORDER BY cnt DESC, key ASC) AS rn
    FROM counts
),
sdelta AS (
    SELECT shard,
           CAST(max(CASE WHEN rn = {_MG_K + 1} THEN cnt ELSE 0 END)
                AS BIGINT) AS delta
    FROM ranked GROUP BY 1
),
ssum AS (
    SELECT r.key, CAST(r.cnt - d.delta AS BIGINT) AS weight
    FROM ranked r JOIN sdelta d USING (shard)
    WHERE r.rn <= {_MG_K} AND r.cnt > d.delta
),
merged AS (
    SELECT key, CAST(sum(weight) AS BIGINT) AS weight
    FROM ssum GROUP BY 1
),
mranked AS (
    SELECT *, row_number() OVER (ORDER BY weight DESC, key ASC) AS rn
    FROM merged
),
mdelta AS (
    SELECT CAST(max(CASE WHEN rn = {_MG_K + 1} THEN weight ELSE 0 END)
                AS BIGINT) AS delta
    FROM mranked
),
fin AS (
    SELECT key, CAST(weight - delta AS BIGINT) AS est, delta
    FROM mranked, mdelta
    WHERE rn <= {_MG_K} AND weight > delta
),
exact AS (
    SELECT user_id AS key, CAST(count(*) AS BIGINT) AS exact_cnt
    FROM events GROUP BY 1
),
d1 AS (SELECT CAST(sum(delta) AS BIGINT) AS d1 FROM sdelta)
SELECT f.key, f.est, e.exact_cnt,
       CAST(e.exact_cnt - f.est AS BIGINT) AS undercount,
       CAST(d1.d1 + f.delta AS BIGINT) AS bound,
       CAST(CASE WHEN e.exact_cnt - f.est >= 0
                  AND e.exact_cnt - f.est <= d1.d1 + f.delta
                 THEN 1 ELSE 0 END AS INTEGER) AS ok,
       CAST(row_number() OVER (ORDER BY f.est DESC, f.key ASC)
            AS INTEGER) AS rank
FROM fin f JOIN exact e USING (key), d1"""


def q_trend_ols(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Closed-form OLS trend per event-type daily series — the
    regression-as-aggregation pattern: slope, intercept and R² computed
    from SIX exact-integer power sums (n, Σx, Σy, Σxy, Σx², Σy²) in ONE
    map-side-combinable aggregation, then a handful of per-row double
    divisions.  No ML library, no iterative solver, no collect of the
    series — the same single pass works on a 100 TB fact because the
    shuffled state is six numbers per group.  x = days since the global
    first day (a broadcast scalar), y = daily event count."""
    ev = load_tables(spark, sf_dir)["events"]
    daily = ev.groupBy(
        "event_type", F.to_date("ts").alias("day")
    ).agg(F.count(F.lit(1)).cast("long").alias("y"))
    d0 = daily.agg(F.min("day").alias("d0"))
    xy = daily.crossJoin(F.broadcast(d0)).select(
        "event_type",
        F.datediff("day", "d0").cast("long").alias("x"),
        "y",
    )
    sums = xy.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").cast("long").alias("sx"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast("long").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"),
        F.sum(F.col("y") * F.col("y")).cast("long").alias("syy"),
    )
    sxx_n = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    sxy_n = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    syy_n = F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")
    intercept_num = F.col("sy") * F.col("sxx") - F.col("sx") * F.col("sxy")
    r2 = F.when(
        syy_n > 0,
        (sxy_n.cast("double") * sxy_n.cast("double"))
        / (sxx_n.cast("double") * syy_n.cast("double")),
    )
    return sums.select(
        "event_type",
        F.col("n").alias("n_days"),
        "sy",
        _rnd(sxy_n.cast("double") / sxx_n.cast("double"), 6).alias("slope"),
        _rnd(
            intercept_num.cast("double") / sxx_n.cast("double"), 6
        ).alias("intercept"),
        _rnd(r2, 6).alias("r2"),
    )


_SQL_TREND_OLS = """
WITH daily AS (
    SELECT event_type, CAST(ts AS DATE) AS day,
           CAST(count(*) AS BIGINT) AS y
    FROM events GROUP BY 1, 2
),
d0 AS (SELECT min(day) AS d0 FROM daily),
xy AS (
    SELECT event_type, CAST(datediff('day', d0, day) AS BIGINT) AS x, y
    FROM daily, d0
),
sums AS (
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(x) AS BIGINT) AS sx,
           CAST(sum(y) AS BIGINT) AS sy,
           CAST(sum(x * y) AS BIGINT) AS sxy,
           CAST(sum(x * x) AS BIGINT) AS sxx,
           CAST(sum(y * y) AS BIGINT) AS syy
    FROM xy GROUP BY 1
)
SELECT event_type, n AS n_days, sy,
       round(1e-9 + CAST(n * sxy - sx * sy AS DOUBLE)
             / CAST(n * sxx - sx * sx AS DOUBLE), 6) AS slope,
       round(1e-9 + CAST(sy * sxx - sx * sxy AS DOUBLE)
             / CAST(n * sxx - sx * sx AS DOUBLE), 6) AS intercept,
       round(1e-9 + CASE WHEN n * syy - sy * sy > 0 THEN
             (CAST(n * sxy - sx * sy AS DOUBLE)
              * CAST(n * sxy - sx * sy AS DOUBLE))
             / (CAST(n * sxx - sx * sx AS DOUBLE)
                * CAST(n * syy - sy * sy AS DOUBLE)) END, 6) AS r2
FROM sums"""


def q_quantile_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile normalization of document length across sources — the
    batch-effect correction (microarray-style) that makes per-source
    length distributions comparable: every doc maps to its WITHIN-SOURCE
    percentile (midrank over the per-source value CDF — ties share a
    percentile, NO row ever gets a rank and no per-source sort ever
    runs), then takes the GLOBAL value at that percentile as its
    normalized length.

    Exactness: everything is integer — midranks fold as 2R = 2·cle−c+1
    off the grouped CDF, the percentile bucket is a floor division
    clamped to [0,99], and the global reference per bucket is a
    conditional-min CDF selection (min v with 200·cle ≥ (2p+1)·N, the
    slo_burn pattern) — a DATA value, never an interpolated float.
    Shape: two distinct-value CDFs (per-source + global) and one
    group-grain equi-join back to the corpus; the 100-row grid is
    literal."""
    from .operators.sampling import bucketed_value_cumsum

    docs = _docs(spark, sf_dir).select("doc_id", "source", "n_chars")
    scdf = bucketed_value_cumsum(
        docs.select("source", "n_chars"), "n_chars", ("source",)
    )
    ng = scdf.groupBy("source").agg(
        F.max("__cle").cast("long").alias("n_g")
    )
    pcts = scdf.join(F.broadcast(ng), "source").select(
        F.col("source").alias("__src"),
        F.col("__v").alias("__val"),
        F.expr(
            "CAST(least(99, (100 * (2 * __cle - __c + 1)) div (2 * n_g))"
            " AS INT)"
        ).alias("pct"),
    )
    gcdf = bucketed_value_cumsum(docs.select("n_chars"), "n_chars")
    ntot = docs.agg(F.count(F.lit(1)).cast("long").alias("N"))
    grid = spark.range(0, 100).select(F.col("id").cast("int").alias("p"))
    ref = (
        gcdf.crossJoin(F.broadcast(ntot))
        .crossJoin(F.broadcast(grid))
        .where(200 * F.col("__cle") >= (2 * F.col("p") + 1) * F.col("N"))
        .groupBy("p")
        .agg(F.min("__v").cast("long").alias("v_ref"))
    )
    return (
        docs.join(
            pcts,
            (F.col("source") == F.col("__src"))
            & (F.col("n_chars") == F.col("__val")),
        )
        .join(F.broadcast(ref), F.col("pct") == F.col("p"))
        .select("doc_id", "source", "n_chars", "pct", "v_ref")
    )


_SQL_QUANTILE_NORMALIZE = """
WITH d AS (SELECT doc_id, source, n_chars FROM documents),
vc AS (
    SELECT source, n_chars AS v, CAST(count(*) AS BIGINT) AS c
    FROM d GROUP BY 1, 2
),
scdf AS (
    SELECT source, v, c,
           CAST(sum(c) OVER (PARTITION BY source ORDER BY v
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS BIGINT) AS cle
    FROM vc
),
ng AS (SELECT source, CAST(max(cle) AS BIGINT) AS n_g FROM scdf GROUP BY 1),
pcts AS (
    SELECT s.source, s.v,
           CAST(least(99, (100 * (2 * s.cle - s.c + 1)) // (2 * g.n_g))
                AS INT) AS pct
    FROM scdf s JOIN ng g USING (source)
),
gvc AS (
    SELECT n_chars AS v, CAST(count(*) AS BIGINT) AS c FROM d GROUP BY 1
),
gcdf AS (
    SELECT v,
           CAST(sum(c) OVER (ORDER BY v
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS BIGINT) AS cle
    FROM gvc
),
nt AS (SELECT CAST(count(*) AS BIGINT) AS N FROM d),
grid AS (SELECT unnest(range(0, 100)) AS p),
ref AS (
    SELECT p, CAST(min(v) AS BIGINT) AS v_ref
    FROM gcdf, nt, grid
    WHERE 200 * cle >= (2 * p + 1) * N
    GROUP BY 1
)
SELECT doc_id, d.source, n_chars, pct, v_ref
FROM d
JOIN pcts ON d.source = pcts.source AND d.n_chars = pcts.v
JOIN ref ON ref.p = pcts.pct"""


_SAX_SEG_DAYS = 8       # PAA segment width (days)
# N(0,1) quartile breakpoints for a 4-symbol alphabet, folded to Python
# double literals so both engines compare against identical constants
_SAX_BP = (-0.6744897501960817, 0.0, 0.6744897501960817)


def q_sax_symbols(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SAX symbolic discretization of the daily purchase-revenue series
    — the time-series indexing primitive (Lin et al.'s Symbolic
    Aggregate approXimation): PAA segment means over fixed 8-day
    windows, z-normalized against the whole series, then mapped to a
    4-symbol alphabet at the N(0,1) quartile breakpoints.  The symbol
    string is what similarity search / motif discovery over millions of
    series actually indexes — two series match only if their SAX words
    collide, the same candidate-pruning shape as MinHash bands.

    Exactness: the daily series is BIGINT cents; segment sums/counts,
    the global n/Σy/Σy² and the population variance numerator
    (n·Σy² − (Σy)²) are exact integers; mean, std (one sqrt), PAA and z
    are per-row engine-identical doubles; breakpoints are shared Python
    double literals.  Shape: one corpus aggregation to the day grain,
    then day- and segment-grain metadata work."""
    ev = load_tables(spark, sf_dir)["events"].where(
        F.col("ts").isNotNull() & F.col("value").isNotNull()
    )
    daily = ev.groupBy(F.to_date("ts").alias("day")).agg(
        F.sum(
            F.when(
                F.col("event_type") == "purchase",
                F.round(F.col("value") * 100).cast("long"),
            ).otherwise(0)
        )
        .cast("long")
        .alias("y")
    )
    d0 = daily.agg(F.min("day").alias("d0"))
    seg = daily.crossJoin(F.broadcast(d0)).select(
        F.expr(f"CAST(datediff(day, d0) div {_SAX_SEG_DAYS} AS BIGINT)")
        .alias("seg"),
        "y",
    )
    tot = seg.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("y") * F.col("y")).cast("long").alias("syy"),
    )
    per_seg = seg.groupBy("seg").agg(
        F.count(F.lit(1)).cast("long").alias("n_days"),
        F.sum("y").cast("long").alias("sy_seg"),
    )
    scored = per_seg.crossJoin(F.broadcast(tot))
    z_txt = (
        "(sy_seg / CAST(n_days AS DOUBLE) - sy / CAST(n AS DOUBLE))"
        " / sqrt(CAST(n * syy - sy * sy AS DOUBLE) / (CAST(n AS DOUBLE) * n))"
    )
    sym_txt = (
        f"CASE WHEN n * syy - sy * sy <= 0 THEN NULL"
        f" WHEN ({z_txt}) < {_SAX_BP[0]!r} THEN 'a'"
        f" WHEN ({z_txt}) < {_SAX_BP[1]!r} THEN 'b'"
        f" WHEN ({z_txt}) < {_SAX_BP[2]!r} THEN 'c'"
        f" ELSE 'd' END"
    )
    return scored.select(
        "seg",
        "n_days",
        _rnd(F.col("sy_seg") / F.col("n_days").cast("double"), 4)
        .alias("paa"),
        _rnd(
            F.when(
                F.col("n") * F.col("syy") - F.col("sy") * F.col("sy") > 0,
                F.expr(z_txt),
            ),
            4,
        ).alias("z"),
        F.expr(sym_txt).alias("symbol"),
    )


_SQL_SAX_SYMBOLS = f"""
WITH daily AS (
    SELECT CAST(ts AS DATE) AS day,
           CAST(sum(CASE WHEN event_type = 'purchase'
                    THEN CAST(round(value * 100) AS BIGINT)
                    ELSE 0 END) AS BIGINT) AS y
    FROM events WHERE ts IS NOT NULL AND value IS NOT NULL
    GROUP BY 1
),
d0 AS (SELECT min(day) AS d0 FROM daily),
seg AS (
    SELECT CAST(date_diff('day', d0, day) // {_SAX_SEG_DAYS} AS BIGINT)
               AS seg,
           y
    FROM daily, d0
),
tot AS (
    SELECT CAST(count(*) AS BIGINT) AS n,
           CAST(sum(y) AS BIGINT) AS sy,
           CAST(sum(y * y) AS BIGINT) AS syy
    FROM seg
),
per_seg AS (
    SELECT seg, CAST(count(*) AS BIGINT) AS n_days,
           CAST(sum(y) AS BIGINT) AS sy_seg
    FROM seg GROUP BY 1
)
SELECT seg, n_days,
       round(1e-9 + sy_seg / CAST(n_days AS DOUBLE), 4) AS paa,
       round(1e-9 + (CASE WHEN n * syy - sy * sy > 0 THEN
             (sy_seg / CAST(n_days AS DOUBLE) - sy / CAST(n AS DOUBLE))
             / sqrt(CAST(n * syy - sy * sy AS DOUBLE)
                    / (CAST(n AS DOUBLE) * n)) END), 4) AS z,
       CASE WHEN n * syy - sy * sy <= 0 THEN NULL
            WHEN (sy_seg / CAST(n_days AS DOUBLE) - sy / CAST(n AS DOUBLE))
                 / sqrt(CAST(n * syy - sy * sy AS DOUBLE)
                        / (CAST(n AS DOUBLE) * n)) < {_SAX_BP[0]!r} THEN 'a'
            WHEN (sy_seg / CAST(n_days AS DOUBLE) - sy / CAST(n AS DOUBLE))
                 / sqrt(CAST(n * syy - sy * sy AS DOUBLE)
                        / (CAST(n AS DOUBLE) * n)) < {_SAX_BP[1]!r} THEN 'b'
            WHEN (sy_seg / CAST(n_days AS DOUBLE) - sy / CAST(n AS DOUBLE))
                 / sqrt(CAST(n * syy - sy * sy AS DOUBLE)
                        / (CAST(n AS DOUBLE) * n)) < {_SAX_BP[2]!r} THEN 'c'
            ELSE 'd' END AS symbol
FROM per_seg, tot"""


# log10(1 + 1/d) folded to Python double literals — both engines consume
# the identical constants, so no cross-engine log rounding can differ.
_BENFORD_P = {d: math.log10(1.0 + 1.0 / d) for d in range(1, 10)}
# chi2(8 df, alpha=0.05) critical value
_BENFORD_CRIT = 15.507


def q_benford(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford first-significant-digit audit over order totals — the
    fraud/synthetic-data screen: exact digit counts (one aggregation over
    a 9-value domain) vs the log10(1+1/d) expectation, per-digit χ²
    contribution and the group total against the 15.507 critical value
    (8 df, α=0.05).  Expectation constants are driver-folded literals;
    the only aggregation after the digit histogram runs over nine rows.
    Synthetic uniform prices are expected to FAIL Benford — the flag
    demonstrating the detector fires is part of the contract."""
    od = load_tables(spark, sf_dir)["orders"]
    digit = F.substring(
        F.floor(F.col("o_totalprice")).cast("long").cast("string"), 1, 1
    ).cast("int")
    obs = (
        od.where(F.col("o_totalprice") > 0)
        .select(digit.alias("digit"))
        .groupBy("digit")
        .agg(F.count(F.lit(1)).cast("long").alias("obs"))
    )
    p_expr = F.element_at(
        F.create_map(
            *[
                x
                for d in range(1, 10)
                for x in (F.lit(d), F.lit(_BENFORD_P[d]))
            ]
        ),
        F.col("digit"),
    )
    tot = obs.agg(F.sum("obs").cast("long").alias("n"))
    per = obs.crossJoin(F.broadcast(tot)).select(
        "digit",
        "obs",
        "n",
        p_expr.alias("__p"),
    )
    contrib = (
        (F.col("obs").cast("double") - F.col("n").cast("double") * F.col("__p"))
        * (F.col("obs").cast("double") - F.col("n").cast("double") * F.col("__p"))
        / (F.col("n").cast("double") * F.col("__p"))
    )
    per = per.select(
        "digit",
        "obs",
        "n",
        _rnd(F.col("obs") / F.col("n").cast("double"), 6).alias("share"),
        _rnd(F.col("__p"), 6).alias("exp_p"),
        _rnd(contrib, 6).alias("contrib"),
        contrib.alias("__c"),
    )
    chi = per.agg(_rnd(F.sum("__c"), 4).alias("chi2"))
    return (
        per.drop("__c")
        .crossJoin(F.broadcast(chi))
        .withColumn(
            "benford_ok", (F.col("chi2") < F.lit(_BENFORD_CRIT)).cast("int")
        )
    )


def _sql_benford() -> str:
    vals = ", ".join(f"({d}, {_BENFORD_P[d]!r})" for d in range(1, 10))
    return f"""
WITH exp_p AS (SELECT * FROM (VALUES {vals}) AS t(digit, p)),
obs AS (
    SELECT CAST(substr(CAST(CAST(floor(o_totalprice) AS BIGINT) AS VARCHAR),
                       1, 1) AS INTEGER) AS digit,
           CAST(count(*) AS BIGINT) AS obs
    FROM orders WHERE o_totalprice > 0 GROUP BY 1
),
tot AS (SELECT CAST(sum(obs) AS BIGINT) AS n FROM obs),
per AS (
    SELECT o.digit, o.obs, t.n,
           round(1e-9 + o.obs / CAST(t.n AS DOUBLE), 6) AS share,
           round(1e-9 + e.p, 6) AS exp_p,
           round(1e-9 + (CAST(o.obs AS DOUBLE) - CAST(t.n AS DOUBLE) * e.p)
                 * (CAST(o.obs AS DOUBLE) - CAST(t.n AS DOUBLE) * e.p)
                 / (CAST(t.n AS DOUBLE) * e.p), 6) AS contrib,
           (CAST(o.obs AS DOUBLE) - CAST(t.n AS DOUBLE) * e.p)
           * (CAST(o.obs AS DOUBLE) - CAST(t.n AS DOUBLE) * e.p)
           / (CAST(t.n AS DOUBLE) * e.p) AS c
    FROM obs o JOIN exp_p e USING (digit), tot t
),
chi AS (SELECT round(1e-9 + sum(c), 4) AS chi2 FROM per)
SELECT p.digit, p.obs, p.n, p.share, p.exp_p, p.contrib, c.chi2,
       CAST(CASE WHEN c.chi2 < {_BENFORD_CRIT!r} THEN 1 ELSE 0 END
            AS INTEGER) AS benford_ok
FROM per p, chi c"""


_BOOT_B = 32
# Poisson(1) CDF thresholds scaled to the 52-bit hash space as EXACT
# integers (Python-folded): r(u) = #{j : u >= t_j} for j = 0..6, so the
# resample count is decided by integer comparisons only — no float
# boundary can disagree cross-engine.  Truncation at r <= 7 is part of
# the estimator's definition (P(r > 7 | lambda=1) ~ 1e-5).
_BOOT_T = [
    int(sum(math.exp(-1.0) / math.factorial(i) for i in range(j + 1)) * (1 << 52))
    for j in range(7)
]


def q_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Poisson bootstrap of the mean purchase value — THE way to
    bootstrap a 100 TB metric: instead of materializing B resampled
    copies, each row draws B independent Poisson(1) resample counts from
    md5(replicate # row) and every replicate reduces in the SAME single
    pass (map-side combinable; shuffled state = B partial sums).  The
    replicate means' order statistics give the CI (ranks 2 and 31 of 32
    ≈ a 94% interval); the point estimate rides along.  Counts come from
    integer threshold comparisons against the Python-folded Poisson CDF
    lattice, so every engine draws the identical resample."""
    ev = load_tables(spark, sf_dir)["events"]
    base = ev.where(
        (F.col("event_type") == "purchase") & F.col("value").isNotNull()
    ).select(
        "event_id",
        F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long").alias("v_u"),
    )
    rep = base.select(
        "v_u",
        F.explode(
            F.array(*[F.lit(b) for b in range(_BOOT_B)])
        ).alias("b"),
        F.conv(
            F.substring(
                F.md5(F.concat_ws("#", F.col("b"), F.col("event_id"))), 1, 13
            ),
            16,
            10,
        )
        .cast("long")
        .alias("u"),
    )
    r = sum(
        [F.when(F.col("u") >= F.lit(t), 1).otherwise(0) for t in _BOOT_T],
        F.lit(0),
    ).cast("long")
    reps = (
        rep.select("b", "v_u", r.alias("r"))
        .groupBy("b")
        .agg(
            F.sum(F.col("r") * F.col("v_u")).cast("long").alias("s"),
            F.sum("r").cast("long").alias("n_resampled"),
        )
        .select(
            F.col("b").cast("int").alias("b"),
            "n_resampled",
            _rnd(F.col("s") / 100.0 / F.col("n_resampled"), 6).alias(
                "mean_b"
            ),
        )
    )
    point = base.agg(
        _rnd(F.sum("v_u") / 100.0 / F.count(F.lit(1)), 6).alias("point_mean")
    )
    w = Window.orderBy("mean_b", "b")  # 32-row frame: safe unpartitioned
    ranked = reps.withColumn("__rk", F.row_number().over(w))
    ci = ranked.agg(
        F.max(F.when(F.col("__rk") == 2, F.col("mean_b"))).alias("ci_lo"),
        F.max(
            F.when(F.col("__rk") == _BOOT_B - 1, F.col("mean_b"))
        ).alias("ci_hi"),
    )
    return (
        ranked.drop("__rk")
        .crossJoin(F.broadcast(point))
        .crossJoin(F.broadcast(ci))
    )


def _sql_bootstrap_ci() -> str:
    rsum = " + ".join(
        f"(CASE WHEN u >= {t} THEN 1 ELSE 0 END)" for t in _BOOT_T
    )
    return f"""
WITH base AS (
    SELECT event_id,
           CAST(floor(value * 100 + 0.5) AS BIGINT) AS v_u
    FROM events
    WHERE event_type = 'purchase' AND value IS NOT NULL
),
rep AS (
    SELECT v_u, b,
           CAST(('0x' || substr(md5(CAST(b AS VARCHAR) || '#' ||
                                     CAST(event_id AS VARCHAR)), 1, 13))
                AS BIGINT) AS u
    FROM base, (SELECT unnest(generate_series(0, {_BOOT_B - 1})) AS b)
),
cnt AS (SELECT b, v_u, CAST({rsum} AS BIGINT) AS r FROM rep),
reps AS (
    SELECT CAST(b AS INTEGER) AS b,
           CAST(sum(r) AS BIGINT) AS n_resampled,
           round(1e-9 + CAST(sum(r * v_u) AS BIGINT) / 100.0
                 / CAST(sum(r) AS BIGINT), 6) AS mean_b
    FROM cnt GROUP BY 1
),
point AS (
    SELECT round(1e-9 + CAST(sum(v_u) AS BIGINT) / 100.0 / count(*), 6)
        AS point_mean
    FROM base
),
ranked AS (
    SELECT *, row_number() OVER (ORDER BY mean_b, b) AS rk FROM reps
),
ci AS (
    SELECT max(CASE WHEN rk = 2 THEN mean_b END) AS ci_lo,
           max(CASE WHEN rk = {_BOOT_B - 1} THEN mean_b END) AS ci_hi
    FROM ranked
)
SELECT r.b, r.n_resampled, r.mean_b, p.point_mean, c.ci_lo, c.ci_hi
FROM ranked r, point p, ci c"""


_EWMA_LAGS = 16  # dyadic window: weight 2^(16-l) for lag l in 1..16


def q_ewma_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EWMA control chart over the per-type daily count series with
    alpha = 1/2 — the one smoothing constant whose weights (2^(16-l))
    are exact integers, so the chart is bit-reproducible: numerator and
    denominator accumulate as integer lag sums (missing leading lags
    drop out of BOTH), the smoothed level divides once, and the spike
    (y > 2·ewma) / drop (y < ewma/2) flags compare cross-multiplied
    integers — no float ever decides an alert.  Windows only over the
    post-aggregation (type × day) frame; the alert thresholds use the
    PRIOR 16 days only (lag 1..16), so the monitored day never damps its
    own alarm."""
    ev = load_tables(spark, sf_dir)["events"]
    daily = ev.groupBy(
        "event_type", F.to_date("ts").alias("day")
    ).agg(F.count(F.lit(1)).cast("long").alias("y"))
    w = Window.partitionBy("event_type").orderBy("day")
    num = sum(
        [
            F.coalesce(F.lag("y", lag).over(w), F.lit(0))
            * F.lit(1 << (_EWMA_LAGS - lag))
            for lag in range(1, _EWMA_LAGS + 1)
        ],
        F.lit(0),
    ).cast("long")
    den = sum(
        [
            F.when(
                F.lag("y", lag).over(w).isNotNull(),
                F.lit(1 << (_EWMA_LAGS - lag)),
            ).otherwise(0)
            for lag in range(1, _EWMA_LAGS + 1)
        ],
        F.lit(0),
    ).cast("long")
    out = daily.select(
        "event_type", "day", "y", num.alias("__num"), den.alias("__den")
    )
    return out.select(
        "event_type",
        "day",
        "y",
        F.when(
            F.col("__den") > 0,
            _rnd(F.col("__num") / F.col("__den").cast("double"), 4),
        ).alias("ewma"),
        F.when(
            F.col("__den") > 0,
            (F.col("y") * F.col("__den") > 2 * F.col("__num")).cast("int"),
        )
        .otherwise(0)
        .alias("spike_flag"),
        F.when(
            F.col("__den") > 0,
            (2 * F.col("y") * F.col("__den") < F.col("__num")).cast("int"),
        )
        .otherwise(0)
        .alias("drop_flag"),
    )


def _sql_ewma_anomaly() -> str:
    num = " + ".join(
        f"coalesce(lag(y, {lag}) OVER w, 0) * {1 << (_EWMA_LAGS - lag)}"
        for lag in range(1, _EWMA_LAGS + 1)
    )
    den = " + ".join(
        f"(CASE WHEN lag(y, {lag}) OVER w IS NOT NULL"
        f" THEN {1 << (_EWMA_LAGS - lag)} ELSE 0 END)"
        for lag in range(1, _EWMA_LAGS + 1)
    )
    return f"""
WITH daily AS (
    SELECT event_type, CAST(ts AS DATE) AS day,
           CAST(count(*) AS BIGINT) AS y
    FROM events GROUP BY 1, 2
),
lagged AS (
    SELECT event_type, day, y,
           CAST({num} AS BIGINT) AS num,
           CAST({den} AS BIGINT) AS den
    FROM daily
    WINDOW w AS (PARTITION BY event_type ORDER BY day)
)
SELECT event_type, day, y,
       CASE WHEN den > 0
            THEN round(1e-9 + num / CAST(den AS DOUBLE), 4) END AS ewma,
       CAST(CASE WHEN den > 0 AND y * den > 2 * num THEN 1 ELSE 0 END
            AS INTEGER) AS spike_flag,
       CAST(CASE WHEN den > 0 AND 2 * y * den < num THEN 1 ELSE 0 END
            AS INTEGER) AS drop_flag
FROM lagged"""


def q_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over per-user event streams —
    the behavioral-model fit: consecutive pairs from ONE `lead` window
    per user on the (ts, event_id) total order (no self-join), exact
    pair/row-marginal counts, transition probability = one division.
    The window partitions by user, so the sort is per-user-sized and the
    pair generation is embarrassingly parallel at any scale; output is
    bounded by |event_type|²."""
    ev = load_tables(spark, sf_dir)["events"]
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = (
        ev.select(
            F.col("event_type").alias("from_type"),
            F.lead("event_type").over(w).alias("to_type"),
        )
        .where(F.col("to_type").isNotNull())
        .groupBy("from_type", "to_type")
        .agg(F.count(F.lit(1)).cast("long").alias("n_pairs"))
    )
    marg = pairs.groupBy("from_type").agg(
        F.sum("n_pairs").cast("long").alias("n_from")
    )
    return pairs.join(F.broadcast(marg), "from_type").select(
        "from_type",
        "to_type",
        "n_pairs",
        "n_from",
        _rnd(F.col("n_pairs") / F.col("n_from").cast("double"), 6).alias(
            "p_transition"
        ),
    )


_SQL_MARKOV_TRANSITIONS = """
WITH pairs AS (
    SELECT event_type AS from_type,
           lead(event_type) OVER (PARTITION BY user_id
                                  ORDER BY ts, event_id) AS to_type
    FROM events
),
cnt AS (
    SELECT from_type, to_type, CAST(count(*) AS BIGINT) AS n_pairs
    FROM pairs WHERE to_type IS NOT NULL GROUP BY 1, 2
),
marg AS (
    SELECT from_type, CAST(sum(n_pairs) AS BIGINT) AS n_from
    FROM cnt GROUP BY 1
)
SELECT c.from_type, c.to_type, c.n_pairs, m.n_from,
       round(1e-9 + c.n_pairs / CAST(m.n_from AS DOUBLE), 6) AS p_transition
FROM cnt c JOIN marg m USING (from_type)"""


# z²(alpha=0.05, two-sided) = 1.96² — the significance cutoff compares
# cross-multiplied EXACT integers against this one rational constant
_AB_Z2_NUM = 38416  # 1.96² = 3.8416 = 38416 / 10000
_AB_Z2_DEN = 10000


def q_ab_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-proportion A/B significance test on the exact integer lattice —
    the experimentation primitive: users split by id parity, conversion
    = did the user purchase, per-variant (converted, total) from one
    user-grain aggregation.  The pooled z² statistic is a ratio of
    integer polynomials, so the significant flag comes from a
    cross-multiplied INTEGER comparison against 1.96² = 38416/10⁴ — no
    float ever decides significance; the reported z rides along as one
    sqrt of the same exact rational (IEEE sqrt is correctly rounded).
    z² = (c1·n2 − c2·n1)² · n · 10⁴  >  38416 · c·(n−c) · n1·n2  ⇒ sig.
    Int64 bound: d²·n·10⁴ < 2⁶³ holds through ~40k users per variant;
    beyond that swap the flag to the (still deterministic) double z²
    comparison or rescale counts to thousands first."""
    ev = load_tables(spark, sf_dir)["events"]
    # conversion = a HIGH-VALUE purchase (>150): every synthetic user has
    # some purchase, so the naive definition saturates (c = n ⇒ zero
    # pooled variance); the thresholded rate is non-degenerate at all SFs
    users = ev.groupBy("user_id").agg(
        F.max(
            F.when(
                (F.col("event_type") == "purchase") & (F.col("value") > 150),
                1,
            ).otherwise(0)
        ).alias("converted")
    )
    per = users.groupBy(
        F.pmod(F.col("user_id"), F.lit(2)).cast("int").alias("variant")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("converted").cast("long").alias("c"),
    )
    a = per.where(F.col("variant") == 0).select(
        F.col("n").alias("n1"), F.col("c").alias("c1")
    )
    b = per.where(F.col("variant") == 1).select(
        F.col("n").alias("n2"), F.col("c").alias("c2")
    )
    j = a.crossJoin(b)  # 1×1 rows
    d = F.col("c1") * F.col("n2") - F.col("c2") * F.col("n1")
    n = F.col("n1") + F.col("n2")
    c = F.col("c1") + F.col("c2")
    lhs = d * d * n * F.lit(_AB_Z2_DEN)
    rhs = F.lit(_AB_Z2_NUM) * c * (n - c) * F.col("n1") * F.col("n2")
    z2 = (d * d * n).cast("double") / (
        c * (n - c) * F.col("n1") * F.col("n2")
    ).cast("double")
    return j.select(
        "n1",
        "c1",
        "n2",
        "c2",
        _rnd(F.col("c1") / F.col("n1").cast("double"), 6).alias("rate1"),
        _rnd(F.col("c2") / F.col("n2").cast("double"), 6).alias("rate2"),
        _rnd(F.sqrt(z2), 4).alias("z_abs"),
        (lhs > rhs).cast("int").alias("significant"),
    )


_SQL_AB_TEST = f"""
WITH users AS (
    SELECT user_id,
           max(CASE WHEN event_type = 'purchase' AND value > 150
                    THEN 1 ELSE 0 END) AS converted
    FROM events GROUP BY 1
),
per AS (
    SELECT CAST(user_id % 2 AS INTEGER) AS variant,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(converted) AS BIGINT) AS c
    FROM users GROUP BY 1
),
j AS (
    SELECT a.n AS n1, a.c AS c1, b.n AS n2, b.c AS c2
    FROM (SELECT n, c FROM per WHERE variant = 0) a,
         (SELECT n, c FROM per WHERE variant = 1) b
)
SELECT n1, c1, n2, c2,
       round(1e-9 + c1 / CAST(n1 AS DOUBLE), 6) AS rate1,
       round(1e-9 + c2 / CAST(n2 AS DOUBLE), 6) AS rate2,
       round(1e-9 + sqrt(CAST((c1*n2 - c2*n1) * (c1*n2 - c2*n1) * (n1+n2)
                              AS DOUBLE)
             / CAST((c1+c2) * (n1+n2-c1-c2) * n1 * n2 AS DOUBLE)), 4)
           AS z_abs,
       CAST(CASE WHEN (c1*n2 - c2*n1) * (c1*n2 - c2*n1) * (n1+n2)
                      * {_AB_Z2_DEN}
                      > {_AB_Z2_NUM} * (c1+c2) * (n1+n2-c1-c2) * n1 * n2
                 THEN 1 ELSE 0 END AS INTEGER) AS significant
FROM j"""


_WM_CHOICES_S = [60, 300, 900]  # candidate watermarks to audit
_WM_JITTER_S = 1800  # planted ingestion delay: md5(event_id) % 30 min


def q_watermark_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermark tuning audit — "how much data would a W-second
    watermark drop?": for each candidate W, count rows whose event time
    trails the high-watermark (max event time over all EARLIER arrivals)
    by more than W.  The synthetic feed arrives in event-time order, so
    a deterministic md5 ingestion delay (≤30 min) is planted first — the
    same planted-construction discipline as the dedup twins.

    Scale shape: the running max is NOT one corpus-wide window — arrivals
    bucket by hour, each bucket computes its internal 1-preceding running
    max in parallel, and a tiny per-bucket max table (cumulative-maxed
    over the ~hundreds of buckets) broadcasts back as the carry-in; the
    composition equals the strict-predecessor max on the total
    (arrival, event_id) order.  All time arithmetic on integer
    microseconds; the oracle states the same fixpoint as one window."""
    ev = load_tables(spark, sf_dir)["events"]
    jit = (
        F.conv(
            F.substring(F.md5(F.col("event_id").cast("string")), 1, 15), 16, 10
        ).cast("long")
        % F.lit(_WM_JITTER_S)
    ) * F.lit(1_000_000)
    base = ev.select(
        "event_id",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("t_us"),
        (F.unix_micros(F.col("ts").cast("timestamp")) + jit).alias("arr_us"),
    )
    b = base.withColumn("bucket", F.col("arr_us") - F.pmod(F.col("arr_us"), F.lit(3_600_000_000)))
    w_in = (
        Window.partitionBy("bucket")
        .orderBy("arr_us", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    bmax = b.groupBy("bucket").agg(F.max("t_us").alias("bmax"))
    # cumulative max over the tiny bucket frame, EXCLUSIVE of own bucket
    w_b = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, -1)
    carry = bmax.select(
        "bucket", F.max("bmax").over(w_b).alias("carry")
    )
    hw = (
        b.withColumn("in_max", F.max("t_us").over(w_in))
        .join(F.broadcast(carry), "bucket")
        .select(
            "t_us",
            # greatest skips NULLs: first-arrival-in-bucket rows take the
            # carry; bucket-0 rows with no carry take the in-bucket max
            F.greatest("in_max", "carry").alias("hw_prev"),
        )
    )
    wm = hw.crossJoin(
        F.broadcast(
            spark.createDataFrame(
                [(w,) for w in _WM_CHOICES_S], ["w_seconds"]
            ).select(F.col("w_seconds").cast("int").alias("w_seconds"))
        )
    )
    late = F.col("hw_prev").isNotNull() & (
        F.col("t_us")
        < F.col("hw_prev") - F.col("w_seconds").cast("long") * 1_000_000
    )
    return wm.groupBy("w_seconds").agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.sum(late.cast("long")).cast("long").alias("n_late"),
        _rnd(
            F.sum(late.cast("long")) / F.count(F.lit(1)).cast("double"), 6
        ).alias("share_late"),
        (
            F.max(
                F.when(
                    F.col("hw_prev").isNotNull(),
                    F.greatest(
                        F.col("hw_prev") - F.col("t_us"), F.lit(0)
                    ),
                ).otherwise(0)
            )
            / F.lit(1_000_000)
        )
        .cast("long")
        .alias("max_lateness_s"),
    )


def _sql_watermark_audit() -> str:
    ws = ", ".join(str(w) for w in _WM_CHOICES_S)
    return f"""
WITH base AS (
    SELECT event_id, epoch_us(ts) AS t_us,
           epoch_us(ts) + (CAST(('0x' || substr(md5(CAST(event_id AS VARCHAR)),
                                                 1, 15)) AS BIGINT)
                           % {_WM_JITTER_S}) * 1000000 AS arr_us
    FROM events
),
hw AS (
    SELECT t_us,
           max(t_us) OVER (ORDER BY arr_us, event_id
                           ROWS BETWEEN UNBOUNDED PRECEDING
                           AND 1 PRECEDING) AS hw_prev
    FROM base
),
wm AS (SELECT CAST(unnest([{ws}]) AS INTEGER) AS w_seconds)
SELECT w.w_seconds,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(CASE WHEN hw_prev IS NOT NULL
                      AND t_us < hw_prev - CAST(w.w_seconds AS BIGINT)
                                           * 1000000
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_late,
       round(1e-9 + sum(CASE WHEN hw_prev IS NOT NULL
                              AND t_us < hw_prev
                                  - CAST(w.w_seconds AS BIGINT) * 1000000
                             THEN 1 ELSE 0 END)
             / CAST(count(*) AS DOUBLE), 6) AS share_late,
       CAST(max(CASE WHEN hw_prev IS NOT NULL
                     THEN greatest(hw_prev - t_us, 0) ELSE 0 END)
            // 1000000 AS BIGINT) AS max_lateness_s
FROM hw, wm w GROUP BY 1"""


def q_sliding_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding 7-day distinct-user counts from per-day HLL register
    files — the rolling-cardinality pattern exact COUNT(DISTINCT) can't
    do at scale: a day's users are sketched ONCE into ≤512 register rows,
    and each 7-day window is a register-wise MAX over the 7 contributing
    day files (each register row fans out to its ≤7 target days — a
    bounded explode of sketch rows, never of events).  History is never
    rescanned: yesterday's registers are immutable, today's window reuses
    them — the same property that makes the 100 TB backfill incremental.
    Exact windowed distincts ride along as verification."""
    from .operators import sketches

    ev = load_tables(spark, sf_dir)["events"]
    base = ev.select(F.to_date("ts").alias("day"), "user_id")
    regs = sketches.hll_registers(base, "user_id", ("day",), p=9)
    days = base.select("day").distinct()
    fan = regs.select(
        F.explode(
            F.sequence(F.col("day"), F.date_add(F.col("day"), 6))
        ).alias("t_day"),
        "bucket",
        "rho",
    ).join(F.broadcast(days.select(F.col("day").alias("t_day"))), "t_day")
    win_regs = fan.groupBy("t_day", "bucket").agg(F.max("rho").alias("rho"))
    est = sketches.hll_estimate_from_registers(win_regs, ("t_day",), p=9)
    du = base.distinct()
    exact = (
        days.alias("t")
        .join(
            du.alias("e"),
            (F.col("e.day") >= F.date_sub(F.col("t.day"), 6))
            & (F.col("e.day") <= F.col("t.day")),
        )
        .groupBy(F.col("t.day").alias("t_day"))
        .agg(F.count_distinct("e.user_id").cast("long").alias("exact_7d"))
    )
    return est.join(exact, "t_day").select(
        F.col("t_day").alias("day"),
        "used_registers",
        _rnd(F.col("est_distinct"), 4).alias("est_7d"),
        "exact_7d",
        _rnd(
            (F.col("est_distinct") - F.col("exact_7d")) / F.col("exact_7d"),
            6,
        ).alias("rel_err"),
    )


def _sql_sliding_distinct() -> str:
    from .operators import sketches

    tail = sketches.sql_hll_estimate_from_registers(
        "win_regs", ("t_day",), p=9, prefix="s"
    )
    return f"""
WITH base AS (
    SELECT CAST(ts AS DATE) AS day, user_id FROM events
),
h AS (
    SELECT day,
           CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15))
                AS BIGINT) AS h
    FROM base
),
regs AS (
    SELECT day,
           CAST(h % 512 AS INTEGER) AS bucket,
           CAST(max(CASE WHEN h // 512 = 0 THEN 52
                         ELSE 52 - length(bin(h // 512)) END)
                AS INTEGER) AS rho
    FROM h GROUP BY 1, 2
),
days AS (SELECT DISTINCT day FROM base),
win_regs AS (
    SELECT d.day AS t_day, r.bucket,
           CAST(max(r.rho) AS INTEGER) AS rho
    FROM days d JOIN regs r
      ON r.day >= d.day - 6 AND r.day <= d.day
    GROUP BY 1, 2
),
{tail},
exact AS (
    SELECT d.day AS t_day,
           CAST(count(DISTINCT e.user_id) AS BIGINT) AS exact_7d
    FROM days d JOIN (SELECT DISTINCT day, user_id FROM base) e
      ON e.day >= d.day - 6 AND e.day <= d.day
    GROUP BY 1
)
SELECT s.t_day AS day, s.used_registers,
       round(1e-9 + s.est_distinct, 4) AS est_7d,
       x.exact_7d,
       round(1e-9 + (s.est_distinct - x.exact_7d) / x.exact_7d, 6)
           AS rel_err
FROM s_est s JOIN exact x USING (t_day)"""


_RRF_C = 60  # the standard reciprocal-rank-fusion constant (Cormack 2009)
_RRF_DEPTH = 50  # fuse only each ranker's top-50 (the production shape)
_RRF_TOP = 20


def q_rrf_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval: reciprocal-rank fusion of the BM25 lexical
    ranking (q_bm25's exact pipeline) and the embedding-cosine ranking
    (vec_id 0 as the query; q_knn_bruteforce's exact scorer) — the
    lexical+vector fusion every RAG stack runs.  Production shape: each
    ranker contributes only its top-50 (rank lists, not score lists —
    RRF is scale-free by construction), fusion is a full outer join of
    two ≤50-row lists, score = Σ 1/(60+rank) with absent ranks
    contributing 0.  Determinism: lexical ranks order by the ROUNDED
    BM25 (both engines rank identical values), vector ranks by the
    per-row exact cosine — both tie-break on doc_id.  At corpus scale
    swap the ranking windows for `sampling.top_k_prune`; the fusion join
    itself never grows past 2·depth rows."""
    from .operators import similarity

    w_lex = Window.orderBy(F.desc("bm25"), F.asc("doc_id"))
    lex = (
        q_bm25(spark, sf_dir)
        .withColumn("rank_lex", F.row_number().over(w_lex))
        .where(F.col("rank_lex") <= _RRF_DEPTH)
        .select("doc_id", "rank_lex")
    )
    emb = _emb(spark, sf_dir)
    knn = similarity.brute_force_knn(
        emb.where(F.col("vec_id") == 0), _scale_out(emb), k=_RRF_DEPTH
    )
    w_vec = Window.orderBy(F.desc("sim"), F.asc("doc_id"))
    vec = (
        knn.select(F.col("neighbor_id").alias("doc_id"), "sim")
        .withColumn("rank_vec", F.row_number().over(w_vec))
        .select("doc_id", "rank_vec")
    )
    fused = lex.join(vec, "doc_id", "full")
    rrf = F.coalesce(
        F.lit(1.0) / (F.lit(_RRF_C) + F.col("rank_lex")), F.lit(0.0)
    ) + F.coalesce(
        F.lit(1.0) / (F.lit(_RRF_C) + F.col("rank_vec")), F.lit(0.0)
    )
    w_f = Window.orderBy(F.desc("__rrf"), F.asc("doc_id"))
    return (
        fused.withColumn("__rrf", rrf)
        .withColumn("fused_rank", F.row_number().over(w_f).cast("int"))
        .where(F.col("fused_rank") <= _RRF_TOP)
        .select(
            "fused_rank",
            "doc_id",
            F.col("rank_lex").cast("int").alias("rank_lex"),
            F.col("rank_vec").cast("int").alias("rank_vec"),
            _rnd(F.col("__rrf"), 6).alias("rrf_score"),
        )
    )


_SQL_RRF_FUSION = rf"""
WITH tok AS (
    SELECT doc_id,
           list_filter(string_split_regex(text, '\s+'), t -> t <> '') AS w
    FROM documents
),
dl AS (SELECT doc_id, CAST(len(w) AS BIGINT) AS dl FROM tok),
tf AS (
    SELECT doc_id, term, count(*) AS tf
    FROM (SELECT doc_id, unnest(w) AS term FROM tok)
    WHERE term IN ('hash', 'join', 'scan')
    GROUP BY 1, 2
),
dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
stats AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM dl),
scored AS (
    SELECT t.doc_id,
           ln((s.n_docs - d.df + 0.5) / (d.df + 0.5) + 1.0)
           * (t.tf * 2.2)
           / (t.tf + 1.2 * (0.25 + 0.75 * l.dl / s.avgdl)) AS c
    FROM tf t
    JOIN dfreq d USING (term)
    JOIN dl l USING (doc_id)
    CROSS JOIN stats s
),
bm AS (
    SELECT doc_id, round(1e-9 + sum(c), 6) AS bm25
    FROM scored GROUP BY 1
),
lex AS (
    SELECT doc_id, rank_lex FROM (
        SELECT doc_id,
               row_number() OVER (ORDER BY bm25 DESC, doc_id) AS rank_lex
        FROM bm
    ) WHERE rank_lex <= {_RRF_DEPTH}
),
q AS (
    SELECT CAST(embedding AS DOUBLE[]) AS v FROM embeddings WHERE vec_id = 0
),
c AS (
    SELECT vec_id AS doc_id, CAST(embedding AS DOUBLE[]) AS v
    FROM embeddings
),
vs AS (
    SELECT c.doc_id, {_COS} AS sim FROM c, q
),
vec AS (
    SELECT doc_id, rank_vec FROM (
        SELECT doc_id,
               row_number() OVER (ORDER BY sim DESC, doc_id) AS rank_vec
        FROM vs
    ) WHERE rank_vec <= {_RRF_DEPTH}
),
fused AS (
    SELECT coalesce(l.doc_id, v.doc_id) AS doc_id, l.rank_lex, v.rank_vec,
           coalesce(1.0 / ({_RRF_C} + l.rank_lex), 0.0)
           + coalesce(1.0 / ({_RRF_C} + v.rank_vec), 0.0) AS rrf
    FROM lex l FULL OUTER JOIN vec v ON l.doc_id = v.doc_id
)
SELECT CAST(row_number() OVER (ORDER BY rrf DESC, doc_id) AS INTEGER)
           AS fused_rank,
       doc_id,
       CAST(rank_lex AS INTEGER) AS rank_lex,
       CAST(rank_vec AS INTEGER) AS rank_vec,
       round(1e-9 + rrf, 6) AS rrf_score
FROM fused
QUALIFY fused_rank <= {_RRF_TOP}"""


def q_rank_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full SQL ranking-function surface in one frame — rank,
    dense_rank, percent_rank, ntile(4), cume_dist per order-priority
    over customer spend (exact 1e-2 integer lattice, custkey
    tie-break ⇒ a total order, so every function is deterministic).
    percent_rank/cume_dist/ntile need the whole partition — computed
    over the per-(priority, customer) KEY table (bounded by the customer
    domain, not the fact), then pruned to the top-10; the spend
    aggregation is the only fact-sized pass."""
    od = load_tables(spark, sf_dir)["orders"]
    spend = od.groupBy(
        "o_orderpriority", "o_custkey"
    ).agg(
        F.sum(F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)))
        .cast("long")
        .alias("spend_u")
    )
    w = Window.partitionBy("o_orderpriority").orderBy(
        F.desc("spend_u"), F.asc("o_custkey")
    )
    ranked = spend.select(
        "o_orderpriority",
        "o_custkey",
        "spend_u",
        F.rank().over(w).cast("int").alias("rnk"),
        F.dense_rank().over(w).cast("int").alias("dense_rnk"),
        _rnd(F.percent_rank().over(w), 6).alias("pct_rank"),
        F.ntile(4).over(w).cast("int").alias("quartile"),
        _rnd(F.cume_dist().over(w), 6).alias("cume"),
    )
    return ranked.where(F.col("rnk") <= 10)


_SQL_RANK_FUNCTIONS = """
WITH spend AS (
    SELECT o_orderpriority, o_custkey,
           CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
                AS BIGINT) AS spend_u
    FROM orders GROUP BY 1, 2
),
ranked AS (
    SELECT o_orderpriority, o_custkey, spend_u,
           CAST(rank() OVER w AS INTEGER) AS rnk,
           CAST(dense_rank() OVER w AS INTEGER) AS dense_rnk,
           round(1e-9 + percent_rank() OVER w, 6) AS pct_rank,
           CAST(ntile(4) OVER w AS INTEGER) AS quartile,
           round(1e-9 + cume_dist() OVER w, 6) AS cume
    FROM spend
    WINDOW w AS (PARTITION BY o_orderpriority
                 ORDER BY spend_u DESC, o_custkey ASC)
)
SELECT * FROM ranked WHERE rnk <= 10"""


def q_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multiset set-operation semantics — INTERSECT ALL / EXCEPT ALL /
    INTERSECT (distinct) between the urgent-order and low-order customer
    MULTISETS: bag semantics (min/difference of multiplicities) are the
    part of the SQL surface UNION/anti-join queries don't touch, and
    Spark's intersectAll/exceptAll compile to the same aggregate-
    replicate plans any engine uses.  Output: per-mode row and distinct
    cardinalities (the multiplicity-sensitive pair differs from the
    distinct pair exactly when bag semantics matter)."""
    od = load_tables(spark, sf_dir)["orders"]
    a = od.where(F.col("o_orderpriority") == "1-URGENT").select("o_custkey")
    b = od.where(F.col("o_orderpriority") == "5-LOW").select("o_custkey")

    def summ(df: DataFrame, mode: str) -> DataFrame:
        return df.agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.count_distinct("o_custkey").cast("long").alias("n_distinct"),
        ).select(F.lit(mode).alias("mode"), "n_rows", "n_distinct")

    return (
        summ(a.intersectAll(b), "intersect_all")
        .unionByName(summ(a.exceptAll(b), "except_all"))
        .unionByName(summ(a.intersect(b), "intersect_distinct"))
    )


_SQL_SET_OPS = """
WITH a AS (
    SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'
),
b AS (
    SELECT o_custkey FROM orders WHERE o_orderpriority = '5-LOW'
),
ia AS (SELECT o_custkey FROM a INTERSECT ALL SELECT o_custkey FROM b),
ea AS (SELECT o_custkey FROM a EXCEPT ALL SELECT o_custkey FROM b),
id_ AS (SELECT o_custkey FROM a INTERSECT SELECT o_custkey FROM b)
SELECT 'intersect_all' AS mode, CAST(count(*) AS BIGINT) AS n_rows,
       CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_distinct FROM ia
UNION ALL
SELECT 'except_all', CAST(count(*) AS BIGINT),
       CAST(count(DISTINCT o_custkey) AS BIGINT) FROM ea
UNION ALL
SELECT 'intersect_distinct', CAST(count(*) AS BIGINT),
       CAST(count(DISTINCT o_custkey) AS BIGINT) FROM id_"""


_DP_EPS = [(1, 10), (1, 1)]  # epsilon as exact rationals: 1/10, 1/1
_DP_MIN_COUNT = 10
# ln(1/0.05): the 95% Laplace CI half-width multiplier, driver-folded
_DP_CI95 = math.log(20.0)


def q_dp_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Differential-privacy release planner — the fourth leg of the
    governance family (k-anon / l-div / t-close audit WHO is exposed;
    this plans WHAT a Laplace release would cost in utility): for each
    (source × lang) histogram cell and each ε, the Laplace scale
    b = Δ/ε (sensitivity 1 for counts), expected absolute error b,
    95% CI half-width b·ln20, relative error b/count, and the
    suppression flag (count < 10 or expected rel-err > 0.5 ⇒ the cell
    should be suppressed or coarsened before release).  Deterministic
    planning arithmetic over exact cell counts — no fake noise is drawn;
    ε arrives as exact rationals so b is one engine-identical division."""
    d = _docs(spark, sf_dir)
    cells = d.groupBy("source", "lang").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    eps = spark.createDataFrame(
        [(num, den) for num, den in _DP_EPS], "eps_num int, eps_den int"
    )
    j = cells.crossJoin(F.broadcast(eps))
    b = F.col("eps_den").cast("double") / F.col("eps_num").cast("double")
    rel = b / F.col("n").cast("double")
    return j.select(
        "source",
        "lang",
        "n",
        _rnd(F.col("eps_num") / F.col("eps_den").cast("double"), 4).alias(
            "epsilon"
        ),
        _rnd(b, 4).alias("laplace_b"),
        _rnd(b * F.lit(_DP_CI95), 4).alias("ci95_halfwidth"),
        _rnd(rel, 6).alias("expected_rel_err"),
        (
            (F.col("n") < _DP_MIN_COUNT)
            | (F.col("eps_den") * 2 > F.col("n") * F.col("eps_num"))
        )
        .cast("int")
        .alias("suppress"),
    )


def _sql_dp_budget() -> str:
    eps_vals = ", ".join(f"({n}, {d})" for n, d in _DP_EPS)
    return f"""
WITH cells AS (
    SELECT source, lang, CAST(count(*) AS BIGINT) AS n
    FROM documents GROUP BY 1, 2
),
eps AS (
    SELECT CAST(eps_num AS INTEGER) AS eps_num,
           CAST(eps_den AS INTEGER) AS eps_den
    FROM (VALUES {eps_vals}) AS t(eps_num, eps_den)
)
SELECT c.source, c.lang, c.n,
       round(1e-9 + eps_num / CAST(eps_den AS DOUBLE), 4) AS epsilon,
       round(1e-9 + eps_den / CAST(eps_num AS DOUBLE), 4) AS laplace_b,
       round(1e-9 + eps_den / CAST(eps_num AS DOUBLE) * {_DP_CI95!r}, 4)
           AS ci95_halfwidth,
       round(1e-9 + eps_den / CAST(eps_num AS DOUBLE) / c.n, 6)
           AS expected_rel_err,
       CAST(CASE WHEN c.n < {_DP_MIN_COUNT}
                  OR eps_den * 2 > c.n * eps_num
                 THEN 1 ELSE 0 END AS INTEGER) AS suppress
FROM cells c, eps"""


def q_cohort_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative cohort lifetime value — the retention query's revenue
    twin: users cohorted by first-seen day, purchase revenue bucketed by
    cohort age, then a running sum per cohort divides ONCE by cohort
    size.  Revenue stays on the exact 1e-2 integer lattice through the
    cumulative window (which runs over the bounded cohort × age frame,
    never events); the only fact-sized work is the two aggregations."""
    ev = load_tables(spark, sf_dir)["events"]
    first = ev.groupBy("user_id").agg(
        F.min(F.to_date("ts")).alias("cohort_day")
    )
    size = first.groupBy("cohort_day").agg(
        F.count(F.lit(1)).cast("long").alias("cohort_users")
    )
    rev = (
        ev.where(
            (F.col("event_type") == "purchase") & F.col("value").isNotNull()
        )
        .join(F.broadcast(first), "user_id")
        .groupBy(
            "cohort_day",
            F.datediff(F.to_date("ts"), F.col("cohort_day")).alias("age_days"),
        )
        .agg(
            F.sum(F.floor(F.col("value") * 100 + F.lit(0.5)))
            .cast("long")
            .alias("rev_u")
        )
    )
    w = (
        Window.partitionBy("cohort_day")
        .orderBy("age_days")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = rev.withColumn("cum_rev_u", F.sum("rev_u").over(w).cast("long"))
    return cum.join(F.broadcast(size), "cohort_day").select(
        "cohort_day",
        "age_days",
        "rev_u",
        "cum_rev_u",
        "cohort_users",
        _rnd(
            F.col("cum_rev_u") / 100.0 / F.col("cohort_users").cast("double"),
            4,
        ).alias("ltv_per_user"),
    )


_SQL_COHORT_LTV = """
WITH first AS (
    SELECT user_id, min(CAST(ts AS DATE)) AS cohort_day
    FROM events GROUP BY 1
),
size_ AS (
    SELECT cohort_day, CAST(count(*) AS BIGINT) AS cohort_users
    FROM first GROUP BY 1
),
rev AS (
    SELECT f.cohort_day,
           CAST(datediff('day', f.cohort_day, CAST(e.ts AS DATE))
                AS INTEGER) AS age_days,
           CAST(sum(CAST(floor(e.value * 100 + 0.5) AS BIGINT))
                AS BIGINT) AS rev_u
    FROM events e JOIN first f USING (user_id)
    WHERE e.event_type = 'purchase' AND e.value IS NOT NULL
    GROUP BY 1, 2
),
cum AS (
    SELECT *, CAST(sum(rev_u) OVER (PARTITION BY cohort_day ORDER BY age_days
                                    ROWS UNBOUNDED PRECEDING) AS BIGINT)
               AS cum_rev_u
    FROM rev
)
SELECT c.cohort_day, c.age_days, c.rev_u, c.cum_rev_u, s.cohort_users,
       round(1e-9 + c.cum_rev_u / 100.0 / s.cohort_users, 4)
           AS ltv_per_user
FROM cum c JOIN size_ s USING (cohort_day)"""


def q_skyline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skyline / Pareto frontier of parts over (total quantity, total
    revenue) — the multi-objective shortlist operator: a part survives
    iff no other part weakly dominates it with at least one strict edge.
    Scale shape: never the O(n²) dominance join — per-part aggregates
    reduce to a QTY-LEVEL table (≤ one row per distinct quantity), each
    level keeps its max revenue, and a strictly-greater-level running
    max (window over the level table, not the fact) decides dominance:
    keep iff rev = level max AND rev > every higher level's max.  The
    oracle states the textbook NOT EXISTS definition instead of this
    algebra, so the gate checks the DECOMPOSITION, not just parity.
    All measures on the exact integer lattice."""
    li = load_tables(spark, sf_dir)["lineitem"]
    parts = li.groupBy("l_partkey").agg(
        F.sum(F.col("l_quantity").cast("long")).cast("long").alias("qty_u"),
        F.sum(F.floor(F.col("l_extendedprice") * 100 + F.lit(0.5)))
        .cast("long")
        .alias("rev_u"),
    )
    qlvl = parts.groupBy("qty_u").agg(F.max("rev_u").alias("__qmax"))
    w = Window.orderBy(F.desc("qty_u")).rowsBetween(
        Window.unboundedPreceding, -1
    )
    lvl = qlvl.withColumn("__m1", F.max("__qmax").over(w))
    keep = parts.join(F.broadcast(lvl), "qty_u").where(
        (F.col("rev_u") == F.col("__qmax"))
        & (F.col("__m1").isNull() | (F.col("__m1") < F.col("rev_u")))
    )
    return keep.select("l_partkey", "qty_u", "rev_u")


_SQL_SKYLINE = """
WITH parts AS (
    SELECT l_partkey,
           CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty_u,
           CAST(sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT))
                AS BIGINT) AS rev_u
    FROM lineitem GROUP BY 1
)
SELECT p.l_partkey, p.qty_u, p.rev_u
FROM parts p
WHERE NOT EXISTS (
    SELECT 1 FROM parts q
    WHERE q.qty_u >= p.qty_u AND q.rev_u >= p.rev_u
      AND (q.qty_u > p.qty_u OR q.rev_u > p.rev_u)
)"""


def q_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted quantiles (p25 / median / p75) of the per-line price,
    weighted by quantity, per return flag — the value-weighted
    distribution summary unweighted percentiles can't answer (every
    unit of quantity counts, not every line).  Rides the SAME
    distributed-CDF primitive as feature binning and the KS statistic
    (`sampling.bucketed_value_cumsum`, here with its weighted measure):
    value-bucketed parallel windows, no corpus-wide sort; the quantile
    is the smallest value whose cumulative weight crosses the
    cross-multiplied INTEGER threshold (4·cumw ≥ k·total)."""
    from .operators import sampling

    li = load_tables(spark, sf_dir)["lineitem"]
    base = li.select(
        "l_returnflag",
        F.floor(F.col("l_extendedprice") * 100 + F.lit(0.5))
        .cast("long")
        .alias("price_u"),
        F.col("l_quantity").cast("long").alias("qty_w"),
    )
    cum = sampling.bucketed_value_cumsum(
        base, "price_u", ("l_returnflag",), weight_col="qty_w"
    )
    tot = cum.groupBy("l_returnflag").agg(
        F.sum("__c").cast("long").alias("total_w")
    )
    j = cum.join(F.broadcast(tot), "l_returnflag")
    return j.groupBy("l_returnflag").agg(
        F.first("total_w").alias("total_weight"),
        F.min(
            F.when(4 * F.col("__cle") >= F.col("total_w"), F.col("__v"))
        )
        .cast("long")
        .alias("wp25_u"),
        F.min(
            F.when(2 * F.col("__cle") >= F.col("total_w"), F.col("__v"))
        )
        .cast("long")
        .alias("wmedian_u"),
        F.min(
            F.when(4 * F.col("__cle") >= 3 * F.col("total_w"), F.col("__v"))
        )
        .cast("long")
        .alias("wp75_u"),
    )


_SQL_WEIGHTED_MEDIAN = """
WITH base AS (
    SELECT l_returnflag,
           CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS price_u,
           CAST(l_quantity AS BIGINT) AS qty_w
    FROM lineitem
),
vc AS (
    SELECT l_returnflag, price_u AS v, CAST(sum(qty_w) AS BIGINT) AS c
    FROM base GROUP BY 1, 2
),
cum AS (
    SELECT l_returnflag, v,
           CAST(sum(c) OVER (PARTITION BY l_returnflag ORDER BY v
                             ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cle
    FROM vc
),
tot AS (
    SELECT l_returnflag, CAST(sum(c) AS BIGINT) AS total_w
    FROM vc GROUP BY 1
)
SELECT c.l_returnflag,
       CAST(t.total_w AS BIGINT) AS total_weight,
       CAST(min(CASE WHEN 4 * c.cle >= t.total_w THEN c.v END)
            AS BIGINT) AS wp25_u,
       CAST(min(CASE WHEN 2 * c.cle >= t.total_w THEN c.v END)
            AS BIGINT) AS wmedian_u,
       CAST(min(CASE WHEN 4 * c.cle >= 3 * t.total_w THEN c.v END)
            AS BIGINT) AS wp75_u
FROM cum c JOIN tot t USING (l_returnflag)
GROUP BY 1, 2"""


def q_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf power-law fit of the token frequency spectrum — log-log OLS
    of ln(freq) on ln(rank), the corpus-health diagnostic (natural text
    sits near slope −1; a collapsed or templated corpus doesn't).  Same
    regression-as-aggregation shape as q_trend_ols, but the power sums
    are floats (ln terms), so each is epsilon-rounded before the
    closed-form division — both engines then derive slope/R² from
    IDENTICAL inputs.  Rank comes from the exact integer (count, token)
    total order; only the vocabulary table is ever sorted."""
    d = _scale_out(_docs(spark, sf_dir).select("doc_id", "text"))
    tc = (
        d.select(F.explode(T.tokens("text")).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )
    w = Window.orderBy(F.desc("cnt"), F.asc("token"))
    xy = tc.select(
        F.log(F.row_number().over(w).cast("double")).alias("x"),
        F.log(F.col("cnt").cast("double")).alias("y"),
    )
    sums = xy.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        _rnd(F.sum("x"), 6).alias("sx"),
        _rnd(F.sum("y"), 6).alias("sy"),
        _rnd(F.sum(F.col("x") * F.col("y")), 6).alias("sxy"),
        _rnd(F.sum(F.col("x") * F.col("x")), 6).alias("sxx"),
        _rnd(F.sum(F.col("y") * F.col("y")), 6).alias("syy"),
    )
    sxx_n = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    sxy_n = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    syy_n = F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")
    return sums.select(
        F.col("n").alias("vocab_size"),
        _rnd(sxy_n / sxx_n, 6).alias("zipf_slope"),
        _rnd(sxy_n * sxy_n / (sxx_n * syy_n), 6).alias("r2"),
    )


_SQL_ZIPF_FIT = r"""
WITH tokv AS (
    SELECT unnest(list_filter(string_split_regex(text, '\s+'),
                              t -> t <> '')) AS token
    FROM documents
),
tc AS (
    SELECT token, CAST(count(*) AS BIGINT) AS cnt FROM tokv GROUP BY 1
),
xy AS (
    SELECT ln(CAST(row_number() OVER (ORDER BY cnt DESC, token ASC)
                   AS DOUBLE)) AS x,
           ln(CAST(cnt AS DOUBLE)) AS y
    FROM tc
),
sums AS (
    SELECT CAST(count(*) AS BIGINT) AS n,
           round(1e-9 + sum(x), 6) AS sx,
           round(1e-9 + sum(y), 6) AS sy,
           round(1e-9 + sum(x * y), 6) AS sxy,
           round(1e-9 + sum(x * x), 6) AS sxx,
           round(1e-9 + sum(y * y), 6) AS syy
    FROM xy
)
SELECT n AS vocab_size,
       round(1e-9 + (n * sxy - sx * sy) / (n * sxx - sx * sx), 6)
           AS zipf_slope,
       round(1e-9 + (n * sxy - sx * sy) * (n * sxy - sx * sy)
             / ((n * sxx - sx * sx) * (n * syy - sy * sy)), 6) AS r2
FROM sums"""


def q_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM customer segmentation — recency / frequency / monetary
    quintiles per user, the classic behavioral partition: one user-grain
    aggregation (R = days from last event to the corpus max day, F =
    event count, M = purchase cents), ntile(5) on each axis over the
    USER table (bounded by the user domain; tie-broken by user_id so
    every quintile edge is deterministic), then segment-level rollups.
    Output bounded by 5³ segments."""
    ev = load_tables(spark, sf_dir)["events"]
    per_user = ev.groupBy("user_id").agg(
        F.max(F.to_date("ts")).alias("last_day"),
        F.count(F.lit(1)).cast("long").alias("freq"),
        F.sum(
            F.when(
                F.col("event_type") == "purchase",
                F.floor(F.col("value") * 100 + F.lit(0.5)),
            ).otherwise(0)
        )
        .cast("long")
        .alias("monetary_u"),
    )
    mx = per_user.agg(F.max("last_day").alias("max_day"))
    base = per_user.crossJoin(F.broadcast(mx)).select(
        "user_id",
        F.datediff("max_day", "last_day").cast("long").alias("recency_d"),
        "freq",
        "monetary_u",
    )
    # quintile 5 = best (most recent / most frequent / highest spend)
    r_w = Window.orderBy(F.desc("recency_d"), F.asc("user_id"))
    f_w = Window.orderBy(F.asc("freq"), F.asc("user_id"))
    m_w = Window.orderBy(F.asc("monetary_u"), F.asc("user_id"))
    scored = base.select(
        "user_id",
        "recency_d",
        "freq",
        "monetary_u",
        F.ntile(5).over(r_w).cast("int").alias("r_score"),
        F.ntile(5).over(f_w).cast("int").alias("f_score"),
        F.ntile(5).over(m_w).cast("int").alias("m_score"),
    )
    return scored.groupBy("r_score", "f_score", "m_score").agg(
        F.count(F.lit(1)).cast("long").alias("n_users"),
        _rnd(F.avg("recency_d"), 4).alias("avg_recency_d"),
        _rnd(F.avg("freq"), 4).alias("avg_freq"),
        _rnd(F.avg("monetary_u") / 100.0, 4).alias("avg_monetary"),
    )


_SQL_RFM_SEGMENTS = """
WITH per_user AS (
    SELECT user_id,
           max(CAST(ts AS DATE)) AS last_day,
           CAST(count(*) AS BIGINT) AS freq,
           CAST(sum(CASE WHEN event_type = 'purchase'
                         THEN CAST(floor(value * 100 + 0.5) AS BIGINT)
                         ELSE 0 END) AS BIGINT) AS monetary_u
    FROM events GROUP BY 1
),
mx AS (SELECT max(last_day) AS max_day FROM per_user),
base AS (
    SELECT user_id,
           CAST(datediff('day', last_day, max_day) AS BIGINT) AS recency_d,
           freq, monetary_u
    FROM per_user, mx
),
scored AS (
    SELECT user_id, recency_d, freq, monetary_u,
           CAST(ntile(5) OVER (ORDER BY recency_d DESC, user_id ASC)
                AS INTEGER) AS r_score,
           CAST(ntile(5) OVER (ORDER BY freq ASC, user_id ASC)
                AS INTEGER) AS f_score,
           CAST(ntile(5) OVER (ORDER BY monetary_u ASC, user_id ASC)
                AS INTEGER) AS m_score
    FROM base
)
SELECT r_score, f_score, m_score,
       CAST(count(*) AS BIGINT) AS n_users,
       round(1e-9 + avg(recency_d), 4) AS avg_recency_d,
       round(1e-9 + avg(freq), 4) AS avg_freq,
       round(1e-9 + avg(monetary_u) / 100.0, 4) AS avg_monetary
FROM scored GROUP BY 1, 2, 3"""


def q_stream_ohlc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.9 × downsampling: the hourly OHLC bars computed ON THE STREAM —
    the live market-data/observability rollup.  The purchase feed
    replays through the file source and folds into the SAME one-pass
    min_by/max_by aggregation as batch `q_ohlc_bars` (all five measures
    are order-insensitive declarative aggregates, so the streaming state
    is ONE row per hour and the availableNow replay is exactly-once);
    the oracle is literally `_SQL_OHLC_BARS` — stream bars must equal
    batch bars bit-for-bit."""
    from .util import stream_feed

    ev = load_tables(spark, sf_dir)["events"].where(
        (F.col("event_type") == "purchase")
        & F.col("ts").isNotNull()
        & F.col("value").isNotNull()
    )
    stream = stream_feed(
        ev.select("event_id", "ts", "value"), "purchase_feed_ohlc", sf_dir
    )
    e = stream.select(
        F.date_trunc("hour", "ts").alias("hour_ts"),
        F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long").alias("v_u"),
        "ts",
        "event_id",
    )
    ordk = F.struct("ts", "event_id")
    bars = e.groupBy("hour_ts").agg(
        F.count(F.lit(1)).cast("long").alias("n_trades"),
        F.min_by("v_u", ordk).cast("long").alias("open_u"),
        F.max("v_u").cast("long").alias("high_u"),
        F.min("v_u").cast("long").alias("low_u"),
        F.max_by("v_u", ordk).cast("long").alias("close_u"),
        F.sum("v_u").cast("long").alias("sum_u"),
    )
    sink = drain_available_now(bars, "q_stream_ohlc_sink")
    return sink.select(
        "hour_ts",
        "n_trades",
        "open_u",
        "high_u",
        "low_u",
        "close_u",
        "sum_u",
        _rnd(F.col("sum_u") / 100.0 / F.col("n_trades"), 4).alias(
            "avg_value"
        ),
    )


def q_kmv_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jaccard similarity between event-type user-day sets estimated
    from KMV sketches — the direct-ratio companion to q_hll_overlap's
    inclusion-exclusion: J ≈ |B_k(A∪B) ∩ A ∩ B| / |B_k(A∪B)| (Beyer et
    al. 2007 §5; for h in the union's bottom-k, h ∈ A ⟺ h ∈ B_k(A) since
    the union's k-th hash is ≤ A's k-th hash, so sketch membership IS
    set membership there).  All pair work runs over ≤ k rows per pair —
    the k·(k−1)/2 cross-source similarity matrix from fixed-size
    sketches; exact Jaccards ride along as verification."""
    from .operators import sketches

    ev = load_tables(spark, sf_dir)["events"]
    base = ev.select(
        "event_type",
        F.concat_ws("#", F.col("user_id"), F.to_date("ts")).alias("v"),
    )
    bott = sketches.kmv_bottom_k(base, "v", ("event_type",), _KMV_K).persist()
    tp = bott.select("event_type").distinct()
    pairs = (
        tp.select(F.col("event_type").alias("src_a"))
        .crossJoin(tp.select(F.col("event_type").alias("src_b")))
        .where(F.col("src_a") < F.col("src_b"))
    )
    sides = bott.join(
        F.broadcast(pairs), F.col("event_type") == F.col("src_a")
    ).select("src_a", "src_b", "h", F.lit(1).alias("in_a"), F.lit(0).alias("in_b")).unionByName(
        bott.join(
            F.broadcast(pairs), F.col("event_type") == F.col("src_b")
        ).select(
            "src_a", "src_b", "h", F.lit(0).alias("in_a"), F.lit(1).alias("in_b")
        )
    )
    merged = sides.groupBy("src_a", "src_b", "h").agg(
        F.max("in_a").alias("in_a"), F.max("in_b").alias("in_b")
    )
    w = Window.partitionBy("src_a", "src_b").orderBy("h")
    unionk = merged.withColumn("__rn", F.row_number().over(w)).where(
        F.col("__rn") <= _KMV_K
    )
    est = unionk.groupBy("src_a", "src_b").agg(
        F.count(F.lit(1)).cast("long").alias("n_union_k"),
        F.sum((F.col("in_a") * F.col("in_b")).cast("long"))
        .cast("long")
        .alias("n_match"),
    )
    du = base.distinct()
    ex_sizes = du.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("sz")
    )
    inter = (
        du.alias("x")
        .join(du.alias("y"), "v")
        .where(F.col("x.event_type") < F.col("y.event_type"))
        .groupBy(
            F.col("x.event_type").alias("src_a"),
            F.col("y.event_type").alias("src_b"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n_inter"))
    )
    exact = (
        pairs.join(
            F.broadcast(ex_sizes.withColumnRenamed("event_type", "src_a")),
            "src_a",
        )
        .withColumnRenamed("sz", "sz_a")
        .join(
            F.broadcast(ex_sizes.withColumnRenamed("event_type", "src_b")),
            "src_b",
        )
        .withColumnRenamed("sz", "sz_b")
        .join(inter, ["src_a", "src_b"], "left")
        .select(
            "src_a",
            "src_b",
            F.coalesce(F.col("n_inter"), F.lit(0)).cast("long").alias(
                "n_inter"
            ),
            (F.col("sz_a") + F.col("sz_b")).alias("__szsum"),
        )
    )
    return est.join(exact, ["src_a", "src_b"]).select(
        "src_a",
        "src_b",
        "n_union_k",
        "n_match",
        _rnd(F.col("n_match") / F.col("n_union_k").cast("double"), 6).alias(
            "j_est"
        ),
        _rnd(
            F.col("n_inter")
            / (F.col("__szsum") - F.col("n_inter")).cast("double"),
            6,
        ).alias("j_exact"),
    )


_SQL_KMV_JACCARD = f"""
WITH base AS (
    SELECT event_type,
           CAST(user_id AS VARCHAR) || '#' ||
           CAST(CAST(ts AS DATE) AS VARCHAR) AS v
    FROM events
),
h AS (
    SELECT DISTINCT event_type,
           CAST(('0x' || substr(md5(v), 1, 15)) AS BIGINT) AS h
    FROM base
),
rb AS (
    SELECT event_type, h,
           row_number() OVER (PARTITION BY event_type ORDER BY h) AS rn
    FROM h
),
bott AS (SELECT event_type, h FROM rb WHERE rn <= {_KMV_K}),
tp AS (SELECT DISTINCT event_type FROM bott),
pairs AS (
    SELECT a.event_type AS src_a, b.event_type AS src_b
    FROM tp a, tp b WHERE a.event_type < b.event_type
),
merged AS (
    SELECT p.src_a, p.src_b, t.h,
           max(CASE WHEN t.event_type = p.src_a THEN 1 ELSE 0 END) AS in_a,
           max(CASE WHEN t.event_type = p.src_b THEN 1 ELSE 0 END) AS in_b
    FROM pairs p JOIN bott t
      ON t.event_type IN (p.src_a, p.src_b)
    GROUP BY 1, 2, 3
),
unionk AS (
    SELECT * FROM (
        SELECT *, row_number() OVER (PARTITION BY src_a, src_b
                                     ORDER BY h) AS rn
        FROM merged
    ) WHERE rn <= {_KMV_K}
),
est AS (
    SELECT src_a, src_b,
           CAST(count(*) AS BIGINT) AS n_union_k,
           CAST(sum(in_a * in_b) AS BIGINT) AS n_match
    FROM unionk GROUP BY 1, 2
),
du AS (SELECT DISTINCT event_type, v FROM base),
sz AS (SELECT event_type, CAST(count(*) AS BIGINT) AS sz FROM du GROUP BY 1),
inter AS (
    SELECT x.event_type AS src_a, y.event_type AS src_b,
           CAST(count(*) AS BIGINT) AS n_inter
    FROM du x JOIN du y ON x.v = y.v AND x.event_type < y.event_type
    GROUP BY 1, 2
)
SELECT e.src_a, e.src_b, e.n_union_k, e.n_match,
       round(1e-9 + e.n_match / CAST(e.n_union_k AS DOUBLE), 6) AS j_est,
       round(1e-9 + coalesce(i.n_inter, 0)
             / CAST(a.sz + b.sz - coalesce(i.n_inter, 0) AS DOUBLE), 6)
           AS j_exact
FROM est e
JOIN sz a ON a.event_type = e.src_a
JOIN sz b ON b.event_type = e.src_b
LEFT JOIN inter i ON i.src_a = e.src_a AND i.src_b = e.src_b"""


def q_embedding_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-centroid drift per label vs the global centroid — the
    embedding-health monitor beside per-dim q_embedding_stats: cosine is
    computed directly on the exact INTEGER per-dim sums (cosine is
    scale-invariant, so Σx works in place of the mean — no division
    enters the angle), the L2 mean-shift accumulates per-dim double
    terms whose 64-term sum is epsilon-rounded before the final sqrt.
    One posexplode + two bounded aggregations (dims × labels rows);
    detects a source/label whose embedding distribution walked away from
    the corpus — the SemDeDup/IVF health preflight."""
    e = _emb(spark, sf_dir)
    q = _scale_out(e).select(
        "label", F.posexplode("embedding").alias("dim", "x")
    ).select(
        "label",
        "dim",
        F.floor(F.col("x").cast("double") * _KMEANS_QUANT)
        .cast("long")
        .alias("xq"),
    )
    per = q.groupBy("label", "dim").agg(
        F.sum("xq").cast("long").alias("s_l")
    )
    glob = per.groupBy("dim").agg(F.sum("s_l").cast("long").alias("s_g"))
    nl = e.groupBy("label").agg(F.count(F.lit(1)).cast("long").alias("n_l"))
    n = e.agg(F.count(F.lit(1)).cast("long").alias("n_all"))
    j = (
        per.join(F.broadcast(glob), "dim")
        .join(F.broadcast(nl), "label")
        .crossJoin(F.broadcast(n))
    )
    diff = (
        F.col("s_l").cast("double") / F.col("n_l")
        - F.col("s_g").cast("double") / F.col("n_all")
    ) / F.lit(float(_KMEANS_QUANT))
    agg = j.groupBy("label").agg(
        F.first("n_l").alias("n_vecs"),
        F.sum(F.col("s_l") * F.col("s_g")).cast("long").alias("__dot"),
        F.sum(F.col("s_l") * F.col("s_l")).cast("long").alias("__a2"),
        F.sum(F.col("s_g") * F.col("s_g")).cast("long").alias("__b2"),
        _rnd(F.sum(diff * diff), 6).alias("__l2sq"),
    )
    return agg.select(
        "label",
        "n_vecs",
        _rnd(
            F.col("__dot")
            / (
                F.sqrt(F.col("__a2").cast("double"))
                * F.sqrt(F.col("__b2").cast("double"))
            ),
            6,
        ).alias("cos_to_global"),
        _rnd(F.sqrt(F.col("__l2sq")), 6).alias("l2_shift"),
    )


_SQL_EMBEDDING_DRIFT = f"""
WITH u AS (
    SELECT label, unnest(list_transform(
        range(1, len(embedding) + 1),
        i -> {{'i': i, 'x': embedding[i]}})) AS e
    FROM embeddings
),
q AS (
    SELECT label, e.i - 1 AS dim,
           CAST(floor(CAST(e.x AS DOUBLE) * {_KMEANS_QUANT}) AS BIGINT) AS xq
    FROM u
),
per AS (
    SELECT label, dim, CAST(sum(xq) AS BIGINT) AS s_l
    FROM q GROUP BY 1, 2
),
gsum AS (SELECT dim, CAST(sum(s_l) AS BIGINT) AS s_g FROM per GROUP BY 1),
nl AS (
    SELECT label, CAST(count(*) AS BIGINT) AS n_l FROM embeddings GROUP BY 1
),
n AS (SELECT CAST(count(*) AS BIGINT) AS n_all FROM embeddings),
j AS (
    SELECT p.label, p.s_l, g.s_g, nl.n_l, n.n_all
    FROM per p JOIN gsum g USING (dim) JOIN nl USING (label), n
),
agg AS (
    SELECT label,
           CAST(max(n_l) AS BIGINT) AS n_vecs,
           CAST(sum(s_l * s_g) AS BIGINT) AS dot,
           CAST(sum(s_l * s_l) AS BIGINT) AS a2,
           CAST(sum(s_g * s_g) AS BIGINT) AS b2,
           round(1e-9 + sum(
               ((CAST(s_l AS DOUBLE) / n_l - CAST(s_g AS DOUBLE) / n_all)
                / {float(_KMEANS_QUANT)!r})
               * ((CAST(s_l AS DOUBLE) / n_l - CAST(s_g AS DOUBLE) / n_all)
                  / {float(_KMEANS_QUANT)!r})), 6) AS l2sq
    FROM j GROUP BY 1
)
SELECT label, n_vecs,
       round(1e-9 + dot / (sqrt(CAST(a2 AS DOUBLE))
                           * sqrt(CAST(b2 AS DOUBLE))), 6)
           AS cos_to_global,
       round(1e-9 + sqrt(l2sq), 6) AS l2_shift
FROM agg"""


def q_time_to_convert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-to-event analysis — the funnel's latency half: per user, the
    gap from first view to first purchase (users who purchased after
    viewing), summarized as exact type-1 quartiles over integer seconds
    plus the exact-ratio mean.  The quartiles come from the same
    conditional-min-over-cumulative-CDF shape as q_weighted_median
    (value-bucketed windows via `sampling.bucketed_value_cumsum`, no
    corpus sort); thresholds are cross-multiplied integers.  One
    user-grain aggregation is the only event-sized pass."""
    from .operators import sampling

    ev = load_tables(spark, sf_dir)["events"]
    t_us = F.unix_micros(F.col("ts").cast("timestamp"))
    per_user = ev.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "view", t_us)).alias("__v"),
        F.min(F.when(F.col("event_type") == "purchase", t_us)).alias("__p"),
    )
    ttc = per_user.where(
        F.col("__v").isNotNull()
        & F.col("__p").isNotNull()
        & (F.col("__p") >= F.col("__v"))
    ).select(
        ((F.col("__p") - F.col("__v")) / F.lit(1_000_000))
        .cast("long")
        .alias("ttc_s")
    )
    cum = sampling.bucketed_value_cumsum(ttc, "ttc_s", ())
    tot = cum.agg(
        F.sum("__c").cast("long").alias("n_users"),
        F.sum(F.col("__v") * F.col("__c")).cast("long").alias("sum_s"),
    )
    j = cum.crossJoin(F.broadcast(tot))
    return j.agg(
        F.first("n_users").alias("n_users"),
        F.min(
            F.when(4 * F.col("__cle") >= F.col("n_users"), F.col("__v"))
        )
        .cast("long")
        .alias("p25_s"),
        F.min(
            F.when(2 * F.col("__cle") >= F.col("n_users"), F.col("__v"))
        )
        .cast("long")
        .alias("median_s"),
        F.min(
            F.when(4 * F.col("__cle") >= 3 * F.col("n_users"), F.col("__v"))
        )
        .cast("long")
        .alias("p75_s"),
        _rnd(
            F.first("sum_s") / F.first("n_users").cast("double"), 4
        ).alias("mean_s"),
    )


_SQL_TIME_TO_CONVERT = """
WITH per_user AS (
    SELECT user_id,
           min(CASE WHEN event_type = 'view' THEN epoch_us(ts) END) AS v,
           min(CASE WHEN event_type = 'purchase' THEN epoch_us(ts) END) AS p
    FROM events GROUP BY 1
),
ttc AS (
    SELECT CAST((p - v) // 1000000 AS BIGINT) AS ttc_s
    FROM per_user
    WHERE v IS NOT NULL AND p IS NOT NULL AND p >= v
),
vc AS (SELECT ttc_s AS v, CAST(count(*) AS BIGINT) AS c FROM ttc GROUP BY 1),
cum AS (
    SELECT v, c,
           CAST(sum(c) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING)
                AS BIGINT) AS cle
    FROM vc
),
tot AS (
    SELECT CAST(sum(c) AS BIGINT) AS n_users,
           CAST(sum(v * c) AS BIGINT) AS sum_s
    FROM vc
)
SELECT t.n_users,
       CAST(min(CASE WHEN 4 * c.cle >= t.n_users THEN c.v END)
            AS BIGINT) AS p25_s,
       CAST(min(CASE WHEN 2 * c.cle >= t.n_users THEN c.v END)
            AS BIGINT) AS median_s,
       CAST(min(CASE WHEN 4 * c.cle >= 3 * t.n_users THEN c.v END)
            AS BIGINT) AS p75_s,
       round(1e-9 + t.sum_s / CAST(t.n_users AS DOUBLE), 4) AS mean_s
FROM cum c, tot t GROUP BY t.n_users, t.sum_s"""


def q_graph_degree(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree/reciprocity profile of the zone transition graph — the
    graph-observability preflight for PageRank/triangle runs: per-zone
    distinct out/in degree and reciprocated-edge count (A→B with B→A),
    from the distinct edge table only (one self-join on the reversed
    key, all equi-joins; fact touched once)."""
    from .plans import nyc_views, staging

    li = staging.stg_taxi_trips(
        nyc_views.trips_from_events(load_tables(spark, sf_dir)["events"])
    )
    e = (
        li.select(
            F.col("pickup_zone_id").alias("src"),
            F.col("dropoff_zone_id").alias("dst"),
        )
        .where(F.col("src") != F.col("dst"))
        .distinct()
        .persist()  # three consumers; edge-table-sized
    )
    rev = e.select(
        F.col("dst").alias("src"), F.col("src").alias("dst")
    ).withColumn("__r", F.lit(1))
    recip = (
        e.join(rev, ["src", "dst"], "left")
        .groupBy("src")
        .agg(
            F.count(F.lit(1)).cast("long").alias("out_deg"),
            F.sum(F.coalesce(F.col("__r"), F.lit(0)))
            .cast("long")
            .alias("n_reciprocal"),
        )
    )
    ind = e.groupBy(F.col("dst").alias("src")).agg(
        F.count(F.lit(1)).cast("long").alias("in_deg")
    )
    return (
        recip.join(ind, "src", "full")
        .select(
            F.col("src").cast("long").alias("zone_id"),
            F.coalesce("out_deg", F.lit(0)).cast("long").alias("out_deg"),
            F.coalesce("in_deg", F.lit(0)).cast("long").alias("in_deg"),
            F.coalesce("n_reciprocal", F.lit(0))
            .cast("long")
            .alias("n_reciprocal"),
        )
    )


from .plans.nyc_views import SQL_TRIPS as _SQL_TRIPS_BLOCK  # noqa: E402
from .plans.staging import SQL_STG_TRIPS as _SQL_STG_TRIPS_BLOCK  # noqa: E402

_SQL_GRAPH_DEGREE = (
    "WITH "
    + _SQL_TRIPS_BLOCK.strip().rstrip(",")
    + ",\n"
    + _SQL_STG_TRIPS_BLOCK.strip().rstrip(",")
    + """,
e AS (
    SELECT DISTINCT pickup_zone_id AS src, dropoff_zone_id AS dst
    FROM stg_trips WHERE pickup_zone_id <> dropoff_zone_id
),
recip AS (
    SELECT e.src,
           CAST(count(*) AS BIGINT) AS out_deg,
           CAST(sum(CASE WHEN r.src IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_reciprocal
    FROM e LEFT JOIN e r ON r.src = e.dst AND r.dst = e.src
    GROUP BY 1
),
ind AS (
    SELECT dst AS src, CAST(count(*) AS BIGINT) AS in_deg
    FROM e GROUP BY 1
)
SELECT CAST(coalesce(recip.src, ind.src) AS BIGINT) AS zone_id,
       CAST(coalesce(out_deg, 0) AS BIGINT) AS out_deg,
       CAST(coalesce(in_deg, 0) AS BIGINT) AS in_deg,
       CAST(coalesce(n_reciprocal, 0) AS BIGINT) AS n_reciprocal
FROM recip FULL OUTER JOIN ind ON recip.src = ind.src"""
)


_MICROAGG_K = 10


def q_microagg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Microaggregation — the k-anonymization TRANSFORM completing the
    governance family (the audits say who is exposed; this actually
    anonymizes): order totals sorted on the value axis are grouped into
    runs of k=10 adjacent rows (last group absorbs the remainder) and
    each group releases only (size, mean, min, max).  No row-level
    global sort: the value-CDF (`sampling.bucketed_value_cumsum`) gives
    each DISTINCT value its ordinal interval [cle−c, cle−1], the
    covered group ids follow arithmetically (a tiny bounded explode of
    value rows across ≤2 groups), and per-group stats are one
    aggregation.  Every group-size column verifies ≥ k."""
    from .operators import sampling

    od = load_tables(spark, sf_dir)["orders"]
    base = od.select(
        F.floor(F.col("o_totalprice") * 100 + F.lit(0.5))
        .cast("long")
        .alias("price_u")
    )
    cum = sampling.bucketed_value_cumsum(base, "price_u", ())
    tot = cum.agg(F.sum("__c").cast("long").alias("n"))
    k = F.lit(_MICROAGG_K)
    j = cum.crossJoin(F.broadcast(tot))
    ng = F.greatest(F.col("n") / k, F.lit(1)).cast("long")  # n div k
    lo_ord = F.col("__cle") - F.col("__c")
    hi_ord = F.col("__cle") - 1
    g_lo = F.least((lo_ord / k).cast("long"), ng - 1)
    g_hi = F.least((hi_ord / k).cast("long"), ng - 1)
    ex = j.select(
        F.col("__v"),
        F.col("__c"),
        lo_ord.alias("__lo"),
        hi_ord.alias("__hi"),
        F.col("n"),
        ng.alias("__ng"),
        F.explode(F.sequence(g_lo, g_hi)).alias("group_id"),
    )
    g_start = F.col("group_id") * k
    g_end = F.when(
        F.col("group_id") == F.col("__ng") - 1, F.col("n") - 1
    ).otherwise((F.col("group_id") + 1) * k - 1)
    overlap = (
        F.least(g_end, F.col("__hi")) - F.greatest(g_start, F.col("__lo")) + 1
    )
    per = ex.select(
        "group_id", "__v", overlap.cast("long").alias("__o")
    ).groupBy("group_id").agg(
        F.sum("__o").cast("long").alias("n_rows"),
        F.sum(F.col("__o") * F.col("__v")).cast("long").alias("__s"),
        F.min("__v").cast("long").alias("min_u"),
        F.max("__v").cast("long").alias("max_u"),
    )
    return per.select(
        F.col("group_id").cast("long").alias("group_id"),
        "n_rows",
        _rnd(F.col("__s") / 100.0 / F.col("n_rows"), 4).alias("mean_price"),
        "min_u",
        "max_u",
        (F.col("n_rows") >= _MICROAGG_K).cast("int").alias("k_ok"),
    )


_SQL_MICROAGG = f"""
WITH base AS (
    SELECT CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS price_u
    FROM orders
),
vc AS (
    SELECT price_u AS v, CAST(count(*) AS BIGINT) AS c
    FROM base GROUP BY 1
),
cum AS (
    SELECT v, c,
           CAST(sum(c) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING)
                AS BIGINT) AS cle
    FROM vc
),
tot AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM vc),
ex AS (
    SELECT v, c, cle - c AS lo, cle - 1 AS hi, n,
           greatest(n // {_MICROAGG_K}, 1) AS ng,
           unnest(range(least((cle - c) // {_MICROAGG_K},
                              greatest(n // {_MICROAGG_K}, 1) - 1),
                        least((cle - 1) // {_MICROAGG_K},
                              greatest(n // {_MICROAGG_K}, 1) - 1) + 1))
               AS group_id
    FROM cum, tot
),
per AS (
    SELECT group_id,
           CAST(sum(least(CASE WHEN group_id = ng - 1 THEN n - 1
                               ELSE (group_id + 1) * {_MICROAGG_K} - 1 END,
                          hi)
                    - greatest(group_id * {_MICROAGG_K}, lo) + 1)
                AS BIGINT) AS n_rows,
           CAST(sum((least(CASE WHEN group_id = ng - 1 THEN n - 1
                                ELSE (group_id + 1) * {_MICROAGG_K} - 1 END,
                           hi)
                     - greatest(group_id * {_MICROAGG_K}, lo) + 1) * v)
                AS BIGINT) AS s,
           CAST(min(v) AS BIGINT) AS min_u,
           CAST(max(v) AS BIGINT) AS max_u
    FROM ex GROUP BY 1
)
SELECT CAST(group_id AS BIGINT) AS group_id, n_rows,
       round(1e-9 + s / 100.0 / n_rows, 4) AS mean_price,
       min_u, max_u,
       CAST(CASE WHEN n_rows >= {_MICROAGG_K} THEN 1 ELSE 0 END
            AS INTEGER) AS k_ok
FROM per"""


def q_stream_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.9 sliding (overlapping) windows — the streaming surface the
    tumbling q_stream_hourly doesn't touch: 2-hour windows sliding by
    1 hour over the purchase feed, so every event lands in exactly two
    windows.  Streaming state = one row per open window (bounded by the
    time axis); counts and lattice sums are order-insensitive ⇒ the
    availableNow replay is exactly-once.  The oracle restates the window
    algebra relationally: each event fans out to its two covering
    1h-grid starts."""
    from .util import stream_feed

    ev = load_tables(spark, sf_dir)["events"].where(
        (F.col("event_type") == "purchase")
        & F.col("ts").isNotNull()
        & F.col("value").isNotNull()
    )
    stream = stream_feed(
        ev.select("event_id", "ts", "value"), "purchase_feed_slide", sf_dir
    )
    agg = (
        stream.groupBy(F.window("ts", "2 hours", "1 hour").alias("win"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_trades"),
            F.sum(F.floor(F.col("value") * 100 + F.lit(0.5)))
            .cast("long")
            .alias("sum_u"),
        )
    )
    sink = drain_available_now(agg, "q_stream_sliding_sink")
    # the feed reads ts as TIMESTAMP; the bounds keep the events' NTZ type
    return sink.select(
        F.col("win.start").cast("timestamp_ntz").alias("win_start"),
        F.col("win.end").cast("timestamp_ntz").alias("win_end"),
        "n_trades",
        "sum_u",
        _rnd(F.col("sum_u") / 100.0 / F.col("n_trades"), 4).alias(
            "avg_value"
        ),
    )


_SQL_STREAM_SLIDING = """
WITH ev AS (
    SELECT ts, CAST(floor(value * 100 + 0.5) AS BIGINT) AS v_u
    FROM events
    WHERE event_type = 'purchase' AND ts IS NOT NULL AND value IS NOT NULL
),
fan AS (
    SELECT date_trunc('hour', ts) - to_hours(o) AS win_start, v_u
    FROM ev, (SELECT unnest([0, 1]) AS o)
)
SELECT win_start,
       win_start + to_hours(2) AS win_end,
       CAST(count(*) AS BIGINT) AS n_trades,
       CAST(sum(v_u) AS BIGINT) AS sum_u,
       round(1e-9 + sum(v_u) / 100.0 / count(*), 4) AS avg_value
FROM fan GROUP BY 1"""


_PHRASES = [("hash", "join"), ("scan", "filter"), ("join", "scan")]


def q_phrase_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact phrase search over a POSITIONAL inverted index — the
    retrieval capability the bag-of-words q_inverted_index / q_bm25 pair
    can't express: a bigram phrase matches where the second term's
    posting position equals the first's + 1, i.e. one equi-join of two
    position-filtered posting lists on (doc, pos+1).  Per-phrase hit and
    occurrence counts; at corpus scale this is the standard
    positional-postings merge, sharded by term — the probe terms
    broadcast, the index never re-sorts."""
    d = _scale_out(_docs(spark, sf_dir).select("doc_id", "text"))
    pos = d.select(
        "doc_id", F.posexplode(T.tokens("text")).alias("pos", "term")
    )
    terms = sorted({t for p in _PHRASES for t in p})
    pos = pos.where(F.col("term").isin(*terms)).persist()
    phrases = spark.createDataFrame(
        [(f"{a} {b}", a, b) for a, b in _PHRASES], "phrase string, t1 string, t2 string"
    )
    a = pos.join(
        F.broadcast(phrases), F.col("term") == F.col("t1")
    ).select("phrase", "t2", "doc_id", F.col("pos").alias("p1"))
    b = pos.select(
        F.col("term").alias("t2"),
        F.col("doc_id").alias("doc_id"),
        F.col("pos").alias("p2"),
    )
    hits = a.join(
        b,
        (a["t2"] == b["t2"])
        & (a["doc_id"] == b["doc_id"])
        & (b["p2"] == a["p1"] + 1),
    )
    return hits.groupBy("phrase").agg(
        F.count_distinct(a["doc_id"]).cast("long").alias("n_docs"),
        F.count(F.lit(1)).cast("long").alias("n_occurrences"),
    )


def _sql_phrase_search() -> str:
    vals = ", ".join(f"('{a} {b}', '{a}', '{b}')" for a, b in _PHRASES)
    return f"""
WITH tok AS (
    SELECT doc_id,
           list_filter(string_split_regex(text, '\\s+'), t -> t <> '') AS w
    FROM documents
),
pos AS (
    SELECT doc_id, e.i - 1 AS pos, e.t AS term
    FROM (
        SELECT doc_id, unnest(list_transform(
            range(1, len(w) + 1), i -> {{'i': i, 't': w[i]}})) AS e
        FROM tok
    )
),
ph AS (SELECT * FROM (VALUES {vals}) AS t(phrase, t1, t2)),
hits AS (
    SELECT ph.phrase, a.doc_id
    FROM ph
    JOIN pos a ON a.term = ph.t1
    JOIN pos b ON b.term = ph.t2 AND b.doc_id = a.doc_id
                AND b.pos = a.pos + 1
)
SELECT phrase,
       CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
       CAST(count(*) AS BIGINT) AS n_occurrences
FROM hits GROUP BY 1"""


_CDC_W = 8  # rolling-window width for the boundary test
_CDC_MOD = 64  # expected chunk length ~ mod (geometric)


def q_cdc_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-defined chunking dedup (the backup-system / blob-dedup
    primitive, Muthitacharoen LBFS 2001): a cut lands wherever the
    md5 of the 8-char window at position p hits 0 mod 64, so chunk
    boundaries depend on CONTENT, not offsets — the suffix-truncated
    twin corpus (30 chars removed from the front) still shares almost
    every chunk with its original, while fixed-64-char chunking loses
    alignment and finds nothing.  Both strategies run side by side and
    the output row per strategy carries total/distinct chunks, dup rate
    and bytes saved — the quantitative case for CDC.  All relational:
    position explode → boundary filter → per-doc cut ranking (per-doc
    partitions) → substring + md5; no UDFs, no byte loops."""
    corpus = _text_corpus(_docs(spark, sf_dir)).where(
        F.length("text") >= _CDC_W
    ).persist()  # feeds both strategies; cached until harness clearCache

    # --- content-defined cuts: boundary at window START p ⇒ cut AFTER p-1
    #     (chunk = [prev_cut+1, p-1]; cuts at p=1 are no-ops by range)
    pos = corpus.select(
        "doc_id",
        "text",
        F.explode(
            F.sequence(F.lit(1), F.length("text") - (_CDC_W - 1))
        ).alias("p"),
    )
    bnd = pos.where(
        F.conv(
            F.substring(F.md5(F.expr(f"substring(text, p, {_CDC_W})")), 1, 8),
            16,
            10,
        ).cast("long")
        % _CDC_MOD
        == 0
    ).select("doc_id", "p")
    w = Window.partitionBy("doc_id").orderBy("p")
    cuts = bnd.select(
        "doc_id",
        (F.col("p") - 1).alias("end"),
        F.coalesce(F.lag(F.col("p") - 1).over(w), F.lit(0)).alias("prev"),
    ).where(F.col("end") > F.col("prev"))
    tails = (
        cuts.groupBy("doc_id")
        .agg(F.max("end").alias("prev"))
        .join(corpus, "doc_id")
        .select("doc_id", F.length("text").alias("end"), "prev")
        .where(F.col("end") > F.col("prev"))
    )
    nocut = (
        corpus.join(bnd.select("doc_id").distinct(), "doc_id", "left_anti")
        .select("doc_id", F.length("text").alias("end"), F.lit(0).alias("prev"))
    )
    cdc_chunks = (
        cuts.unionByName(tails.select("doc_id", "end", "prev"))
        .unionByName(nocut)
        .join(corpus, "doc_id")
        .select(
            F.md5(
                F.expr("substring(text, prev + 1, end - prev)")
            ).alias("h"),
            (F.col("end") - F.col("prev")).cast("long").alias("nbytes"),
        )
    )

    # --- fixed-size 64-char chunks
    fix_chunks = corpus.select(
        "text",
        F.explode(
            F.sequence(
                F.lit(1), F.length("text"), F.lit(_CDC_MOD)
            )
        ).alias("s"),
    ).select(
        F.md5(F.expr(f"substring(text, s, {_CDC_MOD})")).alias("h"),
        F.least(
            F.lit(_CDC_MOD), F.length("text") - F.col("s") + 1
        )
        .cast("long")
        .alias("nbytes"),
    )

    def stats(chunks: DataFrame, label: str) -> DataFrame:
        per = chunks.groupBy("h").agg(
            F.count(F.lit(1)).cast("long").alias("c"),
            F.first("nbytes").alias("nb"),
        )
        return per.agg(
            F.lit(label).alias("strategy"),
            F.sum("c").cast("long").alias("n_chunks"),
            F.count(F.lit(1)).cast("long").alias("n_distinct"),
            F.sum(F.col("c") * F.col("nb")).cast("long").alias("bytes_total"),
            F.sum("nb").cast("long").alias("bytes_stored"),
        )

    out = stats(cdc_chunks, "cdc").unionByName(stats(fix_chunks, "fixed64"))
    return out.select(
        "strategy",
        "n_chunks",
        "n_distinct",
        "bytes_total",
        "bytes_stored",
        _rnd(
            (F.col("bytes_total") - F.col("bytes_stored"))
            / F.col("bytes_total").cast("double"),
            6,
        ).alias("savings_pct"),
    )


_SQL_CDC_CHUNKING = f"""
WITH corpus AS (
    SELECT doc_id, text FROM documents
    UNION ALL
    SELECT doc_id + 1000000 AS doc_id, substr(text, 31) AS text
    FROM documents
),
c AS (SELECT * FROM corpus WHERE length(text) >= {_CDC_W}),
pos AS (
    SELECT doc_id, text, unnest(range(1, length(text) - {_CDC_W - 1} + 1))
        AS p
    FROM c
),
bnd AS (
    SELECT doc_id, p FROM pos
    WHERE CAST(('0x' || substr(md5(substr(text, p, {_CDC_W})), 1, 8))
               AS BIGINT) % {_CDC_MOD} = 0
),
cuts AS (
    SELECT doc_id, p - 1 AS e,
           coalesce(lag(p - 1) OVER (PARTITION BY doc_id ORDER BY p), 0)
               AS prev
    FROM bnd
),
cuts_ok AS (SELECT * FROM cuts WHERE e > prev),
tails AS (
    SELECT k.doc_id, length(c.text) AS e, k.prev
    FROM (SELECT doc_id, max(e) AS prev FROM cuts_ok GROUP BY 1) k
    JOIN c USING (doc_id)
    WHERE length(c.text) > k.prev
),
nocut AS (
    SELECT c.doc_id, length(c.text) AS e, 0 AS prev
    FROM c LEFT JOIN (SELECT DISTINCT doc_id FROM bnd) b USING (doc_id)
    WHERE b.doc_id IS NULL
),
spans AS (
    SELECT * FROM cuts_ok UNION ALL SELECT * FROM tails
    UNION ALL SELECT * FROM nocut
),
cdc_chunks AS (
    SELECT md5(substr(c.text, s.prev + 1, s.e - s.prev)) AS h,
           CAST(s.e - s.prev AS BIGINT) AS nbytes
    FROM spans s JOIN c USING (doc_id)
),
fix_chunks AS (
    SELECT md5(substr(text, s, {_CDC_MOD})) AS h,
           CAST(least({_CDC_MOD}, length(text) - s + 1) AS BIGINT) AS nbytes
    FROM (
        SELECT text, unnest(range(1, length(text) + 1, {_CDC_MOD})) AS s
        FROM c
    )
),
st1 AS (
    SELECT 'cdc' AS strategy, h, CAST(count(*) AS BIGINT) AS cc,
           CAST(max(nbytes) AS BIGINT) AS nb
    FROM cdc_chunks GROUP BY 2
),
st2 AS (
    SELECT 'fixed64' AS strategy, h, CAST(count(*) AS BIGINT) AS cc,
           CAST(max(nbytes) AS BIGINT) AS nb
    FROM fix_chunks GROUP BY 2
),
uni AS (SELECT * FROM st1 UNION ALL SELECT * FROM st2)
SELECT strategy,
       CAST(sum(cc) AS BIGINT) AS n_chunks,
       CAST(count(*) AS BIGINT) AS n_distinct,
       CAST(sum(cc * nb) AS BIGINT) AS bytes_total,
       CAST(sum(nb) AS BIGINT) AS bytes_stored,
       round(1e-9 + (sum(cc * nb) - sum(nb))
             / CAST(sum(cc * nb) AS DOUBLE), 6) AS savings_pct
FROM uni GROUP BY 1"""


_LSH_BAND_SIZES = [1, 2, 4]  # r in the (b bands × r rows) S-curve
_LSH_J_NUM, _LSH_J_DEN = 1, 2  # truth threshold J >= 1/2, as a rational

# Ground-truth doc sample rate (percent) for the tuning table. Tuning needs
# a REPRESENTATIVE precision/recall estimate, not the full truth set: the
# exact shingle self-join is the one quadratic in this repo with no
# hot-bucket cap, so at 100 TB it MUST run on a content-hash sample.
# Sampling happens on the BASE documents before twin construction
# (a sampled doc keeps its planted near-dup twin), identically in Spark and
# the DuckDB oracle (same md5-bucket draw). Note the survival asymmetry:
# doc-level sampling at rate p keeps planted twin pairs with probability p
# but cross-doc truth pairs with probability p², so the sampled truth set
# skews toward twins — precision/recall are still consistent ratio
# estimators WITHIN each pair class, and the S-curve ordering across band
# configs is preserved, but the mixture differs from the full-truth run.
# The oracle SQL embeds the same rate, so Spark and DuckDB sample the
# same truth set.
_LSH_TUNE_PCT = 50
_LSH_TUNE_SALT = "lshtune"


def q_lsh_tuning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH S-curve tuning table — precision/recall of the MinHash band
    scheme at every (bands × rows) split of ONE 8-hash signature pass
    (r=1: 8 bands, permissive; r=2: 4 bands; r=4: 2 bands, strict).
    This is how the dedup threshold is actually chosen before a 100 TB
    sweep: signatures are computed once, each config only re-groups the
    same 8 columns into band hashes, and ground truth (exact shingle
    Jaccard ≥ 1/2, decided by the cross-multiplied INTEGER comparison
    (den+num)·n_common ≥ num·(sz_a+sz_b), never a float) is evaluated
    only on shared-shingle pairs — a J ≥ 1/2 pair always shares
    shingles, so the truth set is complete without an all-pairs scan.

    The truth set is evaluated on a deterministic content-hash sample of
    the base docs (50%, `_LSH_TUNE_PCT`): doc-level sampling bounds the
    exact-truth join quadratically (0.25× work). Twin pairs survive at
    rate p, cross-doc pairs at p² — the sampled S-curve preserves the
    band-config ordering but shifts the truth-set mix toward planted
    twins (see the module-level note)."""
    from .operators import dedup as dd
    from .operators import sampling

    base = sampling.hash_sample(
        _docs(spark, sf_dir), "doc_id", _LSH_TUNE_PCT, salt=_LSH_TUNE_SALT
    )
    sh = dd.shingle_rows(_text_corpus(base)).persist()
    sig = dd.minhash_signatures(sh, num_hashes=_NH).persist()
    # grouped-array pair counts (dd.cooccur_pair_counts): one shuffle of
    # the shingle rows instead of the self-join's two + sort-merge
    inter = dd.cooccur_pair_counts(sh).select(
        "doc_a", "doc_b", F.col("n_common").cast("long").alias("nc")
    )
    sz = sh.groupBy("doc_id").agg(F.count(F.lit(1)).cast("long").alias("sz"))
    truth = (
        inter.join(sz.withColumnRenamed("doc_id", "doc_a"), "doc_a")
        .withColumnRenamed("sz", "sz_a")
        .join(sz.withColumnRenamed("doc_id", "doc_b"), "doc_b")
        .withColumnRenamed("sz", "sz_b")
        .where(
            (_LSH_J_DEN + _LSH_J_NUM) * F.col("nc")
            >= _LSH_J_NUM * (F.col("sz_a") + F.col("sz_b"))
        )
        .select("doc_a", "doc_b", F.lit(1).alias("__t"))
        .persist()
    )
    tn = truth.agg(F.count(F.lit(1)).cast("long").alias("n_truth"))
    # ONE candidate pipeline for all three band configs: the per-config
    # pass ran the whole hot-cap + collect_list + explode + distinct
    # chain three times over KB-scale shuffles (~6 near-empty stages per
    # config at sf0.1 — guide §2.2 fixed cost, §2.4 shared exchanges).
    # Tagging the band rows with their config BEFORE the shuffle keys
    # every stage on (rows_per_band, band, bh) instead, so the three
    # configs ride one shuffle pipeline.  Row volume is identical
    # (8+4+2 band rows per doc either way), the hot-bucket cap is per
    # (config, band, bh) bucket — exactly the per-config semantics —
    # and the candidate sets are unchanged, as is the single tagged
    # truth join (round-13 optimization) downstream.
    bands = None
    for bs in _LSH_BAND_SIZES:
        b = dd.lsh_bands(sig, num_hashes=_NH, band_size=bs).select(
            F.lit(bs).cast("int").alias("rows_per_band"), "doc_id", "band", "bh"
        )
        bands = b if bands is None else bands.unionByName(b)
    keys = ("rows_per_band", "band", "bh")
    g = dd.drop_hot_buckets(bands, _MAX_BUCKET, keys=keys).groupBy(*keys).agg(
        F.collect_list("doc_id").alias("__ids")
    )
    cands = (
        g.select("rows_per_band", F.explode("__ids").alias("doc_a"), "__ids")
        .select(
            "rows_per_band",
            "doc_a",
            F.explode(F.filter("__ids", lambda x: x > F.col("doc_a"))).alias(
                "doc_b"
            ),
        )
        .distinct()
    )
    stats = (
        cands.join(truth, ["doc_a", "doc_b"], "left")
        .groupBy("rows_per_band")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_candidates"),
            F.sum(F.coalesce(F.col("__t"), F.lit(0)))
            .cast("long")
            .alias("tp"),
        )
    )
    # LEFT-join the grouped stats onto a literal 3-row config frame so a
    # config whose candidate set is empty (possible for the strictest
    # r=4 config on sparse corpora) still emits exactly one row, like
    # the oracle's per-config global aggregate: n_candidates=0, tp NULL
    # (sum over zero rows), precision/recall NULL — the row-count
    # divergence the round-13 ADVICE flagged.  At the tested SFs every
    # config has candidates, so values are unchanged.
    cfg = spark.createDataFrame(
        [(int(bs), int(_NH // bs)) for bs in _LSH_BAND_SIZES],
        "rows_per_band int, n_bands int",
    )
    stats = cfg.join(stats, ["rows_per_band"], "left").select(
        "rows_per_band",
        "n_bands",
        F.coalesce("n_candidates", F.lit(0)).cast("long").alias("n_candidates"),
        "tp",
    )
    return stats.crossJoin(F.broadcast(tn)).select(
        "rows_per_band",
        "n_bands",
        "n_candidates",
        "n_truth",
        "tp",
        _rnd(F.col("tp") / F.col("n_candidates").cast("double"), 6).alias(
            "precision"
        ),
        _rnd(F.col("tp") / F.col("n_truth").cast("double"), 6).alias(
            "recall"
        ),
    )


def _sql_lsh_tuning() -> str:
    parts = []
    for bs in _LSH_BAND_SIZES:
        bands = "\n    UNION ALL\n".join(
            "    SELECT doc_id, {b} AS band, md5({cat}) AS bh FROM sig".format(
                b=b,
                cat=" || ".join(f"h{i}" for i in range(b * bs, (b + 1) * bs)),
            )
            for b in range(_NH // bs)
        )
        parts.append(f"""
bands{bs} AS (
{bands}
),
cand{bs} AS (
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM bands{bs} a JOIN bands{bs} b
      ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id
),
st{bs} AS (
    SELECT CAST({bs} AS INTEGER) AS rows_per_band,
           CAST({_NH // bs} AS INTEGER) AS n_bands,
           CAST(count(*) AS BIGINT) AS n_candidates,
           CAST(sum(CASE WHEN t.doc_a IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS tp
    FROM cand{bs} c
    LEFT JOIN truth t ON t.doc_a = c.doc_a AND t.doc_b = c.doc_b
)""")
    sig_cols = ",\n        ".join(
        f"min(substr(md5(shingle || '#{i // 4}'), {(i % 4) * 8 + 1}, 8))"
        f" AS h{i}"
        for i in range(_NH)
    )
    unions = "\nUNION ALL\n".join(
        f"SELECT s.*, n.n_truth FROM st{bs} s, tn n"
        for bs in _LSH_BAND_SIZES
    )
    sampled_corpus = f"""
sampled AS (
    SELECT doc_id, text FROM (
        SELECT doc_id, text,
               substr(md5(CAST(doc_id AS VARCHAR) || '{_LSH_TUNE_SALT}'),
                      1, 8) AS h
        FROM documents
    ) WHERE ({_HEXVAL}) % 100 < {_LSH_TUNE_PCT}
),
corpus AS (
    SELECT doc_id, text FROM sampled
    UNION ALL
    SELECT doc_id + 1000000 AS doc_id, substr(text, 31) AS text FROM sampled
)
"""
    return (
        "WITH "
        + ",".join([sampled_corpus, SQL_TOK, SQL_SH])
        + f""",
sig AS (
    SELECT doc_id,
        {sig_cols}
    FROM sh GROUP BY doc_id
),
inter AS (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(count(*) AS BIGINT) AS nc
    FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
    GROUP BY 1, 2
),
sz AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS sz FROM sh GROUP BY 1),
truth AS (
    SELECT i.doc_a, i.doc_b
    FROM inter i
    JOIN sz a ON a.doc_id = i.doc_a
    JOIN sz b ON b.doc_id = i.doc_b
    WHERE {_LSH_J_DEN + _LSH_J_NUM} * i.nc
          >= {_LSH_J_NUM} * (a.sz + b.sz)
),
tn AS (SELECT CAST(count(*) AS BIGINT) AS n_truth FROM truth),"""
        + ",".join(parts)
        + f"""
SELECT rows_per_band, n_bands, n_candidates, n_truth, tp,
       round(1e-9 + tp / CAST(n_candidates AS DOUBLE), 6) AS precision,
       round(1e-9 + tp / CAST(n_truth AS DOUBLE), 6) AS recall
FROM ({unions})"""
    )


def q_cumulative_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact running distinct-user counts per day — the first-seen
    trick that makes cumulative COUNT(DISTINCT) linear: a user
    contributes exactly once, on their first day, so the running
    distinct is the running SUM of first-seen counts (one user-grain
    min, one day-grain count, one cumulative window over the tiny day
    frame).  The exact companion to q_sliding_distinct's register
    algebra (sliding windows need the sketch because first-seen has no
    per-window meaning; cumulative windows don't).  New-user share
    rides along as the growth metric."""
    ev = load_tables(spark, sf_dir)["events"]
    first = ev.groupBy("user_id").agg(
        F.min(F.to_date("ts")).alias("day")
    )
    new_per_day = first.groupBy("day").agg(
        F.count(F.lit(1)).cast("long").alias("new_users")
    )
    active = ev.groupBy(F.to_date("ts").alias("day")).agg(
        F.count_distinct("user_id").cast("long").alias("active_users")
    )
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    j = active.join(new_per_day, "day", "left").select(
        "day",
        "active_users",
        F.coalesce("new_users", F.lit(0)).cast("long").alias("new_users"),
    )
    return j.select(
        "day",
        "active_users",
        "new_users",
        F.sum("new_users").over(w).cast("long").alias("cum_distinct"),
        _rnd(
            F.coalesce(F.col("new_users"), F.lit(0))
            / F.col("active_users").cast("double"),
            6,
        ).alias("new_share"),
    )


_SQL_CUMULATIVE_DISTINCT = """
WITH first AS (
    SELECT user_id, min(CAST(ts AS DATE)) AS day FROM events GROUP BY 1
),
new_per_day AS (
    SELECT day, CAST(count(*) AS BIGINT) AS new_users
    FROM first GROUP BY 1
),
active AS (
    SELECT CAST(ts AS DATE) AS day,
           CAST(count(DISTINCT user_id) AS BIGINT) AS active_users
    FROM events GROUP BY 1
)
SELECT a.day, a.active_users,
       CAST(coalesce(n.new_users, 0) AS BIGINT) AS new_users,
       CAST(sum(coalesce(n.new_users, 0)) OVER (ORDER BY a.day
            ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_distinct,
       round(1e-9 + coalesce(n.new_users, 0)
             / CAST(a.active_users AS DOUBLE), 6) AS new_share
FROM active a LEFT JOIN new_per_day n USING (day)"""


_KMINS_K = 16

def q_stream_kmins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-mins distinct sketch ON THE STREAM (Cohen 1997 / Flajolet-
    Martin family) — the third streaming-cardinality shape beside the
    HLL registers (q_stream_hll) and the bottom-k KMV (batch): k=16
    independent per-day MIN aggregates (min is order- and redelivery-
    insensitive ⇒ exactly-once under availableNow; state = days × 16
    values in ONE row per day).  The estimator (k−1)/Σ−ln(1−u_j) runs
    batch-side over the drained sink as a FIXED-ORDER 16-term expression
    on one row — no float aggregation order exists to disagree with the
    oracle (ln is engine-exact, NOTES round-3).  Exact per-day distincts
    verify."""
    from .util import stream_feed

    ev = load_tables(spark, sf_dir)["events"].where(
        F.col("ts").isNotNull() & F.col("user_id").isNotNull()
    )
    stream = stream_feed(ev.select("user_id", "ts"), "user_feed_kmins", sf_dir)

    def h(j: int):
        return F.conv(
            F.substring(
                F.md5(F.concat_ws("#", F.lit(j), F.col("user_id"))), 1, 15
            ),
            16,
            10,
        ).cast("long")

    mins = (
        stream.select(
            F.window("ts", "1 day").alias("win"),
            *[h(j).alias(f"__h{j}") for j in range(_KMINS_K)],
        )
        .groupBy("win")
        .agg(*[F.min(f"__h{j}").alias(f"m{j}") for j in range(_KMINS_K)])
    )
    sink = drain_available_now(mins, "q_stream_kmins_sink").select(
        F.to_date(F.col("win.start")).alias("day"),
        *[F.col(f"m{j}") for j in range(_KMINS_K)],
    )
    scale = float(1 << 60)
    s = None
    for j in range(_KMINS_K):
        term = -F.log(F.lit(1.0) - F.col(f"m{j}").cast("double") / scale)
        s = term if s is None else s + term
    est = F.lit(float(_KMINS_K - 1)) / s
    exact = ev.groupBy(F.to_date("ts").alias("day")).agg(
        F.count_distinct("user_id").cast("long").alias("exact_distinct")
    )
    out = sink.select("day", _rnd(est, 4).alias("est_distinct"))
    return out.join(exact, "day").select(
        "day",
        "est_distinct",
        "exact_distinct",
        _rnd(
            F.abs(F.col("est_distinct") - F.col("exact_distinct"))
            / F.col("exact_distinct"),
            4,
        ).alias("rel_err"),
    )


def _sql_stream_kmins() -> str:
    mins = ",\n           ".join(
        f"min(CAST(('0x' || substr(md5(CAST({j} AS VARCHAR) || '#' ||"
        f" CAST(user_id AS VARCHAR)), 1, 15)) AS BIGINT)) AS m{j}"
        for j in range(_KMINS_K)
    )
    terms = " + ".join(
        f"(-ln(1.0 - CAST(m{j} AS DOUBLE) / {float(1 << 60)!r}))"
        for j in range(_KMINS_K)
    )
    return f"""
WITH ev AS (
    SELECT user_id, ts FROM events
    WHERE ts IS NOT NULL AND user_id IS NOT NULL
),
mins AS (
    SELECT CAST(ts AS DATE) AS day,
           {mins}
    FROM ev GROUP BY 1
),
exact AS (
    SELECT CAST(ts AS DATE) AS day,
           CAST(count(DISTINCT user_id) AS BIGINT) AS exact_distinct
    FROM ev GROUP BY 1
),
est AS (
    SELECT day,
           round(1e-9 + {float(_KMINS_K - 1)!r} / ({terms}), 4)
               AS est_distinct
    FROM mins
)
SELECT e.day, e.est_distinct, x.exact_distinct,
       round(1e-9 + abs(e.est_distinct - x.exact_distinct)
             / x.exact_distinct, 4) AS rel_err
FROM est e JOIN exact x USING (day)"""


def q_seasonal_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonally-adjusted anomaly detection — q_seasonal_decompose's
    residuals thresholded by the median/MAD rule (q_anomaly_mad's
    discipline applied AFTER weekly seasonality is explained away, so a
    busy-Monday spike no longer trips the alarm).  Residuals keep the
    decompose query's exact integer numerators and are epsilon-rounded
    BEFORE every ranking/comparison, so the median, the MAD and the 3×
    flag all operate on engine-identical values; the median windows run
    over the ≤#days residual frame."""
    ev = load_tables(spark, sf_dir)["events"]
    daily = ev.groupBy(F.to_date("ts").alias("d")).agg(
        F.count(F.lit(1)).cast("long").alias("y")
    )
    w7 = Window.orderBy("d").rowsBetween(-3, 3)
    w = daily.select(
        "d",
        "y",
        F.sum("y").over(w7).cast("long").alias("sum7"),
        F.count(F.lit(1)).over(w7).cast("long").alias("cnt7"),
        (F.dayofweek("d") - F.lit(1)).cast("int").alias("dow"),
    )
    seas = (
        w.where(F.col("cnt7") == 7)
        .groupBy("dow")
        .agg(
            F.sum(F.lit(7) * F.col("y") - F.col("sum7"))
            .cast("long")
            .alias("s_num"),
            F.count(F.lit(1)).cast("long").alias("s_cnt"),
        )
    )
    resid = (
        F.col("y")
        - F.col("sum7") / F.lit(7.0)
        - F.col("s_num") / (F.lit(7.0) * F.col("s_cnt"))
    )
    base = (
        w.where(F.col("cnt7") == 7)
        .join(F.broadcast(seas), "dow")
        .select("d", "y", _rnd(resid, 6).alias("resid"))
        .persist()  # day-frame-sized; feeds median + mad + output
    )
    wr = Window.orderBy("resid", "d")
    n = base.agg(F.count(F.lit(1)).alias("__n"))
    med = (
        base.withColumn("__rk", F.row_number().over(wr))
        .crossJoin(F.broadcast(n))
        .agg(
            F.min(
                F.when(2 * F.col("__rk") >= F.col("__n"), F.col("resid"))
            ).alias("med")
        )
    )
    dev = base.crossJoin(F.broadcast(med)).select(
        "d",
        "y",
        "resid",
        "med",
        _rnd(F.abs(F.col("resid") - F.col("med")), 6).alias("__dev"),
    )
    wd = Window.orderBy("__dev", "d")
    mad = (
        dev.withColumn("__rk", F.row_number().over(wd))
        .crossJoin(F.broadcast(n))
        .agg(
            F.min(
                F.when(2 * F.col("__rk") >= F.col("__n"), F.col("__dev"))
            ).alias("mad")
        )
    )
    return dev.crossJoin(F.broadcast(mad)).select(
        "d",
        "y",
        "resid",
        "med",
        "mad",
        (F.col("__dev") > 3 * F.col("mad")).cast("int").alias("anomaly"),
    )


_SQL_SEASONAL_ANOMALY = """
WITH daily AS (
    SELECT CAST(ts AS DATE) AS d, CAST(count(*) AS BIGINT) AS y
    FROM events GROUP BY 1
),
w AS (
    SELECT d, y,
           CAST(sum(y) OVER win AS BIGINT) AS sum7,
           CAST(count(*) OVER win AS BIGINT) AS cnt7,
           CAST(dayofweek(d) AS INTEGER) AS dow
    FROM daily
    WINDOW win AS (ORDER BY d ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
),
seas AS (
    SELECT dow, CAST(sum(7 * y - sum7) AS BIGINT) AS s_num,
           CAST(count(*) AS BIGINT) AS s_cnt
    FROM w WHERE cnt7 = 7 GROUP BY 1
),
base AS (
    SELECT w.d, w.y,
           round((w.y - w.sum7 / 7.0
                  - s.s_num / (7.0 * s.s_cnt)) + 1e-9, 6) AS resid
    FROM w JOIN seas s USING (dow) WHERE w.cnt7 = 7
),
n AS (SELECT count(*) AS n FROM base),
rk AS (
    SELECT *, row_number() OVER (ORDER BY resid, d) AS rk FROM base
),
med AS (
    SELECT min(CASE WHEN 2 * rk >= n.n THEN resid END) AS med
    FROM rk, n
),
dev AS (
    SELECT b.d, b.y, b.resid, m.med,
           round(1e-9 + abs(b.resid - m.med), 6) AS dv
    FROM base b, med m
),
drk AS (SELECT *, row_number() OVER (ORDER BY dv, d) AS rk FROM dev),
mad AS (
    SELECT min(CASE WHEN 2 * rk >= n.n THEN dv END) AS mad FROM drk, n
)
SELECT d.d, d.y, d.resid, d.med, mad.mad,
       CAST(CASE WHEN d.dv > 3 * mad.mad THEN 1 ELSE 0 END AS INTEGER)
           AS anomaly
FROM dev d, mad"""


def q_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arbitrary GROUPING SETS — the multidimensional-agg surface CUBE
    and ROLLUP can't express: exactly ((source), (lang)) — two
    independent marginals in ONE pass, no (source, lang) cells and no
    grand total (cube would emit both, rollup a hierarchy).  Spark's
    SQL GROUPING SETS compiles to the same single-Expand plan any
    engine uses; grouping_id() disambiguates the marginals
    bit-identically with DuckDB's GROUPING()."""
    d = _docs(spark, sf_dir)
    d.createOrReplaceTempView("__gs_docs")
    return spark.sql(
        """
        SELECT source, lang,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(n_chars) AS BIGINT) AS total_chars,
               CAST(grouping_id(source, lang) AS BIGINT) AS level_id
        FROM __gs_docs
        GROUP BY GROUPING SETS ((source), (lang))
        """
    )


_SQL_GROUPING_SETS = """
SELECT source, lang,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS total_chars,
       CAST(GROUPING(source, lang) AS BIGINT) AS level_id
FROM documents
GROUP BY GROUPING SETS ((source), (lang))"""


_ACF_MAX_LAG = 7


def q_autocorrelation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample autocorrelation of the daily event series at lags 1..7 —
    the seasonality detector feeding the decompose/EWMA family (a lag-7
    peak is what justifies the weekly seasonal model).  Same
    exactness discipline as q_trend_ols: cross-multiplying by n² turns
    the mean-centered products into pure INTEGER sums
    (n²·Σy_t·y_{t−ℓ} − n·S·(A_ℓ+B_ℓ) + (n−ℓ)·S² over
    n²·Σy² − n·S²), one double division per lag at the very end.  Lag
    pairs come from one 7-column lag window over the ≤#days frame."""
    ev = load_tables(spark, sf_dir)["events"]
    daily = ev.groupBy(F.to_date("ts").alias("d")).agg(
        F.count(F.lit(1)).cast("long").alias("y")
    )
    w = Window.orderBy("d")
    wide = daily.select(
        "y",
        *[
            F.lag("y", lag).over(w).alias(f"__l{lag}")
            for lag in range(1, _ACF_MAX_LAG + 1)
        ],
    )
    lagged = wide.select(
        "y",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(lag).alias("lag"),
                        F.col(f"__l{lag}").alias("y_lag"),
                    )
                    for lag in range(1, _ACF_MAX_LAG + 1)
                ]
            )
        ).alias("x"),
    ).select("y", F.col("x.lag").alias("lag"), F.col("x.y_lag").alias("y_lag"))
    per_lag = (
        lagged.where(F.col("y_lag").isNotNull())
        .groupBy("lag")
        .agg(
            F.sum(F.col("y") * F.col("y_lag")).cast("long").alias("sxy"),
            F.sum("y").cast("long").alias("a"),
            F.sum("y_lag").cast("long").alias("b"),
        )
    )
    glob = daily.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("y").cast("long").alias("s"),
        F.sum(F.col("y") * F.col("y")).cast("long").alias("syy"),
    )
    j = per_lag.crossJoin(F.broadcast(glob))
    num = (
        F.col("n") * F.col("n") * F.col("sxy")
        - F.col("n") * F.col("s") * (F.col("a") + F.col("b"))
        + (F.col("n") - F.col("lag")) * F.col("s") * F.col("s")
    )
    den = F.col("n") * F.col("n") * F.col("syy") - F.col("n") * F.col(
        "s"
    ) * F.col("s")
    return j.select(
        F.col("lag").cast("int").alias("lag"),
        F.col("n").alias("n_days"),
        _rnd(num.cast("double") / den.cast("double"), 6).alias("acf"),
    )


def _sql_autocorrelation() -> str:
    unions = "\n    UNION ALL\n".join(
        f"    SELECT {lag} AS lag, y,"
        f" lag(y, {lag}) OVER (ORDER BY d) AS y_lag FROM daily"
        for lag in range(1, _ACF_MAX_LAG + 1)
    )
    return f"""
WITH daily AS (
    SELECT CAST(ts AS DATE) AS d, CAST(count(*) AS BIGINT) AS y
    FROM events GROUP BY 1
),
lagged AS (
{unions}
),
per_lag AS (
    SELECT lag,
           CAST(sum(y * y_lag) AS BIGINT) AS sxy,
           CAST(sum(y) AS BIGINT) AS a,
           CAST(sum(y_lag) AS BIGINT) AS b
    FROM lagged WHERE y_lag IS NOT NULL GROUP BY 1
),
g AS (
    SELECT CAST(count(*) AS BIGINT) AS n,
           CAST(sum(y) AS BIGINT) AS s,
           CAST(sum(y * y) AS BIGINT) AS syy
    FROM daily
)
SELECT CAST(lag AS INTEGER) AS lag, g.n AS n_days,
       round(1e-9 + CAST(g.n * g.n * p.sxy
                         - g.n * g.s * (p.a + p.b)
                         + (g.n - p.lag) * g.s * g.s AS DOUBLE)
             / CAST(g.n * g.n * g.syy - g.n * g.s * g.s AS DOUBLE), 6)
           AS acf
FROM per_lag p, g"""


def q_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini concentration of customer revenue per order priority — the
    inequality metric behind "do 20% of customers drive 80% of revenue"
    (pairs with q_key_skew's HHI for join planning and with the mixture
    planners for corpus balance).  Exact with NO per-row ranking: for a
    value v with count c and cumulative count cle, its occupants' rank
    sum is c·cle − c·(c−1)/2, so 2·Σᵢ i·xᵢ = Σ_v v·(2·c·cle − c·(c−1))
    folds over the distinct-value CDF (`sampling.bucketed_value_cumsum`,
    grouped) — all integers until the single G division.  G =
    (2Σi·xᵢ − (n+1)·S) / (n·S)."""
    from .operators import sampling

    od = load_tables(spark, sf_dir)["orders"]
    cust = od.groupBy("o_orderpriority", "o_custkey").agg(
        F.sum(F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)))
        .cast("long")
        .alias("rev_u")
    )
    cum = sampling.bucketed_value_cumsum(
        cust, "rev_u", ("o_orderpriority",)
    )
    agg = cum.groupBy("o_orderpriority").agg(
        F.sum("__c").cast("long").alias("n_cust"),
        F.sum(F.col("__v") * F.col("__c")).cast("long").alias("s"),
        F.sum(
            F.col("__v")
            * (
                2 * F.col("__c") * F.col("__cle")
                - F.col("__c") * (F.col("__c") - 1)
            )
        )
        .cast("long")
        .alias("two_ranked"),
    )
    g = (
        F.col("two_ranked").cast("double")
        - (F.col("n_cust") + 1).cast("double") * F.col("s").cast("double")
    ) / (F.col("n_cust").cast("double") * F.col("s").cast("double"))
    return agg.select(
        "o_orderpriority",
        "n_cust",
        F.col("s").alias("revenue_u"),
        _rnd(g, 6).alias("gini"),
    )


_SQL_GINI = """
WITH cust AS (
    SELECT o_orderpriority, o_custkey,
           CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
                AS BIGINT) AS rev_u
    FROM orders GROUP BY 1, 2
),
vc AS (
    SELECT o_orderpriority, rev_u AS v, CAST(count(*) AS BIGINT) AS c
    FROM cust GROUP BY 1, 2
),
cum AS (
    SELECT o_orderpriority, v, c,
           CAST(sum(c) OVER (PARTITION BY o_orderpriority ORDER BY v
                             ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cle
    FROM vc
),
agg AS (
    SELECT o_orderpriority,
           CAST(sum(c) AS BIGINT) AS n_cust,
           CAST(sum(v * c) AS BIGINT) AS s,
           CAST(sum(v * (2 * c * cle - c * (c - 1))) AS BIGINT)
               AS two_ranked
    FROM cum GROUP BY 1
)
SELECT o_orderpriority, n_cust, s AS revenue_u,
       round(1e-9 + (CAST(two_ranked AS DOUBLE)
                     - (n_cust + 1) * CAST(s AS DOUBLE))
             / (n_cust * CAST(s AS DOUBLE)), 6) AS gini
FROM agg"""


_XCF_MAX_LAG = 3


def q_crosscorrelation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lagged cross-correlation between the daily VIEW and PURCHASE
    series (lags −3..+3; positive lag = views lead purchases) — the
    lead–lag diagnostic that turns q_demand_corr's contemporaneous
    matrix into a causal-direction hint.  Same integer discipline as
    q_autocorrelation: per-lag aligned sums stay exact integers,
    normalized once per lag by the aligned-sample covariance terms
    (overlap-mean convention: means/variances computed on the aligned
    n−|ℓ| window so every lag is a proper Pearson r in [−1, 1])."""
    ev = load_tables(spark, sf_dir)["events"]
    daily = (
        ev.groupBy(F.to_date("ts").alias("d"))
        .agg(
            F.sum(
                (F.col("event_type") == "view").cast("long")
            ).alias("x"),
            F.sum(
                (F.col("event_type") == "purchase").cast("long")
            ).alias("y"),
        )
    )
    w = Window.orderBy("d")
    wide = daily.select(
        "x",
        "y",
        *[
            F.lag("x", lag).over(w).alias(f"__x{lag}")
            for lag in range(1, _XCF_MAX_LAG + 1)
        ],
        *[
            F.lag("y", lag).over(w).alias(f"__y{lag}")
            for lag in range(1, _XCF_MAX_LAG + 1)
        ],
    )
    structs = [
        F.struct(F.lit(0).alias("lag"), F.col("x").alias("xa"), F.col("y").alias("yb"))
    ]
    for lag in range(1, _XCF_MAX_LAG + 1):
        # +lag: x leads y — pair x_{t-lag} with y_t
        structs.append(
            F.struct(
                F.lit(lag).alias("lag"),
                F.col(f"__x{lag}").alias("xa"),
                F.col("y").alias("yb"),
            )
        )
        # -lag: y leads x — pair x_t with y_{t-lag}
        structs.append(
            F.struct(
                F.lit(-lag).alias("lag"),
                F.col("x").alias("xa"),
                F.col(f"__y{lag}").alias("yb"),
            )
        )
    pairs = wide.select(F.explode(F.array(*structs)).alias("p")).select(
        F.col("p.lag").alias("lag"),
        F.col("p.xa").alias("xa"),
        F.col("p.yb").alias("yb"),
    ).where(F.col("xa").isNotNull() & F.col("yb").isNotNull())
    sums = pairs.groupBy("lag").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("xa").cast("long").alias("sx"),
        F.sum("yb").cast("long").alias("sy"),
        F.sum(F.col("xa") * F.col("yb")).cast("long").alias("sxy"),
        F.sum(F.col("xa") * F.col("xa")).cast("long").alias("sxx"),
        F.sum(F.col("yb") * F.col("yb")).cast("long").alias("syy"),
    )
    num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    dx = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    dy = F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")
    return sums.select(
        F.col("lag").cast("int").alias("lag"),
        F.col("n").alias("n_pairs"),
        _rnd(
            num.cast("double")
            / (F.sqrt(dx.cast("double")) * F.sqrt(dy.cast("double"))),
            6,
        ).alias("xcf"),
    )


def _sql_crosscorrelation() -> str:
    rows = ["    SELECT 0 AS lag, x AS xa, y AS yb FROM daily"]
    for lag in range(1, _XCF_MAX_LAG + 1):
        rows.append(
            f"    SELECT {lag} AS lag, lag(x, {lag}) OVER (ORDER BY d)"
            " AS xa, y AS yb FROM daily"
        )
        rows.append(
            f"    SELECT {-lag} AS lag, x AS xa,"
            f" lag(y, {lag}) OVER (ORDER BY d) AS yb FROM daily"
        )
    unions = "\n    UNION ALL\n".join(rows)
    return f"""
WITH daily AS (
    SELECT CAST(ts AS DATE) AS d,
           CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
                AS BIGINT) AS x,
           CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                AS BIGINT) AS y
    FROM events GROUP BY 1
),
pairs AS (
{unions}
),
ok AS (SELECT * FROM pairs WHERE xa IS NOT NULL AND yb IS NOT NULL),
sums AS (
    SELECT lag,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(xa) AS BIGINT) AS sx,
           CAST(sum(yb) AS BIGINT) AS sy,
           CAST(sum(xa * yb) AS BIGINT) AS sxy,
           CAST(sum(xa * xa) AS BIGINT) AS sxx,
           CAST(sum(yb * yb) AS BIGINT) AS syy
    FROM ok GROUP BY 1
)
SELECT CAST(lag AS INTEGER) AS lag, n AS n_pairs,
       round(1e-9 + CAST(n * sxy - sx * sy AS DOUBLE)
             / (sqrt(CAST(n * sxx - sx * sx AS DOUBLE))
                * sqrt(CAST(n * syy - sy * sy AS DOUBLE))), 6) AS xcf
FROM sums"""


def q_pareto_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 80/20 readout beside q_gini: what revenue share do the top
    10% / 20% of customers carry, per priority.  Rank-free like the
    Gini — the value-CDF gives each revenue value its customer-ordinal
    interval, the top-q cutoff ordinal is ⌈q·n⌉ as a cross-multiplied
    integer, and a value straddling the cutoff contributes only its
    in-quantile occupants (overlap arithmetic, same trick as
    q_microagg's group tiling).  All integers until the share
    divisions."""
    from .operators import sampling

    od = load_tables(spark, sf_dir)["orders"]
    cust = od.groupBy("o_orderpriority", "o_custkey").agg(
        F.sum(F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)))
        .cast("long")
        .alias("rev_u")
    )
    cum = sampling.bucketed_value_cumsum(
        cust, "rev_u", ("o_orderpriority",)
    )
    tot = cum.groupBy("o_orderpriority").agg(
        F.sum("__c").cast("long").alias("n_cust"),
        F.sum(F.col("__v") * F.col("__c")).cast("long").alias("s"),
    )
    j = cum.join(F.broadcast(tot), "o_orderpriority")
    out = None
    for pct_num, pct_den, label in [(1, 10, "top10"), (1, 5, "top20")]:
        # top-q customers = the qn highest ranks; a value's occupants
        # hold ordinals (cle-c, cle]; ordinals > n - ceil(q*n) are in.
        # k = ceil(q*n) as integers: k = (n*num + den - 1) div den
        k = (F.col("n_cust") * pct_num + pct_den - 1) / F.lit(pct_den)
        k = k.cast("long")
        cutoff = F.col("n_cust") - k  # ordinals strictly above are in
        lo = F.greatest(F.col("__cle") - F.col("__c"), cutoff)
        take = F.greatest(F.col("__cle") - lo, F.lit(0))
        st = j.groupBy("o_orderpriority").agg(
            F.first("n_cust").alias("n_cust"),
            F.first("s").alias("revenue_u"),
            F.max(k).alias("__k"),
            F.sum(F.col("__v") * take).cast("long").alias("__top_rev"),
        ).select(
            "o_orderpriority",
            F.lit(label).alias("segment"),
            "n_cust",
            F.col("__k").alias("n_top"),
            "revenue_u",
            F.col("__top_rev").alias("top_rev_u"),
            _rnd(
                F.col("__top_rev") / F.col("revenue_u").cast("double"), 6
            ).alias("rev_share"),
        )
        out = st if out is None else out.unionByName(st)
    return out


_SQL_PARETO_SHARE = """
WITH cust AS (
    SELECT o_orderpriority, o_custkey,
           CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
                AS BIGINT) AS rev_u
    FROM orders GROUP BY 1, 2
),
vc AS (
    SELECT o_orderpriority, rev_u AS v, CAST(count(*) AS BIGINT) AS c
    FROM cust GROUP BY 1, 2
),
cum AS (
    SELECT o_orderpriority, v, c,
           CAST(sum(c) OVER (PARTITION BY o_orderpriority ORDER BY v
                             ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cle
    FROM vc
),
tot AS (
    SELECT o_orderpriority, CAST(sum(c) AS BIGINT) AS n_cust,
           CAST(sum(v * c) AS BIGINT) AS s
    FROM vc GROUP BY 1
),
segs AS (
    SELECT * FROM (VALUES (1, 10, 'top10'), (1, 5, 'top20'))
        AS t(num, den, segment)
),
j AS (
    SELECT c.*, t.n_cust, t.s, g.num, g.den, g.segment,
           CAST((t.n_cust * g.num + g.den - 1) // g.den AS BIGINT) AS k
    FROM cum c JOIN tot t USING (o_orderpriority), segs g
)
SELECT o_orderpriority, segment,
       CAST(max(n_cust) AS BIGINT) AS n_cust,
       CAST(max(k) AS BIGINT) AS n_top,
       CAST(max(s) AS BIGINT) AS revenue_u,
       CAST(sum(v * greatest(cle - greatest(cle - c, n_cust - k), 0))
            AS BIGINT) AS top_rev_u,
       round(1e-9 + sum(v * greatest(cle - greatest(cle - c, n_cust - k),
                                     0))
             / CAST(max(s) AS DOUBLE), 6) AS rev_share
FROM j GROUP BY 1, 2"""


def q_tukey_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tukey box-plot fences per priority — the third robust-outlier
    rule beside MAD (q_anomaly_mad) and winsorization (q_winsorize):
    type-1 quartiles off the grouped value-CDF, then the 1.5·IQR fences
    applied as PURE-INTEGER comparisons (2v < 2q1 − 3·IQR / 2v > 2q3 +
    3·IQR — the lattice never meets a float), outlier counts from one
    more pass over the same distinct-value table (counts, not rows —
    the corpus is never re-shuffled)."""
    from .operators import sampling

    od = load_tables(spark, sf_dir)["orders"]
    base = od.select(
        "o_orderpriority",
        F.floor(F.col("o_totalprice") * 100 + F.lit(0.5))
        .cast("long")
        .alias("price_u"),
    )
    cum = sampling.bucketed_value_cumsum(
        base, "price_u", ("o_orderpriority",)
    ).persist()  # quartiles + outlier counting; value-table-sized
    tot = cum.groupBy("o_orderpriority").agg(
        F.sum("__c").cast("long").alias("n")
    )
    j = cum.join(F.broadcast(tot), "o_orderpriority")
    quart = j.groupBy("o_orderpriority").agg(
        F.first("n").alias("n"),
        F.min(
            F.when(4 * F.col("__cle") >= F.col("n"), F.col("__v"))
        )
        .cast("long")
        .alias("q1_u"),
        F.min(
            F.when(4 * F.col("__cle") >= 3 * F.col("n"), F.col("__v"))
        )
        .cast("long")
        .alias("q3_u"),
    )
    f = cum.join(F.broadcast(quart), "o_orderpriority")
    iqr = F.col("q3_u") - F.col("q1_u")
    low = 2 * F.col("__v") < 2 * F.col("q1_u") - 3 * iqr
    high = 2 * F.col("__v") > 2 * F.col("q3_u") + 3 * iqr
    return f.groupBy("o_orderpriority").agg(
        F.first("n").alias("n"),
        F.first("q1_u").alias("q1_u"),
        F.first("q3_u").alias("q3_u"),
        F.first(iqr).cast("long").alias("iqr_u"),
        F.sum(F.when(low, F.col("__c")).otherwise(0))
        .cast("long")
        .alias("n_low"),
        F.sum(F.when(high, F.col("__c")).otherwise(0))
        .cast("long")
        .alias("n_high"),
    ).withColumn(
        "outlier_pct",
        _rnd(
            (F.col("n_low") + F.col("n_high")) / F.col("n").cast("double"),
            6,
        ),
    )


_SQL_TUKEY_OUTLIERS = """
WITH base AS (
    SELECT o_orderpriority,
           CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS price_u
    FROM orders
),
vc AS (
    SELECT o_orderpriority, price_u AS v, CAST(count(*) AS BIGINT) AS c
    FROM base GROUP BY 1, 2
),
cum AS (
    SELECT o_orderpriority, v, c,
           CAST(sum(c) OVER (PARTITION BY o_orderpriority ORDER BY v
                             ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cle
    FROM vc
),
tot AS (
    SELECT o_orderpriority, CAST(sum(c) AS BIGINT) AS n FROM vc GROUP BY 1
),
quart AS (
    SELECT c.o_orderpriority, max(t.n) AS n,
           CAST(min(CASE WHEN 4 * c.cle >= t.n THEN c.v END)
                AS BIGINT) AS q1_u,
           CAST(min(CASE WHEN 4 * c.cle >= 3 * t.n THEN c.v END)
                AS BIGINT) AS q3_u
    FROM cum c JOIN tot t USING (o_orderpriority)
    GROUP BY 1
)
SELECT c.o_orderpriority,
       CAST(max(q.n) AS BIGINT) AS n,
       max(q.q1_u) AS q1_u, max(q.q3_u) AS q3_u,
       CAST(max(q.q3_u - q.q1_u) AS BIGINT) AS iqr_u,
       CAST(sum(CASE WHEN 2 * c.v < 2 * q.q1_u - 3 * (q.q3_u - q.q1_u)
                     THEN c.c ELSE 0 END) AS BIGINT) AS n_low,
       CAST(sum(CASE WHEN 2 * c.v > 2 * q.q3_u + 3 * (q.q3_u - q.q1_u)
                     THEN c.c ELSE 0 END) AS BIGINT) AS n_high,
       round(1e-9 + (sum(CASE WHEN 2 * c.v < 2 * q.q1_u
                                   - 3 * (q.q3_u - q.q1_u)
                              THEN c.c ELSE 0 END)
                     + sum(CASE WHEN 2 * c.v > 2 * q.q3_u
                                     + 3 * (q.q3_u - q.q1_u)
                                THEN c.c ELSE 0 END))
             / CAST(max(q.n) AS DOUBLE), 6) AS outlier_pct
FROM cum c JOIN quart q USING (o_orderpriority)
GROUP BY 1"""


def q_stickiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DAU/WAU stickiness — the product-health ratio: per day, exact
    daily actives over exact trailing-7-day actives (the range join on
    the distinct (day, user) table that q_sliding_distinct's sketch
    replaces at 100 TB; here the exact path IS the point, and the
    day×user frame is the only thing joined — never raw events).
    Stickiness = one division; 1.0 means every weekly user showed up
    today."""
    ev = load_tables(spark, sf_dir)["events"]
    du = ev.select(F.to_date("ts").alias("day"), "user_id").distinct().persist()
    dau = du.groupBy("day").agg(
        F.count(F.lit(1)).cast("long").alias("dau")
    )
    days = du.select("day").distinct()
    wau = (
        days.alias("t")
        .join(
            du.alias("e"),
            (F.col("e.day") >= F.date_sub(F.col("t.day"), 6))
            & (F.col("e.day") <= F.col("t.day")),
        )
        .groupBy(F.col("t.day").alias("day"))
        .agg(F.count_distinct("e.user_id").cast("long").alias("wau"))
    )
    return dau.join(wau, "day").select(
        "day",
        "dau",
        "wau",
        _rnd(F.col("dau") / F.col("wau").cast("double"), 6).alias(
            "stickiness"
        ),
    )


_SQL_STICKINESS = """
WITH du AS (
    SELECT DISTINCT CAST(ts AS DATE) AS day, user_id FROM events
),
dau AS (
    SELECT day, CAST(count(*) AS BIGINT) AS dau FROM du GROUP BY 1
),
days AS (SELECT DISTINCT day FROM du),
wau AS (
    SELECT t.day, CAST(count(DISTINCT e.user_id) AS BIGINT) AS wau
    FROM days t JOIN du e
      ON e.day >= t.day - 6 AND e.day <= t.day
    GROUP BY 1
)
SELECT d.day, d.dau, w.wau,
       round(1e-9 + d.dau / CAST(w.wau AS DOUBLE), 6) AS stickiness
FROM dau d JOIN wau w USING (day)"""


# (z_{alpha/2} + z_beta)^2 for alpha=0.05 two-sided, power=0.80 —
# driver-folded literal so both engines consume the identical double
_POWER_Z2 = (1.959963984540054 + 0.8416212335729143) ** 2
_POWER_MDES = [(1, 100), (1, 50), (1, 20)]  # absolute MDEs 1%, 2%, 5%


def q_power_analysis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Experiment sample-size planner — q_ab_test's design-side twin:
    for each minimum detectable effect, the per-variant n required at
    alpha=0.05 / power 0.80 from the observed baseline conversion
    (n = z²·2p(1−p)/δ², z² a driver-folded literal, p the exact
    integer ratio from the control variant), plus the feasible flag
    against the users actually available.  Deterministic planning
    arithmetic, the q_dp_budget discipline applied to experimentation."""
    ev = load_tables(spark, sf_dir)["events"]
    users = ev.groupBy("user_id").agg(
        F.max(
            F.when(
                (F.col("event_type") == "purchase") & (F.col("value") > 150),
                1,
            ).otherwise(0)
        ).alias("converted")
    )
    base = users.where(F.pmod(F.col("user_id"), F.lit(2)) == 0).agg(
        F.count(F.lit(1)).cast("long").alias("n0"),
        F.sum("converted").cast("long").alias("c0"),
    )
    avail = users.agg(F.count(F.lit(1)).cast("long").alias("n_avail"))
    mde = spark.createDataFrame(
        _POWER_MDES, "mde_num int, mde_den int"
    )
    j = base.crossJoin(F.broadcast(avail)).crossJoin(F.broadcast(mde))
    p = F.col("c0") / F.col("n0").cast("double")
    delta = F.col("mde_num") / F.col("mde_den").cast("double")
    n_req = F.ceil(
        F.lit(_POWER_Z2) * 2 * p * (1 - p) / (delta * delta)
    ).cast("long")
    return j.select(
        _rnd(delta, 4).alias("mde"),
        "n0",
        "c0",
        _rnd(p, 6).alias("p_baseline"),
        n_req.alias("n_required_per_variant"),
        "n_avail",
        (2 * n_req <= F.col("n_avail")).cast("int").alias("feasible"),
    )


def _sql_power_analysis() -> str:
    vals = ", ".join(f"({n}, {d})" for n, d in _POWER_MDES)
    return f"""
WITH users AS (
    SELECT user_id,
           max(CASE WHEN event_type = 'purchase' AND value > 150
                    THEN 1 ELSE 0 END) AS converted
    FROM events GROUP BY 1
),
base AS (
    SELECT CAST(count(*) AS BIGINT) AS n0,
           CAST(sum(converted) AS BIGINT) AS c0
    FROM users WHERE user_id % 2 = 0
),
avail AS (SELECT CAST(count(*) AS BIGINT) AS n_avail FROM users),
mde AS (
    SELECT CAST(mde_num AS INTEGER) AS mde_num,
           CAST(mde_den AS INTEGER) AS mde_den
    FROM (VALUES {vals}) AS t(mde_num, mde_den)
)
SELECT round(1e-9 + mde_num / CAST(mde_den AS DOUBLE), 4) AS mde,
       b.n0, b.c0,
       round(1e-9 + b.c0 / CAST(b.n0 AS DOUBLE), 6) AS p_baseline,
       CAST(ceil({_POWER_Z2!r} * 2 * (b.c0 / CAST(b.n0 AS DOUBLE))
                 * (1 - b.c0 / CAST(b.n0 AS DOUBLE))
                 / ((mde_num / CAST(mde_den AS DOUBLE))
                    * (mde_num / CAST(mde_den AS DOUBLE))))
            AS BIGINT) AS n_required_per_variant,
       a.n_avail,
       CAST(CASE WHEN 2 * CAST(ceil({_POWER_Z2!r} * 2
                     * (b.c0 / CAST(b.n0 AS DOUBLE))
                     * (1 - b.c0 / CAST(b.n0 AS DOUBLE))
                     / ((mde_num / CAST(mde_den AS DOUBLE))
                        * (mde_num / CAST(mde_den AS DOUBLE))))
                 AS BIGINT) <= a.n_avail
                 THEN 1 ELSE 0 END AS INTEGER) AS feasible
FROM base b, avail a, mde"""


def q_new_vs_returning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """New-vs-returning daily revenue split — the acquisition/retention
    decomposition: a purchase is 'new' iff it lands on the buyer's
    first-seen day (the q_cumulative_distinct first-seen frame,
    broadcast back onto the fact once); exact lattice revenue per
    bucket, shares = one division each.  One user-grain min + one
    fact-grain aggregation."""
    ev = load_tables(spark, sf_dir)["events"]
    first = ev.groupBy("user_id").agg(
        F.min(F.to_date("ts")).alias("first_day")
    )
    pur = (
        ev.where(
            (F.col("event_type") == "purchase") & F.col("value").isNotNull()
        )
        .join(F.broadcast(first), "user_id")
        .select(
            F.to_date("ts").alias("day"),
            (F.to_date("ts") == F.col("first_day")).alias("is_new"),
            F.floor(F.col("value") * 100 + F.lit(0.5))
            .cast("long")
            .alias("v_u"),
        )
    )
    agg = pur.groupBy("day").agg(
        F.sum(F.when(F.col("is_new"), F.col("v_u")).otherwise(0))
        .cast("long")
        .alias("new_rev_u"),
        F.sum(F.when(~F.col("is_new"), F.col("v_u")).otherwise(0))
        .cast("long")
        .alias("ret_rev_u"),
        F.sum(F.col("is_new").cast("long")).cast("long").alias("new_purchases"),
        F.sum((~F.col("is_new")).cast("long")).cast("long").alias(
            "ret_purchases"
        ),
    )
    return agg.select(
        "day",
        "new_purchases",
        "ret_purchases",
        "new_rev_u",
        "ret_rev_u",
        _rnd(
            F.col("new_rev_u")
            / F.greatest(
                (F.col("new_rev_u") + F.col("ret_rev_u")).cast("double"),
                F.lit(1.0),
            ),
            6,
        ).alias("new_rev_share"),
    )


_SQL_NEW_VS_RETURNING = """
WITH first AS (
    SELECT user_id, min(CAST(ts AS DATE)) AS first_day
    FROM events GROUP BY 1
),
pur AS (
    SELECT CAST(e.ts AS DATE) AS day,
           CAST(e.ts AS DATE) = f.first_day AS is_new,
           CAST(floor(e.value * 100 + 0.5) AS BIGINT) AS v_u
    FROM events e JOIN first f USING (user_id)
    WHERE e.event_type = 'purchase' AND e.value IS NOT NULL
)
SELECT day,
       CAST(sum(CASE WHEN is_new THEN 1 ELSE 0 END) AS BIGINT)
           AS new_purchases,
       CAST(sum(CASE WHEN is_new THEN 0 ELSE 1 END) AS BIGINT)
           AS ret_purchases,
       CAST(sum(CASE WHEN is_new THEN v_u ELSE 0 END) AS BIGINT)
           AS new_rev_u,
       CAST(sum(CASE WHEN is_new THEN 0 ELSE v_u END) AS BIGINT)
           AS ret_rev_u,
       round(1e-9 + sum(CASE WHEN is_new THEN v_u ELSE 0 END)
             / greatest(CAST(sum(v_u) AS DOUBLE), 1.0), 6)
           AS new_rev_share
FROM pur GROUP BY 1"""


def q_heatmap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hour-of-day × day-of-week demand heatmap — the load-profile
    matrix behind capacity planning and the zone-demand features: one
    map-side-combinable aggregation over the (7 × 24)-bounded grid,
    global share and within-weekday peak rank riding along (rank
    windows over the 168-row grid, never the fact)."""
    ev = load_tables(spark, sf_dir)["events"]
    grid = ev.groupBy(
        (F.dayofweek(F.to_date("ts")) - 1).cast("int").alias("dow"),
        F.hour("ts").cast("int").alias("hour"),
    ).agg(F.count(F.lit(1)).cast("long").alias("n_events"))
    tot = grid.agg(F.sum("n_events").cast("long").alias("total"))
    w = Window.partitionBy("dow").orderBy(
        F.desc("n_events"), F.asc("hour")
    )
    return (
        grid.crossJoin(F.broadcast(tot))
        .select(
            "dow",
            "hour",
            "n_events",
            _rnd(F.col("n_events") / F.col("total").cast("double"), 6).alias(
                "share"
            ),
            F.row_number().over(w).cast("int").alias("rank_in_dow"),
        )
    )


_SQL_HEATMAP = """
WITH grid AS (
    SELECT CAST(dayofweek(CAST(ts AS DATE)) AS INTEGER) AS dow,
           CAST(hour(ts) AS INTEGER) AS hour,
           CAST(count(*) AS BIGINT) AS n_events
    FROM events GROUP BY 1, 2
),
tot AS (SELECT CAST(sum(n_events) AS BIGINT) AS total FROM grid)
SELECT g.dow, g.hour, g.n_events,
       round(1e-9 + g.n_events / CAST(t.total AS DOUBLE), 6) AS share,
       CAST(row_number() OVER (PARTITION BY g.dow
                               ORDER BY g.n_events DESC, g.hour ASC)
            AS INTEGER) AS rank_in_dow
FROM grid g, tot t"""


ORACLES: dict[str, str] = {
    "q_dedup_exact": _SQL_DEDUP_EXACT,
    "q_minhash_lsh": _SQL_MINHASH_LSH,
    "q_dedup_cluster": _SQL_DEDUP_CLUSTER,
    "q_cc_two_phase": _SQL_DEDUP_CLUSTER,
    "q_global_index": _SQL_GLOBAL_INDEX,
    "q_boilerplate": _SQL_BOILERPLATE,
    "q_dup_rate_by_source": _SQL_DUP_RATE_BY_SOURCE,
    "q_multimodal_features": _SQL_MULTIMODAL,
    "q_centroid_assign": _SQL_CENTROID_ASSIGN,
    "q_top_terms": _SQL_TOP_TERMS,
    "q_edit_distance": _SQL_EDIT_DISTANCE,
    "q_lm_score": _SQL_LM_SCORE,
    "q_decontaminate": _SQL_DECONTAMINATE,
    "q_array_ops": _SQL_ARRAY_OPS,
    "q_text_scrub": _SQL_TEXT_SCRUB,
    "q_sample_hash": _SQL_SAMPLE_HASH,
    "q_epoch_shuffle": _SQL_EPOCH_SHUFFLE,
    "q_sample_stratified": _SQL_SAMPLE_STRATIFIED,
    "q_percentiles": _SQL_PERCENTILES,
    "q_percentiles_approx": _SQL_PERCENTILES_APPROX,
    "q_repetition": _SQL_REPETITION,
    "q_length_histogram": _SQL_LENGTH_HISTOGRAM,
    "q_split_assign": _SQL_SPLIT_ASSIGN,
    "q_dedup_keep_best": _SQL_DEDUP_KEEP_BEST,
    "q_kmeans_cells": _SQL_KMEANS_CELLS,
    "q_pq_codebook": _SQL_PQ_CODEBOOK,
    "q_pq_search": _SQL_PQ_SEARCH,
    "q_pq_recall": _SQL_PQ_RECALL,
    "q_ivfpq_search": _SQL_IVFPQ_SEARCH,
    "q_ivfpq_recall": _SQL_IVFPQ_RECALL,
    "q_ivfpq_multiprobe": _SQL_IVFPQ_MULTIPROBE,
    # disk-served results are bit-identical to the in-memory index
    # (deterministic fit), so the persist query shares the search oracle
    "q_ann_index_persist": _SQL_IVFPQ_SEARCH,
    "q_ann_index_append": _SQL_ANN_INDEX_APPEND,
    "q_bpe_merges": _SQL_BPE_MERGES,
    "q_bpe_tokenize": _SQL_BPE_TOKENIZE,
    "q_tokenizer_fertility": _SQL_TOKENIZER_FERTILITY,
    "q_chunk_docs": _SQL_CHUNK_DOCS,
    "q_pack_sequences": _SQL_PACK_SEQUENCES,
    "q_cross_corpus_neardup": _SQL_CROSS_CORPUS_NEARDUP,
    "q_incremental_neardup": _SQL_INCREMENTAL_NEARDUP,
    "q_neardup_store_roundtrip": _sql_neardup_store_roundtrip(),
    "q_neardup_store_bucketed": _sql_neardup_store_bucketed(),
    "q_store_time_travel": _sql_store_time_travel(),
    "q_pii_scan": _SQL_PII_SCAN,
    "q_stream_cdc": _SQL_STREAM_CDC,
    "q_consistent_hash": _sql_consistent_hash(),
    "q_feature_hash_audit": _SQL_FEATURE_HASH_AUDIT,
    "q_gdpr_export": _SQL_GDPR_EXPORT,
    "q_stream_ingest_dedup": _SQL_STREAM_INGEST_DEDUP,
    "q_rake_keywords": _SQL_RAKE_KEYWORDS,
    "q_cluster_split": _SQL_CLUSTER_SPLIT,
    "q_schema_evolution": _SQL_SCHEMA_EVOLUTION,
    "q_filter_funnel": _SQL_FILTER_FUNNEL,
    "q_mixture_sample": _SQL_MIXTURE_SAMPLE,
    "q_mixture_plan": _SQL_MIXTURE_PLAN,
    "q_semdedup": _SQL_SEMDEDUP,
    "q_hll_distinct": _hll_distinct_sql(),
    "q_kmv_distinct": _SQL_KMV_DISTINCT,
    "q_mg_topk": _SQL_MG_TOPK,
    "q_stream_mg_topk": _SQL_STREAM_MG_TOPK,
    "q_trend_ols": _SQL_TREND_OLS,
    "q_benford": _sql_benford(),
    "q_bootstrap_ci": _sql_bootstrap_ci(),
    "q_ewma_anomaly": _sql_ewma_anomaly(),
    "q_markov_transitions": _SQL_MARKOV_TRANSITIONS,
    "q_ab_test": _SQL_AB_TEST,
    "q_watermark_audit": _sql_watermark_audit(),
    "q_sliding_distinct": _sql_sliding_distinct(),
    "q_rrf_fusion": _SQL_RRF_FUSION,
    "q_rank_functions": _SQL_RANK_FUNCTIONS,
    "q_set_ops": _SQL_SET_OPS,
    "q_dp_budget": _sql_dp_budget(),
    "q_cohort_ltv": _SQL_COHORT_LTV,
    "q_skyline": _SQL_SKYLINE,
    "q_weighted_median": _SQL_WEIGHTED_MEDIAN,
    "q_zipf_fit": _SQL_ZIPF_FIT,
    "q_rfm_segments": _SQL_RFM_SEGMENTS,
    # identical oracle: stream bars must equal batch bars exactly
    "q_stream_ohlc": _SQL_OHLC_BARS,
    "q_kmv_jaccard": _SQL_KMV_JACCARD,
    "q_embedding_drift": _SQL_EMBEDDING_DRIFT,
    "q_time_to_convert": _SQL_TIME_TO_CONVERT,
    "q_graph_degree": _SQL_GRAPH_DEGREE,
    "q_microagg": _SQL_MICROAGG,
    "q_stream_sliding": _SQL_STREAM_SLIDING,
    "q_phrase_search": _sql_phrase_search(),
    "q_cdc_chunking": _SQL_CDC_CHUNKING,
    "q_lsh_tuning": _sql_lsh_tuning(),
    "q_cumulative_distinct": _SQL_CUMULATIVE_DISTINCT,
    "q_stream_kmins": _sql_stream_kmins(),
    "q_seasonal_anomaly": _SQL_SEASONAL_ANOMALY,
    "q_grouping_sets": _SQL_GROUPING_SETS,
    "q_autocorrelation": _sql_autocorrelation(),
    "q_gini": _SQL_GINI,
    "q_crosscorrelation": _sql_crosscorrelation(),
    "q_pareto_share": _SQL_PARETO_SHARE,
    "q_tukey_outliers": _SQL_TUKEY_OUTLIERS,
    "q_stickiness": _SQL_STICKINESS,
    "q_power_analysis": _sql_power_analysis(),
    "q_new_vs_returning": _SQL_NEW_VS_RETURNING,
    "q_heatmap": _SQL_HEATMAP,
    "q_countmin_topk": _SQL_COUNTMIN_TOPK,
    # identical oracle: stream counters must equal batch counters exactly
    "q_stream_cm": _SQL_COUNTMIN_TOPK,
    "q_bloom_portable": _SQL_BLOOM_PORTABLE,
    "q_histogram_quantiles": _SQL_HISTOGRAM_QUANTILES,
    "q_seasonal_decompose": _SQL_SEASONAL_DECOMPOSE,
    "q_holt_linear": _sql_holt_linear(),
    "q_dbscan": _sql_dbscan(),
    "q_stream_bloom": _SQL_STREAM_BLOOM,
    "q_split_leakage": _SQL_SPLIT_LEAKAGE,
    "q_pca_power": _sql_pca_power(),
    "q_market_basket": _SQL_MARKET_BASKET,
    "q_mixture_temperature": _SQL_MIXTURE_TEMPERATURE,
    "q_key_skew": _SQL_KEY_SKEW,
    "q_ohlc_bars": _SQL_OHLC_BARS,
    "q_attribution": _SQL_ATTRIBUTION,
    "q_gopher_rules": _SQL_GOPHER_RULES,
    "q_dsir_select": _SQL_DSIR_SELECT,
    "q_hll_union": _hll_union_sql(),
    "q_hll_overlap": _hll_overlap_sql(),
    "q_k_anonymity": _SQL_K_ANONYMITY,
    "q_l_diversity": _SQL_L_DIVERSITY,
    "q_t_closeness": _SQL_T_CLOSENESS,
    "q_cm_join_size": _SQL_CM_JOIN_SIZE,
    "q_srp_lsh": _sql_srp_lsh(),
    "q_cell_quality": _SQL_CELL_QUALITY,
    "q_ann_recall": _SQL_ANN_RECALL,
    "q_srp_near_pairs": _sql_srp_near_pairs(),
    "q_frame_sample": _SQL_FRAME_SAMPLE,
    "q_ngram_jaccard": _SQL_NGRAM_JACCARD,
    "q_lsh_hot_buckets": _SQL_LSH_HOT_BUCKETS,
    "q_containment": _SQL_CONTAINMENT,
    "q_normalize_dedup": _SQL_NORMALIZE_DEDUP,
    "q_dedup_plan": _SQL_DEDUP_PLAN,
    "q_dup_ngram_coverage": _SQL_DUP_NGRAM_COVERAGE,
    "q_sparse_cosine": _SQL_SPARSE_COSINE,
    "q_source_overlap": _SQL_SOURCE_OVERLAP,
    "q_feature_binning": _SQL_FEATURE_BINNING,
    "q_psi_drift": _SQL_PSI_DRIFT,
    "q_divergence_drift": _SQL_DIVERGENCE_DRIFT,
    "q_ks_drift": _SQL_KS_DRIFT,
    "q_snapshot_diff": _SQL_SNAPSHOT_DIFF,
    "q_prefix_filter_pairs": _SQL_PREFIX_FILTER,
    "q_crosstab_independence": _SQL_CROSSTAB,
    "q_iceberg_diff": _SQL_ICEBERG_DIFF,
    "q_cdc_classify": _SQL_CDC_CLASSIFY,
    "q_cdc_apply": _SQL_CDC_APPLY,
    "q_delta_roundtrip": _SQL_DELTA_ROUNDTRIP,
    "q_iceberg_roundtrip": _SQL_ICEBERG_ROUNDTRIP,
    "q_orc_roundtrip": _SQL_ORC_ROUNDTRIP,
    "q_simhash": _SQL_SIMHASH,
    "q_simhash_near": _SQL_SIMHASH_NEAR,
    "q_text_quality": _SQL_TEXT_QUALITY,
    "q_quality_model": _SQL_QUALITY_MODEL,
    "q_char_entropy": _SQL_CHAR_ENTROPY,
    "q_profile_columns": _SQL_PROFILE_COLUMNS,
    "q_curation_pipeline": _SQL_CURATION_PIPELINE,
    "q_token_count": _SQL_TOKEN_COUNT,
    "q_lang_id": _lang_sql(),
    "q_embedding_stats": _SQL_EMBEDDING_STATS,
    "q_preference_pairs": _SQL_PREFERENCE_PAIRS,
    "q_negative_samples": _SQL_NEGATIVE_SAMPLES,
    "q_shard_checksums": _SQL_SHARD_CHECKSUMS,
    "q_langid_eval": _langid_eval_sql(),
    "q_fingerprint": _SQL_FINGERPRINT,
    "q_knn_bruteforce": _SQL_KNN,
    "q_ann_ivf": _SQL_ANN_IVF,
    "q_embedding_neardup": _SQL_EMB_NEARDUP,
    "q_inverted_index": _SQL_INVERTED_INDEX,
    "q_embedding_quantize": _SQL_EMBEDDING_QUANTIZE,
    "q_lsh_recall": _SQL_LSH_RECALL,
    "q_cube": _SQL_CUBE,
    "q_weighted_sample": _SQL_WEIGHTED_SAMPLE,
    "q_priority_sample": _SQL_PRIORITY_SAMPLE,
    "q_target_encode": _SQL_TARGET_ENCODE,
    "q_sax_symbols": _SQL_SAX_SYMBOLS,
    "q_quantile_normalize": _SQL_QUANTILE_NORMALIZE,
    "q_bm25": _SQL_BM25,
    "q_winsorize": _SQL_WINSORIZE,
    "q_pmi": _SQL_PMI,
}
