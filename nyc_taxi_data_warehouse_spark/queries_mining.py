"""Round-8 mining/monitoring wave: CUSUM changepoint detection, a
mergeable distributed quantile summary, blocking-based entity
resolution, and sequential-pattern mining — four operators a
large-scale curation/observability stack runs beside the dedup and
sketch families, each with a DuckDB oracle twin.

Determinism discipline (the repo-wide rules): alert/selection decisions
are made on exact integers (cross-multiplied comparisons, scaled
deviations, rank counts), per-row double arithmetic is bit-exact across
engines, and every reported double is epsilon-shift rounded on BOTH
sides.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .operators.monitor import cusum_columns, p2_formula
from .operators.sampling import bucketed_value_cumsum
from .plans.nyc_views import load_tables
from .queries_nyc import _rnd
from .streaming.weather_stream import drain_available_now


# --- CUSUM changepoint ------------------------------------------------------

def q_cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sided CUSUM control chart over the per-type daily event-count
    series — the sequential changepoint detector (Page 1954) a feed
    monitor runs where EWMA smooths: CUSUM accumulates small persistent
    shifts that never individually trip a spike threshold.

    The recurrence S_t = max(0, S_{t-1} + d_t) looks iterative, but the
    classic prefix identity makes it ONE window pass:
    S_t = P_t − min(0, min_{j≤t} P_j) with P the running sum of the
    deviations — so Spark expresses it as two stacked window aggregates
    (running sum, then running min), no recursion, no UDF, and the plan
    reuses a single (type, day)-sorted exchange.  Deviations are scaled
    to exact integers (d_up = n_days·y − total − total div 10: the
    day's count against the type's mean with a 10 % allowance,
    multiplied through by n_days so no division ever happens), so every
    cusum value and alarm flag is integer-exact and bit-reproducible.
    Alarm when the accumulated scaled excess tops 2·total ≈ two mean
    days' worth of drift.  Shape: one corpus aggregation to the
    (type × day) grain, then windows over that tiny frame only."""
    ev = load_tables(spark, sf_dir)["events"]
    daily = ev.groupBy("event_type", F.to_date("ts").alias("day")).agg(
        F.count(F.lit(1)).cast("long").alias("y")
    )
    tot = daily.groupBy("event_type").agg(
        F.sum("y").cast("long").alias("total"),
        F.count(F.lit(1)).cast("long").alias("n_days"),
    )
    base = daily.join(F.broadcast(tot), "event_type").select(
        "event_type",
        "day",
        "y",
        "total",
        F.expr(
            "CAST(n_days * y - total - total div 10 AS BIGINT)"
        ).alias("__dup"),
        F.expr(
            "CAST(total - n_days * y - total div 10 AS BIGINT)"
        ).alias("__ddn"),
    )
    cus = cusum_columns(
        base, "event_type", "day",
        {"cusum_up": "__dup", "cusum_dn": "__ddn"},
    )
    return cus.select(
        "event_type",
        "day",
        "y",
        "cusum_up",
        (F.col("cusum_up") > 2 * F.col("total")).cast("int").alias("alarm_up"),
        "cusum_dn",
        (F.col("cusum_dn") > 2 * F.col("total")).cast("int").alias("alarm_dn"),
    )


_SQL_CUSUM_CHANGEPOINT = """
WITH daily AS (
    SELECT event_type, CAST(ts AS DATE) AS day,
           CAST(count(*) AS BIGINT) AS y
    FROM events GROUP BY 1, 2
),
tot AS (
    SELECT event_type, CAST(sum(y) AS BIGINT) AS total,
           CAST(count(*) AS BIGINT) AS n_days
    FROM daily GROUP BY 1
),
base AS (
    SELECT d.event_type, d.day, d.y, t.total,
           CAST(t.n_days * d.y - t.total - t.total // 10 AS BIGINT) AS dup,
           CAST(t.total - t.n_days * d.y - t.total // 10 AS BIGINT) AS ddn
    FROM daily d JOIN tot t USING (event_type)
),
pre AS (
    SELECT *, sum(dup) OVER w AS pup, sum(ddn) OVER w AS pdn
    FROM base
    WINDOW w AS (PARTITION BY event_type ORDER BY day
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
),
cus AS (
    SELECT event_type, day, y, total,
           CAST(pup - least(0, min(pup) OVER w) AS BIGINT) AS cusum_up,
           CAST(pdn - least(0, min(pdn) OVER w) AS BIGINT) AS cusum_dn
    FROM pre
    WINDOW w AS (PARTITION BY event_type ORDER BY day
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
)
SELECT event_type, day, y, cusum_up,
       CAST(cusum_up > 2 * total AS INT) AS alarm_up,
       cusum_dn,
       CAST(cusum_dn > 2 * total AS INT) AS alarm_dn
FROM cus"""


def q_stream_cusum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.9 × changepoint: the STREAMING form of the CUSUM chart — the
    event feed replays through the file source into a
    `groupBy(window 1 day, event_type).count()` aggregation whose state
    is (days × types) rows regardless of feed volume (counts replayed
    via availableNow are exactly-once), and the CUSUM tail — the SAME
    prefix-identity windows as :func:`q_cusum_changepoint` — runs
    batch-side over the drained daily grain.  This is the deployment
    split a 100 TB monitor actually uses: the stream maintains only the
    tiny per-day count state; the (cheap, grain-sized) control-chart
    arithmetic re-runs on every refresh.  The oracle recomputes the
    whole chain from the batch events view, so the streamed counts must
    agree exactly with batch counts."""
    from .util import stream_feed

    ev = load_tables(spark, sf_dir)["events"].select(
        "ts", "event_type"
    ).where(F.col("ts").isNotNull() & F.col("event_type").isNotNull())
    # memoized 16-file staging: parallel feed write + a 2-micro-batch
    # replay under maxFilesPerTrigger=8 (the q_stream_bloom lesson);
    # bench reruns reuse the staged files
    stream = stream_feed(ev, "event_feed_cusum", sf_dir)
    counts = (
        stream.select(
            F.window("ts", "1 day").alias("win"), "event_type"
        )
        .groupBy("win", "event_type")
        .agg(F.count(F.lit(1)).alias("y"))
    )
    # localCheckpoint the (days × types)-sized drained grain: daily
    # self-joins against its own aggregate, and two lazy reads of the
    # same memory-sink view collide on attribute ids (conflicting-
    # references analyzer error); the materialized grain is tiny
    daily = drain_available_now(counts, "q_stream_cusum_sink").select(
        "event_type",
        F.col("win.start").alias("day"),
        F.col("y").cast("long").alias("y"),
    ).localCheckpoint()
    tot = daily.groupBy("event_type").agg(
        F.sum("y").cast("long").alias("total"),
        F.count(F.lit(1)).cast("long").alias("n_days"),
    )
    base = daily.join(F.broadcast(tot), "event_type").select(
        "event_type",
        "day",
        "y",
        "total",
        F.expr(
            "CAST(n_days * y - total - total div 10 AS BIGINT)"
        ).alias("__dup"),
    )
    cus = cusum_columns(base, "event_type", "day", {"cusum_up": "__dup"})
    return cus.select(
        "event_type",
        "day",
        "y",
        "cusum_up",
        (F.col("cusum_up") > 2 * F.col("total")).cast("int").alias("alarm_up"),
    )


_SQL_STREAM_CUSUM = """
WITH daily AS (
    SELECT event_type, CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
           CAST(count(*) AS BIGINT) AS y
    FROM events
    WHERE ts IS NOT NULL AND event_type IS NOT NULL
    GROUP BY 1, 2
),
tot AS (
    SELECT event_type, CAST(sum(y) AS BIGINT) AS total,
           CAST(count(*) AS BIGINT) AS n_days
    FROM daily GROUP BY 1
),
base AS (
    SELECT d.event_type, d.day, d.y, t.total,
           CAST(t.n_days * d.y - t.total - t.total // 10 AS BIGINT) AS dup
    FROM daily d JOIN tot t USING (event_type)
),
pre AS (
    SELECT *, sum(dup) OVER w AS pup
    FROM base
    WINDOW w AS (PARTITION BY event_type ORDER BY day
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
)
SELECT event_type, day, y,
       CAST(pup - least(0, min(pup) OVER w) AS BIGINT) AS cusum_up,
       CAST(pup - least(0, min(pup) OVER w) > 2 * total AS INT) AS alarm_up
FROM pre
WINDOW w AS (PARTITION BY event_type ORDER BY day
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)"""


# --- Mergeable distributed quantile summary ---------------------------------

_QS_SHARDS = 8
_QS_GRID = 32
_QS_TARGETS = (10, 250, 500, 750, 900, 990)  # per-mille


def q_quantile_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable ε-approximate quantile summary — the quantile leg of
    the portable-sketch family (HLL/KMV distinct, Count-Min/Misra-Gries
    frequency, Bloom membership): each shard keeps ≤ G grid values of
    its own CDF, the merged summary answers any quantile with rank
    error ≤ Σ_s ⌈n_s/G⌉, and the whole thing is a relational table any
    engine rebuilds (the Greenwald-Khanna idea reduced to its mergeable
    rank-bound core).

    Shape: rows hash to S shards (md5 — content-addressed, partition-
    independent); each shard's CDF comes from the shared
    :func:`bucketed_value_cumsum` primitive (never an unpartitioned
    sort); a row survives into the summary iff its cumulative interval
    (cle−c, cle] crosses a grid boundary — a PURE PROJECTION test
    ⌊cle·G/n_s⌋ > ⌊(cle−c)·G/n_s⌋, no per-shard window, no grid join.
    The merged rank lower bound g(v) = Σ_s max{cle_s : v_s ≤ v} and the
    answer rule (min summary value with g(v) ≥ target rank) run
    DRIVER-SIDE over the collected ≤ S·G-row summary — that IS the
    sketch's point (ship kilobytes, decide locally; the
    centroid-codebook precedent), and folding the answers back as
    literals keeps the serving plan one cached-CDF aggregation instead
    of a pyramid of sketch-sized joins (the psi_drift plan-bloat
    lesson: 128 exchanges → ~30).  NOT lazy: construction runs the
    cumsum and two sketch-sized collects eagerly.  Every decision is on
    exact integers; the only doubles in the output are actual data
    values, never arithmetic.  At 100 TB the summaries are what ships
    between workers/engines — kilobytes per shard regardless of corpus
    size."""
    li = load_tables(spark, sf_dir)["lineitem"]
    shard = F.pmod(
        F.conv(
            F.substring(
                F.md5(F.concat_ws("#", "l_orderkey", "l_linenumber")), 1, 8
            ),
            16,
            10,
        ).cast("long"),
        F.lit(_QS_SHARDS),
    )
    rows = li.select(
        F.col("l_extendedprice").alias("v"), shard.alias("shard")
    )
    # sentinel shard −1 = the GLOBAL CDF: one union doubles the rows but
    # halves the cumsum machinery (ONE edge-sketch job, ONE distinct
    # shuffle, ONE window pass compute both the per-shard and the global
    # cumulative tables)
    both = rows.unionByName(
        rows.select("v", F.lit(-1).cast("long").alias("shard"))
    )
    # edge sketch over the single-copy rows leg (same value axis as the
    # doubled union; bit-identical result under any monotone edges)
    allcdf = bucketed_value_cumsum(both, "v", ("shard",), edges_from=rows).select(
        "shard", "__v", "__c", "__cle"
    ).persist()  # feeds the shard summaries AND the global exact side
    cdf = allcdf.where(F.col("shard") >= 0)
    # summary rows: the cumulative interval crosses a grid boundary;
    # ≤ S·G rows — THE sketch, collected driver-side to decide locally.
    # The per-shard total n_s joins in as a broadcast S-row frame (one
    # agg over the cached CDF) instead of a separate driver collect —
    # one action, not two, and each shard's max __cle ALWAYS crosses
    # the top grid boundary (cle=n_s ⇒ cle·G div n_s = G > the previous
    # interval), so the collected summary itself carries every n_s and
    # the driver reads it back without another job (round-13
    # optimization: 4 actions → 3 on this query).
    nsf = cdf.groupBy("shard").agg(F.max("__cle").alias("__ns"))
    summ_rows = (
        cdf.join(F.broadcast(nsf), "shard")
        .where(
            F.expr(f"(__cle * {_QS_GRID}) div __ns")
            > F.expr(f"((__cle - __c) * {_QS_GRID}) div __ns")
        )
        .select("shard", F.col("__v").alias("sv"), F.col("__cle").alias("scle"))
        .collect()
    )
    per_shard: dict[int, list[tuple[float, int]]] = {}
    for r in summ_rows:
        per_shard.setdefault(r.shard, []).append((r.sv, r.scle))
    for vals in per_shard.values():
        vals.sort()
    n_s = {s: max(c for _, c in vals) for s, vals in per_shard.items()}
    n = sum(n_s.values())

    def _glb(v: float) -> int:
        # merged rank lower bound: Σ_s max{cle_s : sv_s ≤ v}
        tot = 0
        for vals in per_shard.values():
            best = 0
            for sv, scle in vals:
                if sv > v:
                    break
                best = scle
            tot += best
        return tot

    cands = sorted({sv for vals in per_shard.values() for sv, _ in vals})
    targets = [(qm, (qm * n + 999) // 1000) for qm in _QS_TARGETS]
    est = {
        qm: next(v for v in cands if _glb(v) >= r) for qm, r in targets
    }
    # ONE aggregation over the cached global CDF answers est_rank and
    # the exact quantile for every target at once
    gcum = allcdf.where(F.col("shard") == -1).select(
        F.col("__v").alias("gv"), F.col("__cle").alias("gcle")
    )
    aggs = []
    for qm, r in targets:
        aggs.append(
            F.max(
                F.when(F.col("gv") == F.lit(est[qm]), F.col("gcle"))
            ).alias(f"er_{qm}")
        )
        aggs.append(
            F.min(
                F.when(F.col("gcle") >= F.lit(r), F.col("gv"))
            ).alias(f"ex_{qm}")
        )
    one = gcum.agg(*aggs)
    rows_col = F.array(
        *[
            F.struct(
                F.lit(qm).cast("int").alias("q_mille"),
                F.lit(r).cast("long").alias("target_rank"),
                F.lit(est[qm]).cast("double").alias("est_val"),
                F.col(f"er_{qm}").cast("long").alias("est_rank"),
                F.col(f"ex_{qm}").cast("double").alias("exact_val"),
            )
            for qm, r in targets
        ]
    )
    return one.select(F.explode(rows_col).alias("s")).select(
        "s.q_mille",
        F.lit(n).cast("long").alias("n"),
        "s.target_rank",
        "s.est_val",
        "s.est_rank",
        "s.exact_val",
        (F.col("s.est_rank") - F.col("s.target_rank"))
        .cast("long")
        .alias("rank_err"),
    )


_SQL_QUANTILE_SUMMARY = f"""
WITH rows_ AS (
    SELECT l_extendedprice AS v,
           CAST(('0x' || substr(md5(l_orderkey || '#' || l_linenumber), 1, 8))
                AS BIGINT) % {_QS_SHARDS} AS shard
    FROM lineitem
),
vc AS (
    SELECT shard, v, CAST(count(*) AS BIGINT) AS c
    FROM rows_ GROUP BY 1, 2
),
cdf AS (
    SELECT shard, v, c,
           CAST(sum(c) OVER (PARTITION BY shard ORDER BY v
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS BIGINT) AS cle
    FROM vc
),
nsh AS (SELECT shard, max(cle) AS n_s FROM cdf GROUP BY 1),
summ AS (
    SELECT shard, v AS sv, cle AS scle
    FROM cdf JOIN nsh USING (shard)
    WHERE (cle * {_QS_GRID}) // n_s > ((cle - c) * {_QS_GRID}) // n_s
),
candv AS (SELECT DISTINCT sv AS cv FROM summ),
contrib AS (
    SELECT candv.cv, s.shard, max(s.scle) AS mc
    FROM candv JOIN summ s ON s.sv <= candv.cv
    GROUP BY 1, 2
),
g AS (SELECT cv, CAST(sum(mc) AS BIGINT) AS glb FROM contrib GROUP BY 1),
n_tbl AS (SELECT CAST(sum(n_s) AS BIGINT) AS n FROM nsh),
targets AS (
    SELECT q_mille, n,
           CAST((q_mille * n + 999) // 1000 AS BIGINT) AS target_rank
    FROM (SELECT unnest([{", ".join(str(q) for q in _QS_TARGETS)}])
                 AS q_mille), n_tbl
),
est AS (
    SELECT q_mille, n, target_rank, min(cv) AS est_val
    FROM targets JOIN g ON g.glb >= targets.target_rank
    GROUP BY 1, 2, 3
),
gl AS (SELECT v, CAST(count(*) AS BIGINT) AS c FROM rows_ GROUP BY 1),
gcum AS (
    SELECT v AS gv,
           CAST(sum(c) OVER (ORDER BY v
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS BIGINT) AS gcle
    FROM gl
),
exact AS (
    SELECT q_mille, min(gv) AS exact_val
    FROM targets JOIN gcum ON gcum.gcle >= targets.target_rank
    GROUP BY 1
),
est_rank AS (
    SELECT e.q_mille, g2.gcle AS est_rank
    FROM est e JOIN gcum g2 ON g2.gv = e.est_val
)
SELECT CAST(e.q_mille AS INT) AS q_mille, e.n, e.target_rank, e.est_val,
       r.est_rank, x.exact_val,
       CAST(r.est_rank - e.target_rank AS BIGINT) AS rank_err
FROM est e JOIN est_rank r USING (q_mille) JOIN exact x USING (q_mille)"""


# --- Blocking-based entity resolution ---------------------------------------

def q_entity_resolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Record-linkage evaluation with blocking — the entity-resolution
    shape every large-scale catalog/CRM dedup runs: never all-pairs;
    candidates come only from shared (nationkey, name-digit-block)
    blocking keys, then a cheap matcher (edit distance ≤ 2 AND balance
    gap ≤ 1.0) decides, and the query scores the matcher against
    planted ground truth.

    Truth construction (deterministic, mirrored 1:1 in the oracle):
    every custkey ≡ 0 (mod 3) gets a twin record (key + 10M).  Light
    twins (mod 6 ≠ 0) drop the name's last char and shift the balance
    by +0.25 → the matcher finds them; heavy twins (mod 6 = 0) drop two
    chars and shift +7.5 → the balance gate rejects them, so recall is
    structurally ≈ one half and the metric is non-degenerate.  False
    positives arise naturally: distinct customers sharing a block whose
    names differ in ≤ 2 trailing digits pass the name gate and
    occasionally the balance gate.  All match decisions are exact
    (integer edit distance; bit-exact double subtraction compared to a
    literal).  Returns one scorecard row per nation.

    Scale: the block self-join is the only quadratic term and it is
    quadratic per block, not per corpus — block keys carry ~4 digits of
    the entity key, so blocks stay O(corpus / 10⁴·nations); skew in a
    hot block is the lsh_hot_buckets story and would get the same cap."""
    cust = load_tables(spark, sf_dir)["customer"].select(
        "c_custkey", "c_name", "c_nationkey", "c_acctbal"
    )
    seed = cust.where(F.col("c_custkey") % 3 == 0)
    heavy = F.col("c_custkey") % 6 == 0
    twins = seed.select(
        (F.col("c_custkey") + 10000000).alias("c_custkey"),
        F.expr(
            "substring(c_name, 1, length(c_name)"
            " - (CASE WHEN c_custkey % 6 = 0 THEN 2 ELSE 1 END))"
        ).alias("c_name"),
        "c_nationkey",
        F.when(heavy, F.col("c_acctbal") + F.lit(7.5))
        .otherwise(F.col("c_acctbal") + F.lit(0.25))
        .alias("c_acctbal"),
    )
    recs = cust.unionByName(twins).withColumn(
        "__blk",
        F.concat_ws(
            "|", F.col("c_nationkey"), F.substring("c_name", 13, 4)
        ),
    )
    a, b = recs.alias("a"), recs.alias("b")
    pairs = a.join(
        b,
        (F.col("a.__blk") == F.col("b.__blk"))
        & (F.col("a.c_custkey") < F.col("b.c_custkey")),
    ).select(
        F.col("a.c_nationkey").alias("nation"),
        F.col("a.c_custkey").alias("ka"),
        F.col("b.c_custkey").alias("kb"),
        (
            (F.levenshtein(F.col("a.c_name"), F.col("b.c_name")) <= 2)
            & (F.abs(F.col("a.c_acctbal") - F.col("b.c_acctbal")) <= 1.0)
        )
        .cast("int")
        .alias("matched"),
        (F.col("b.c_custkey") - F.col("a.c_custkey") == 10000000)
        .cast("int")
        .alias("is_truth"),
    )
    n_rec = recs.groupBy(F.col("c_nationkey").alias("nation")).agg(
        F.count(F.lit(1)).cast("long").alias("n_records")
    )
    score = pairs.groupBy("nation").agg(
        F.count(F.lit(1)).cast("long").alias("n_cand_pairs"),
        F.sum("matched").cast("long").alias("n_matched"),
        F.sum(F.col("matched") * F.col("is_truth")).cast("long").alias("tp"),
        F.sum(F.col("matched") * (1 - F.col("is_truth")))
        .cast("long")
        .alias("fp"),
        F.sum((1 - F.col("matched")) * F.col("is_truth"))
        .cast("long")
        .alias("fn"),
    )
    return n_rec.join(score, "nation").select(
        F.col("nation").cast("int").alias("c_nationkey"),
        "n_records",
        "n_cand_pairs",
        "n_matched",
        "tp",
        "fp",
        "fn",
        F.when(
            F.col("n_matched") > 0,
            _rnd(F.col("tp") / F.col("n_matched").cast("double"), 6),
        ).alias("precision"),
        F.when(
            F.col("tp") + F.col("fn") > 0,
            _rnd(
                F.col("tp") / (F.col("tp") + F.col("fn")).cast("double"), 6
            ),
        ).alias("recall"),
    )


_SQL_ENTITY_RESOLUTION = """
WITH twins AS (
    SELECT c_custkey + 10000000 AS c_custkey,
           substr(c_name, 1, length(c_name)
                  - (CASE WHEN c_custkey % 6 = 0 THEN 2 ELSE 1 END))
               AS c_name,
           c_nationkey,
           CASE WHEN c_custkey % 6 = 0 THEN c_acctbal + 7.5
                ELSE c_acctbal + 0.25 END AS c_acctbal
    FROM customer WHERE c_custkey % 3 = 0
),
recs AS (
    SELECT c_custkey, c_name, c_nationkey, c_acctbal FROM customer
    UNION ALL
    SELECT c_custkey, c_name, c_nationkey, c_acctbal FROM twins
),
blocked AS (
    SELECT *, c_nationkey || '|' || substr(c_name, 13, 4) AS blk FROM recs
),
pairs AS (
    SELECT a.c_nationkey AS nation,
           CAST(levenshtein(a.c_name, b.c_name) <= 2
                AND abs(a.c_acctbal - b.c_acctbal) <= 1.0 AS INT)
               AS matched,
           CAST(b.c_custkey - a.c_custkey = 10000000 AS INT) AS is_truth
    FROM blocked a JOIN blocked b
      ON a.blk = b.blk AND a.c_custkey < b.c_custkey
),
n_rec AS (
    SELECT c_nationkey AS nation, CAST(count(*) AS BIGINT) AS n_records
    FROM recs GROUP BY 1
),
score AS (
    SELECT nation,
           CAST(count(*) AS BIGINT) AS n_cand_pairs,
           CAST(sum(matched) AS BIGINT) AS n_matched,
           CAST(sum(matched * is_truth) AS BIGINT) AS tp,
           CAST(sum(matched * (1 - is_truth)) AS BIGINT) AS fp,
           CAST(sum((1 - matched) * is_truth) AS BIGINT) AS fn
    FROM pairs GROUP BY 1
)
SELECT CAST(nation AS INT) AS c_nationkey, n_records, n_cand_pairs,
       n_matched, tp, fp, fn,
       CASE WHEN n_matched > 0
            THEN round(1e-9 + tp / CAST(n_matched AS DOUBLE), 6)
       END AS precision,
       CASE WHEN tp + fn > 0
            THEN round(1e-9 + tp / CAST(tp + fn AS DOUBLE), 6)
       END AS recall
FROM n_rec JOIN score USING (nation)"""


# --- Sequential pattern mining ----------------------------------------------

def q_frequent_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequent 3-event sequential patterns over per-user event streams
    — the support-counting core of sequence mining (PrefixSpan's
    length-3 slice): consecutive event-type trigrams per user (ordered
    by ts with event_id as the deterministic tiebreak), global support
    and distinct-user reach per pattern, kept when support ≥ 0.5 % of
    all trigrams.  Shape: ONE user-partitioned window (the standard
    sessionization shuffle — at 100 TB this partitioning is shared with
    sessions/funnel/attribution), then a 125-row-bounded aggregate; the
    threshold comparison is cross-multiplied integers."""
    ev = load_tables(spark, sf_dir)["events"].where(
        F.col("user_id").isNotNull()
        & F.col("ts").isNotNull()
        & F.col("event_type").isNotNull()
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    tri = ev.select(
        "user_id",
        F.col("event_type").alias("e1"),
        F.lead("event_type", 1).over(w).alias("e2"),
        F.lead("event_type", 2).over(w).alias("e3"),
    ).where(F.col("e2").isNotNull() & F.col("e3").isNotNull())
    counts = tri.groupBy("e1", "e2", "e3").agg(
        F.count(F.lit(1)).cast("long").alias("support"),
        F.countDistinct("user_id").cast("long").alias("n_users"),
    )
    total = counts.agg(F.sum("support").cast("long").alias("__tot"))
    return (
        counts.crossJoin(F.broadcast(total))
        .where(F.col("support") * 200 >= F.col("__tot"))
        .select(
            "e1",
            "e2",
            "e3",
            "support",
            "n_users",
            _rnd(F.col("support") / F.col("__tot").cast("double"), 6).alias(
                "share"
            ),
        )
    )


_SQL_FREQUENT_SEQUENCES = """
WITH e AS (
    SELECT user_id, event_id, ts, event_type
    FROM events
    WHERE user_id IS NOT NULL AND ts IS NOT NULL
          AND event_type IS NOT NULL
),
tri AS (
    SELECT user_id,
           event_type AS e1,
           lead(event_type, 1) OVER w AS e2,
           lead(event_type, 2) OVER w AS e3
    FROM e
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
c AS (
    SELECT e1, e2, e3,
           CAST(count(*) AS BIGINT) AS support,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
    FROM tri WHERE e2 IS NOT NULL AND e3 IS NOT NULL
    GROUP BY 1, 2, 3
),
t AS (SELECT CAST(sum(support) AS BIGINT) AS tot FROM c)
SELECT e1, e2, e3, support, n_users,
       round(1e-9 + support / CAST(tot AS DOUBLE), 6) AS share
FROM c, t
WHERE support * 200 >= tot"""


# --- Shared normal-tail formula ----------------------------------------------

#: shared engine-portable normal tail — see operators.monitor.p2_formula
_p2_formula = p2_formula


# --- Benjamini–Hochberg FDR ---------------------------------------------------

_BH_Q_PCT = 10  # FDR level 0.10 as an exact integer percent


def q_bh_fdr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benjamini–Hochberg FDR correction over a 35-cell test family —
    the multiple-testing control every metrics platform needs once it
    runs one z-test per segment (q_ab_test's family-wise sibling): per
    (event_type × weekday) cell, a two-sample z-test compares mean
    event value between the id-parity variants; BH then adjusts the 35
    p-values in one window pass (p_adj_i = min_{j≥i} m·p_(j)/j — a
    REVERSE running min, the same prefix-identity family as CUSUM).

    Determinism: per-cell sums accumulate on the ×100 integer lattice
    (BIGINT — order-independent), the z statistic and the A&S normal
    tail evaluate ONE textual formula shared verbatim with the oracle,
    z and p are epsilon-rounded before every downstream use, ordering
    ties break on (event_type, weekday), and the final reject compares
    a rounded p_adj against the exact rational q = 10/100.  Shape: one
    corpus aggregation to 35 cells; every window runs on the 35-row
    frame."""
    ev = load_tables(spark, sf_dir)["events"].where(
        F.col("user_id").isNotNull()
        & F.col("ts").isNotNull()
        & F.col("value").isNotNull()
    )
    cells = (
        ev.select(
            "event_type",
            F.dayofweek("ts").alias("weekday"),
            F.pmod(F.col("user_id"), F.lit(2)).cast("int").alias("va"),
            F.round(F.col("value") * 100).cast("long").alias("x"),
        )
        .groupBy("event_type", "weekday")
        .agg(
            F.sum(F.when(F.col("va") == 0, 1).otherwise(0))
            .cast("long")
            .alias("n_a"),
            F.sum(F.when(F.col("va") == 0, F.col("x")).otherwise(0))
            .cast("long")
            .alias("s_a"),
            F.sum(
                F.when(F.col("va") == 0, F.col("x") * F.col("x")).otherwise(0)
            )
            .cast("long")
            .alias("q_a"),
            F.sum(F.when(F.col("va") == 1, 1).otherwise(0))
            .cast("long")
            .alias("n_b"),
            F.sum(F.when(F.col("va") == 1, F.col("x")).otherwise(0))
            .cast("long")
            .alias("s_b"),
            F.sum(
                F.when(F.col("va") == 1, F.col("x") * F.col("x")).otherwise(0)
            )
            .cast("long")
            .alias("q_b"),
        )
    )
    z_txt = (
        "(s_a / CAST(n_a AS DOUBLE) - s_b / CAST(n_b AS DOUBLE))"
        " / sqrt("
        "((q_a - (s_a / CAST(n_a AS DOUBLE)) * s_a) / (n_a - 1.0)) / n_a"
        " + ((q_b - (s_b / CAST(n_b AS DOUBLE)) * s_b) / (n_b - 1.0)) / n_b"
        ")"
    )
    scored = cells.select(
        "event_type",
        "weekday",
        "n_a",
        "n_b",
        _rnd(F.expr(z_txt), 9).alias("z"),
    ).select(
        "event_type",
        "weekday",
        "n_a",
        "n_b",
        "z",
        _rnd(F.expr(_p2_formula("z")), 10).alias("p"),
    )
    m = F.count(F.lit(1)).over(Window.partitionBy())
    rnk = F.row_number().over(
        Window.orderBy("p", "event_type", "weekday")
    )
    ranked = scored.select(
        "*", m.alias("__m"), rnk.alias("__r")
    ).select(
        "*",
        (F.col("p") * F.col("__m") / F.col("__r")).alias("__padj0"),
    )
    w_rev = (
        Window.orderBy(F.desc("__r"))
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    out = ranked.select(
        "event_type",
        "weekday",
        "n_a",
        "n_b",
        "z",
        "p",
        _rnd(F.least(F.lit(1.0), F.min("__padj0").over(w_rev)), 10).alias(
            "p_adj"
        ),
    )
    return out.select(
        "*",
        (F.col("p_adj") * 100 <= F.lit(_BH_Q_PCT))
        .cast("int")
        .alias("rejected"),
    )


def _sql_bh_fdr() -> str:
    z_txt = (
        "(s_a / CAST(n_a AS DOUBLE) - s_b / CAST(n_b AS DOUBLE))"
        " / sqrt("
        "((q_a - (s_a / CAST(n_a AS DOUBLE)) * s_a) / (n_a - 1.0)) / n_a"
        " + ((q_b - (s_b / CAST(n_b AS DOUBLE)) * s_b) / (n_b - 1.0)) / n_b"
        ")"
    )
    return f"""
WITH cells AS (
    SELECT event_type, dayofweek(ts) + 1 AS weekday,
           CAST(sum(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_a,
           CAST(sum(CASE WHEN user_id % 2 = 0
                    THEN CAST(round(value * 100) AS BIGINT) ELSE 0 END)
                AS BIGINT) AS s_a,
           CAST(sum(CASE WHEN user_id % 2 = 0
                    THEN CAST(round(value * 100) AS BIGINT)
                         * CAST(round(value * 100) AS BIGINT) ELSE 0 END)
                AS BIGINT) AS q_a,
           CAST(sum(CASE WHEN user_id % 2 = 1 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_b,
           CAST(sum(CASE WHEN user_id % 2 = 1
                    THEN CAST(round(value * 100) AS BIGINT) ELSE 0 END)
                AS BIGINT) AS s_b,
           CAST(sum(CASE WHEN user_id % 2 = 1
                    THEN CAST(round(value * 100) AS BIGINT)
                         * CAST(round(value * 100) AS BIGINT) ELSE 0 END)
                AS BIGINT) AS q_b
    FROM events
    WHERE user_id IS NOT NULL AND ts IS NOT NULL AND value IS NOT NULL
    GROUP BY 1, 2
),
zs AS (
    SELECT event_type, CAST(weekday AS INT) AS weekday, n_a, n_b,
           round(1e-9 + {z_txt}, 9) AS z
    FROM cells
),
ps AS (
    SELECT *, round(1e-9 + {_p2_formula("z")}, 10) AS p FROM zs
),
ranked AS (
    SELECT *, count(*) OVER () AS m,
           row_number() OVER (ORDER BY p, event_type, weekday) AS r
    FROM ps
),
adj AS (
    SELECT *,
           round(1e-9 + least(1.0, min(p * m / r) OVER (
               ORDER BY r DESC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)), 10)
               AS p_adj
    FROM ranked
)
SELECT event_type, weekday, n_a, n_b, z, p, p_adj,
       CAST(p_adj * 100 <= {_BH_Q_PCT} AS INT) AS rejected
FROM adj"""


_SQL_BH_FDR = _sql_bh_fdr()


# --- Mann–Whitney U (rank-sum) test -------------------------------------------

def q_mannwhitney(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann–Whitney U rank-sum test per event type (id-parity variants
    again) — the NONPARAMETRIC two-sample test the z/t family can't
    replace when values are skewed: decides on ranks, not means.

    Exactness: no row ever gets an individual rank.  The per-type value
    CDF (:func:`bucketed_value_cumsum` — value-bucketed parallel
    windows) gives every distinct value its occupancy interval, so the
    tie-midrank sum folds as 2R_A = Σ_v c_A(v)·(2·cle(v) − c(v) + 1) —
    pure BIGINT arithmetic, as is the doubled U statistic and the tie
    correction ΣT = Σ(t³−t).  The variance/z and the A&S normal tail
    evaluate ONE textual formula shared verbatim with the oracle over
    the rounded z.  Shape: one corpus aggregation to the (type ×
    distinct-value) table; everything downstream is value-cardinality
    work."""
    ev = load_tables(spark, sf_dir)["events"].where(
        F.col("user_id").isNotNull() & F.col("value").isNotNull()
    )
    base = ev.select(
        "event_type",
        F.col("value").alias("v"),
        F.pmod(F.col("user_id"), F.lit(2)).cast("int").alias("va"),
    )
    cdf = bucketed_value_cumsum(base, "v", ("event_type",)).select(
        "event_type", "__v", "__c", "__cle"
    )
    ca = (
        base.where(F.col("va") == 0)
        .groupBy("event_type", F.col("v").alias("__v"))
        .agg(F.count(F.lit(1)).cast("long").alias("c_a"))
    )
    per_v = cdf.join(ca, ["event_type", "__v"], "left").select(
        "event_type",
        F.coalesce("c_a", F.lit(0)).cast("long").alias("c_a"),
        "__c",
        "__cle",
    )
    agg = per_v.groupBy("event_type").agg(
        F.sum("c_a").cast("long").alias("n_a"),
        (F.max("__cle") - F.sum("c_a")).cast("long").alias("n_b"),
        F.sum(
            F.col("c_a") * (2 * F.col("__cle") - F.col("__c") + 1)
        )
        .cast("long")
        .alias("two_r_a"),
        F.sum(
            F.col("__c") * F.col("__c") * F.col("__c") - F.col("__c")
        )
        .cast("long")
        .alias("tsum"),
        F.max("__cle").cast("long").alias("n"),
    )
    z_txt = (
        "(two_u - CAST(n_a AS DOUBLE) * n_b)"
        " / sqrt(CAST(n_a AS DOUBLE) * n_b *"
        " ((n + 1.0) - tsum / (CAST(n AS DOUBLE) * (n - 1.0))) / 3.0)"
    )
    scored = agg.select(
        "event_type",
        "n_a",
        "n_b",
        (F.col("two_r_a") - F.col("n_a") * (F.col("n_a") + 1))
        .cast("long")
        .alias("two_u"),
        "tsum",
        "n",
    ).select(
        "event_type",
        "n_a",
        "n_b",
        "two_u",
        _rnd(F.expr(z_txt), 9).alias("z"),
    )
    return scored.select(
        "event_type",
        "n_a",
        "n_b",
        "two_u",
        "z",
        _rnd(F.expr(_p2_formula("z")), 10).alias("p"),
    ).select(
        "*",
        (F.col("p") * 20 <= F.lit(1)).cast("int").alias("significant"),
    )


def _sql_mannwhitney() -> str:
    z_txt = (
        "(two_u - CAST(n_a AS DOUBLE) * n_b)"
        " / sqrt(CAST(n_a AS DOUBLE) * n_b *"
        " ((n + 1.0) - tsum / (CAST(n AS DOUBLE) * (n - 1.0))) / 3.0)"
    )
    return f"""
WITH base AS (
    SELECT event_type, value AS v,
           CAST(user_id % 2 AS INT) AS va
    FROM events WHERE user_id IS NOT NULL AND value IS NOT NULL
),
vc AS (
    SELECT event_type, v,
           CAST(count(*) AS BIGINT) AS c,
           CAST(sum(CASE WHEN va = 0 THEN 1 ELSE 0 END) AS BIGINT) AS c_a
    FROM base GROUP BY 1, 2
),
cdf AS (
    SELECT event_type, v, c, c_a,
           CAST(sum(c) OVER (PARTITION BY event_type ORDER BY v
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS BIGINT) AS cle
    FROM vc
),
agg AS (
    SELECT event_type,
           CAST(sum(c_a) AS BIGINT) AS n_a,
           CAST(max(cle) - sum(c_a) AS BIGINT) AS n_b,
           CAST(sum(c_a * (2 * cle - c + 1)) AS BIGINT) AS two_r_a,
           CAST(sum(c * c * c - c) AS BIGINT) AS tsum,
           CAST(max(cle) AS BIGINT) AS n
    FROM cdf GROUP BY 1
),
us AS (
    SELECT event_type, n_a, n_b,
           CAST(two_r_a - n_a * (n_a + 1) AS BIGINT) AS two_u, tsum, n
    FROM agg
),
zs AS (
    SELECT event_type, n_a, n_b, two_u,
           round(1e-9 + {z_txt}, 9) AS z
    FROM us
),
ps AS (
    SELECT *, round(1e-9 + {_p2_formula("z")}, 10) AS p FROM zs
)
SELECT event_type, n_a, n_b, two_u, z, p,
       CAST(p * 20 <= 1 AS INT) AS significant
FROM ps"""


_SQL_MANNWHITNEY = _sql_mannwhitney()


# --- Gaps and islands (run-length encoding) ---------------------------------

def q_gaps_islands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaps-and-islands over per-user event streams — the classic
    warehouse pattern (consecutive same-type runs become islands via
    the two-row_number difference trick), reduced to a run-length
    histogram: how long do users stay in one activity mode?  Shape:
    both row_numbers ride the SAME user-partitioned sort (one exchange,
    two window functions), islands aggregate by (user, type, group id),
    and the histogram is a (types × max_run)-bounded frame.  All
    integers end to end."""
    ev = load_tables(spark, sf_dir)["events"].where(
        F.col("user_id").isNotNull()
        & F.col("ts").isNotNull()
        & F.col("event_type").isNotNull()
    )
    w_all = Window.partitionBy("user_id").orderBy("ts", "event_id")
    w_typ = Window.partitionBy("user_id", "event_type").orderBy(
        "ts", "event_id"
    )
    grp = ev.select(
        "user_id",
        "event_type",
        (F.row_number().over(w_all) - F.row_number().over(w_typ)).alias(
            "__g"
        ),
    )
    runs = grp.groupBy("user_id", "event_type", "__g").agg(
        F.count(F.lit(1)).cast("long").alias("run_len")
    )
    return runs.groupBy("event_type", "run_len").agg(
        F.count(F.lit(1)).cast("long").alias("n_islands")
    )


_SQL_GAPS_ISLANDS = """
WITH e AS (
    SELECT user_id, event_id, ts, event_type
    FROM events
    WHERE user_id IS NOT NULL AND ts IS NOT NULL
          AND event_type IS NOT NULL
),
grp AS (
    SELECT user_id, event_type,
           row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id)
           - row_number() OVER (PARTITION BY user_id, event_type
                                ORDER BY ts, event_id) AS g
    FROM e
),
runs AS (
    SELECT user_id, event_type, g, CAST(count(*) AS BIGINT) AS run_len
    FROM grp GROUP BY 1, 2, 3
)
SELECT event_type, run_len, CAST(count(*) AS BIGINT) AS n_islands
FROM runs GROUP BY 1, 2"""


# --- Compaction planning ------------------------------------------------------

_COMPACT_BINS = 16


def q_compaction_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-files compaction plan — the table-maintenance leg beside
    z-order/manifest/snapshot-diff: daily order "files" (row counts as
    the size proxy) pack into target-sized rewrite bins by NEXT-FIT in
    date order (date-ordered packing preserves partition-pruning
    locality in the rewritten files, which is why real compactors don't
    bin-pack optimally).  Next-fit is sequential but NOT iterative: bin
    id = (cumulative size before this file) div target — one running
    sum over the date-ordered file list, a pure window identity like
    the CUSUM chart.  The report (files, rows, fill % per bin) is
    bin-count-sized.  All boundaries are exact integers; target =
    ceil(total/16) so the plan is scale-free."""
    orders = load_tables(spark, sf_dir)["orders"]
    files = orders.groupBy(F.to_date("o_orderdate").alias("day")).agg(
        F.count(F.lit(1)).cast("long").alias("sz")
    )
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    tot = files.agg(F.sum("sz").cast("long").alias("total"))
    packed = (
        files.crossJoin(F.broadcast(tot))
        .select(
            "day",
            "sz",
            "total",
            (F.sum("sz").over(w) - F.col("sz")).alias("__before"),
        )
        .select(
            "day",
            "sz",
            F.expr(
                f"CAST(__before div ((total + {_COMPACT_BINS - 1})"
                f" div {_COMPACT_BINS}) AS BIGINT)"
            ).alias("bin_id"),
            F.expr(
                f"(total + {_COMPACT_BINS - 1}) div {_COMPACT_BINS}"
            ).alias("__target"),
        )
    )
    return packed.groupBy("bin_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_files"),
        F.sum("sz").cast("long").alias("bin_rows"),
        _rnd(
            F.sum("sz") * 100 / F.first("__target").cast("double"), 4
        ).alias("fill_pct"),
    )


_SQL_COMPACTION_PLAN = f"""
WITH files AS (
    SELECT CAST(o_orderdate AS DATE) AS day,
           CAST(count(*) AS BIGINT) AS sz
    FROM orders GROUP BY 1
),
tot AS (SELECT CAST(sum(sz) AS BIGINT) AS total FROM files),
packed AS (
    SELECT day, sz,
           CAST((sum(sz) OVER (ORDER BY day
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - sz)
                // ((total + {_COMPACT_BINS - 1}) // {_COMPACT_BINS})
                AS BIGINT) AS bin_id,
           (total + {_COMPACT_BINS - 1}) // {_COMPACT_BINS} AS target
    FROM files, tot
)
SELECT bin_id,
       CAST(count(*) AS BIGINT) AS n_files,
       CAST(sum(sz) AS BIGINT) AS bin_rows,
       round(1e-9 + sum(sz) * 100 / CAST(min(target) AS DOUBLE), 4)
           AS fill_pct
FROM packed GROUP BY 1"""


# --- SLO percentile trend + burn rate -----------------------------------------

_SLO_P95_LIMIT = 150  # exact integer SLO bound on the daily p95


def q_slo_burn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SLO burn-rate report — the ops monitor over latency percentiles:
    per-day exact type-1 p50/p95 of the event value, an SLO violation
    flag (p95 > 150), the 7-day rolling violation count, and the burn
    alert (≥ 3 violations in the window) — percentile TRENDS, which the
    one-shot quantile family doesn't give.

    Shape: the per-day CDF comes from :func:`bucketed_value_cumsum`
    (day-partitioned, value-bucketed — never an unpartitioned sort);
    each percentile is the conditional-min-over-CDF selection with a
    cross-multiplied integer threshold (cle·100 ≥ q·n_day); the rolling
    window runs over the ≤ #days frame.  Percentile values are data
    values (no arithmetic); every decision is integers."""
    ev = load_tables(spark, sf_dir)["events"].where(
        F.col("ts").isNotNull() & F.col("value").isNotNull()
    )
    base = ev.select(F.to_date("ts").alias("day"), F.col("value").alias("v"))
    cdf = bucketed_value_cumsum(base, "v", ("day",)).select(
        "day", "__v", "__cle"
    )
    nd = cdf.groupBy("day").agg(F.max("__cle").alias("n_day"))
    j = cdf.join(F.broadcast(nd), "day")
    daily = j.groupBy("day").agg(
        F.max("__cle").cast("long").alias("n"),
        F.min(
            F.when(F.col("__cle") * 100 >= 50 * F.col("n_day"), F.col("__v"))
        ).alias("p50"),
        F.min(
            F.when(F.col("__cle") * 100 >= 95 * F.col("n_day"), F.col("__v"))
        ).alias("p95"),
    )
    flagged = daily.select(
        "day",
        "n",
        "p50",
        "p95",
        (F.col("p95") > _SLO_P95_LIMIT).cast("int").alias("violated"),
    )
    w7 = Window.orderBy("day").rowsBetween(-6, 0)
    return flagged.select(
        "*",
        F.sum("violated").over(w7).cast("long").alias("viol_7d"),
    ).select(
        "*",
        (F.col("viol_7d") >= 3).cast("int").alias("burn_alert"),
    )


_SQL_SLO_BURN = f"""
WITH base AS (
    SELECT CAST(ts AS DATE) AS day, value AS v
    FROM events WHERE ts IS NOT NULL AND value IS NOT NULL
),
vc AS (
    SELECT day, v, CAST(count(*) AS BIGINT) AS c FROM base GROUP BY 1, 2
),
cdf AS (
    SELECT day, v,
           CAST(sum(c) OVER (PARTITION BY day ORDER BY v
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS BIGINT) AS cle
    FROM vc
),
nd AS (SELECT day, max(cle) AS n_day FROM cdf GROUP BY 1),
daily AS (
    SELECT day,
           CAST(max(cle) AS BIGINT) AS n,
           min(CASE WHEN cle * 100 >= 50 * n_day THEN v END) AS p50,
           min(CASE WHEN cle * 100 >= 95 * n_day THEN v END) AS p95
    FROM cdf JOIN nd USING (day)
    GROUP BY 1
),
flagged AS (
    SELECT day, n, p50, p95,
           CAST(p95 > {_SLO_P95_LIMIT} AS INT) AS violated
    FROM daily
)
SELECT day, n, p50, p95, violated,
       CAST(sum(violated) OVER (ORDER BY day
            ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) AS BIGINT) AS viol_7d,
       CAST(sum(violated) OVER (ORDER BY day
            ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) >= 3 AS INT)
           AS burn_alert
FROM flagged"""


# --- Calibration / reliability curve -------------------------------------------

_CAL_LABEL_CHARS = 300  # label: "long document" (n_chars >= median-ish)


def q_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reliability curve + Brier decomposition for the quality model —
    the ML-eval leg the scoring queries (q_quality_model, q_lm_score)
    feed: score-value bins (⌊p·10⌋), per bin the mean predicted
    probability vs the observed positive rate (label: document length ≥
    300 chars), the bin's Brier contribution, and the |gap| that sums to
    ECE.

    Float discipline: per-row p is engine-identical (the q_quality_model
    inference path), but SUMS of doubles are order-dependent — so p is
    rounded to the 1e-6 lattice and aggregated as BIGINT micro-units
    (pi = round(p·10⁶); Brier terms (pi − y·10⁶)² stay under 2⁶³), with
    ONE division per reported column.  Bins are ≤ 10 rows."""
    from .queries_data import q_quality_model

    scored = q_quality_model(spark, sf_dir).select("doc_id", "p_keep")
    docs = load_tables(spark, sf_dir)["documents"].select(
        "doc_id", "n_chars"
    )
    j = scored.join(docs, "doc_id").select(
        F.least(F.lit(9), F.floor(F.col("p_keep") * 10)).cast("int").alias(
            "bin"
        ),
        F.round(F.col("p_keep") * 1000000).cast("long").alias("pi"),
        (F.col("n_chars") >= _CAL_LABEL_CHARS).cast("long").alias("y"),
    )
    per_bin = j.groupBy("bin").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("pi").cast("long").alias("__sp"),
        F.sum("y").cast("long").alias("n_pos"),
        F.sum(
            (F.col("pi") - F.col("y") * 1000000)
            * (F.col("pi") - F.col("y") * 1000000)
        )
        .cast("long")
        .alias("__sb"),
    )
    return per_bin.select(
        "bin",
        "n",
        "n_pos",
        _rnd(F.col("__sp") / (F.col("n") * 1e6), 6).alias("mean_p"),
        _rnd(F.col("n_pos") / F.col("n").cast("double"), 6).alias("obs_rate"),
        _rnd(F.col("__sb") / (F.col("n") * 1e12), 6).alias("brier"),
        _rnd(
            F.abs(
                F.col("__sp") / (F.col("n") * 1e6)
                - F.col("n_pos") / F.col("n").cast("double")
            ),
            6,
        ).alias("gap"),
    )


def _sql_calibration() -> str:
    from .queries_data import _SQL_QM_FEATURES

    return f"""
WITH {_SQL_QM_FEATURES.strip().lstrip()},
scored AS (
    SELECT doc_id, round(1e-9 + 1.0 / (1.0 + exp(-z)), 6) AS p_keep
    FROM qz
),
j AS (
    SELECT least(9, CAST(floor(s.p_keep * 10) AS INT)) AS bin,
           CAST(round(s.p_keep * 1000000) AS BIGINT) AS pi,
           CAST(d.n_chars >= {_CAL_LABEL_CHARS} AS BIGINT) AS y
    FROM scored s JOIN documents d USING (doc_id)
),
per_bin AS (
    SELECT bin,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(pi) AS BIGINT) AS sp,
           CAST(sum(y) AS BIGINT) AS n_pos,
           CAST(sum((pi - y * 1000000) * (pi - y * 1000000)) AS BIGINT)
               AS sb
    FROM j GROUP BY 1
)
SELECT CAST(bin AS INT) AS bin, n, n_pos,
       round(1e-9 + sp / (n * 1e6), 6) AS mean_p,
       round(1e-9 + n_pos / CAST(n AS DOUBLE), 6) AS obs_rate,
       round(1e-9 + sb / (n * 1e12), 6) AS brier,
       round(1e-9 + abs(sp / (n * 1e6) - n_pos / CAST(n AS DOUBLE)), 6)
           AS gap
FROM per_bin"""


_SQL_CALIBRATION = _sql_calibration()


# --- Boilerplate removal transform ---------------------------------------------

def q_boilerplate_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-frequent-segment REMOVAL — the transform half of the
    boilerplate story (q_boilerplate detects, this rewrites): documents
    partition into non-overlapping 3-token segments, a segment present
    in ≥ 5 % of documents is corpus boilerplate (templates, navigation,
    footers at web scale), and each document is reassembled WITHOUT its
    boilerplate segments — the RefinedWeb/CCNet cleanup step before LLM
    training.  Non-overlapping segments (unlike the detector's sliding
    shingles) make removal well-defined: the kept segments re-concatenate
    in position order.

    Shapes: the doc×segment frame builds once and persists (feeds the
    doc-frequency aggregate AND the rebuild); the frequent set is
    vocabulary-sized → broadcast; rebuild order rides
    array_sort(collect_list(struct(seg_id, …))) — deterministic, no
    window.  Output reports counts plus the md5 of the cleaned text, so
    the oracle hash certifies the REWRITTEN STRING itself."""
    from .functions import text as T
    from .queries_data import _scale_out

    d = _scale_out(
        load_tables(spark, sf_dir)["documents"].select("doc_id", "text")
    )
    tok = d.select(
        "doc_id", F.posexplode(T.tokens("text")).alias("pos", "tok")
    )
    seg = (
        tok.groupBy("doc_id", F.expr("pos div 3").alias("seg_id"))
        .agg(
            F.concat_ws(
                " ",
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "tok"))),
                    lambda s: s["tok"],
                ),
            ).alias("seg_text")
        )
        .persist()  # feeds doc-frequency AND the rebuild
    )
    stats = d.agg(F.count_distinct("doc_id").alias("n_docs"))
    frequent = (
        seg.select("doc_id", "seg_text")
        .distinct()
        .groupBy("seg_text")
        .agg(F.count(F.lit(1)).alias("df"))
        .crossJoin(F.broadcast(stats))
        .where(F.col("df") * 20 >= F.col("n_docs"))
        .select("seg_text", F.lit(1).alias("__b"))
    )
    marked = seg.join(F.broadcast(frequent), "seg_text", "left")
    return marked.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_segs"),
        F.sum(F.coalesce(F.col("__b"), F.lit(0))).cast("long").alias(
            "n_removed"
        ),
        F.md5(
            F.concat_ws(
                " ",
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.when(
                                F.col("__b").isNull(),
                                F.struct("seg_id", "seg_text"),
                            )
                        )
                    ),
                    lambda s: s["seg_text"],
                ),
            )
        ).alias("clean_md5"),
    )


_SQL_BOILERPLATE_SCRUB = """
WITH tokd AS (
    SELECT doc_id,
           list_filter(string_split_regex(text, '\\s+'), t -> t <> '') AS w
    FROM documents
),
tok AS (
    SELECT doc_id, i - 1 AS pos, w[i] AS tok
    FROM tokd, unnest(range(1, len(w) + 1)) AS t(i)
),
seg AS (
    SELECT doc_id, pos // 3 AS seg_id,
           string_agg(tok, ' ' ORDER BY pos) AS seg_text
    FROM tok GROUP BY 1, 2
),
stats AS (SELECT count(DISTINCT doc_id) AS n_docs FROM documents),
freq AS (
    SELECT seg_text
    FROM (SELECT DISTINCT doc_id, seg_text FROM seg), stats
    GROUP BY seg_text, n_docs
    HAVING count(*) * 20 >= n_docs
)
SELECT s.doc_id,
       CAST(count(*) AS BIGINT) AS n_segs,
       CAST(sum(CASE WHEN f.seg_text IS NOT NULL THEN 1 ELSE 0 END)
            AS BIGINT) AS n_removed,
       md5(coalesce(string_agg(s.seg_text, ' ' ORDER BY s.seg_id)
            FILTER (WHERE f.seg_text IS NULL), '')) AS clean_md5
FROM seg s LEFT JOIN freq f ON s.seg_text = f.seg_text
GROUP BY 1"""


# --- Cross-document repeated-span removal --------------------------------------

def q_dup_span_removal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document repeated-SPAN removal — the span-granular
    train-data dedup (Lee et al. 2022, "Deduplicating Training Data
    Makes Language Models Better", reduced from suffix arrays to
    fixed-width spans): documents partition into non-overlapping
    5-token spans; every span that occurs more than once IN THE WHOLE
    CORPUS survives only at its canonical first occurrence (smallest
    (doc_id, span_id) — deterministic, partition-independent), and
    every other occurrence — cross-document AND within-document — is
    cut before reassembly.  Reports per doc the span counts and the
    md5 of the rewritten text, so the oracle hash certifies the
    transform itself.

    Shapes: one doc×span frame (persisted — feeds the first-occurrence
    aggregate AND the rebuild); the canonical table is span-cardinality
    and joins back BY SPAN CONTENT (an equi-shuffle — the exact-dedup
    shuffle, NOT broadcastable at corpus scale and not broadcast here);
    first-occurrence is min(struct(doc_id, span_id)) — lexicographic
    struct ordering, supported by both engines — so there is no packed
    integer key to collide however long a document grows (the earlier
    doc_id·1000+span_id packing silently collided for docs with
    ≥1000 spans)."""
    from .functions import text as T
    from .queries_data import _scale_out

    d = _scale_out(
        load_tables(spark, sf_dir)["documents"].select("doc_id", "text")
    )
    tok = d.select(
        "doc_id", F.posexplode(T.tokens("text")).alias("pos", "tok")
    )
    span = (
        tok.groupBy("doc_id", F.expr("pos div 5").alias("span_id"))
        .agg(
            F.concat_ws(
                " ",
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "tok"))),
                    lambda s: s["tok"],
                ),
            ).alias("span_text")
        )
        .persist()  # feeds first-occurrence AND the rebuild
    )
    first = span.groupBy("span_text").agg(
        F.min(F.struct("doc_id", "span_id")).alias("__first")
    )
    marked = span.join(first, "span_text").select(
        "doc_id",
        "span_id",
        "span_text",
        (F.struct("doc_id", "span_id") != F.col("__first"))
        .cast("int")
        .alias("__cut"),
    )
    return marked.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_spans"),
        F.sum("__cut").cast("long").alias("n_removed"),
        F.md5(
            F.concat_ws(
                " ",
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.when(
                                F.col("__cut") == 0,
                                F.struct("span_id", "span_text"),
                            )
                        )
                    ),
                    lambda s: s["span_text"],
                ),
            )
        ).alias("clean_md5"),
    )


_SQL_DUP_SPAN_REMOVAL = """
WITH tokd AS (
    SELECT doc_id,
           list_filter(string_split_regex(text, '\\s+'), t -> t <> '') AS w
    FROM documents
),
tok AS (
    SELECT doc_id, i - 1 AS pos, w[i] AS tok
    FROM tokd, unnest(range(1, len(w) + 1)) AS t(i)
),
span AS (
    SELECT doc_id, pos // 5 AS span_id,
           string_agg(tok, ' ' ORDER BY pos) AS span_text
    FROM tok GROUP BY 1, 2
),
first_occ AS (
    SELECT span_text, min(ROW(doc_id, span_id)) AS first_key
    FROM span GROUP BY 1
),
marked AS (
    SELECT s.doc_id, s.span_id, s.span_text,
           CAST(ROW(s.doc_id, s.span_id) <> f.first_key AS INT) AS cut
    FROM span s JOIN first_occ f USING (span_text)
)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_spans,
       CAST(sum(cut) AS BIGINT) AS n_removed,
       md5(coalesce(string_agg(span_text, ' ' ORDER BY span_id)
            FILTER (WHERE cut = 0), '')) AS clean_md5
FROM marked GROUP BY 1"""


# --- Storage encoding advisor ---------------------------------------------------

_ENC_COLS = (
    "l_returnflag",
    "l_linestatus",
    "l_suppkey",
    "l_quantity",
    "l_extendedprice",
)


def q_encoding_advisor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column-encoding advisor — the storage-layout half of profiling
    (q_profile_columns says WHAT is in a column; this says HOW to store
    it): per fact column, exact distinct count, the within-row-group
    run ratio (consecutive equal values inside an order, the natural
    clustering unit — RLE's benefit measure), and the recommendation a
    columnar writer would pick: DICTIONARY when distinct·20 ≤ rows, RLE
    when runs cover ≥ half the rows, PLAIN otherwise — both thresholds
    cross-multiplied integers.

    Shape: one Expand pass computes every column's aggregates together
    (the q_profile_columns pattern); the run detection lags within
    (l_orderkey) partitions ordered by l_linenumber — small partitions,
    never a global sort.  At 100 TB the same query runs per row-group
    sample rather than the full fact; the report shape is unchanged."""
    li = load_tables(spark, sf_dir)["lineitem"]
    # (l_orderkey, l_linenumber) is NOT unique in the synthetic data —
    # extend the order to a total one (ties that remain are fully
    # identical rows, which cannot change run counts) so lag is
    # deterministic and the oracle sees the same sequence
    order_cols = ["l_linenumber", *(c for c in _ENC_COLS), "l_partkey"]
    w = Window.partitionBy("l_orderkey").orderBy(*order_cols)
    runs = li.select(
        "*",
        *[
            (F.col(c) == F.lag(c, 1).over(w)).cast("long").alias(f"__r_{c}")
            for c in _ENC_COLS
        ],
    )
    aggs = []
    for c in _ENC_COLS:
        aggs.append(F.count(c).cast("long").alias(f"n_{c}"))
        aggs.append(F.count_distinct(c).cast("long").alias(f"d_{c}"))
        aggs.append(
            F.sum(F.coalesce(F.col(f"__r_{c}"), F.lit(0)))
            .cast("long")
            .alias(f"r_{c}")
        )
    one = runs.agg(*aggs)
    stack = ", ".join(
        f"'{c}', n_{c}, d_{c}, r_{c}" for c in _ENC_COLS
    )
    cols = one.select(
        F.expr(
            f"stack({len(_ENC_COLS)}, {stack})"
            " AS (column_name, n_rows, n_distinct, n_runs)"
        )
    )
    return cols.select(
        "column_name",
        "n_rows",
        "n_distinct",
        "n_runs",
        _rnd(F.col("n_runs") / F.col("n_rows").cast("double"), 6).alias(
            "run_ratio"
        ),
        F.when(F.col("n_distinct") * 20 <= F.col("n_rows"), "DICTIONARY")
        .when(F.col("n_runs") * 2 >= F.col("n_rows"), "RLE")
        .otherwise("PLAIN")
        .alias("encoding"),
    )


def _sql_encoding_advisor() -> str:
    lag_cols = ",\n           ".join(
        f"CAST(CASE WHEN {c} = lag({c}) OVER w THEN 1 ELSE 0 END"
        f" AS BIGINT) AS r_{c}"
        for c in _ENC_COLS
    )
    per_col = ",\n           ".join(
        f"CAST(count({c}) AS BIGINT) AS n_{c},"
        f" CAST(count(DISTINCT {c}) AS BIGINT) AS d_{c},"
        f" CAST(sum(r_{c}) AS BIGINT) AS rr_{c}"
        for c in _ENC_COLS
    )
    order_tail = ", ".join(_ENC_COLS)
    unions = "\nUNION ALL\n".join(
        f"SELECT '{c}' AS column_name, n_{c} AS n_rows,"
        f" d_{c} AS n_distinct, rr_{c} AS n_runs FROM one"
        for c in _ENC_COLS
    )
    return f"""
WITH runs AS (
    SELECT *,
           {lag_cols}
    FROM lineitem
    WINDOW w AS (PARTITION BY l_orderkey ORDER BY l_linenumber,
                 {order_tail}, l_partkey)
),
one AS (
    SELECT {per_col}
    FROM runs
),
cols AS (
{unions}
)
SELECT column_name, n_rows, n_distinct, n_runs,
       round(1e-9 + n_runs / CAST(n_rows AS DOUBLE), 6) AS run_ratio,
       CASE WHEN n_distinct * 20 <= n_rows THEN 'DICTIONARY'
            WHEN n_runs * 2 >= n_rows THEN 'RLE'
            ELSE 'PLAIN' END AS encoding
FROM cols"""


_SQL_ENCODING_ADVISOR = _sql_encoding_advisor()


# --- Matryoshka truncation recall -----------------------------------------------

_MRL_PREFIXES = (8, 16, 32)
_MRL_K = 10


def q_matryoshka_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka (MRL) truncation evaluation — the modern embedding
    practice the ANN family needs a dial for: nested representations let
    a deployment score with only the FIRST m dimensions (m ≪ d) and pay
    proportionally less memory/compute; this query measures what that
    truncation costs, as recall@10 of the m-prefix cosine top-10 against
    the full-dimension exact top-10, per prefix width (8/16/32 of 64).

    Shape: four :func:`brute_force_knn` passes over the SAME broadcast
    query set (the exhaustive scorer is the documented recall oracle —
    the serving path is IVF/PQ); the prefix passes score sliced arrays
    (`F.slice` — JVM-side, no Python).  Hits count by an equi-join on
    (query, neighbor, m); recall is an exact rational.  At 100 TB this
    is the offline dial-tuning run before fixing a truncation width."""
    from .operators.similarity import brute_force_knn
    from .queries_data import _emb, _scale_out

    emb = _emb(spark, sf_dir)
    queries = emb.where(F.col("vec_id") % 50 == 0)
    corpus = _scale_out(emb)
    full = brute_force_knn(queries, corpus, k=_MRL_K).select(
        "query_id", "neighbor_id", F.lit(1).alias("__hit")
    ).persist()  # joined against every prefix pass
    out = None
    for m in _MRL_PREFIXES:
        qm_ = queries.select(
            "vec_id", F.slice("embedding", 1, m).alias("embedding")
        )
        cm_ = corpus.select(
            "vec_id", F.slice("embedding", 1, m).alias("embedding")
        )
        pref = brute_force_knn(qm_, cm_, k=_MRL_K).select(
            "query_id", "neighbor_id"
        )
        st = (
            pref.join(full, ["query_id", "neighbor_id"], "left")
            .agg(
                F.lit(m).cast("int").alias("prefix_dims"),
                F.count_distinct("query_id").cast("long").alias("n_queries"),
                F.lit(_MRL_K).cast("int").alias("k"),
                F.sum(F.coalesce(F.col("__hit"), F.lit(0)))
                .cast("long")
                .alias("n_hits"),
            )
        )
        out = st if out is None else out.unionByName(st)
    return out.select(
        "prefix_dims",
        "n_queries",
        "k",
        "n_hits",
        _rnd(
            F.col("n_hits")
            / (F.col("n_queries") * F.col("k")).cast("double"),
            6,
        ).alias("recall_at_k"),
    )


def _sql_matryoshka_recall() -> str:
    def cos(ml: str) -> str:
        return (
            f"list_sum(list_transform(range(1, {ml} + 1),"
            " i -> q.v[i] * c.v[i]))"
            f" / (sqrt(list_sum(list_transform(range(1, {ml} + 1),"
            " i -> q.v[i] * q.v[i])))"
            f" * sqrt(list_sum(list_transform(range(1, {ml} + 1),"
            " i -> c.v[i] * c.v[i]))))"
        )

    parts = []
    for m in _MRL_PREFIXES:
        parts.append(f"""
pref{m} AS (
    SELECT query_id, neighbor_id FROM (
        SELECT q.query_id, c.neighbor_id, row_number() OVER (
            PARTITION BY q.query_id
            ORDER BY {cos(str(m))} DESC, c.neighbor_id ASC) AS rn
        FROM q CROSS JOIN c
    ) WHERE rn <= {_MRL_K}
),
st{m} AS (
    SELECT CAST({m} AS INT) AS prefix_dims,
           CAST(count(DISTINCT p.query_id) AS BIGINT) AS n_queries,
           CAST({_MRL_K} AS INT) AS k,
           CAST(sum(CASE WHEN f.query_id IS NOT NULL
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_hits
    FROM pref{m} p
    LEFT JOIN full_t f
      ON f.query_id = p.query_id AND f.neighbor_id = p.neighbor_id
)""")
    unions = "\nUNION ALL\n".join(
        f"SELECT * FROM st{m}" for m in _MRL_PREFIXES
    )
    return f"""
WITH q AS (
    SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS v
    FROM embeddings WHERE vec_id % 50 = 0
),
c AS (
    SELECT vec_id AS neighbor_id, CAST(embedding AS DOUBLE[]) AS v
    FROM embeddings
),
full_t AS (
    SELECT query_id, neighbor_id FROM (
        SELECT q.query_id, c.neighbor_id, row_number() OVER (
            PARTITION BY q.query_id
            ORDER BY {cos("len(q.v)")} DESC, c.neighbor_id ASC) AS rn
        FROM q CROSS JOIN c
    ) WHERE rn <= {_MRL_K}
),
{",".join(p.strip() for p in parts)}
SELECT prefix_dims, n_queries, k, n_hits,
       round(1e-9 + n_hits / CAST(n_queries * k AS DOUBLE), 6)
           AS recall_at_k
FROM ({unions})"""


_SQL_MATRYOSHKA_RECALL = _sql_matryoshka_recall()


# --- Spearman rank correlation ---------------------------------------------------

def q_spearman(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spearman rank correlation between the daily view-count and
    purchase-revenue series — the rank-based leg that completes the
    correlation family (Pearson q_demand_corr, lagged
    q_crosscorrelation): ρ_s is Pearson on midranks, so it sees any
    monotone relation and shrugs at outliers.

    Exactness: the same no-row-gets-a-rank trick as Mann–Whitney —
    midranks fold over each series' distinct-value table as
    2R(v) = 2·cle − c + 1 (doubled to stay integer), every sum in the
    closed form is BIGINT, and the final ρ (and the contrast Pearson on
    the raw lattice values) evaluates ONE textual formula shared with
    the oracle, in DOUBLE because n·Σb² overflows int64 on the revenue
    lattice.  The cumulative count comes from
    :func:`bucketed_value_cumsum` (value-bucketed parallel windows),
    so NO unpartitioned window runs even if the series grain ever
    drops below daily; ``daily`` is persisted because the primitive
    fires one eager GK-edge job per call (two calls here) and the
    final join replays the lineage a third time — cached until the
    harness clearCache."""
    ev = load_tables(spark, sf_dir)["events"].where(
        F.col("ts").isNotNull() & F.col("value").isNotNull()
    )
    daily = ev.groupBy(F.to_date("ts").alias("day")).agg(
        F.sum((F.col("event_type") == "view").cast("long"))
        .cast("long")
        .alias("x"),
        F.sum(
            F.when(
                F.col("event_type") == "purchase",
                F.round(F.col("value") * 100).cast("long"),
            ).otherwise(0)
        )
        .cast("long")
        .alias("y"),
    ).persist()  # two eager GK-edge jobs + the final join share this

    def midrank2(col: str) -> DataFrame:
        cum = bucketed_value_cumsum(daily.select(col), col)
        return cum.select(
            F.col("__v").alias(col),
            (
                2 * F.col("__cle") - F.col("__c") + 1
            ).cast("long").alias(f"r_{col}"),
        )

    j = daily.join(midrank2("x"), "x").join(midrank2("y"), "y")
    agg = j.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("r_x").cast("long").alias("sa"),
        F.sum("r_y").cast("long").alias("sb"),
        F.sum(F.col("r_x") * F.col("r_x")).cast("long").alias("saa"),
        F.sum(F.col("r_y") * F.col("r_y")).cast("long").alias("sbb"),
        F.sum(F.col("r_x") * F.col("r_y")).cast("long").alias("sab"),
        F.sum("x").cast("long").alias("sx"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"),
        F.sum(F.col("y") * F.col("y")).cast("long").alias("syy"),
        F.sum(F.col("x") * F.col("y")).cast("long").alias("sxy"),
    )
    rho = (
        "(CAST(n AS DOUBLE) * {ab} - CAST({a} AS DOUBLE) * {b})"
        " / sqrt((CAST(n AS DOUBLE) * {aa} - CAST({a} AS DOUBLE) * {a})"
        " * (CAST(n AS DOUBLE) * {bb} - CAST({b} AS DOUBLE) * {b}))"
    )
    return agg.select(
        "n",
        _rnd(
            F.expr(rho.format(a="sa", b="sb", aa="saa", bb="sbb", ab="sab")),
            6,
        ).alias("spearman_rho"),
        _rnd(
            F.expr(rho.format(a="sx", b="sy", aa="sxx", bb="syy", ab="sxy")),
            6,
        ).alias("pearson_rho"),
    )


def _sql_spearman() -> str:
    rho = (
        "(CAST(n AS DOUBLE) * {ab} - CAST({a} AS DOUBLE) * {b})"
        " / sqrt((CAST(n AS DOUBLE) * {aa} - CAST({a} AS DOUBLE) * {a})"
        " * (CAST(n AS DOUBLE) * {bb} - CAST({b} AS DOUBLE) * {b}))"
    )
    return f"""
WITH daily AS (
    SELECT CAST(ts AS DATE) AS day,
           CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
                AS BIGINT) AS x,
           CAST(sum(CASE WHEN event_type = 'purchase'
                    THEN CAST(round(value * 100) AS BIGINT)
                    ELSE 0 END) AS BIGINT) AS y
    FROM events
    WHERE ts IS NOT NULL AND value IS NOT NULL
    GROUP BY 1
),
rx AS (
    SELECT x, CAST(2 * sum(count(*)) OVER (ORDER BY x
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              - count(*) + 1 AS BIGINT) AS r_x
    FROM daily GROUP BY x
),
ry AS (
    SELECT y, CAST(2 * sum(count(*)) OVER (ORDER BY y
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              - count(*) + 1 AS BIGINT) AS r_y
    FROM daily GROUP BY y
),
agg AS (
    SELECT CAST(count(*) AS BIGINT) AS n,
           CAST(sum(r_x) AS BIGINT) AS sa, CAST(sum(r_y) AS BIGINT) AS sb,
           CAST(sum(r_x * r_x) AS BIGINT) AS saa,
           CAST(sum(r_y * r_y) AS BIGINT) AS sbb,
           CAST(sum(r_x * r_y) AS BIGINT) AS sab,
           CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
           CAST(sum(x * x) AS BIGINT) AS sxx,
           CAST(sum(y * y) AS BIGINT) AS syy,
           CAST(sum(x * y) AS BIGINT) AS sxy
    FROM daily JOIN rx USING (x) JOIN ry USING (y)
)
SELECT n,
       round(1e-9 + {rho.format(a="sa", b="sb", aa="saa", bb="sbb", ab="sab")}, 6)
           AS spearman_rho,
       round(1e-9 + {rho.format(a="sx", b="sy", aa="sxx", bb="syy", ab="sxy")}, 6)
           AS pearson_rho
FROM agg"""


_SQL_SPEARMAN = _sql_spearman()


# --- Binary-segmentation changepoint --------------------------------------------------

def q_changepoint_binseg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Variance-based single-split changepoint of the daily
    purchase-revenue series — the segmentation leg beside
    q_cusum_changepoint's sequential alarm (CUSUM asks "has the mean
    drifted?"; binary segmentation asks "WHERE does one split explain
    the series best?"): the split k minimizing SSE_left + SSE_right,
    the first step of the classic binseg recursion.

    Exactness: day-grain prefix sums are BIGINT off one calendar-bounded
    window (≤731 rows — the q_kendall_tau cap class); each split's cost
    is per-row IEEE arithmetic over those integers (engine-identical
    bits), the argmin breaks ties on k; reported means/SSEs round on the
    shared lattice.  Shape: one corpus aggregation to the day grain;
    everything after is day-grain metadata work."""
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
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    idx = daily.select(
        "day",
        "y",
        F.count(F.lit(1)).over(w).cast("long").alias("k"),
        F.sum("y").over(w).cast("long").alias("cy"),
        F.sum(F.col("y") * F.col("y")).over(w).cast("long").alias("cyy"),
    )
    tot = daily.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("y") * F.col("y")).cast("long").alias("syy"),
    )
    splits = idx.crossJoin(F.broadcast(tot)).where(F.col("k") < F.col("n"))
    cost_txt = (
        "(cyy - (CAST(cy AS DOUBLE) * cy) / k)"
        " + ((syy - cyy) - (CAST(sy - cy AS DOUBLE) * (sy - cy)) / (n - k))"
    )
    w_best = Window.orderBy(F.expr(cost_txt).asc(), F.col("k").asc())
    best = (
        splits.withColumn("__r", F.row_number().over(w_best))
        .where(F.col("__r") == 1)
    )
    sse_g = "(syy - (CAST(sy AS DOUBLE) * sy) / n)"
    vred = (
        f"CASE WHEN {sse_g} > 0 THEN 1.0 - ({cost_txt}) / ({sse_g}) END"
    )
    return best.select(
        F.col("n").alias("n_days"),
        F.col("k").alias("split_k"),
        F.col("day").alias("split_day"),
        _rnd(F.col("cy") / F.col("k").cast("double"), 4).alias("mean_left"),
        _rnd(
            (F.col("sy") - F.col("cy"))
            / (F.col("n") - F.col("k")).cast("double"),
            4,
        ).alias("mean_right"),
        _rnd(F.expr(cost_txt), 4).alias("sse_split"),
        _rnd(F.expr(vred), 6).alias("var_reduction"),
    )


_SQL_CHANGEPOINT_BINSEG = """
WITH daily AS (
    SELECT CAST(ts AS DATE) AS day,
           CAST(sum(CASE WHEN event_type = 'purchase'
                    THEN CAST(round(value * 100) AS BIGINT)
                    ELSE 0 END) AS BIGINT) AS y
    FROM events WHERE ts IS NOT NULL AND value IS NOT NULL
    GROUP BY 1
),
idx AS (
    SELECT day, y,
           CAST(count(*) OVER wc AS BIGINT) AS k,
           CAST(sum(y) OVER wc AS BIGINT) AS cy,
           CAST(sum(y * y) OVER wc AS BIGINT) AS cyy
    FROM daily
    WINDOW wc AS (ORDER BY day
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
),
tot AS (
    SELECT CAST(count(*) AS BIGINT) AS n,
           CAST(sum(y) AS BIGINT) AS sy,
           CAST(sum(y * y) AS BIGINT) AS syy
    FROM daily
),
splits AS (
    SELECT i.*, t.n, t.sy, t.syy,
           (cyy - (CAST(cy AS DOUBLE) * cy) / k)
           + ((syy - cyy)
              - (CAST(sy - cy AS DOUBLE) * (sy - cy)) / (n - k)) AS cost
    FROM idx i, tot t WHERE i.k < t.n
),
best AS (
    SELECT * FROM (
        SELECT *, row_number() OVER (ORDER BY cost ASC, k ASC) AS r
        FROM splits
    ) WHERE r = 1
)
SELECT n AS n_days, k AS split_k, day AS split_day,
       round(1e-9 + cy / CAST(k AS DOUBLE), 4) AS mean_left,
       round(1e-9 + (sy - cy) / CAST(n - k AS DOUBLE), 4) AS mean_right,
       round(1e-9 + cost, 4) AS sse_split,
       round(1e-9 + (CASE WHEN (syy - (CAST(sy AS DOUBLE) * sy) / n) > 0
             THEN 1.0 - cost / (syy - (CAST(sy AS DOUBLE) * sy) / n) END), 6)
           AS var_reduction
FROM best"""


# --- Simpson's-paradox trend screen ----------------------------------------------------

def q_simpson_trends(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Simpson's-paradox screen over the daily event-count trends: for
    each event type, does ITS OWN slope disagree in sign with the slope
    of the POOLED daily total?  (The aggregation-reversal check every
    metrics review needs before trusting a topline trend — a growing
    total can hide every segment shrinking, and vice versa, when the
    mixture shifts.)

    Exactness: both regressions ride q_trend_ols' exact-integer power
    sums, and the SIGN comparison never touches a float — sign(slope) =
    sign(n·Σxy − Σx·Σy) because the denominator is positive whenever ≥2
    distinct days exist (NULL flag otherwise).  Shape: one corpus
    aggregation to the (type × day) grain, a second fold to the pooled
    day grain, six numbers per group after that."""
    ev = load_tables(spark, sf_dir)["events"].where(F.col("ts").isNotNull())
    daily = ev.groupBy(
        "event_type", F.to_date("ts").alias("day")
    ).agg(F.count(F.lit(1)).cast("long").alias("y"))
    d0 = daily.agg(F.min("day").alias("d0"))
    xy = daily.crossJoin(F.broadcast(d0)).select(
        "event_type",
        F.datediff("day", "d0").cast("long").alias("x"),
        "y",
    ).persist()  # feeds the per-group AND the pooled fold
    def _sums(df, keys):
        return df.groupBy(*keys).agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("x").cast("long").alias("sx"),
            F.sum("y").cast("long").alias("sy"),
            F.sum(F.col("x") * F.col("y")).cast("long").alias("sxy"),
            F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"),
        )
    g = _sums(xy, ["event_type"])
    pooled = _sums(
        xy.groupBy("x").agg(F.sum("y").cast("long").alias("y")), []
    ).select(
        F.col("n").alias("pn"),
        F.col("sx").alias("psx"),
        F.col("sy").alias("psy"),
        F.col("sxy").alias("psxy"),
        F.col("sxx").alias("psxx"),
    )
    slope = "CASE WHEN n * sxx - sx * sx > 0 THEN CAST(n * sxy - sx * sy AS DOUBLE) / (n * sxx - sx * sx) END"
    pslope = "CASE WHEN pn * psxx - psx * psx > 0 THEN CAST(pn * psxy - psx * psy AS DOUBLE) / (pn * psxx - psx * psx) END"
    flip = (
        "CASE WHEN n * sxx - sx * sx <= 0 OR pn * psxx - psx * psx <= 0"
        " THEN NULL"
        " ELSE CAST((sign(n * sxy - sx * sy)"
        " * sign(pn * psxy - psx * psy)) < 0 AS INT) END"
    )
    return g.crossJoin(F.broadcast(pooled)).select(
        "event_type",
        F.col("n").alias("n_days"),
        _rnd(F.expr(slope), 6).alias("slope"),
        _rnd(F.expr(pslope), 6).alias("pooled_slope"),
        F.expr(flip).alias("sign_flip"),
    )


_SQL_SIMPSON_TRENDS = """
WITH daily AS (
    SELECT event_type, CAST(ts AS DATE) AS day,
           CAST(count(*) AS BIGINT) AS y
    FROM events WHERE ts IS NOT NULL
    GROUP BY 1, 2
),
d0 AS (SELECT min(day) AS d0 FROM daily),
xy AS (
    SELECT event_type, CAST(datediff('day', d0, day) AS BIGINT) AS x, y
    FROM daily, d0
),
g AS (
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(x) AS BIGINT) AS sx,
           CAST(sum(y) AS BIGINT) AS sy,
           CAST(sum(x * y) AS BIGINT) AS sxy,
           CAST(sum(x * x) AS BIGINT) AS sxx
    FROM xy GROUP BY 1
),
pooled_xy AS (SELECT x, CAST(sum(y) AS BIGINT) AS y FROM xy GROUP BY 1),
p AS (
    SELECT CAST(count(*) AS BIGINT) AS pn,
           CAST(sum(x) AS BIGINT) AS psx,
           CAST(sum(y) AS BIGINT) AS psy,
           CAST(sum(x * y) AS BIGINT) AS psxy,
           CAST(sum(x * x) AS BIGINT) AS psxx
    FROM pooled_xy
)
SELECT event_type, n AS n_days,
       round(1e-9 + (CASE WHEN n * sxx - sx * sx > 0
             THEN CAST(n * sxy - sx * sy AS DOUBLE) / (n * sxx - sx * sx)
             END), 6) AS slope,
       round(1e-9 + (CASE WHEN pn * psxx - psx * psx > 0
             THEN CAST(pn * psxy - psx * psy AS DOUBLE)
                  / (pn * psxx - psx * psx) END), 6) AS pooled_slope,
       CASE WHEN n * sxx - sx * sx <= 0 OR pn * psxx - psx * psx <= 0
            THEN NULL
            ELSE CAST((sign(n * sxy - sx * sy)
                 * sign(pn * psxy - psx * psy)) < 0 AS INT) END AS sign_flip
FROM g, p"""


def q_item_cf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Item-item collaborative filtering (the classic Amazon/implicit-
    feedback recommender core) over the user×zone interaction matrix:
    binary interactions (a user visited a pickup zone), co-occurrence
    counts via ONE self-join on the user key, cosine similarity
    n_ij/√(n_i·n_j), top-5 neighbors per item.

    Scale discipline: the quadratic lives on the ITEM axis — per user,
    pair generation is bounded by the item domain (≤40 zones here; at
    catalog scale, cap per-user item lists the `max_bucket` way), and
    everything after the pair count is item²-grain metadata, like
    q_market_basket's basket pairs.  Exactness: neighbors rank on
    n_ij²/n_j (n_i is constant inside a partition — ONE integer
    division as double, bit-identical both engines), ties by neighbor
    id; the reported cosine rounds after one sqrt of an exact integer
    product (IEEE sqrt is correctly rounded, the
    q_mixture_temperature precedent)."""
    e = load_tables(spark, sf_dir)["events"]
    # the interaction: user u visited pickup zone ((u*17 + event)%40 + 1)
    # — the same zone derivation trips_from_events uses (nyc_views.py),
    # read here WITH the user key the trip projection drops
    inter = (
        e.where(
            F.col("user_id").isNotNull() & (F.col("event_id") % 53 != 0)
        )
        .select(
            F.col("user_id").alias("u"),
            ((F.col("user_id") * 17 + F.col("event_id")) % 40 + 1)
            .cast("long")
            .alias("item"),
        )
        .distinct()
    )
    ni = inter.groupBy("item").agg(
        F.count(F.lit(1)).cast("long").alias("n_i")
    )
    i1 = inter.select("u", F.col("item").alias("i"))
    i2 = inter.select("u", F.col("item").alias("j"))
    pairs = (
        i1.join(i2, "u")
        .where(F.col("i") < F.col("j"))
        .groupBy("i", "j")
        .agg(F.count(F.lit(1)).cast("long").alias("n_ij"))
    )
    sym = pairs.unionByName(
        pairs.select(
            F.col("j").alias("i"), F.col("i").alias("j"), "n_ij"
        )
    )
    nii = ni.select(F.col("item").alias("i"), F.col("n_i").alias("ni"))
    nij = ni.select(F.col("item").alias("j"), F.col("n_i").alias("nj"))
    w = Window.partitionBy("i").orderBy(
        F.desc("__key"), F.asc("j")
    )
    return (
        sym.join(F.broadcast(nii), "i")
        .join(F.broadcast(nij), "j")
        .withColumn(
            "__key",
            (F.col("n_ij") * F.col("n_ij")).cast("double")
            / F.col("nj").cast("double"),
        )
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= 5)
        .select(
            F.col("i").alias("item"),
            F.col("j").alias("neighbor"),
            F.col("ni").alias("n_item"),
            F.col("n_ij").alias("n_both"),
            _rnd(
                F.col("n_ij").cast("double")
                / F.sqrt((F.col("ni") * F.col("nj")).cast("double")),
                6,
            ).alias("cosine"),
            F.col("rank").cast("long").alias("rank"),
        )
    )


def _sql_item_cf() -> str:
    return (
        """
WITH inter AS MATERIALIZED (
    SELECT DISTINCT user_id AS u,
           CAST((user_id * 17 + event_id) % 40 + 1 AS BIGINT) AS item
    FROM events
    WHERE user_id IS NOT NULL AND event_id % 53 <> 0
),
ni AS MATERIALIZED (
    SELECT item, CAST(count(*) AS BIGINT) AS n_i FROM inter GROUP BY 1
),
pairs AS MATERIALIZED (
    SELECT i1.item AS i, i2.item AS j, CAST(count(*) AS BIGINT) AS n_ij
    FROM inter i1 JOIN inter i2 ON i1.u = i2.u AND i1.item < i2.item
    GROUP BY 1, 2
),
sym AS (
    SELECT i, j, n_ij FROM pairs
    UNION ALL
    SELECT j AS i, i AS j, n_ij FROM pairs
),
ranked AS (
    SELECT s.i, s.j, s.n_ij, ni1.n_i AS ni, ni2.n_i AS nj,
           row_number() OVER (
               PARTITION BY s.i
               ORDER BY CAST(s.n_ij * s.n_ij AS DOUBLE)
                        / CAST(ni2.n_i AS DOUBLE) DESC, s.j ASC
           ) AS rank
    FROM sym s
    JOIN ni ni1 ON ni1.item = s.i
    JOIN ni ni2 ON ni2.item = s.j
)
SELECT i AS item, j AS neighbor, ni AS n_item, n_ij AS n_both,
       round(1e-9 + CAST(n_ij AS DOUBLE)
             / sqrt(CAST(ni * nj AS DOUBLE)), 6) AS cosine,
       CAST(rank AS BIGINT) AS rank
FROM ranked WHERE rank <= 5"""
    )


ORACLES: dict[str, str] = {
    "q_item_cf": _sql_item_cf(),
    "q_cusum_changepoint": _SQL_CUSUM_CHANGEPOINT,
    "q_stream_cusum": _SQL_STREAM_CUSUM,
    "q_quantile_summary": _SQL_QUANTILE_SUMMARY,
    "q_entity_resolution": _SQL_ENTITY_RESOLUTION,
    "q_frequent_sequences": _SQL_FREQUENT_SEQUENCES,
    "q_gaps_islands": _SQL_GAPS_ISLANDS,
    "q_compaction_plan": _SQL_COMPACTION_PLAN,
    "q_bh_fdr": _SQL_BH_FDR,
    "q_mannwhitney": _SQL_MANNWHITNEY,
    "q_slo_burn": _SQL_SLO_BURN,
    "q_calibration": _SQL_CALIBRATION,
    "q_boilerplate_scrub": _SQL_BOILERPLATE_SCRUB,
    "q_dup_span_removal": _SQL_DUP_SPAN_REMOVAL,
    "q_encoding_advisor": _SQL_ENCODING_ADVISOR,
    "q_matryoshka_recall": _SQL_MATRYOSHKA_RECALL,
    "q_spearman": _SQL_SPEARMAN,
    "q_changepoint_binseg": _SQL_CHANGEPOINT_BINSEG,
    "q_simpson_trends": _SQL_SIMPSON_TRENDS,
}
