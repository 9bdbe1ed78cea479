"""Round-9 evaluation/integrity wave: exact classifier evaluation (ROC
AUC, precision–recall sweep, decile lift) over the quality-model scores,
robust rank statistics (Kruskal–Wallis, Kendall tau-b, Theil–Sen), a
referential-integrity audit, a partition-layout advisor, a consistent
pseudonymization transform, and a seeded discrete-noise DP histogram.

These extend the reference's validation/metrics surface (the dbt tests +
`eval_metrics` leg of aakashvardhan/nyc-taxi-data-warehouse, see
models/marts + the MAE/MAPE eval in SURVEY §2.4 A11) to the evaluation
stack a large-scale training-data pipeline runs beside curation: model
eval is rank work (no row ever gets an individual rank — everything
folds over :func:`bucketed_value_cumsum`'s distinct-value CDF), trend
robustness is pairwise work over CALENDAR-bounded grains, and integrity
audits are anti-joins that push down to key columns.

Determinism discipline (repo-wide rules): decisions on exact integers
(cross-multiplied thresholds, lattice counts), per-row double math is
bit-exact across engines when both evaluate ONE textual formula, double
SUMS never cross rows except as BIGINT micro-units, and every reported
double is epsilon-shift rounded on BOTH sides.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .functions import text as T
from .operators import graph, zorder
from .operators.monitor import p2_formula
from .operators.sampling import bucketed_value_cumsum
from .plans.nyc_views import load_tables
from .queries_nyc import _rnd


# --- shared scored-documents base (the q_quality_model inference path) --------

_EVAL_LABEL_CHARS = 300  # label: "long document" — q_calibration's label


def _scored(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(source, pi, y): quality-model score on the 1e-6 integer lattice
    plus the length label, in ONE scan — the inference expression is
    q_quality_model's verbatim (queries_data._quality_logit_z), kept
    inline so source/n_chars ride the same projection and no join-back
    is needed (q_calibration pays that join; the eval trio shares this
    scan shape instead)."""
    from .queries_data import _quality_logit_z

    d = load_tables(spark, sf_dir)["documents"].select(
        "doc_id",
        "text",
        "source",
        "n_chars",
        T.tokens("text").alias("__w"),
    )
    z = _quality_logit_z(
        T.word_count_from_tokens("__w"),
        T.type_token_ratio_from_tokens("__w"),
        T.punct_ratio("text"),
        T.stopword_ratio_from_tokens("__w", "en"),
    )
    p_keep = _rnd(F.lit(1.0) / (F.lit(1.0) + F.exp(-z)), 6)
    return d.select(
        "source",
        F.round(p_keep * 1000000).cast("long").alias("pi"),
        (F.col("n_chars") >= _EVAL_LABEL_CHARS).cast("long").alias("y"),
    )


_SQL_SCORED = """
scored AS (
    SELECT qz.source,
           CAST(round(round(1e-9 + 1.0 / (1.0 + exp(-z)), 6) * 1000000)
                AS BIGINT) AS pi,
           CAST(d.n_chars >= 300 AS BIGINT) AS y
    FROM qz JOIN documents d USING (doc_id)
)"""


def _sql_scored_prefix() -> str:
    from .queries_data import _SQL_QM_FEATURES

    return f"WITH {_SQL_QM_FEATURES},{_SQL_SCORED}"


# --- ROC AUC -------------------------------------------------------------------

_AUC_TXT = (
    "CASE WHEN n_pos = 0 OR n_pos = n THEN NULL"
    " ELSE (two_r - CAST(n_pos AS DOUBLE) * (n_pos + 1))"
    " / (2.0 * n_pos * (n - n_pos)) END"
)


def q_roc_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-source ROC AUC of the quality model — the
    threshold-free eval metric beside q_calibration's reliability curve:
    AUC is the Mann–Whitney U normalized (P(score⁺ > score⁻) with ties
    at ½), so the same no-row-gets-a-rank fold applies — the per-source
    score CDF (:func:`bucketed_value_cumsum`, value-bucketed parallel
    windows) gives each distinct lattice score its occupancy interval,
    the positive midrank sum folds as 2R⁺ = Σ_v c⁺(v)·(2·cle − c + 1)
    in pure BIGINT, and AUC = (2R⁺ − n⁺(n⁺+1)) / (2·n⁺·n⁻) evaluates
    one shared textual formula.  Shape: one corpus scan + one
    distinct-value aggregation per source; no all-rows window, no
    per-row rank materialization — at 100 TB the distinct-lattice table
    (≤ 1e6 rows/source) is the only shuffled state."""
    # persist: the scored frame's lineage (interpreted higher-order
    # token features) otherwise replays for the CDF primitive's eager
    # GK-edge job, the CDF side, AND the positive-count side (the
    # q_spearman lesson — measured 12 s -> ~2 s at sf0.1).
    # Cache lifetime (here and at every persist in this module): a
    # queries() callable returns an unconsumed plan, so it cannot
    # unpersist; release is the HARNESS's job — bench.py clears the
    # cache after every run, and tools/check_correctness.py per query.
    base = _scored(spark, sf_dir).persist()
    cdf = bucketed_value_cumsum(base.select("source", "pi"), "pi", ("source",))
    cpos = base.groupBy("source", F.col("pi").alias("__v")).agg(
        F.sum("y").cast("long").alias("c_pos")
    )
    per_v = cdf.join(cpos, ["source", "__v"])
    agg = per_v.groupBy("source").agg(
        F.max("__cle").cast("long").alias("n"),
        F.sum("c_pos").cast("long").alias("n_pos"),
        F.sum(F.col("c_pos") * (2 * F.col("__cle") - F.col("__c") + 1))
        .cast("long")
        .alias("two_r"),
    )
    return agg.select(
        "source",
        "n",
        "n_pos",
        (F.col("n") - F.col("n_pos")).alias("n_neg"),
        _rnd(F.expr(_AUC_TXT), 6).alias("auc"),
    )


def _sql_roc_auc() -> str:
    return f"""{_sql_scored_prefix()},
vc AS (
    SELECT source, pi, CAST(count(*) AS BIGINT) AS c,
           CAST(sum(y) AS BIGINT) AS c_pos
    FROM scored GROUP BY 1, 2
),
cdf AS (
    SELECT source, pi, c, c_pos,
           CAST(sum(c) OVER (PARTITION BY source ORDER BY pi
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS BIGINT) AS cle
    FROM vc
),
agg AS (
    SELECT source, CAST(max(cle) AS BIGINT) AS n,
           CAST(sum(c_pos) AS BIGINT) AS n_pos,
           CAST(sum(c_pos * (2 * cle - c + 1)) AS BIGINT) AS two_r
    FROM cdf GROUP BY 1
)
SELECT source, n, n_pos, (n - n_pos) AS n_neg,
       round(1e-9 + ({_AUC_TXT}), 6) AS auc
FROM agg"""


# --- Cross-validated AUC ------------------------------------------------------------

_CV_FOLDS = 5


def q_cv_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-fold cross-validated ROC AUC of the quality model — the
    variance estimate a single AUC number hides (is the model's
    separation stable, or does it ride a few lucky docs?): documents
    assign to 5 folds by content hash (never random — re-ingest can't
    reshuffle folds), each fold's AUC folds over ITS OWN score CDF by
    the q_roc_auc midrank identity, and the cross-fold mean/std ride an
    EXACT integer lattice (per-fold AUC quantizes to 1e-6 micro-units;
    Σ and Σ(k·aᵢ−S)² are BIGINT, so the 5-double summation-order trap
    never opens; only the final sqrt/division are per-row doubles).

    Shape: one corpus scan; the per-fold CDF is the same
    distinct-lattice work as q_roc_auc with fold as the partition key —
    folds parallelize, nothing is scanned twice."""
    from .operators.sampling import hash_bucket
    from .queries_data import _quality_logit_z

    d = load_tables(spark, sf_dir)["documents"].select(
        "doc_id", "text", "n_chars", T.tokens("text").alias("__w")
    )
    z = _quality_logit_z(
        T.word_count_from_tokens("__w"),
        T.type_token_ratio_from_tokens("__w"),
        T.punct_ratio("text"),
        T.stopword_ratio_from_tokens("__w", "en"),
    )
    p_keep = _rnd(F.lit(1.0) / (F.lit(1.0) + F.exp(-z)), 6)
    base = d.select(
        hash_bucket("doc_id", salt="cv", n_buckets=_CV_FOLDS).alias("fold"),
        F.round(p_keep * 1000000).cast("long").alias("pi"),
        (F.col("n_chars") >= _EVAL_LABEL_CHARS).cast("long").alias("y"),
    ).persist()  # feeds the CDF primitive's GK job + CDF + positives
    cdf = bucketed_value_cumsum(base.select("fold", "pi"), "pi", ("fold",))
    cpos = base.groupBy("fold", F.col("pi").alias("__v")).agg(
        F.sum("y").cast("long").alias("c_pos")
    )
    agg = (
        cdf.join(cpos, ["fold", "__v"])
        .groupBy("fold")
        .agg(
            F.max("__cle").cast("long").alias("n"),
            F.sum("c_pos").cast("long").alias("n_pos"),
            F.sum(F.col("c_pos") * (2 * F.col("__cle") - F.col("__c") + 1))
            .cast("long")
            .alias("two_r"),
        )
    )
    folds = agg.select(
        "fold",
        "n",
        "n_pos",
        (F.col("n") - F.col("n_pos")).alias("n_neg"),
        F.expr(f"CAST(round(({_AUC_TXT}) * 1e6) AS BIGINT)")
        .alias("auc_micro"),
    ).persist()  # 5-row frame, consumed by the summary AND the output
    summ = folds.agg(
        F.count(F.lit(1)).cast("long").alias("k"),
        F.sum("auc_micro").cast("long").alias("s_micro"),
    )
    ssd = (
        folds.crossJoin(F.broadcast(summ))
        .select(
            (
                (F.col("k") * F.col("auc_micro") - F.col("s_micro"))
                * (F.col("k") * F.col("auc_micro") - F.col("s_micro"))
            ).alias("d2"),
            "k",
            "s_micro",
        )
        .groupBy("k", "s_micro")
        .agg(F.sum("d2").cast("long").alias("ssd"))
    )
    std_txt = "sqrt(CAST(ssd AS DOUBLE)) / (1e6 * k * sqrt(CAST(k AS DOUBLE)))"
    return folds.crossJoin(F.broadcast(ssd)).select(
        "fold",
        "n",
        "n_pos",
        "n_neg",
        _rnd(F.col("auc_micro") / F.lit(1e6), 6).alias("auc"),
        _rnd(F.expr("s_micro / (k * 1e6)"), 6).alias("mean_auc"),
        _rnd(F.expr(std_txt), 6).alias("std_auc"),
    )


def _sql_cv_auc() -> str:
    from .queries_data import _SQL_QM_FEATURES

    hexval = _hexval(
        "substr(md5(CAST(doc_id AS VARCHAR) || 'cv'), 1, 8)"
    )
    return f"""WITH {_SQL_QM_FEATURES},
folded AS (
    SELECT CAST(({hexval}) % {_CV_FOLDS} AS INT) AS fold,
           s.pi, s.y
    FROM (
        SELECT qz.doc_id,
               CAST(round(round(1e-9 + 1.0 / (1.0 + exp(-z)), 6) * 1000000)
                    AS BIGINT) AS pi,
               CAST(d.n_chars >= 300 AS BIGINT) AS y
        FROM qz JOIN documents d USING (doc_id)
    ) s
),
vc AS (
    SELECT fold, pi, CAST(count(*) AS BIGINT) AS c,
           CAST(sum(y) AS BIGINT) AS c_pos
    FROM folded GROUP BY 1, 2
),
cdf AS (
    SELECT fold, pi, c, c_pos,
           CAST(sum(c) OVER (PARTITION BY fold ORDER BY pi
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS BIGINT) AS cle
    FROM vc
),
agg AS (
    SELECT fold, CAST(max(cle) AS BIGINT) AS n,
           CAST(sum(c_pos) AS BIGINT) AS n_pos,
           CAST(sum(c_pos * (2 * cle - c + 1)) AS BIGINT) AS two_r
    FROM cdf GROUP BY 1
),
folds AS (
    SELECT fold, n, n_pos, (n - n_pos) AS n_neg,
           CAST(round(({_AUC_TXT}) * 1e6) AS BIGINT) AS auc_micro
    FROM agg
),
summ AS (
    SELECT CAST(count(*) AS BIGINT) AS k,
           CAST(sum(auc_micro) AS BIGINT) AS s_micro
    FROM folds
),
ssd AS (
    SELECT k, s_micro,
           CAST(sum((k * auc_micro - s_micro) * (k * auc_micro - s_micro))
                AS BIGINT) AS ssd
    FROM folds, summ GROUP BY 1, 2
)
SELECT fold, n, n_pos, n_neg,
       round(1e-9 + auc_micro / 1e6, 6) AS auc,
       round(1e-9 + s_micro / (k * 1e6), 6) AS mean_auc,
       round(1e-9 + sqrt(CAST(ssd AS DOUBLE))
             / (1e6 * k * sqrt(CAST(k AS DOUBLE))), 6) AS std_auc
FROM folds, ssd"""


# --- Precision–recall threshold sweep -------------------------------------------

_PR_STEPS = tuple(range(1, 20))  # thresholds i/20, as lattice ints i*50000


def q_pr_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Precision/recall/F1 at a fixed 19-point threshold grid — the
    operating-point sweep that picks the quality-filter cutoff: at
    threshold i/20 a document is kept when its lattice score pi ≥
    i·50000, so every confusion cell is an EXACT integer comparison
    (no double ever meets a threshold).  Shape: ONE map-side pass
    computes all 38 conditional sums + the positive total (a single
    1-row aggregate), then `stack` unpivots to 19 rows — no threshold
    × corpus blow-up, no second scan.  Ratios evaluate shared textual
    formulas with explicit zero-denominator NULLs."""
    base = _scored(spark, sf_dir)
    aggs = [F.sum("y").cast("long").alias("n_pos")]
    for i in _PR_STEPS:
        t = i * 50000
        aggs.append(
            F.sum(F.when(F.col("pi") >= t, F.col("y")).otherwise(0))
            .cast("long")
            .alias(f"tp_{i}")
        )
        aggs.append(
            F.sum(F.when(F.col("pi") >= t, 1 - F.col("y")).otherwise(0))
            .cast("long")
            .alias(f"fp_{i}")
        )
    one = base.agg(*aggs)
    stack = ", ".join(f"{5 * i}, tp_{i}, fp_{i}" for i in _PR_STEPS)
    rows = one.select(
        F.expr(
            f"stack({len(_PR_STEPS)}, {stack})"
            " AS (threshold_pct, tp, fp)"
        ),
        "n_pos",
    )
    prec = "CASE WHEN tp + fp = 0 THEN NULL ELSE tp / CAST(tp + fp AS DOUBLE) END"
    rec = "CASE WHEN n_pos = 0 THEN NULL ELSE tp / CAST(n_pos AS DOUBLE) END"
    f1 = (
        "CASE WHEN tp = 0 THEN NULL ELSE"
        " 2.0 * tp / (CAST(tp + fp AS DOUBLE) + n_pos) END"
    )
    return rows.select(
        F.col("threshold_pct").cast("int").alias("threshold_pct"),
        "tp",
        "fp",
        (F.col("n_pos") - F.col("tp")).alias("fn"),
        _rnd(F.expr(prec), 6).alias("precision"),
        _rnd(F.expr(rec), 6).alias("recall"),
        _rnd(F.expr(f1), 6).alias("f1"),
    )


def _sql_pr_curve() -> str:
    sums = ["CAST(sum(y) AS BIGINT) AS n_pos"]
    for i in _PR_STEPS:
        t = i * 50000
        sums.append(
            f"CAST(sum(CASE WHEN pi >= {t} THEN y ELSE 0 END) AS BIGINT)"
            f" AS tp_{i}"
        )
        sums.append(
            f"CAST(sum(CASE WHEN pi >= {t} THEN 1 - y ELSE 0 END) AS BIGINT)"
            f" AS fp_{i}"
        )
    legs = "\nUNION ALL\n".join(
        f"SELECT CAST({5 * i} AS INT) AS threshold_pct, tp_{i} AS tp,"
        f" fp_{i} AS fp, n_pos FROM one"
        for i in _PR_STEPS
    )
    return f"""{_sql_scored_prefix()},
one AS (
    SELECT {", ".join(sums)} FROM scored
),
rows_ AS (
{legs}
)
SELECT threshold_pct, tp, fp, (n_pos - tp) AS fn,
       round(1e-9 + (CASE WHEN tp + fp = 0 THEN NULL
             ELSE tp / CAST(tp + fp AS DOUBLE) END), 6) AS precision,
       round(1e-9 + (CASE WHEN n_pos = 0 THEN NULL
             ELSE tp / CAST(n_pos AS DOUBLE) END), 6) AS recall,
       round(1e-9 + (CASE WHEN tp = 0 THEN NULL
             ELSE 2.0 * tp / (CAST(tp + fp AS DOUBLE) + n_pos) END), 6)
           AS f1
FROM rows_"""


# --- Decile lift / gains table ---------------------------------------------------

def q_lift_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decile lift & cumulative gains of the quality model — the
    campaign-targeting readout (top-scored decile vs the base rate).
    Deciles come from the GLOBAL score CDF without any unpartitioned
    row sort: a distinct lattice score v occupying positions
    (cle−c, cle] from the bottom gets the decile of its FIRST
    position from the TOP, d = ((n − cle)·10) div n — an integer-exact
    rule that keeps every tie in one decile (deciles can therefore be
    uneven; that is the deterministic, documented trade).  Per-decile
    lift and the cumulative gain then ride a ≤10-row window."""
    base = _scored(spark, sf_dir).persist()  # 3 consumers (q_roc_auc note)
    cdf = bucketed_value_cumsum(base.select("pi"), "pi")
    cpos = base.groupBy(F.col("pi").alias("__v")).agg(
        F.sum("y").cast("long").alias("c_pos")
    )
    tot = base.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("y").cast("long").alias("n_pos"),
    )
    per_v = cdf.join(cpos, "__v").crossJoin(F.broadcast(tot))
    dec = per_v.groupBy(
        F.expr("CAST(((n - __cle) * 10) div n AS INT)").alias("decile")
    ).agg(
        F.sum("__c").cast("long").alias("n_d"),
        F.sum("c_pos").cast("long").alias("pos_d"),
        F.max("n").alias("n"),
        F.max("n_pos").alias("n_pos"),
    )
    w = Window.orderBy("decile").rowsBetween(Window.unboundedPreceding, 0)
    lift = (
        "CASE WHEN n_pos = 0 THEN NULL"
        " ELSE (CAST(pos_d AS DOUBLE) * n) / (CAST(n_d AS DOUBLE) * n_pos) END"
    )
    gain = (
        "CASE WHEN n_pos = 0 THEN NULL"
        " ELSE cum_pos / CAST(n_pos AS DOUBLE) END"
    )
    return (
        dec.select(
            "decile",
            "n_d",
            "pos_d",
            "n",
            "n_pos",
            F.sum("pos_d").over(w).cast("long").alias("cum_pos"),
        )
        .select(
            "decile",
            "n_d",
            "pos_d",
            "cum_pos",
            _rnd(F.expr(lift), 6).alias("lift"),
            _rnd(F.expr(gain), 6).alias("cum_gain"),
        )
    )


def _sql_lift_table() -> str:
    return f"""{_sql_scored_prefix()},
vc AS (
    SELECT pi, CAST(count(*) AS BIGINT) AS c,
           CAST(sum(y) AS BIGINT) AS c_pos
    FROM scored GROUP BY 1
),
cdf AS (
    SELECT pi, c, c_pos,
           CAST(sum(c) OVER (ORDER BY pi
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS BIGINT) AS cle
    FROM vc
),
tot AS (
    SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(y) AS BIGINT) AS n_pos
    FROM scored
),
dec AS (
    SELECT CAST(((n - cle) * 10) // n AS INT) AS decile,
           CAST(sum(c) AS BIGINT) AS n_d,
           CAST(sum(c_pos) AS BIGINT) AS pos_d,
           max(n) AS n, max(n_pos) AS n_pos
    FROM cdf, tot GROUP BY 1
),
cum AS (
    SELECT decile, n_d, pos_d, n, n_pos,
           CAST(sum(pos_d) OVER (ORDER BY decile
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS BIGINT) AS cum_pos
    FROM dec
)
SELECT decile, n_d, pos_d, cum_pos,
       round(1e-9 + (CASE WHEN n_pos = 0 THEN NULL
             ELSE (CAST(pos_d AS DOUBLE) * n)
                  / (CAST(n_d AS DOUBLE) * n_pos) END), 6) AS lift,
       round(1e-9 + (CASE WHEN n_pos = 0 THEN NULL
             ELSE cum_pos / CAST(n_pos AS DOUBLE) END), 6) AS cum_gain
FROM cum"""


# --- Kruskal–Wallis k-group rank test ---------------------------------------------

_KW_H = "12.0 * s_micro / 1000000.0 - 3.0 * (n + 1)"
_KW_C = "1.0 - CAST(tsum AS DOUBLE) / (CAST(n AS DOUBLE) * n * n - n)"
# Wilson–Hilferty chi²→normal: evaluated over the ROUNDED h_adj.  The
# cube root is exp(ln(x)/3), NOT power(x, 1/3): pow is the one libm
# entry point whose rounding differs between the JVM and DuckDB (seen
# here at the 7th digit), while exp/ln are bit-identical across both
# (the A&S tail and every sigmoid in this repo already rely on that).
_KW_Z = (
    "sqrt(4.5 * (k - 1)) * ((CASE WHEN h_adj <= 0 THEN 0.0"
    " ELSE exp(ln(h_adj / (k - 1)) / 3.0) END)"
    " - 1.0 + 2.0 / (9.0 * (k - 1)))"
)
# one-way ANOVA micro-unit terms (shared textual formulas, evaluated by
# BOTH engines so the per-group doubles are bit-identical before the
# exact BIGINT micro-unit summation): between-group term S_g²/n_g and
# within-group term Q_g − S_g²/n_g, each ×1e6.  The first factor casts
# to DOUBLE before squaring so S_g² never overflows BIGINT; int64-exact
# through |Σx| ≲ 3e9 per group on the ×100 lattice (documented bound,
# like q_ab_test's).
_ANOVA_TB = (
    "CAST(round(CAST(s_g AS DOUBLE) * s_g / n_g * 1000000.0) AS BIGINT)"
)
_ANOVA_TW = (
    "CAST(round((q_g - CAST(s_g AS DOUBLE) * s_g / n_g) * 1000000.0)"
    " AS BIGINT)"
)
_ANOVA_G = "CAST(round(CAST(s AS DOUBLE) * s / n * 1000000.0) AS BIGINT)"


def q_anova_f(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-way ANOVA F across the event-type groups on value — the
    parametric companion to q_kruskal_wallis (mean differences under the
    equal-variance normal model, vs KW's rank omnibus): F = (SSB/(k−1)) /
    (SSW/(n−k)) with SSB = Σ_g S_g²/n_g − S²/n and SSW = Σ_g (Q_g −
    S_g²/n_g), all from ONE group-grain aggregation of exact BIGINT
    (n_g, Σx, Σx²) on the ×100 lattice.

    Exactness: each group's two rational terms are per-row IEEE doubles
    quantized to 1e-6 micro-units (the q_kruskal_wallis idiom — BIGINT
    micro sums are order-independent where double sums across groups are
    not); eta² and F divide the exact micro totals once at the end.
    Shape: one corpus aggregation to k group rows; everything after is
    k-grain."""
    ev = load_tables(spark, sf_dir)["events"].where(
        F.col("value").isNotNull() & F.col("event_type").isNotNull()
    )
    base = ev.select(
        "event_type",
        F.round(F.col("value") * 100).cast("long").alias("x"),
    )
    grp = base.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_g"),
        F.sum("x").cast("long").alias("s_g"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("q_g"),
    )
    tot = grp.agg(
        F.sum("n_g").cast("long").alias("n"),
        F.sum("s_g").cast("long").alias("s"),
    )
    one = grp.crossJoin(F.broadcast(tot)).agg(
        F.count(F.lit(1)).cast("long").alias("k"),
        F.sum(F.expr(_ANOVA_TB)).cast("long").alias("b_micro"),
        F.sum(F.expr(_ANOVA_TW)).cast("long").alias("w_micro"),
        F.max("n").alias("n"),
        F.max("s").alias("s"),
    )
    return one.select(
        "k",
        "n",
        _rnd(
            (F.col("b_micro") - F.expr(_ANOVA_G)) / F.lit(1e6) / 1e4, 6
        ).alias("ssb"),
        _rnd(F.col("w_micro") / F.lit(1e6) / 1e4, 6).alias("ssw"),
        _rnd(
            ((F.col("b_micro") - F.expr(_ANOVA_G)) / (F.col("k") - 1))
            / (F.col("w_micro") / (F.col("n") - F.col("k"))),
            6,
        ).alias("f_stat"),
        _rnd(
            (F.col("b_micro") - F.expr(_ANOVA_G))
            / (F.col("b_micro") - F.expr(_ANOVA_G) + F.col("w_micro")),
            6,
        ).alias("eta_sq"),
    )


def _sql_anova_f() -> str:
    return f"""
WITH base AS (
    SELECT event_type, CAST(round(value * 100) AS BIGINT) AS x
    FROM events
    WHERE value IS NOT NULL AND event_type IS NOT NULL
),
grp AS (
    SELECT event_type, CAST(count(*) AS BIGINT) AS n_g,
           CAST(sum(x) AS BIGINT) AS s_g,
           CAST(sum(x * x) AS BIGINT) AS q_g
    FROM base GROUP BY 1
),
tot AS (
    SELECT CAST(sum(n_g) AS BIGINT) AS n, CAST(sum(s_g) AS BIGINT) AS s
    FROM grp
),
one AS (
    SELECT CAST(count(*) AS BIGINT) AS k,
           CAST(sum({_ANOVA_TB}) AS BIGINT) AS b_micro,
           CAST(sum({_ANOVA_TW}) AS BIGINT) AS w_micro,
           max(n) AS n, max(s) AS s
    FROM grp CROSS JOIN tot
)
SELECT k, n,
       round(1e-9 + (b_micro - {_ANOVA_G}) / 1e6 / 1e4, 6) AS ssb,
       round(1e-9 + w_micro / 1e6 / 1e4, 6) AS ssw,
       round(1e-9 + ((b_micro - {_ANOVA_G}) / (k - 1))
             / (w_micro / (n - k)), 6) AS f_stat,
       round(1e-9 + (b_micro - {_ANOVA_G})
             / (b_micro - {_ANOVA_G} + w_micro), 6) AS eta_sq
FROM one"""


def _welch_formulas() -> tuple[str, str]:
    """(t, df) as ONE textual formula pair over the pivoted integer
    columns (na, sa, qa, nb, sb, qb) — shared verbatim between Spark's
    ``F.expr`` and the DuckDB oracle (the p2_formula discipline: an
    identical expression tree over identical BIGINT inputs is bit-exact
    double arithmetic in both engines).  t is the Welch statistic
    (unequal variances, never pooled); df is Welch–Satterthwaite."""
    ma = "(CAST(sa AS DOUBLE) / CAST(na AS DOUBLE))"
    mb = "(CAST(sb AS DOUBLE) / CAST(nb AS DOUBLE))"
    va = (
        f"((CAST(qa AS DOUBLE) - CAST(sa AS DOUBLE) * {ma})"
        " / (CAST(na AS DOUBLE) - 1.0))"
    )
    vb = (
        f"((CAST(qb AS DOUBLE) - CAST(sb AS DOUBLE) * {mb})"
        " / (CAST(nb AS DOUBLE) - 1.0))"
    )
    sea = f"({va} / CAST(na AS DOUBLE))"
    seb = f"({vb} / CAST(nb AS DOUBLE))"
    se2 = f"({sea} + {seb})"
    t = f"(({ma} - {mb}) / sqrt({se2}))"
    df = (
        f"(({se2} * {se2}) / (({sea} * {sea}) / (CAST(na AS DOUBLE) - 1.0)"
        f" + ({seb} * {seb}) / (CAST(nb AS DOUBLE) - 1.0)))"
    )
    return t, df


def q_welch_ttest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Welch's two-sample t-test (unequal variances — the default a
    practitioner should reach for; Student's pooled variant is the
    special case) on value between the purchase and view cohorts: the
    mean-difference companion to q_mannwhitney's rank test and the
    two-group slice of q_anova_f.

    Exactness: ONE corpus aggregation produces each group's exact
    BIGINT (n, Σx, Σx²) on the ×100 lattice, pivoted to a single row;
    t and the Welch–Satterthwaite df evaluate one shared textual
    formula over those six integers (bit-identical doubles in both
    engines), each rounded before the next stage; the p-value is the
    A&S 26.2.17 normal tail on the ROUNDED t (the large-sample normal
    approximation of the t distribution — exact-parity over exact-df-t
    is the standing trade, documented like q_kruskal_wallis's
    Wilson–Hilferty z); the significance verdict compares the rounded
    |t| against 1.96."""
    ev = load_tables(spark, sf_dir)["events"].where(
        F.col("value").isNotNull()
        & F.col("event_type").isin("purchase", "view")
    )
    base = ev.select(
        "event_type",
        F.round(F.col("value") * 100).cast("long").alias("x"),
    )
    grp = base.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_g"),
        F.sum("x").cast("long").alias("s_g"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("q_g"),
    )
    one = grp.agg(
        F.max(F.when(F.col("event_type") == "purchase", F.col("n_g")))
        .alias("na"),
        F.max(F.when(F.col("event_type") == "purchase", F.col("s_g")))
        .alias("sa"),
        F.max(F.when(F.col("event_type") == "purchase", F.col("q_g")))
        .alias("qa"),
        F.max(F.when(F.col("event_type") == "view", F.col("n_g")))
        .alias("nb"),
        F.max(F.when(F.col("event_type") == "view", F.col("s_g")))
        .alias("sb"),
        F.max(F.when(F.col("event_type") == "view", F.col("q_g")))
        .alias("qb"),
    )
    t_f, df_f = _welch_formulas()
    stat = one.select(
        F.col("na"),
        F.col("nb"),
        _rnd(F.expr("CAST(sa AS DOUBLE) / CAST(na AS DOUBLE)") / 100.0, 6)
        .alias("mean_a"),
        _rnd(F.expr("CAST(sb AS DOUBLE) / CAST(nb AS DOUBLE)") / 100.0, 6)
        .alias("mean_b"),
        _rnd(F.expr(t_f), 6).alias("t_stat"),
        _rnd(F.expr(df_f), 6).alias("welch_df"),
    )
    return stat.select(
        "na",
        "nb",
        "mean_a",
        "mean_b",
        "t_stat",
        "welch_df",
        _rnd(F.expr(p2_formula("t_stat")), 6).alias("p_normal"),
        (F.abs(F.col("t_stat")) > 1.96).alias("significant"),
    )


def _sql_welch_ttest() -> str:
    t_f, df_f = _welch_formulas()
    return f"""
WITH base AS (
    SELECT event_type, CAST(round(value * 100) AS BIGINT) AS x
    FROM events
    WHERE value IS NOT NULL AND event_type IN ('purchase', 'view')
),
grp AS (
    SELECT event_type, CAST(count(*) AS BIGINT) AS n_g,
           CAST(sum(x) AS BIGINT) AS s_g,
           CAST(sum(x * x) AS BIGINT) AS q_g
    FROM base GROUP BY 1
),
one AS (
    SELECT
        max(CASE WHEN event_type = 'purchase' THEN n_g END) AS na,
        max(CASE WHEN event_type = 'purchase' THEN s_g END) AS sa,
        max(CASE WHEN event_type = 'purchase' THEN q_g END) AS qa,
        max(CASE WHEN event_type = 'view' THEN n_g END) AS nb,
        max(CASE WHEN event_type = 'view' THEN s_g END) AS sb,
        max(CASE WHEN event_type = 'view' THEN q_g END) AS qb
    FROM grp
),
stat AS (
    SELECT na, nb,
           round(1e-9 + (CAST(sa AS DOUBLE) / CAST(na AS DOUBLE)) / 100.0, 6)
               AS mean_a,
           round(1e-9 + (CAST(sb AS DOUBLE) / CAST(nb AS DOUBLE)) / 100.0, 6)
               AS mean_b,
           round(1e-9 + {t_f}, 6) AS t_stat,
           round(1e-9 + {df_f}, 6) AS welch_df
    FROM one
)
SELECT na, nb, mean_a, mean_b, t_stat, welch_df,
       round(1e-9 + {p2_formula("t_stat")}, 6) AS p_normal,
       abs(t_stat) > 1.96 AS significant
FROM stat"""


_PERM_B = 32  # randomization replicates (the q_bootstrap_ci budget)


def q_permutation_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Randomization test for the purchase-vs-view mean difference — the
    distribution-free companion to q_welch_ttest (no normality, no
    variance model: if the labels are exchangeable, a random relabeling
    should produce a diff as large as the observed one about p of the
    time).  B=32 seeded replicates: each row's replicate-r label comes
    from an md5(event_id, r) bucket against the integer threshold
    ⌊na·10⁶/n⌋ (the q_bootstrap_ci idiom — random REALLOCATION rather
    than an exact permutation: group sizes vary binomially per
    replicate, the large-n-equivalent randomization a distributed
    engine can do in one pass without a global shuffle of labels; the
    per-replicate diff normalizes by the replicate's own group sizes,
    so the statistic is exchangeability-exact).  p = (1 + #extreme) /
    (B + 1), the add-one Monte-Carlo estimator.

    Exactness: ONE corpus pass computes n, Σx and the 2·B conditional
    (count, sum) pairs; every per-replicate mean diff is a fixed
    expression tree over exact BIGINTs (bit-identical doubles both
    engines), and 'extreme' compares those doubles — deterministic by
    per-row double parity.  Everything after the single aggregation is
    a 1-row frame."""
    ev = load_tables(spark, sf_dir)["events"].where(
        F.col("value").isNotNull()
        & F.col("event_type").isin("purchase", "view")
        & F.col("event_id").isNotNull()
    )
    base = ev.select(
        (F.col("event_type") == "purchase").alias("is_a"),
        F.round(F.col("value") * 100).cast("long").alias("x"),
        F.col("event_id"),
    )
    aggs = [
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").cast("long").alias("s"),
        F.sum(F.when(F.col("is_a"), 1).otherwise(0)).cast("long").alias("na"),
        F.sum(F.when(F.col("is_a"), F.col("x")).otherwise(0))
        .cast("long")
        .alias("sa"),
    ]
    for r in range(_PERM_B):
        b = (
            f"CAST(conv(substr(md5(CAST(event_id AS STRING) ||"
            f" '#perm{r}'), 1, 15), 16, 10) AS BIGINT) % 1000000"
        )
        aggs.append(
            F.sum(F.expr(f"CASE WHEN {b} < __thr THEN 1 ELSE 0 END"))
            .cast("long")
            .alias(f"na{r}")
        )
        aggs.append(
            F.sum(F.expr(f"CASE WHEN {b} < __thr THEN x ELSE 0 END"))
            .cast("long")
            .alias(f"sa{r}")
        )
    thr = base.agg(
        F.expr(
            "CAST(sum(CASE WHEN is_a THEN 1 ELSE 0 END) * 1000000"
            " div count(*) AS BIGINT)"
        ).alias("__thr")
    )
    one = base.crossJoin(F.broadcast(thr)).agg(*aggs)
    d_obs = (
        "abs(CAST(sa AS DOUBLE) / CAST(na AS DOUBLE)"
        " - CAST(s - sa AS DOUBLE) / CAST(n - na AS DOUBLE))"
    )
    extreme = " + ".join(
        f"(CASE WHEN na{r} > 0 AND na{r} < n AND"
        f" abs(CAST(sa{r} AS DOUBLE) / CAST(na{r} AS DOUBLE)"
        f" - CAST(s - sa{r} AS DOUBLE) / CAST(n - na{r} AS DOUBLE))"
        f" >= {d_obs} THEN 1 ELSE 0 END)"
        for r in range(_PERM_B)
    )
    return one.select(
        F.col("na"),
        (F.col("n") - F.col("na")).alias("nb"),
        _rnd(F.expr(d_obs) / 100.0, 6).alias("diff_obs"),
        F.expr(f"CAST({extreme} AS BIGINT)").alias("n_extreme"),
        _rnd(
            (F.expr(f"CAST({extreme} AS BIGINT)") + 1).cast("double")
            / F.lit(float(_PERM_B + 1)),
            6,
        ).alias("p_perm"),
    )


def _sql_permutation_test() -> str:
    sums = []
    for r in range(_PERM_B):
        b = (
            f"CAST(('0x' || substr(md5(CAST(event_id AS VARCHAR) ||"
            f" '#perm{r}'), 1, 15)) AS BIGINT) % 1000000"
        )
        sums.append(
            f"CAST(sum(CASE WHEN {b} < __thr THEN 1 ELSE 0 END) AS BIGINT)"
            f" AS na{r}"
        )
        sums.append(
            f"CAST(sum(CASE WHEN {b} < __thr THEN x ELSE 0 END) AS BIGINT)"
            f" AS sa{r}"
        )
    d_obs = (
        "abs(CAST(sa AS DOUBLE) / CAST(na AS DOUBLE)"
        " - CAST(s - sa AS DOUBLE) / CAST(n - na AS DOUBLE))"
    )
    extreme = " + ".join(
        f"(CASE WHEN na{r} > 0 AND na{r} < n AND"
        f" abs(CAST(sa{r} AS DOUBLE) / CAST(na{r} AS DOUBLE)"
        f" - CAST(s - sa{r} AS DOUBLE) / CAST(n - na{r} AS DOUBLE))"
        f" >= {d_obs} THEN 1 ELSE 0 END)"
        for r in range(_PERM_B)
    )
    return f"""
WITH base AS (
    SELECT event_type = 'purchase' AS is_a,
           CAST(round(value * 100) AS BIGINT) AS x, event_id
    FROM events
    WHERE value IS NOT NULL AND event_type IN ('purchase', 'view')
      AND event_id IS NOT NULL
),
thr AS (
    SELECT CAST(sum(CASE WHEN is_a THEN 1 ELSE 0 END) * 1000000
                // count(*) AS BIGINT) AS __thr
    FROM base
),
one AS (
    SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(x) AS BIGINT) AS s,
           CAST(sum(CASE WHEN is_a THEN 1 ELSE 0 END) AS BIGINT) AS na,
           CAST(sum(CASE WHEN is_a THEN x ELSE 0 END) AS BIGINT) AS sa,
           {", ".join(sums)}
    FROM base CROSS JOIN thr
)
SELECT na, n - na AS nb,
       round(1e-9 + {d_obs} / 100.0, 6) AS diff_obs,
       CAST({extreme} AS BIGINT) AS n_extreme,
       round(1e-9 + CAST(CAST({extreme} AS BIGINT) + 1 AS DOUBLE)
             / {float(_PERM_B + 1)!r}, 6) AS p_perm
FROM one"""


def q_diff_in_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Difference-in-differences — the workhorse quasi-experimental
    estimator (did the treated cohort's outcome move MORE than the
    control's across the event boundary?): treated = purchase events,
    control = view events, pre/post = day-of-month ≤ 15 vs > 15 (a
    calendar-deterministic boundary at every scale), outcome = value on
    the ×100 lattice.  DiD = (ȳ_t,post − ȳ_t,pre) − (ȳ_c,post −
    ȳ_c,pre).

    Exactness: ONE corpus pass produces the four cells' exact BIGINT
    (n, Σy); each cell mean is one integer division as double (engine-
    identical), the estimate is three subtractions of those doubles —
    a fixed tree, rounded once.  Everything after the aggregation is a
    1-row frame."""
    ev = load_tables(spark, sf_dir)["events"].where(
        F.col("value").isNotNull()
        & F.col("ts").isNotNull()
        & F.col("event_type").isin("purchase", "view")
    )
    base = ev.select(
        (F.col("event_type") == "purchase").alias("treated"),
        (F.dayofmonth("ts") > 15).alias("post"),
        F.round(F.col("value") * 100).cast("long").alias("y"),
    )
    cells = []
    for t in (True, False):
        for p in (True, False):
            tag = f"{'t' if t else 'c'}{'post' if p else 'pre'}"
            cond = (F.col("treated") == t) & (F.col("post") == p)
            cells.append(
                F.sum(F.when(cond, 1).otherwise(0))
                .cast("long")
                .alias(f"n_{tag}")
            )
            cells.append(
                F.sum(F.when(cond, F.col("y")).otherwise(0))
                .cast("long")
                .alias(f"s_{tag}")
            )
    one = base.agg(*cells)
    mean = lambda tag: (
        f"(CAST(s_{tag} AS DOUBLE) / CAST(n_{tag} AS DOUBLE))"
    )
    did = (
        f"(({mean('tpost')} - {mean('tpre')})"
        f" - ({mean('cpost')} - {mean('cpre')}))"
    )
    return one.select(
        "n_tpre",
        "n_tpost",
        "n_cpre",
        "n_cpost",
        _rnd(F.expr(mean("tpre")) / 100.0, 6).alias("mean_t_pre"),
        _rnd(F.expr(mean("tpost")) / 100.0, 6).alias("mean_t_post"),
        _rnd(F.expr(mean("cpre")) / 100.0, 6).alias("mean_c_pre"),
        _rnd(F.expr(mean("cpost")) / 100.0, 6).alias("mean_c_post"),
        _rnd(F.expr(did) / 100.0, 6).alias("did_estimate"),
    )


def _sql_diff_in_diff() -> str:
    cells = []
    for t, tc in (("TRUE", "t"), ("FALSE", "c")):
        for p, pc in (("TRUE", "post"), ("FALSE", "pre")):
            cond = f"treated = {t} AND post = {p}"
            cells.append(
                f"CAST(sum(CASE WHEN {cond} THEN 1 ELSE 0 END) AS BIGINT)"
                f" AS n_{tc}{pc}"
            )
            cells.append(
                f"CAST(sum(CASE WHEN {cond} THEN y ELSE 0 END) AS BIGINT)"
                f" AS s_{tc}{pc}"
            )
    mean = lambda tag: f"(CAST(s_{tag} AS DOUBLE) / CAST(n_{tag} AS DOUBLE))"
    did = (
        f"(({mean('tpost')} - {mean('tpre')})"
        f" - ({mean('cpost')} - {mean('cpre')}))"
    )
    return f"""
WITH base AS (
    SELECT event_type = 'purchase' AS treated,
           date_part('day', ts) > 15 AS post,
           CAST(round(value * 100) AS BIGINT) AS y
    FROM events
    WHERE value IS NOT NULL AND ts IS NOT NULL
      AND event_type IN ('purchase', 'view')
),
one AS (SELECT {", ".join(cells)} FROM base)
SELECT n_tpre, n_tpost, n_cpre, n_cpost,
       round(1e-9 + {mean('tpre')} / 100.0, 6) AS mean_t_pre,
       round(1e-9 + {mean('tpost')} / 100.0, 6) AS mean_t_post,
       round(1e-9 + {mean('cpre')} / 100.0, 6) AS mean_c_pre,
       round(1e-9 + {mean('cpost')} / 100.0, 6) AS mean_c_post,
       round(1e-9 + {did} / 100.0, 6) AS did_estimate
FROM one"""


def q_ips_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Off-policy evaluation by inverse propensity scoring — grade a
    CANDIDATE action policy from logged feedback without deploying it
    (the counterfactual eval every recommender/ranking change needs):
    logged actions = event types, rewards = value, logging propensities
    μ̂(a) = the empirical global action frequencies, target policy
    π(user) = 'purchase' if user_id is even else 'click'
    (deterministic, so the weight is the 0/1 match indicator over
    1/μ̂).  Reports V̂_IPS = (1/n)·Σ match·r/μ̂(a), the self-normalized
    V̂_SNIPS = Σ w·r / Σ w (lower variance, the production default),
    and the effective sample size (Σw)²/Σw² that says how much logged
    data the target policy actually reuses.

    Exactness: μ̂ denominators stay INTEGER — every ratio folds to
    counts: V̂_IPS = Σ_a (S_match,a · n / n_a) / n with S the matched
    reward sums, so the whole estimate is per-action exact-BIGINT
    (count, sum) cells through fixed double trees.  ONE corpus pass,
    1-row output."""
    ev = load_tables(spark, sf_dir)["events"].where(
        F.col("value").isNotNull()
        & F.col("user_id").isNotNull()
        & F.col("event_type").isNotNull()
    )
    base = ev.select(
        "event_type",
        F.round(F.col("value") * 100).cast("long").alias("r"),
        F.when(F.col("user_id") % 2 == 0, "purchase")
        .otherwise("click")
        .alias("pi_a"),
    )
    per_a = base.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_a"),
        F.sum(F.when(F.col("event_type") == F.col("pi_a"), 1).otherwise(0))
        .cast("long")
        .alias("m_a"),
        F.sum(
            F.when(F.col("event_type") == F.col("pi_a"), F.col("r")).otherwise(
                0
            )
        )
        .cast("long")
        .alias("sr_a"),
    )
    tot = per_a.agg(F.sum("n_a").cast("long").alias("n"))
    # per-action exact cells → the three estimator sums; w = n/n_a for a
    # matched row, so Σw = Σ_a m_a·n/n_a, Σw·r = Σ_a sr_a·n/n_a,
    # Σw² = Σ_a m_a·(n/n_a)²
    # each per-action term is quantized to 1e6 micro-units BEFORE the
    # sum (the q_kruskal_wallis idiom: double sums are order-dependent,
    # BIGINT micro sums are exact), then ONE division per estimate
    folded = per_a.crossJoin(F.broadcast(tot)).agg(
        F.max("n").alias("n"),
        F.sum(
            F.expr(
                "CAST(round(CAST(sr_a AS DOUBLE) * CAST(n AS DOUBLE)"
                " / CAST(n_a AS DOUBLE) * 1000000.0) AS BIGINT)"
            )
        ).cast("long").alias("swr_u"),
        F.sum(
            F.expr(
                "CAST(round(CAST(m_a AS DOUBLE) * CAST(n AS DOUBLE)"
                " / CAST(n_a AS DOUBLE) * 1000000.0) AS BIGINT)"
            )
        ).cast("long").alias("sw_u"),
        F.sum(
            F.expr(
                "CAST(round(CAST(m_a AS DOUBLE) * CAST(n AS DOUBLE)"
                " * CAST(n AS DOUBLE) / (CAST(n_a AS DOUBLE)"
                " * CAST(n_a AS DOUBLE)) * 1000000.0) AS BIGINT)"
            )
        ).cast("long").alias("sw2_u"),
    )
    return folded.select(
        "n",
        _rnd(
            F.col("swr_u").cast("double")
            / 1e6
            / F.col("n").cast("double")
            / 100.0,
            6,
        ).alias("v_ips"),
        _rnd(
            F.col("swr_u").cast("double") / F.col("sw_u").cast("double")
            / 100.0,
            6,
        ).alias("v_snips"),
        _rnd(
            F.col("sw_u").cast("double")
            * F.col("sw_u").cast("double")
            / F.col("sw2_u").cast("double")
            / 1e6,
            4,
        ).alias("ess"),
    )


def _sql_ips_eval() -> str:
    return """
WITH base AS (
    SELECT event_type, CAST(round(value * 100) AS BIGINT) AS r,
           CASE WHEN user_id % 2 = 0 THEN 'purchase' ELSE 'click' END AS pi_a
    FROM events
    WHERE value IS NOT NULL AND user_id IS NOT NULL
      AND event_type IS NOT NULL
),
per_a AS (
    SELECT event_type, CAST(count(*) AS BIGINT) AS n_a,
           CAST(sum(CASE WHEN event_type = pi_a THEN 1 ELSE 0 END)
                AS BIGINT) AS m_a,
           CAST(sum(CASE WHEN event_type = pi_a THEN r ELSE 0 END)
                AS BIGINT) AS sr_a
    FROM base GROUP BY 1
),
tot AS (SELECT CAST(sum(n_a) AS BIGINT) AS n FROM per_a),
folded AS (
    SELECT max(n) AS n,
           CAST(sum(CAST(round(CAST(sr_a AS DOUBLE) * CAST(n AS DOUBLE)
               / CAST(n_a AS DOUBLE) * 1000000.0) AS BIGINT)) AS BIGINT)
               AS swr_u,
           CAST(sum(CAST(round(CAST(m_a AS DOUBLE) * CAST(n AS DOUBLE)
               / CAST(n_a AS DOUBLE) * 1000000.0) AS BIGINT)) AS BIGINT)
               AS sw_u,
           CAST(sum(CAST(round(CAST(m_a AS DOUBLE) * CAST(n AS DOUBLE)
               * CAST(n AS DOUBLE) / (CAST(n_a AS DOUBLE)
               * CAST(n_a AS DOUBLE)) * 1000000.0) AS BIGINT)) AS BIGINT)
               AS sw2_u
    FROM per_a CROSS JOIN tot
)
SELECT n,
       round(1e-9 + CAST(swr_u AS DOUBLE) / 1e6
             / CAST(n AS DOUBLE) / 100.0, 6) AS v_ips,
       round(1e-9 + CAST(swr_u AS DOUBLE) / CAST(sw_u AS DOUBLE)
             / 100.0, 6) AS v_snips,
       round(1e-9 + CAST(sw_u AS DOUBLE) * CAST(sw_u AS DOUBLE)
             / CAST(sw2_u AS DOUBLE) / 1e6, 4) AS ess
FROM folded"""


def q_mcnemar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """McNemar's test on PAIRED binary outcomes — did the same users'
    conversion state change across the mid-month boundary?  Each user is
    their own control (the within-subject companion to q_diff_in_diff's
    cohort contrast): per user, 'converted pre' / 'converted post' flags
    (any purchase in the half), then the 2×2 concordance table; only the
    DISCORDANT cells carry signal — χ² = (b−c)²/(b+c), z = (b−c)/√(b+c),
    two-sided A&S normal tail on the rounded z.

    Exactness: one user-grain aggregation (two conditional max flags),
    one 4-cell count — everything BIGINT until the single z division;
    b+c = 0 (no discordant users) yields NULL χ²/p in BOTH engines."""
    ev = load_tables(spark, sf_dir)["events"].where(
        F.col("ts").isNotNull() & F.col("user_id").isNotNull()
    )
    per_user = ev.groupBy("user_id").agg(
        F.max(
            F.when(
                (F.col("event_type") == "purchase")
                & (F.dayofmonth("ts") <= 15),
                1,
            ).otherwise(0)
        ).alias("pre"),
        F.max(
            F.when(
                (F.col("event_type") == "purchase")
                & (F.dayofmonth("ts") > 15),
                1,
            ).otherwise(0)
        ).alias("post"),
    )
    one = per_user.agg(
        F.count(F.lit(1)).cast("long").alias("n_users"),
        F.sum(F.when((F.col("pre") == 1) & (F.col("post") == 1), 1).otherwise(0))
        .cast("long")
        .alias("both_halves"),
        F.sum(F.when((F.col("pre") == 1) & (F.col("post") == 0), 1).otherwise(0))
        .cast("long")
        .alias("pre_only"),
        F.sum(F.when((F.col("pre") == 0) & (F.col("post") == 1), 1).otherwise(0))
        .cast("long")
        .alias("post_only"),
        F.sum(F.when((F.col("pre") == 0) & (F.col("post") == 0), 1).otherwise(0))
        .cast("long")
        .alias("neither"),
    )
    z_raw = (
        "(CAST(pre_only AS DOUBLE) - CAST(post_only AS DOUBLE))"
        " / sqrt(CAST(pre_only + post_only AS DOUBLE))"
    )
    stat = one.select(
        "n_users",
        "both_halves",
        "pre_only",
        "post_only",
        "neither",
        F.when(
            F.col("pre_only") + F.col("post_only") > 0, _rnd(F.expr(z_raw), 6)
        ).alias("z"),
    )
    return stat.select(
        "n_users",
        "both_halves",
        "pre_only",
        "post_only",
        "neither",
        _rnd(F.col("z") * F.col("z"), 6).alias("chi2"),
        F.when(
            F.col("z").isNotNull(), _rnd(F.expr(p2_formula("z")), 6)
        ).alias("p_value"),
    )


def _sql_mcnemar() -> str:
    z_raw = (
        "(CAST(pre_only AS DOUBLE) - CAST(post_only AS DOUBLE))"
        " / sqrt(CAST(pre_only + post_only AS DOUBLE))"
    )
    return f"""
WITH per_user AS (
    SELECT user_id,
           max(CASE WHEN event_type = 'purchase'
                     AND date_part('day', ts) <= 15 THEN 1 ELSE 0 END) AS pre,
           max(CASE WHEN event_type = 'purchase'
                     AND date_part('day', ts) > 15 THEN 1 ELSE 0 END) AS post
    FROM events
    WHERE ts IS NOT NULL AND user_id IS NOT NULL
    GROUP BY 1
),
one AS (
    SELECT CAST(count(*) AS BIGINT) AS n_users,
           CAST(sum(CASE WHEN pre = 1 AND post = 1 THEN 1 ELSE 0 END)
                AS BIGINT) AS both_halves,
           CAST(sum(CASE WHEN pre = 1 AND post = 0 THEN 1 ELSE 0 END)
                AS BIGINT) AS pre_only,
           CAST(sum(CASE WHEN pre = 0 AND post = 1 THEN 1 ELSE 0 END)
                AS BIGINT) AS post_only,
           CAST(sum(CASE WHEN pre = 0 AND post = 0 THEN 1 ELSE 0 END)
                AS BIGINT) AS neither
    FROM per_user
),
stat AS (
    SELECT n_users, both_halves, pre_only, post_only, neither,
           CASE WHEN pre_only + post_only > 0
                THEN round(1e-9 + {z_raw}, 6) END AS z
    FROM one
)
SELECT n_users, both_halves, pre_only, post_only, neither,
       round(1e-9 + z * z, 6) AS chi2,
       CASE WHEN z IS NOT NULL
            THEN round(1e-9 + {p2_formula("z")}, 6) END AS p_value
FROM stat"""


_WSR_Z = (
    "(CAST(w2 AS DOUBLE) / 2.0"
    " - CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) + 1.0) / 4.0)"
    " / sqrt(CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) + 1.0)"
    " * (2.0 * CAST(n AS DOUBLE) + 1.0) / 24.0"
    " - CAST(tsum AS DOUBLE) / 48.0)"
)


def q_wilcoxon_signed_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wilcoxon signed-rank test on the PAIRED daily view/click count
    series — the nonparametric within-pair test completing the family
    (Mann–Whitney = independent groups, McNemar = paired binary, this =
    paired ordinal/continuous): per day d = n_view − n_click, zeros
    drop, |d| gets midranks, W⁺ sums the positive days' ranks,
    normal-approximation z with the standard tie correction.

    Exactness: midranks come from the |d|-value CDF as the DOUBLED
    integer 2·cle − c + 1 (the q_mannwhitney identity — no row is ever
    ranked), so W2 = 2·W⁺ and the tie term Σ(t³−t) are exact BIGINT;
    z evaluates one shared textual double formula over (w2, n, tsum),
    rounded before the A&S tail.  The cumulative window runs over the
    CALENDAR-bounded distinct-|d| frame (≤731 days bounds it at any
    corpus size — the q_kendall_tau grain)."""
    ev = load_tables(spark, sf_dir)["events"].where(
        F.col("ts").isNotNull() & F.col("event_type").isin("view", "click")
    )
    daily = ev.groupBy(F.to_date("ts").alias("day")).agg(
        F.sum(F.when(F.col("event_type") == "view", 1).otherwise(0))
        .cast("long")
        .alias("nv"),
        F.sum(F.when(F.col("event_type") == "click", 1).otherwise(0))
        .cast("long")
        .alias("nc"),
    )
    d = daily.select((F.col("nv") - F.col("nc")).alias("d")).where(
        F.col("d") != 0
    )
    g = d.groupBy(F.abs(F.col("d")).alias("v")).agg(
        F.count(F.lit(1)).cast("long").alias("c"),
        F.sum(F.when(F.col("d") > 0, 1).otherwise(0))
        .cast("long")
        .alias("c_pos"),
    )
    w = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, 0)
    cum = g.withColumn("cle", F.sum("c").over(w).cast("long"))
    one = cum.agg(
        F.sum("c").cast("long").alias("n"),
        F.sum(
            F.col("c_pos") * (2 * F.col("cle") - F.col("c") + 1)
        )
        .cast("long")
        .alias("w2"),
        F.sum(F.col("c") * F.col("c") * F.col("c") - F.col("c"))
        .cast("long")
        .alias("tsum"),
    )
    stat = one.select(
        "n",
        "w2",
        "tsum",
        F.when(F.col("n") > 0, _rnd(F.expr(_WSR_Z), 6)).alias("z"),
    )
    return stat.select(
        F.col("n").alias("n_pairs"),
        F.col("w2").alias("w_plus_doubled"),
        F.col("tsum").alias("tie_term"),
        F.col("z").alias("z_score"),
        F.when(
            F.col("z").isNotNull(), _rnd(F.expr(p2_formula("z")), 6)
        ).alias("p_value"),
    )


def _sql_wilcoxon_signed_rank() -> str:
    return f"""
WITH daily AS (
    SELECT CAST(ts AS DATE) AS day,
           CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
                AS BIGINT) AS nv,
           CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
                AS BIGINT) AS nc
    FROM events
    WHERE ts IS NOT NULL AND event_type IN ('view', 'click')
    GROUP BY 1
),
d AS (SELECT nv - nc AS d FROM daily WHERE nv - nc <> 0),
g AS (
    SELECT abs(d) AS v, CAST(count(*) AS BIGINT) AS c,
           CAST(sum(CASE WHEN d > 0 THEN 1 ELSE 0 END) AS BIGINT) AS c_pos
    FROM d GROUP BY 1
),
cum AS (
    SELECT v, c, c_pos,
           CAST(sum(c) OVER (ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS BIGINT) AS cle
    FROM g
),
one AS (
    SELECT CAST(sum(c) AS BIGINT) AS n,
           CAST(sum(c_pos * (2 * cle - c + 1)) AS BIGINT) AS w2,
           CAST(sum(c * c * c - c) AS BIGINT) AS tsum
    FROM cum
),
stat AS (
    SELECT n, w2, tsum,
           CASE WHEN n > 0 THEN round(1e-9 + {_WSR_Z}, 6) END AS z
    FROM one
)
SELECT n AS n_pairs, w2 AS w_plus_doubled, tsum AS tie_term,
       z AS z_score,
       CASE WHEN z IS NOT NULL
            THEN round(1e-9 + {p2_formula("z")}, 6) END AS p_value
FROM stat"""


def q_time_decay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially time-decayed engagement score — the recency-aware
    leaderboard every activity ranking actually wants (a click today
    beats ten clicks last month): each event contributes 2^(−age_days)
    of weight, implemented EXACTLY as the integer 2^(40−age) on a
    2^-40-denominated lattice (the dyadic-EWMA idiom: α = 1/2 keeps
    every weight a power of two, so the score is an exact BIGINT sum —
    no float ever enters the ranking), events older than 40 days
    contribute 0 (they are < 1 lattice unit).  Top-20 users by (score,
    id).  Bound: 2^40 per event ⇒ int64 holds ~8.3M same-day events per
    user; beyond that drop to a 2^-20 lattice.  ONE corpus aggregation;
    the reference date is a 1-row broadcast (never a driver action)."""
    ev = load_tables(spark, sf_dir)["events"].where(
        F.col("ts").isNotNull() & F.col("user_id").isNotNull()
    )
    ref = ev.agg(F.max(F.to_date("ts")).alias("__ref"))
    scored = ev.crossJoin(F.broadcast(ref)).select(
        "user_id",
        F.datediff(F.col("__ref"), F.to_date("ts")).alias("age"),
    )
    per_user = scored.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.sum(
            F.when(
                F.col("age") <= 40,
                F.expr(
                    "shiftleft(CAST(1 AS BIGINT),"
                    " CAST(40 - age AS INT))"
                ),
            ).otherwise(0)
        )
        .cast("long")
        .alias("score_u"),
    )
    return (
        per_user.orderBy(F.desc("score_u"), F.asc("user_id"))
        .limit(20)
        .select(
            "user_id",
            "n_events",
            "score_u",
            _rnd(F.col("score_u").cast("double") / F.lit(float(2**40)), 6)
            .alias("score"),
        )
    )


_SQL_TIME_DECAY = f"""
WITH ev AS (
    SELECT user_id, CAST(ts AS DATE) AS day
    FROM events WHERE ts IS NOT NULL AND user_id IS NOT NULL
),
ref AS (SELECT max(day) AS r FROM ev),
per_user AS (
    SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
           CAST(sum(CASE WHEN date_diff('day', day, r) <= 40
                         THEN CAST(1 AS BIGINT)
                              << (40 - date_diff('day', day, r))
                         ELSE 0 END) AS BIGINT) AS score_u
    FROM ev CROSS JOIN ref
    GROUP BY 1
)
SELECT user_id, n_events, score_u,
       round(1e-9 + CAST(score_u AS DOUBLE) / {float(2**40)!r}, 6) AS score
FROM per_user
ORDER BY score_u DESC, user_id ASC
LIMIT 20"""


def _corridor_backbone(li: DataFrame, k: int) -> tuple[DataFrame, DataFrame]:
    """Top-``k`` heaviest undirected zone corridors — the shared graph
    substrate of the spatial/community family (q_graph_modularity,
    q_label_propagation, q_morans_i, q_getis_ord, q_link_prediction;
    the `_sql_minhash_ctes` factoring pattern applied to graphs): one
    corpus-grain corridor aggregation, deterministic ties (cnt desc, a,
    b), fixed-K so the backbone stays scale-stable where a mean cut
    drifts.  Returns ``(und, both)`` — `und` is the k undirected edges,
    localCheckpointed (every consumer fans out over it at least twice,
    and the iterative consumers need flat round plans); `both` is the
    symmetric closure, a trivial union over the checkpoint."""
    cnt = (
        li.select(
            F.least("pickup_zone_id", "dropoff_zone_id").alias("a"),
            F.greatest("pickup_zone_id", "dropoff_zone_id").alias("b"),
        )
        .where(F.col("a") != F.col("b"))
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )
    und = (
        cnt.orderBy(F.desc("cnt"), F.asc("a"), F.asc("b"))
        .limit(k)
        .select("a", "b")
        .localCheckpoint()
    )
    both = und.unionByName(
        und.select(F.col("b").alias("a"), F.col("a").alias("b"))
    )
    return und, both


def _sql_backbone_ctes(k: int) -> str:
    """DuckDB twin of :func:`_corridor_backbone`: the `cnt`/`und`/
    `both_e` CTE block (appended after the stg_trips CTEs — the caller
    owns the WITH)."""
    return f""",
cnt AS MATERIALIZED (
    SELECT least(pickup_zone_id, dropoff_zone_id) AS a,
           greatest(pickup_zone_id, dropoff_zone_id) AS b,
           CAST(count(*) AS BIGINT) AS cnt
    FROM stg_trips WHERE pickup_zone_id <> dropoff_zone_id
    GROUP BY 1, 2
),
und AS MATERIALIZED (
    SELECT a, b FROM cnt ORDER BY cnt DESC, a ASC, b ASC LIMIT {k}
),
both_e AS MATERIALIZED (
    SELECT a, b FROM und UNION ALL SELECT b, a FROM und
)"""


def q_graph_modularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Modularity of the LPA communities — the quality score that says
    whether `q_label_propagation`'s partition actually beats random
    wiring (Q > 0: denser inside communities than a degree-preserving
    null model): per community c, Q_c = e_c/m − (d_c/2m)², Q = Σ Q_c
    over the same top-40 corridor backbone and 4-round deterministic
    LPA.

    Exactness: e_c (internal undirected edges), d_c (degree sum), m
    (undirected edge count) are exact BIGINT; each community's Q term
    is quantized to 1e-9 nano-units (per-row IEEE doubles are
    engine-identical; SUMS across communities must be integer — the
    kruskal idiom), so the total Q rides every row as an exact BIGINT.
    Everything after the corridor aggregation is backbone metadata."""
    from .plans import nyc_views, staging

    li = staging.stg_taxi_trips(
        nyc_views.trips_from_events(load_tables(spark, sf_dir)["events"])
    )
    und, both = _corridor_backbone(li, 40)
    labels = graph.label_propagation(both, rounds=4, src="a", dst="b")
    la = labels.select(F.col("node").alias("a"), F.col("lab").alias("lab_a"))
    lb = labels.select(F.col("node").alias("b"), F.col("lab").alias("lab_b"))
    m = und.agg(F.count(F.lit(1)).cast("long").alias("m"))
    e_in = (
        und.join(F.broadcast(la), "a")
        .join(F.broadcast(lb), "b")
        .where(F.col("lab_a") == F.col("lab_b"))
        .groupBy(F.col("lab_a").alias("community"))
        .agg(F.count(F.lit(1)).cast("long").alias("e_in"))
    )
    d_sum = (
        both.join(F.broadcast(la), "a")
        .groupBy(F.col("lab_a").alias("community"))
        .agg(F.count(F.lit(1)).cast("long").alias("d_sum"))
    )
    nn = labels.groupBy(F.col("lab").alias("community")).agg(
        F.count(F.lit(1)).cast("long").alias("n_nodes")
    )
    per = (
        nn.join(d_sum, "community")
        .join(e_in, "community", "left")
        .select(
            F.col("community").cast("long").alias("community"),
            "n_nodes",
            F.coalesce("e_in", F.lit(0)).cast("long").alias("e_in"),
            "d_sum",
        )
        .crossJoin(F.broadcast(m))
        .withColumn(
            "q_nano",
            F.expr(
                "CAST(round((CAST(e_in AS DOUBLE) / CAST(m AS DOUBLE)"
                " - (CAST(d_sum AS DOUBLE) / (2.0 * CAST(m AS DOUBLE)))"
                " * (CAST(d_sum AS DOUBLE) / (2.0 * CAST(m AS DOUBLE))))"
                " * 1000000000.0) AS BIGINT)"
            ),
        )
    )
    tot = per.agg(F.sum("q_nano").cast("long").alias("q_total_nano"))
    return per.crossJoin(F.broadcast(tot)).select(
        "community", "n_nodes", "e_in", "d_sum", "q_nano", "q_total_nano"
    )


def _sql_graph_modularity() -> str:
    from .plans.nyc_views import SQL_TRIPS
    from .plans.staging import SQL_STG_TRIPS

    base = (
        "WITH "
        + SQL_TRIPS.strip().rstrip(",")
        + ",\n"
        + SQL_STG_TRIPS.strip().rstrip(",")
        + _sql_backbone_ctes(40)
        + """,
l0 AS MATERIALIZED (
    SELECT DISTINCT a AS node, a AS lab FROM both_e
)"""
    )
    rounds = []
    prev = "l0"
    for i in range(1, 5):
        rounds.append(f""",
c{i} AS MATERIALIZED (
    SELECT e.a AS node, l.lab, CAST(count(*) AS BIGINT) AS c
    FROM both_e e JOIN {prev} l ON l.node = e.b
    GROUP BY 1, 2
),
l{i} AS MATERIALIZED (
    SELECT node, lab FROM (
        SELECT node, lab, row_number() OVER (
            PARTITION BY node ORDER BY c DESC, lab ASC) AS rn
        FROM c{i}) WHERE rn = 1
)""")
        prev = f"l{i}"
    return base + "".join(rounds) + f""",
m AS (SELECT CAST(count(*) AS BIGINT) AS m FROM und),
e_in AS MATERIALIZED (
    SELECT la.lab AS community, CAST(count(*) AS BIGINT) AS e_in
    FROM und u
    JOIN {prev} la ON la.node = u.a
    JOIN {prev} lb ON lb.node = u.b
    WHERE la.lab = lb.lab
    GROUP BY 1
),
d_sum AS MATERIALIZED (
    SELECT la.lab AS community, CAST(count(*) AS BIGINT) AS d_sum
    FROM both_e e JOIN {prev} la ON la.node = e.a
    GROUP BY 1
),
nn AS MATERIALIZED (
    SELECT lab AS community, CAST(count(*) AS BIGINT) AS n_nodes
    FROM {prev} GROUP BY 1
),
per AS (
    SELECT CAST(nn.community AS BIGINT) AS community, nn.n_nodes,
           CAST(COALESCE(e_in.e_in, 0) AS BIGINT) AS e_in, d_sum.d_sum,
           CAST(round((CAST(COALESCE(e_in.e_in, 0) AS DOUBLE)
                       / CAST(m.m AS DOUBLE)
                - (CAST(d_sum.d_sum AS DOUBLE) / (2.0 * CAST(m.m AS DOUBLE)))
                * (CAST(d_sum.d_sum AS DOUBLE) / (2.0 * CAST(m.m AS DOUBLE))))
               * 1000000000.0) AS BIGINT) AS q_nano
    FROM nn
    JOIN d_sum ON d_sum.community = nn.community
    LEFT JOIN e_in ON e_in.community = nn.community
    CROSS JOIN m
)
SELECT community, n_nodes, e_in, d_sum, q_nano,
       (SELECT CAST(sum(q_nano) AS BIGINT) FROM per) AS q_total_nano
FROM per"""


_KW_TERM = (
    "CAST(round(CAST(two_r AS DOUBLE) * two_r * 1000000.0"
    " / (4.0 * n_g * n * (n + 1.0))) AS BIGINT)"
)


def q_kruskal_wallis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kruskal–Wallis H test across ALL event-type groups — the k-group
    extension of q_mannwhitney (one omnibus test instead of k² pairwise
    z-tests): do the value distributions differ anywhere?

    Exactness: the pooled value CDF (:func:`bucketed_value_cumsum` on
    the ×100 lattice) gives per-group midrank sums as pure BIGINT
    (2R_g = Σ_v c_g(2·cle − c + 1)); the per-group H term
    2R_g²/(4·n_g·n(n+1)) ∈ [0, n_g] is quantized to 1e-6 micro-units
    (per-row IEEE doubles are engine-identical, and the quantization is
    part of the metric definition — double SUMS across groups would be
    order-dependent, BIGINT micro-unit sums are exact); H, the tie
    correction, the Wilson–Hilferty z and the upper-tail p all evaluate
    shared textual formulas over those integers, each rounded before
    the next stage consumes it.  Shape: one corpus aggregation to the
    distinct-value table; everything downstream is value-cardinality
    work."""
    ev = load_tables(spark, sf_dir)["events"].where(
        F.col("value").isNotNull() & F.col("event_type").isNotNull()
    )
    base = ev.select(
        "event_type",
        F.round(F.col("value") * 100).cast("long").alias("x"),
    )
    cdf = bucketed_value_cumsum(base.select("x"), "x")
    cg = base.groupBy(F.col("x").alias("__v"), "event_type").agg(
        F.count(F.lit(1)).cast("long").alias("c_g")
    )
    grp = (
        cdf.join(cg, "__v")
        .groupBy("event_type")
        .agg(
            F.sum("c_g").cast("long").alias("n_g"),
            F.sum(F.col("c_g") * (2 * F.col("__cle") - F.col("__c") + 1))
            .cast("long")
            .alias("two_r"),
        )
    )
    tot = cdf.agg(
        F.max("__cle").cast("long").alias("n"),
        F.sum(F.col("__c") * F.col("__c") * F.col("__c") - F.col("__c"))
        .cast("long")
        .alias("tsum"),
    )
    stats = grp.crossJoin(F.broadcast(tot))
    one = stats.agg(
        F.count(F.lit(1)).cast("long").alias("k"),
        F.sum(F.expr(_KW_TERM)).cast("long").alias("s_micro"),
        F.max("n").alias("n"),
        F.max("tsum").alias("tsum"),
    )
    scored = one.select(
        "k",
        "n",
        _rnd(F.expr(f"({_KW_H}) / ({_KW_C})"), 6).alias("h_adj"),
    ).select("k", "n", "h_adj", _rnd(F.expr(_KW_Z), 9).alias("z"))
    p_txt = (
        f"CASE WHEN z >= 0 THEN ({p2_formula('z')}) / 2.0"
        f" ELSE 1.0 - ({p2_formula('z')}) / 2.0 END"
    )
    return scored.select(
        "k",
        "n",
        "h_adj",
        "z",
        _rnd(F.expr(p_txt), 10).alias("p"),
    ).select(
        "*",
        (F.col("p") * 20 <= F.lit(1)).cast("int").alias("significant"),
    )


def _sql_kruskal_wallis() -> str:
    p_txt = (
        f"CASE WHEN z >= 0 THEN ({p2_formula('z')}) / 2.0"
        f" ELSE 1.0 - ({p2_formula('z')}) / 2.0 END"
    )
    return f"""
WITH base AS (
    SELECT event_type, CAST(round(value * 100) AS BIGINT) AS x
    FROM events
    WHERE value IS NOT NULL AND event_type IS NOT NULL
),
vc AS (
    SELECT x, CAST(count(*) AS BIGINT) AS c FROM base GROUP BY 1
),
cdf AS (
    SELECT x, c,
           CAST(sum(c) OVER (ORDER BY x
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS BIGINT) AS cle
    FROM vc
),
cg AS (
    SELECT x, event_type, CAST(count(*) AS BIGINT) AS c_g
    FROM base GROUP BY 1, 2
),
grp AS (
    SELECT event_type,
           CAST(sum(c_g) AS BIGINT) AS n_g,
           CAST(sum(c_g * (2 * cle - c + 1)) AS BIGINT) AS two_r
    FROM cdf JOIN cg USING (x) GROUP BY 1
),
tot AS (
    SELECT CAST(max(cle) AS BIGINT) AS n,
           CAST(sum(c * c * c - c) AS BIGINT) AS tsum
    FROM cdf
),
one AS (
    SELECT CAST(count(*) AS BIGINT) AS k,
           CAST(sum({_KW_TERM}) AS BIGINT) AS s_micro,
           max(n) AS n, max(tsum) AS tsum
    FROM grp, tot
),
scored AS (
    SELECT k, n,
           round(1e-9 + ({_KW_H}) / ({_KW_C}), 6) AS h_adj
    FROM one
),
zed AS (
    SELECT k, n, h_adj, round(1e-9 + {_KW_Z}, 9) AS z FROM scored
)
SELECT k, n, h_adj, z,
       round(1e-9 + ({p_txt}), 10) AS p,
       CAST(round(1e-9 + ({p_txt}), 10) * 20 <= 1 AS INT) AS significant
FROM zed"""


# --- Kendall tau-b on the daily series ----------------------------------------------

_TAU_TXT = (
    "CASE WHEN (n0 - tx_p) * (n0 - ty_p) = 0 THEN NULL"
    " ELSE (nc - CAST(nd AS DOUBLE))"
    " / sqrt(CAST(n0 - tx_p AS DOUBLE) * (n0 - ty_p)) END"
)


def _daily_xy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q_spearman's (day, views, revenue-lattice) daily series."""
    ev = load_tables(spark, sf_dir)["events"].where(
        F.col("ts").isNotNull() & F.col("value").isNotNull()
    )
    return ev.groupBy(F.to_date("ts").alias("day")).agg(
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
    )


def q_kendall_tau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kendall tau-b between the daily view-count and purchase-revenue
    series — the concordance leg beside q_spearman (tau is a direct
    probability statement: P(concordant) − P(discordant)), with the
    standard tie-adjusted denominator.

    Shape: the pairwise i<j self-join runs over the DAILY grain — a
    calendar-bounded frame (≤731 rows/two years → ≤267k pairs at any
    corpus size), so the quadratic pair mass is capped by the time
    axis, never by data volume; the corpus itself is touched once by
    the daily aggregation.  Every pair count is BIGINT; tau-b evaluates
    one shared textual formula."""
    daily = _daily_xy(spark, sf_dir).persist()
    a, b = daily.alias("a"), daily.alias("b")
    pairs = a.join(b, F.col("a.day") < F.col("b.day")).select(
        (F.col("a.x") - F.col("b.x")).alias("dx"),
        (F.col("a.y") - F.col("b.y")).alias("dy"),
    )
    agg = pairs.agg(
        F.count(F.lit(1)).cast("long").alias("n0"),
        F.sum((F.col("dx") * F.col("dy") > 0).cast("long"))
        .cast("long")
        .alias("nc"),
        F.sum((F.col("dx") * F.col("dy") < 0).cast("long"))
        .cast("long")
        .alias("nd"),
        F.sum((F.col("dx") == 0).cast("long")).cast("long").alias("tx_p"),
        F.sum((F.col("dy") == 0).cast("long")).cast("long").alias("ty_p"),
    )
    n1 = daily.agg(F.count(F.lit(1)).cast("long").alias("n_days"))
    return agg.crossJoin(F.broadcast(n1)).select(
        "n_days",
        "n0",
        "nc",
        "nd",
        "tx_p",
        "ty_p",
        _rnd(F.expr(_TAU_TXT), 6).alias("tau_b"),
    )


def _sql_kendall_tau() -> str:
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
pairs AS (
    SELECT a.x - b.x AS dx, a.y - b.y AS dy
    FROM daily a JOIN daily b ON a.day < b.day
),
agg AS (
    SELECT CAST(count(*) AS BIGINT) AS n0,
           CAST(sum(CASE WHEN dx * dy > 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS nc,
           CAST(sum(CASE WHEN dx * dy < 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS nd,
           CAST(sum(CASE WHEN dx = 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS tx_p,
           CAST(sum(CASE WHEN dy = 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS ty_p
    FROM pairs
),
n1 AS (SELECT CAST(count(*) AS BIGINT) AS n_days FROM daily)
SELECT n_days, n0, nc, nd, tx_p, ty_p,
       round(1e-9 + ({_TAU_TXT}), 6) AS tau_b
FROM agg, n1"""


# --- Theil–Sen robust trend -----------------------------------------------------------

def q_theil_sen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil–Sen robust trend of the daily purchase-revenue series —
    the estimator q_trend_ols's least squares can't match under
    outliers: slope = median of all pairwise slopes (breakdown point
    29%), intercept = median of the per-day residuals at that slope.

    Shape & exactness: pairwise slopes ride the calendar-bounded daily
    self-join (q_kendall_tau's cap argument); each slope is ONE per-row
    IEEE division (engine-identical bits) rounded to the 1e-9 lattice
    on BOTH sides before selection; both medians are CDF selections —
    min v with 2·cle ≥ n — over :func:`bucketed_value_cumsum` (the
    lower median: deterministic, no averaging arithmetic), so the
    reported slope/intercept are DATA values, never computed floats."""
    daily = (
        _daily_xy(spark, sf_dir)
        .select(
            F.datediff(F.col("day"), F.lit("1970-01-01")).cast("long")
            .alias("t"),
            "y",
        )
        .persist()  # feeds the pair join AND the residual pass
    )
    a, b = daily.alias("a"), daily.alias("b")
    slopes = (
        a.join(b, F.col("a.t") < F.col("b.t"))
        .select(
            _rnd(
                (F.col("b.y") - F.col("a.y"))
                / (F.col("b.t") - F.col("a.t")).cast("double"),
                9,
            ).alias("s")
        )
        .persist()  # the CDF primitive replays lineage (GK job + join)
    )
    np_ = slopes.agg(F.count(F.lit(1)).cast("long").alias("n_pairs"))
    scdf = bucketed_value_cumsum(slopes, "s").crossJoin(F.broadcast(np_))
    med = scdf.where(2 * F.col("__cle") >= F.col("n_pairs")).agg(
        F.min("__v").alias("slope"), F.max("n_pairs").alias("n_pairs")
    )
    resid = daily.crossJoin(F.broadcast(med)).select(
        _rnd(F.col("y") - F.col("slope") * F.col("t"), 9).alias("r"),
        "slope",
        "n_pairs",
    )
    nd_ = daily.agg(F.count(F.lit(1)).cast("long").alias("n_days"))
    rcdf = bucketed_value_cumsum(resid.select("r"), "r").crossJoin(
        F.broadcast(nd_)
    )
    imed = rcdf.where(2 * F.col("__cle") >= F.col("n_days")).agg(
        F.min("__v").alias("intercept"), F.max("n_days").alias("n_days")
    )
    return med.crossJoin(F.broadcast(imed)).select(
        "n_days", "n_pairs", "slope", "intercept"
    )


_SQL_THEIL_SEN = """
WITH daily AS (
    SELECT CAST(date_diff('day', DATE '1970-01-01', CAST(ts AS DATE))
                AS BIGINT) AS t,
           CAST(sum(CASE WHEN event_type = 'purchase'
                    THEN CAST(round(value * 100) AS BIGINT)
                    ELSE 0 END) AS BIGINT) AS y
    FROM events
    WHERE ts IS NOT NULL AND value IS NOT NULL
    GROUP BY CAST(ts AS DATE)
),
slopes AS (
    SELECT round(1e-9 + (b.y - a.y) / CAST(b.t - a.t AS DOUBLE), 9) AS s
    FROM daily a JOIN daily b ON a.t < b.t
),
np_ AS (SELECT CAST(count(*) AS BIGINT) AS n_pairs FROM slopes),
scdf AS (
    SELECT s AS v,
           CAST(sum(count(*)) OVER (ORDER BY s
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS BIGINT) AS cle
    FROM slopes GROUP BY s
),
med AS (
    SELECT min(v) AS slope, max(n_pairs) AS n_pairs
    FROM scdf, np_ WHERE 2 * cle >= n_pairs
),
resid AS (
    SELECT round((d.y - m.slope * d.t) + 1e-9, 9) AS r
    FROM daily d, med m
),
nd_ AS (SELECT CAST(count(*) AS BIGINT) AS n_days FROM daily),
rcdf AS (
    SELECT r AS v,
           CAST(sum(count(*)) OVER (ORDER BY r
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS BIGINT) AS cle
    FROM resid GROUP BY r
),
imed AS (
    SELECT min(v) AS intercept, max(n_days) AS n_days
    FROM rcdf, nd_ WHERE 2 * cle >= n_days
)
SELECT n_days, n_pairs, slope, intercept
FROM med, imed"""


# --- Referential-integrity audit ----------------------------------------------------

_FK_EDGES = (
    ("lineitem.l_orderkey->orders.o_orderkey",
     "lineitem", "l_orderkey", "orders", "o_orderkey"),
    ("lineitem.l_partkey->part.p_partkey",
     "lineitem", "l_partkey", "part", "p_partkey"),
    ("lineitem.l_suppkey->supplier.s_suppkey",
     "lineitem", "l_suppkey", "supplier", "s_suppkey"),
    ("orders.o_custkey->customer.c_custkey",
     "orders", "o_custkey", "customer", "c_custkey"),
    ("customer.c_nationkey->nation.n_nationkey",
     "customer", "c_nationkey", "nation", "n_nationkey"),
    ("supplier.s_nationkey->nation.n_nationkey",
     "supplier", "s_nationkey", "nation", "n_nationkey"),
    ("nation.n_regionkey->region.r_regionkey",
     "nation", "n_regionkey", "region", "r_regionkey"),
)


def q_fk_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential-integrity audit over every foreign-key edge of the
    star schema — the dbt `relationships` test generalized into one
    report (the reference runs one schema test per edge,
    models/staging/schema.yml; this is all edges in one query): per
    edge, child rows, NULL keys, distinct keys, orphan keys and orphan
    rows (child keys with no parent).

    Shape: each edge reduces the child to its DISTINCT-key frame first
    (one hash aggregation — scans push down to the two key columns,
    `ReadSchema` is single-column), then left-anti joins the parent
    keys; small parents (nation/region) broadcast under AQE, large
    parents shuffle key-only frames.  Output is edge-count-sized."""
    tables = load_tables(spark, sf_dir)
    out = None
    for edge, child, fk, parent, pk in _FK_EDGES:
        ck = tables[child].select(F.col(fk).alias("k"))
        totals = ck.agg(
            F.count(F.lit(1)).cast("long").alias("child_rows"),
            F.sum(F.col("k").isNull().cast("long"))
            .cast("long")
            .alias("null_rows"),
        )
        kd = (
            ck.where(F.col("k").isNotNull())
            .groupBy("k")
            .agg(F.count(F.lit(1)).cast("long").alias("rows"))
        )
        nkeys = kd.agg(F.count(F.lit(1)).cast("long").alias("distinct_keys"))
        orphans = kd.join(
            tables[parent].select(F.col(pk).alias("k")).distinct(),
            "k",
            "left_anti",
        ).agg(
            F.count(F.lit(1)).cast("long").alias("orphan_keys"),
            F.coalesce(F.sum("rows"), F.lit(0))
            .cast("long")
            .alias("orphan_rows"),
        )
        row = (
            totals.crossJoin(nkeys)
            .crossJoin(orphans)
            .select(
                F.lit(edge).alias("edge"),
                "child_rows",
                "null_rows",
                "distinct_keys",
                "orphan_keys",
                "orphan_rows",
            )
        )
        out = row if out is None else out.unionByName(row)
    return out


def _sql_fk_audit() -> str:
    legs = []
    for edge, child, fk, parent, pk in _FK_EDGES:
        legs.append(f"""
SELECT '{edge}' AS edge,
       (SELECT CAST(count(*) AS BIGINT) FROM {child}) AS child_rows,
       (SELECT CAST(count(*) AS BIGINT) FROM {child}
        WHERE {fk} IS NULL) AS null_rows,
       (SELECT CAST(count(DISTINCT {fk}) AS BIGINT) FROM {child}
        WHERE {fk} IS NOT NULL) AS distinct_keys,
       (SELECT CAST(count(*) AS BIGINT) FROM
            (SELECT DISTINCT {fk} AS k FROM {child}
             WHERE {fk} IS NOT NULL) c
        WHERE NOT EXISTS (SELECT 1 FROM {parent} p
                          WHERE p.{pk} = c.k)) AS orphan_keys,
       (SELECT CAST(count(*) AS BIGINT) FROM {child} c
        WHERE {fk} IS NOT NULL
          AND NOT EXISTS (SELECT 1 FROM {parent} p
                          WHERE p.{pk} = c.{fk})) AS orphan_rows""")
    return "\nUNION ALL\n".join(legs)


# --- Partition-layout advisor ----------------------------------------------------------

def q_partition_advisor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partition-column advisor over the event stream — the layout half
    of q_encoding_advisor (that one picks column encodings; this picks
    the directory key): per candidate column (event_type / event day /
    user_id), the distinct-value count, rows behind the largest value,
    the skew ratio, and an integer-thresholded verdict — TOO_COARSE
    under 10 values (partitions too big to prune), BUCKET over 10 000
    (small-files explosion — hash-bucket instead), SALT when the
    largest value holds >10× the mean (hot-key partition), PARTITION
    otherwise.

    Shape: ONE scan — `stack` fans each row to its 3 (candidate, value)
    legs map-side, one hash aggregation counts values, a second
    (candidate-count-sized) rolls up the report.  All decisions are
    cross-multiplied integers; only the reported skew ratio divides."""
    ev = load_tables(spark, sf_dir)["events"]
    pairs = ev.select(
        F.expr(
            "stack(3,"
            " 'event_type', CAST(event_type AS STRING),"
            " 'day', CAST(CAST(ts AS DATE) AS STRING),"
            " 'user_id', CAST(user_id AS STRING)"
            ") AS (candidate, val)"
        )
    )
    counts = pairs.groupBy("candidate", "val").agg(
        F.count(F.lit(1)).cast("long").alias("cnt")
    )
    rep = counts.groupBy("candidate").agg(
        F.count(F.lit(1)).cast("long").alias("n_values"),
        F.sum("cnt").cast("long").alias("n_rows"),
        F.max("cnt").cast("long").alias("max_rows"),
    )
    verdict = (
        "CASE WHEN n_values < 10 THEN 'TOO_COARSE'"
        " WHEN n_values > 10000 THEN 'BUCKET'"
        " WHEN max_rows * n_values > 10 * n_rows THEN 'SALT'"
        " ELSE 'PARTITION' END"
    )
    return rep.select(
        "candidate",
        "n_values",
        "n_rows",
        "max_rows",
        _rnd(
            F.col("max_rows") * F.col("n_values")
            / F.col("n_rows").cast("double"),
            6,
        ).alias("skew_ratio"),
        F.expr(verdict).alias("verdict"),
    )


_SQL_PARTITION_ADVISOR = """
WITH pairs AS (
    SELECT 'event_type' AS candidate, CAST(event_type AS VARCHAR) AS val
    FROM events
    UNION ALL
    SELECT 'day', CAST(CAST(ts AS DATE) AS VARCHAR) FROM events
    UNION ALL
    SELECT 'user_id', CAST(user_id AS VARCHAR) FROM events
),
counts AS (
    SELECT candidate, val, CAST(count(*) AS BIGINT) AS cnt
    FROM pairs GROUP BY 1, 2
),
rep AS (
    SELECT candidate,
           CAST(count(*) AS BIGINT) AS n_values,
           CAST(sum(cnt) AS BIGINT) AS n_rows,
           CAST(max(cnt) AS BIGINT) AS max_rows
    FROM counts GROUP BY 1
)
SELECT candidate, n_values, n_rows, max_rows,
       round(1e-9 + max_rows * n_values / CAST(n_rows AS DOUBLE), 6)
           AS skew_ratio,
       CASE WHEN n_values < 10 THEN 'TOO_COARSE'
            WHEN n_values > 10000 THEN 'BUCKET'
            WHEN max_rows * n_values > 10 * n_rows THEN 'SALT'
            ELSE 'PARTITION' END AS verdict
FROM rep"""


# --- Consistent pseudonymization transform ------------------------------------------------

_PSEUDO_VOCAB = ("customer", "user", "key", "order")


def q_pseudonymize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Consistent pseudonymization — the governance TRANSFORM beside the
    k-anon/l-div/t-close audits: every occurrence of a sensitive term is
    replaced by a deterministic surrogate (`ENT_` + md5-prefix of the
    term), so the same entity maps to the same pseudonym corpus-wide
    (joins and frequencies survive; the raw term does not) — the
    standard PII-scrub shape for training corpora, run here on a fixed
    sensitive vocabulary since the synthetic corpus has no regex-able
    PII.  The oracle hash certifies the md5 of the REWRITTEN string.

    Shape: ZERO shuffles — tokens materialize once (higher-order-
    function lesson), the rewrite is one JVM `transform` + CASE per
    token, and the output is per-document.  At 100 TB this is the
    map-only pass it must be."""
    vocab = ", ".join(f"'{t}'" for t in _PSEUDO_VOCAB)
    d = load_tables(spark, sf_dir)["documents"].select(
        "doc_id", T.tokens("text").alias("__w")
    )
    return d.select(
        "doc_id",
        F.size("__w").cast("long").alias("n_tokens"),
        F.expr(
            f"CAST(size(filter(__w, t -> t IN ({vocab}))) AS BIGINT)"
        ).alias("n_replaced"),
        F.md5(
            F.expr(
                f"concat_ws(' ', transform(__w, t -> CASE WHEN t IN ({vocab})"
                " THEN concat('ENT_', substring(md5(t), 1, 8))"
                " ELSE t END))"
            )
        ).alias("pseudo_md5"),
    )


def _sql_pseudonymize() -> str:
    vocab = ", ".join(f"'{t}'" for t in _PSEUDO_VOCAB)
    return rf"""
WITH tokd AS (
    SELECT doc_id,
           list_filter(string_split_regex(text, '\s+'), t -> t <> '') AS w
    FROM documents
)
SELECT doc_id,
       CAST(len(w) AS BIGINT) AS n_tokens,
       CAST(len(list_filter(w, t -> t IN ({vocab}))) AS BIGINT)
           AS n_replaced,
       md5(array_to_string(list_transform(w,
           t -> CASE WHEN t IN ({vocab})
                THEN 'ENT_' || substr(md5(t), 1, 8)
                ELSE t END), ' ')) AS pseudo_md5
FROM tokd"""


# --- Seeded discrete-noise DP histogram -------------------------------------------------

_DP_EPS = 0.5  # two-sided geometric with alpha = exp(-eps)

# ONE textual noise formula over (hv, hv2, n): inverse-CDF geometric
# magnitude from the hash-uniform, hash-bit sign.  ln/floor are per-row
# IEEE — identical bits in both engines over identical integers.
_DP_NOISE = (
    "CAST((CASE WHEN hv2 % 2 = 0 THEN 1 ELSE -1 END)"
    f" * CAST(floor(ln((hv + 1) / 4294967296.0) / (-{_DP_EPS})) AS BIGINT)"
    " AS BIGINT)"
)


def q_dp_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seeded SIMULATION of the ε-DP geometric-mechanism histogram —
    the mechanism q_dp_budget only plans: per event-type cell, the true
    count plus discrete noise (the geometric mechanism, the integer
    Laplace analogue), with magnitude drawn by inverse-CDF from an
    md5-derived uniform and sign from an md5 bit.  NOT a differential-
    privacy guarantee: the noise is a deterministic function of the
    protected cell label itself (anyone can recompute it), which is
    exactly what makes the release reproducible and ORACLE-GATED here.
    A production system must replace the md5-of-label draw with a
    sealed-seed PRNG independent of the data; the output column is
    named ``epsilon_model`` (the parameter the simulation models), not
    ``epsilon``, to keep the schema from overstating the guarantee.

    Exactness: the hash integers are engine-identical (8 hex chars
    rebuilt positionally in the oracle), the magnitude formula is ONE
    shared textual expression (per-row ln/floor doubles are bit-exact
    over identical inputs), and everything reported is BIGINT.  Shape:
    one corpus aggregation to the cell table; noise is per-cell map
    work."""
    ev = load_tables(spark, sf_dir)["events"].where(
        F.col("event_type").isNotNull()
    )
    cells = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    hv = F.conv(
        F.substring(F.md5(F.concat(F.lit("dpn#"), F.col("event_type"))), 1, 8),
        16,
        10,
    ).cast("long")
    hv2 = F.conv(
        F.substring(F.md5(F.concat(F.lit("dps#"), F.col("event_type"))), 1, 8),
        16,
        10,
    ).cast("long")
    noised = cells.select(
        "event_type",
        "n",
        hv.alias("hv"),
        hv2.alias("hv2"),
    ).select(
        "event_type",
        "n",
        F.expr(_DP_NOISE).alias("noise"),
    )
    return noised.select(
        "event_type",
        "n",
        F.greatest(F.lit(0), F.col("n") + F.col("noise"))
        .cast("long")
        .alias("noisy_n"),
        F.abs("noise").cast("long").alias("abs_err"),
        F.lit(_DP_EPS).alias("epsilon_model"),
    )


def _hexval(h: str) -> str:
    """DuckDB lacks base-16 conv; rebuild the 8-hex-digit integer
    positionally (queries_data._HEXVAL's idiom, parameterized)."""
    return " + ".join(
        f"(strpos('0123456789abcdef', substr({h}, {i + 1}, 1)) - 1)"
        f" * {16 ** (7 - i)}"
        for i in range(8)
    )


def _sql_dp_histogram() -> str:
    return f"""
WITH cells AS (
    SELECT event_type, CAST(count(*) AS BIGINT) AS n
    FROM events WHERE event_type IS NOT NULL
    GROUP BY 1
),
hashed AS (
    SELECT event_type, n,
           CAST({_hexval("substr(md5('dpn#' || event_type), 1, 8)")}
                AS BIGINT) AS hv,
           CAST({_hexval("substr(md5('dps#' || event_type), 1, 8)")}
                AS BIGINT) AS hv2
    FROM cells
),
noised AS (
    SELECT event_type, n, {_DP_NOISE} AS noise FROM hashed
)
SELECT event_type, n,
       CAST(greatest(0, n + noise) AS BIGINT) AS noisy_n,
       CAST(abs(noise) AS BIGINT) AS abs_err,
       CAST({_DP_EPS} AS DOUBLE) AS epsilon_model
FROM noised"""


# --- Z-order file-skipping effectiveness ---------------------------------------------

_ZE_FILES_SHIFT = 2   # 8-bit grid >> 2 = 64 linear files
_ZE_Z_SHIFT = 2 * zorder.BITS - 6  # 16-bit z >> 10 = 64 z-order files
# predicate windows as integer percent of each key domain
_ZE_PREDS = (
    (1, 10, 30, 10, 30),
    (2, 40, 60, 0, 100),
    (3, 0, 100, 45, 55),
    (4, 70, 90, 70, 90),
    (5, 25, 35, 25, 35),
)


def q_zorder_effect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-skipping A/B: the measurement that justifies `write_zordered`
    (q_zorder_cells shows the rectangles; this PRICES them): every
    lineitem row is assigned to one of 64 files under (a) a linear
    partkey-range layout and (b) the Morton z-order layout, per-file
    (partkey, suppkey) min/max stats are computed for both, and a fixed
    5-rectangle predicate suite counts files/rows a stats-pruning reader
    must scan under each — the Delta/Iceberg OPTIMIZE-ZORDER decision
    input.

    All integer: grid/interleave are the shared zorder expressions,
    file ids are bit shifts, predicate thresholds derive from the key
    bounds by integer percent arithmetic, and overlap tests are pure
    comparisons.  Shape: ONE corpus pass fans each row to its 2
    (layout, file) legs via `stack`, one hash aggregation builds the
    ≤128-row stats table, and the 5-predicate suite joins THAT — the
    corpus is never rescanned per predicate."""
    li = load_tables(spark, sf_dir)["lineitem"].select(
        "l_partkey", "l_suppkey"
    )
    bounds = li.agg(
        F.min("l_partkey").alias("__xlo"),
        F.max("l_partkey").alias("__xhi"),
        F.min("l_suppkey").alias("__ylo"),
        F.max("l_suppkey").alias("__yhi"),
    )
    g = li.crossJoin(F.broadcast(bounds)).select(
        "l_partkey",
        "l_suppkey",
        zorder.grid_expr("l_partkey", F.col("__xlo"), F.col("__xhi")).alias("xg"),
        zorder.grid_expr("l_suppkey", F.col("__ylo"), F.col("__yhi")).alias("yg"),
    )
    z = g.select(
        "l_partkey",
        "l_suppkey",
        F.shiftright("xg", _ZE_FILES_SHIFT).alias("f_lin"),
        F.shiftright(
            zorder.interleave_expr(F.col("xg"), F.col("yg")),
            _ZE_Z_SHIFT,
        ).alias("f_z"),
    )
    fstats = (
        z.select(
            F.expr(
                "stack(2, 'linear', f_lin, 'zorder', f_z)"
                " AS (layout, file_id)"
            ),
            "l_partkey",
            "l_suppkey",
        )
        .groupBy("layout", "file_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.min("l_partkey").alias("min_pk"),
            F.max("l_partkey").alias("max_pk"),
            F.min("l_suppkey").alias("min_sk"),
            F.max("l_suppkey").alias("max_sk"),
        )
    )
    preds = spark.createDataFrame(
        list(_ZE_PREDS), "pred_id int, xl int, xh int, yl int, yh int"
    )
    pj = (
        fstats.crossJoin(F.broadcast(preds))
        .crossJoin(F.broadcast(bounds))
        .select(
            "pred_id",
            "layout",
            "n_rows",
            (
                (F.col("max_pk")
                 >= F.col("__xlo")
                 + ((F.col("__xhi") - F.col("__xlo")) * F.col("xl"))
                 .cast("long") / 100)
                & (F.col("min_pk")
                   <= F.col("__xlo")
                   + ((F.col("__xhi") - F.col("__xlo")) * F.col("xh"))
                   .cast("long") / 100)
                & (F.col("max_sk")
                   >= F.col("__ylo")
                   + ((F.col("__yhi") - F.col("__ylo")) * F.col("yl"))
                   .cast("long") / 100)
                & (F.col("min_sk")
                   <= F.col("__ylo")
                   + ((F.col("__yhi") - F.col("__ylo")) * F.col("yh"))
                   .cast("long") / 100)
            ).cast("long").alias("hit"),
        )
    )
    agg = pj.groupBy("pred_id").agg(
        F.sum(F.when(F.col("layout") == "linear", F.col("hit")).otherwise(0))
        .cast("long")
        .alias("files_linear"),
        F.sum(
            F.when(F.col("layout") == "linear",
                   F.col("hit") * F.col("n_rows")).otherwise(0)
        )
        .cast("long")
        .alias("rows_linear"),
        F.sum(F.when(F.col("layout") == "zorder", F.col("hit")).otherwise(0))
        .cast("long")
        .alias("files_zorder"),
        F.sum(
            F.when(F.col("layout") == "zorder",
                   F.col("hit") * F.col("n_rows")).otherwise(0)
        )
        .cast("long")
        .alias("rows_zorder"),
    )
    ratio = (
        "CASE WHEN files_zorder = 0 THEN NULL"
        " ELSE files_linear / CAST(files_zorder AS DOUBLE) END"
    )
    return agg.select(
        "pred_id",
        "files_linear",
        "rows_linear",
        "files_zorder",
        "rows_zorder",
        _rnd(F.expr(ratio), 6).alias("linear_over_zorder"),
    )


def _sql_zorder_effect() -> str:
    grid = (
        "CAST(floor(CAST(({c} - {lo}) AS DOUBLE) * {n} / ({hi} - {lo} + 1))"
        " AS BIGINT)"
    )
    xg = grid.format(c="l_partkey", lo="xlo", hi="xhi", n=1 << zorder.BITS)
    yg = grid.format(c="l_suppkey", lo="ylo", hi="yhi", n=1 << zorder.BITS)
    z = " + ".join(
        f"(((xg >> {b}) & 1) << {2 * b}) + (((yg >> {b}) & 1) << {2 * b + 1})"
        for b in range(zorder.BITS)
    )
    preds = "\nUNION ALL\n".join(
        f"SELECT {p} AS pred_id, {xl} AS xl, {xh} AS xh,"
        f" {yl} AS yl, {yh} AS yh"
        for p, xl, xh, yl, yh in _ZE_PREDS
    )
    return f"""
WITH b AS (
    SELECT min(l_partkey) AS xlo, max(l_partkey) AS xhi,
           min(l_suppkey) AS ylo, max(l_suppkey) AS yhi
    FROM lineitem
),
g AS (
    SELECT l_partkey, l_suppkey, {xg} AS xg, {yg} AS yg
    FROM lineitem CROSS JOIN b
),
zz AS (
    SELECT l_partkey, l_suppkey,
           xg >> {_ZE_FILES_SHIFT} AS f_lin,
           ({z}) >> {_ZE_Z_SHIFT} AS f_z
    FROM g
),
fanned AS (
    SELECT 'linear' AS layout, f_lin AS file_id, l_partkey, l_suppkey
    FROM zz
    UNION ALL
    SELECT 'zorder', f_z, l_partkey, l_suppkey FROM zz
),
fstats AS (
    SELECT layout, file_id,
           CAST(count(*) AS BIGINT) AS n_rows,
           min(l_partkey) AS min_pk, max(l_partkey) AS max_pk,
           min(l_suppkey) AS min_sk, max(l_suppkey) AS max_sk
    FROM fanned GROUP BY 1, 2
),
preds AS (
{preds}
),
pj AS (
    SELECT pred_id, layout, n_rows,
           CAST(max_pk >= xlo + CAST((xhi - xlo) * xl AS BIGINT) / 100
            AND min_pk <= xlo + CAST((xhi - xlo) * xh AS BIGINT) / 100
            AND max_sk >= ylo + CAST((yhi - ylo) * yl AS BIGINT) / 100
            AND min_sk <= ylo + CAST((yhi - ylo) * yh AS BIGINT) / 100
            AS BIGINT) AS hit
    FROM fstats CROSS JOIN preds CROSS JOIN b
),
agg AS (
    SELECT pred_id,
           CAST(sum(CASE WHEN layout = 'linear' THEN hit ELSE 0 END)
                AS BIGINT) AS files_linear,
           CAST(sum(CASE WHEN layout = 'linear' THEN hit * n_rows
                    ELSE 0 END) AS BIGINT) AS rows_linear,
           CAST(sum(CASE WHEN layout = 'zorder' THEN hit ELSE 0 END)
                AS BIGINT) AS files_zorder,
           CAST(sum(CASE WHEN layout = 'zorder' THEN hit * n_rows
                    ELSE 0 END) AS BIGINT) AS rows_zorder
    FROM pj GROUP BY 1
)
SELECT pred_id, files_linear, rows_linear, files_zorder, rows_zorder,
       round(1e-9 + (CASE WHEN files_zorder = 0 THEN NULL
             ELSE files_linear / CAST(files_zorder AS DOUBLE) END), 6)
           AS linear_over_zorder
FROM agg"""


# --- Snapshot-retention vacuum plan ----------------------------------------------------

_VACUUM_FILE_TTL_DAYS = 21   # a file is referenced by snapshots for 3 weeks
_VACUUM_KEEP_DAYS = 28       # retention: keep snapshots from the last 4 weeks


def q_vacuum_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot-retention vacuum plan — the GC leg of table maintenance
    (q_compaction_plan rewrites small files; this decides which files an
    EXPIRE SNAPSHOTS may physically delete): daily order "files" are
    referenced by the weekly snapshots of the 21 days after they land
    (then a rewrite drops them from newer snapshots); snapshots older
    than 28 days before the table's head expire; a file is DELETABLE
    iff every snapshot
    referencing it has expired — never derived arithmetically here, but
    by the actual file×snapshot reference join, because that is the
    shape a real manifest walk has (and the TTL model is then swappable
    for real lineage).

    Shape: both sides of the range join are METADATA-sized (≤ #days ×
    ≤ #weeks); the corpus is touched once by the daily aggregation.
    All decisions are date/integer comparisons."""
    orders = load_tables(spark, sf_dir)["orders"]
    files = orders.groupBy(F.to_date("o_orderdate").alias("day")).agg(
        F.count(F.lit(1)).cast("long").alias("sz")
    )
    snaps = files.select(
        F.date_trunc("week", "day").cast("date").alias("snap_day")
    ).distinct()
    head = files.agg(F.max("day").alias("__head"))
    refs = files.join(
        snaps,
        (F.col("snap_day") >= F.col("day"))
        & (
            F.col("snap_day")
            < F.date_add(F.col("day"), _VACUUM_FILE_TTL_DAYS)
        ),
        "left",
    )
    per_file = refs.groupBy("day", "sz").agg(
        F.count("snap_day").cast("long").alias("n_refs"),
        F.max("snap_day").alias("last_ref"),
    )
    return per_file.crossJoin(F.broadcast(head)).select(
        "day",
        "sz",
        "n_refs",
        "last_ref",
        (
            (F.col("n_refs") > 0)
            & (
                F.col("last_ref")
                < F.date_sub(F.col("__head"), _VACUUM_KEEP_DAYS)
            )
        )
        .cast("int")
        .alias("deletable"),
    )


def q_clustering_depth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Clustering-depth audit — the metric OPTIMIZE ZORDER is judged by
    (and the diagnosis q_zorder_effect's before/after numbers explain):
    per day-grain "file" of the orders table, the min/max range of the
    clustering key (o_custkey) and how many OTHER files' ranges overlap
    it.  A date-partitioned table whose files each span the whole key
    domain has depth ≈ #files — every key lookup touches every file;
    after a key-clustered rewrite depth → 1.  The avg_depth ratio rides
    along per row so the report is self-grading.

    Shape: the corpus is touched ONCE by the day-grain min/max
    aggregation; the overlap self-join is METADATA-sized (≤731 calendar
    day-files per side, the documented BNLJ_BOUNDED_OK grain).  Core
    factored to `zorder.interval_overlap_depth` (property-tested vs a
    literal O(n²) overlap count)."""
    from .operators.zorder import interval_overlap_depth

    orders = load_tables(spark, sf_dir)["orders"]
    files = orders.groupBy(F.to_date("o_orderdate").alias("day")).agg(
        F.min("o_custkey").cast("long").alias("min_ck"),
        F.max("o_custkey").cast("long").alias("max_ck"),
        F.count(F.lit(1)).cast("long").alias("n_rows"),
    )
    depth = interval_overlap_depth(files, lo="min_ck", hi="max_ck")
    tot = depth.agg(
        F.sum("depth").cast("long").alias("__sd"),
        F.count(F.lit(1)).cast("long").alias("__nf"),
    )
    return depth.crossJoin(F.broadcast(tot)).select(
        "day",
        "min_ck",
        "max_ck",
        "n_rows",
        "depth",
        _rnd(F.col("__sd") / F.col("__nf").cast("double"), 6).alias(
            "avg_depth"
        ),
    )


_SQL_CLUSTERING_DEPTH = """
WITH files AS (
    SELECT CAST(o_orderdate AS DATE) AS day,
           CAST(min(o_custkey) AS BIGINT) AS min_ck,
           CAST(max(o_custkey) AS BIGINT) AS max_ck,
           CAST(count(*) AS BIGINT) AS n_rows
    FROM orders GROUP BY 1
),
depth AS (
    SELECT a.day, a.min_ck, a.max_ck, a.n_rows,
           CAST(count(*) AS BIGINT) AS depth
    FROM files a JOIN files b
      ON a.min_ck <= b.max_ck AND b.min_ck <= a.max_ck
    GROUP BY 1, 2, 3, 4
),
tot AS (
    SELECT CAST(sum(depth) AS BIGINT) AS sd,
           CAST(count(*) AS BIGINT) AS nf
    FROM depth
)
SELECT day, min_ck, max_ck, n_rows, depth,
       round(1e-9 + sd / CAST(nf AS DOUBLE), 6) AS avg_depth
FROM depth CROSS JOIN tot"""


_SQL_VACUUM_PLAN = f"""
WITH files AS (
    SELECT CAST(o_orderdate AS DATE) AS day,
           CAST(count(*) AS BIGINT) AS sz
    FROM orders GROUP BY 1
),
snaps AS (
    SELECT DISTINCT CAST(date_trunc('week', day) AS DATE) AS snap_day
    FROM files
),
head AS (SELECT max(day) AS head_day FROM files),
refs AS (
    SELECT f.day, f.sz, s.snap_day
    FROM files f
    LEFT JOIN snaps s
      ON s.snap_day >= f.day
     AND s.snap_day < f.day + INTERVAL {_VACUUM_FILE_TTL_DAYS} DAY
),
per_file AS (
    SELECT day, sz,
           CAST(count(snap_day) AS BIGINT) AS n_refs,
           max(snap_day) AS last_ref
    FROM refs GROUP BY 1, 2
)
SELECT day, sz, n_refs, last_ref,
       CAST(n_refs > 0
            AND last_ref < head_day - INTERVAL {_VACUUM_KEEP_DAYS} DAY
            AS INT) AS deletable
FROM per_file, head"""


# --- Bloom-filter sizing advisor ---------------------------------------------------------

_BLOOM_FPP = ((1, "0.01"), (2, "0.001"))  # (grid id, target fpp literal)


def q_bloom_sizing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter sizing advisor — the planning step before
    q_bloom_portable/q_bloom_join ship bits: per join-key column, the
    EXACT distinct count n, and for each target false-positive rate the
    optimal bit count m = ⌈−n·ln(p)/ln(2)²⌉, hash count k =
    max(1, round(m/n·ln 2)), and KiB footprint — the m/k dial every
    engine's bloom-join config exposes.

    Exactness: NDVs are one exact aggregation; the sizing formulas
    evaluate ONE shared textual expression over (n, p) — ln/exp are the
    engine-identical libm calls (the pow lesson does not bite).  Shape:
    one corpus aggregation to 3 NDVs; the grid join is literal-sized."""
    ev = load_tables(spark, sf_dir)["events"]
    ndv = ev.agg(
        F.count_distinct("user_id").cast("long").alias("user_id"),
        F.count_distinct("event_type").cast("long").alias("event_type"),
        F.count_distinct(F.to_date("ts")).cast("long").alias("day"),
    )
    cols = ndv.select(
        F.expr(
            "stack(3, 'user_id', user_id, 'event_type', event_type,"
            " 'day', day) AS (key_col, n)"
        )
    )
    grid = spark.createDataFrame(
        [(i, float(p)) for i, p in _BLOOM_FPP], "fpp_id int, p double"
    )
    m_txt = "CAST(ceil(-(CAST(n AS DOUBLE)) * ln(p) / (ln(2.0) * ln(2.0))) AS BIGINT)"
    out = cols.crossJoin(F.broadcast(grid)).select(
        "key_col",
        "n",
        "fpp_id",
        "p",
        F.expr(m_txt).alias("m_bits"),
    )
    k_txt = (
        "CAST(greatest(1, round(CAST(m_bits AS DOUBLE) / n * ln(2.0)))"
        " AS BIGINT)"
    )
    return out.select(
        "key_col",
        "n",
        "fpp_id",
        "p",
        "m_bits",
        F.expr(k_txt).alias("k_hashes"),
        F.expr("CAST(ceil(m_bits / 8192.0) AS BIGINT)").alias("kib"),
    )


def _sql_bloom_sizing() -> str:
    grid = "\nUNION ALL\n".join(
        f"SELECT {i} AS fpp_id, CAST({p} AS DOUBLE) AS p"
        for i, p in _BLOOM_FPP
    )
    return f"""
WITH ndv AS (
    SELECT CAST(count(DISTINCT user_id) AS BIGINT) AS user_id,
           CAST(count(DISTINCT event_type) AS BIGINT) AS event_type,
           CAST(count(DISTINCT CAST(ts AS DATE)) AS BIGINT) AS day
    FROM events
),
cols AS (
    SELECT 'user_id' AS key_col, user_id AS n FROM ndv
    UNION ALL
    SELECT 'event_type', event_type FROM ndv
    UNION ALL
    SELECT 'day', day FROM ndv
),
grid AS (
{grid}
),
sized AS (
    SELECT key_col, n, fpp_id, p,
           CAST(ceil(-(CAST(n AS DOUBLE)) * ln(p) / (ln(2.0) * ln(2.0)))
                AS BIGINT) AS m_bits
    FROM cols CROSS JOIN grid
)
SELECT key_col, n, fpp_id, p, m_bits,
       CAST(greatest(1, round(CAST(m_bits AS DOUBLE) / n * ln(2.0)))
            AS BIGINT) AS k_hashes,
       CAST(ceil(m_bits / 8192.0) AS BIGINT) AS kib
FROM sized"""


# --- IR ranking evaluation (nDCG@10 / MRR) ----------------------------------------------

_IR_QUERIES = (
    (1, "hash", "join"),
    (2, "table", "scan"),
    (3, "sort", "merge"),
    (4, "stream", "window"),
    (5, "fast", "query"),
)
_IR_K = 10


def q_ndcg_mrr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """nDCG@10 + MRR evaluation of the BM25 ranking — the IR-eval leg
    the retrieval family (q_bm25 / q_inverted_index / q_rrf_fusion) was
    missing: five two-term queries score the corpus, graded relevance =
    how many query terms the document contains (0/1/2), and each query
    reports its top-10 DCG against the ideal ordering plus the
    reciprocal rank of the first fully-relevant hit.

    Scale & exactness: per-term BM25 contributions quantize to 1e-6
    micro-units so the per-(query, doc) score is a BIGINT (double sums
    across terms would be order-dependent); ranking ties break on
    doc_id; top-10 selection is TWO-STAGE (per-shard top-10 windows,
    then a global top-10 over ≤ 32·10 survivors per query — the
    pattern that survives a 100 TB candidate set where one
    window-per-query would hot-spot); every DCG/IDCG term quantizes to
    1e-9 nano-units before summing (≤10-row sums, still kept integer);
    the log2 discount is ln(x)/ln(2.0) — ln is engine-identical, log2
    (like pow) is not guaranteed to be."""
    docs = load_tables(spark, sf_dir)["documents"].select("doc_id", "text")
    tok = docs.select(
        "doc_id", T.tokens("text").alias("__w")
    ).persist()  # feeds dl AND tf
    dl = tok.select("doc_id", F.size("__w").cast("long").alias("dl"))
    all_terms = sorted({t for _, a, b in _IR_QUERIES for t in (a, b)})
    tf = (
        tok.select("doc_id", F.explode("__w").alias("term"))
        .where(F.col("term").isin(*all_terms))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    stats = dl.agg(
        F.count(F.lit(1)).alias("n_docs"), F.avg("dl").alias("avgdl")
    )
    contrib = (
        F.log(
            (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)
            + 1.0
        )
        * (F.col("tf") * 2.2)
        / (F.col("tf") + 1.2 * (0.25 + 0.75 * F.col("dl") / F.col("avgdl")))
    )
    per_term = (
        tf.join(F.broadcast(dfreq), "term")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .select(
            "doc_id",
            "term",
            F.round(contrib * 1000000).cast("long").alias("c_micro"),
        )
    )
    queries = spark.createDataFrame(
        list(_IR_QUERIES), "qid int, t1 string, t2 string"
    )
    cand = (
        per_term.join(
            F.broadcast(queries),
            (F.col("term") == F.col("t1")) | (F.col("term") == F.col("t2")),
        )
        .groupBy("qid", "doc_id")
        .agg(
            F.sum("c_micro").cast("long").alias("score_micro"),
            F.count(F.lit(1)).cast("long").alias("rel"),
        )
        .persist()  # feeds the top-k chain AND the n1/n2 totals
    )
    w_shard = Window.partitionBy(
        "qid", F.pmod(F.col("doc_id"), F.lit(32))
    ).orderBy(F.desc("score_micro"), F.asc("doc_id"))
    survivors = cand.withColumn(
        "__r", F.row_number().over(w_shard)
    ).where(F.col("__r") <= _IR_K)
    w_q = Window.partitionBy("qid").orderBy(
        F.desc("score_micro"), F.asc("doc_id")
    )
    top = (
        survivors.withColumn("rank", F.row_number().over(w_q))
        .where(F.col("rank") <= _IR_K)
    )
    log2r = "ln(rank + 1.0) / ln(2.0)"
    dcg = top.groupBy("qid").agg(
        F.sum(
            F.expr(
                "CAST(round((CASE WHEN rel >= 2 THEN 3 ELSE 1 END)"
                f" * 1e9 / ({log2r})) AS BIGINT)"
            )
        )
        .cast("long")
        .alias("dcg_nano"),
        F.min(F.when(F.col("rel") >= 2, F.col("rank")))
        .cast("long")
        .alias("best_rank2"),
    )
    totals = cand.groupBy("qid").agg(
        F.count(F.lit(1)).cast("long").alias("n_candidates"),
        F.sum((F.col("rel") >= 2).cast("long")).cast("long").alias("n2"),
        F.sum((F.col("rel") == 1).cast("long")).cast("long").alias("n1"),
    )
    ranks = spark.range(1, _IR_K + 1).select(
        F.col("id").cast("int").alias("rank")
    )
    ideal = (
        totals.crossJoin(F.broadcast(ranks))
        .select(
            "qid",
            F.expr(
                "CASE WHEN rank <= least(10, n2) THEN 3"
                " WHEN rank <= least(10, n2 + n1) THEN 1 ELSE 0 END"
            ).alias("gain"),
            "rank",
        )
        .groupBy("qid")
        .agg(
            F.sum(
                F.expr(f"CAST(round(gain * 1e9 / ({log2r})) AS BIGINT)")
            )
            .cast("long")
            .alias("idcg_nano"),
        )
    )
    out = totals.join(dcg, "qid").join(ideal, "qid")
    return out.select(
        "qid",
        "n_candidates",
        "n2",
        "n1",
        "best_rank2",
        _rnd(
            F.expr(
                "CASE WHEN best_rank2 IS NULL THEN 0.0"
                " ELSE 1.0 / best_rank2 END"
            ),
            6,
        ).alias("rr"),
        _rnd(
            F.expr(
                "CASE WHEN idcg_nano = 0 THEN NULL"
                " ELSE dcg_nano / CAST(idcg_nano AS DOUBLE) END"
            ),
            6,
        ).alias("ndcg10"),
    )


def _sql_ndcg_mrr() -> str:
    all_terms = sorted({t for _, a, b in _IR_QUERIES for t in (a, b)})
    terms_in = ", ".join(f"'{t}'" for t in all_terms)
    qrows = "\nUNION ALL\n".join(
        f"SELECT {q} AS qid, '{a}' AS t1, '{b}' AS t2"
        for q, a, b in _IR_QUERIES
    )
    log2r = "ln(rank + 1.0) / ln(2.0)"
    return rf"""
WITH tok AS (
    SELECT doc_id,
           list_filter(string_split_regex(text, '\s+'), t -> t <> '') AS w
    FROM documents
),
dl AS (SELECT doc_id, CAST(len(w) AS BIGINT) AS dl FROM tok),
tf AS (
    SELECT doc_id, term, count(*) AS tf
    FROM (SELECT doc_id, unnest(w) AS term FROM tok)
    WHERE term IN ({terms_in})
    GROUP BY 1, 2
),
dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
stats AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM dl),
per_term AS (
    SELECT t.doc_id, t.term,
           CAST(round(
               ln((s.n_docs - d.df + 0.5) / (d.df + 0.5) + 1.0)
               * (t.tf * 2.2)
               / (t.tf + 1.2 * (0.25 + 0.75 * l.dl / s.avgdl))
               * 1000000) AS BIGINT) AS c_micro
    FROM tf t
    JOIN dfreq d USING (term)
    JOIN dl l USING (doc_id)
    CROSS JOIN stats s
),
queries AS (
{qrows}
),
cand AS (
    SELECT q.qid, p.doc_id,
           CAST(sum(p.c_micro) AS BIGINT) AS score_micro,
           CAST(count(*) AS BIGINT) AS rel
    FROM per_term p
    JOIN queries q ON p.term = q.t1 OR p.term = q.t2
    GROUP BY 1, 2
),
top AS (
    SELECT qid, doc_id, rel,
           row_number() OVER (PARTITION BY qid
               ORDER BY score_micro DESC, doc_id ASC) AS rank
    FROM cand
),
dcg AS (
    SELECT qid,
           CAST(sum(CAST(round((CASE WHEN rel >= 2 THEN 3 ELSE 1 END)
                * 1e9 / ({log2r})) AS BIGINT)) AS BIGINT) AS dcg_nano,
           min(CASE WHEN rel >= 2 THEN rank END) AS best_rank2
    FROM top WHERE rank <= {_IR_K}
    GROUP BY 1
),
totals AS (
    SELECT qid,
           CAST(count(*) AS BIGINT) AS n_candidates,
           CAST(sum(CASE WHEN rel >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n2,
           CAST(sum(CASE WHEN rel = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1
    FROM cand GROUP BY 1
),
ideal AS (
    SELECT t.qid,
           CAST(sum(CAST(round(
               (CASE WHEN r.rank <= least(10, t.n2) THEN 3
                     WHEN r.rank <= least(10, t.n2 + t.n1) THEN 1
                     ELSE 0 END) * 1e9 / ({log2r})) AS BIGINT))
               AS BIGINT) AS idcg_nano
    FROM totals t
    CROSS JOIN (SELECT unnest(range(1, {_IR_K} + 1)) AS rank) r
    GROUP BY 1
)
SELECT t.qid, t.n_candidates, t.n2, t.n1, d.best_rank2,
       round(1e-9 + (CASE WHEN d.best_rank2 IS NULL THEN 0.0
             ELSE 1.0 / d.best_rank2 END), 6) AS rr,
       round(1e-9 + (CASE WHEN i.idcg_nano = 0 THEN NULL
             ELSE d.dcg_nano / CAST(i.idcg_nano AS DOUBLE) END), 6)
           AS ndcg10
FROM totals t JOIN dcg d USING (qid) JOIN ideal i USING (qid)"""


# --- Right-to-be-forgotten deletion-scope plan --------------------------------------------

_RTBF_MOD = 97  # deterministic request cohort: key % 97 == 0


def q_rtbf_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Right-to-be-forgotten deletion-scope planner — the GDPR leg of
    governance (audits say who is exposed; q_pseudonymize scrubs;
    this PRICES a hard delete): for a deterministic request cohort
    (key % 97 = 0), per fact table the matched rows, the day-partitions
    they touch, and the rewrite amplification — total rows living in
    touched partitions per deleted row, the number that decides between
    partition rewrite and merge-on-read deletes.

    Shape: per table ONE aggregation to the day grain computes total
    and to-delete counts together (no second scan, no join); the
    roll-up is partition-count-sized.  All integers until the one
    amplification division."""
    t = load_tables(spark, sf_dir)
    specs = (
        ("events", t["events"].select(
            F.to_date("ts").alias("part"),
            F.col("user_id").alias("key"),
        )),
        ("orders", t["orders"].select(
            F.to_date("o_orderdate").alias("part"),
            F.col("o_custkey").alias("key"),
        )),
    )
    out = None
    for name, rows in specs:
        per_part = rows.groupBy("part").agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.sum(
                (F.pmod(F.col("key"), F.lit(_RTBF_MOD)) == 0).cast("long")
            )
            .cast("long")
            .alias("n_del"),
        )
        leg = per_part.agg(
            F.lit(name).alias("table_name"),
            F.sum("n_rows").cast("long").alias("total_rows"),
            F.sum("n_del").cast("long").alias("rows_to_delete"),
            F.count(F.lit(1)).cast("long").alias("partitions_total"),
            F.sum((F.col("n_del") > 0).cast("long"))
            .cast("long")
            .alias("partitions_touched"),
            F.sum(F.when(F.col("n_del") > 0, F.col("n_rows")).otherwise(0))
            .cast("long")
            .alias("rows_rewritten"),
        )
        out = leg if out is None else out.unionByName(leg)
    amp = (
        "CASE WHEN rows_to_delete = 0 THEN NULL"
        " ELSE rows_rewritten / CAST(rows_to_delete AS DOUBLE) END"
    )
    return out.select(
        "table_name",
        "total_rows",
        "rows_to_delete",
        "partitions_total",
        "partitions_touched",
        "rows_rewritten",
        _rnd(F.expr(amp), 6).alias("amplification"),
    )


def _sql_rtbf_plan() -> str:
    legs = []
    for name, part, key in (
        ("events", "CAST(ts AS DATE)", "user_id"),
        ("orders", "CAST(o_orderdate AS DATE)", "o_custkey"),
    ):
        legs.append(f"""
SELECT '{name}' AS table_name,
       CAST(sum(n_rows) AS BIGINT) AS total_rows,
       CAST(sum(n_del) AS BIGINT) AS rows_to_delete,
       CAST(count(*) AS BIGINT) AS partitions_total,
       CAST(sum(CASE WHEN n_del > 0 THEN 1 ELSE 0 END) AS BIGINT)
           AS partitions_touched,
       CAST(sum(CASE WHEN n_del > 0 THEN n_rows ELSE 0 END) AS BIGINT)
           AS rows_rewritten,
       round(1e-9 + (CASE WHEN sum(n_del) = 0 THEN NULL
             ELSE sum(CASE WHEN n_del > 0 THEN n_rows ELSE 0 END)
                  / CAST(sum(n_del) AS DOUBLE) END), 6) AS amplification
FROM (
    SELECT {part} AS part,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(CASE WHEN {key} % {_RTBF_MOD} = 0 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_del
    FROM {name} GROUP BY 1
)""")
    return "\nUNION ALL\n".join(legs)


# --- kNN label-propagation accuracy ---------------------------------------------------

_KNN_K = 5
_KNN_CLASSES = 3  # deterministic label: vec_id % 3
_KNN_FOLD = 10    # held-out fold: vec_id % 10 == 0


def q_knn_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """kNN label-propagation accuracy — the classification eval the
    embedding family needs beside retrieval recall (q_ann_recall grades
    the INDEX; this grades what the neighbors are FOR): a held-out 10%
    fold is classified by majority vote of its 5 nearest train vectors
    (cosine), per-class accuracy reported — the standard probe for
    "does this embedding space separate my labels".

    Shape: queries are the FOLD (broadcast), corpus is the train split
    — one linear scan per batch, the documented exhaustive-scorer
    shape whose 100 TB serving path is IVF/PQ; votes and the winner
    pick are ≤k-row windows per query.  Ties: neighbor rank breaks on
    (sim desc, id asc) — per-row cosine doubles are engine-identical —
    and the vote breaks on (count desc, label asc).  Labels are
    deterministic id arithmetic so the eval is self-contained."""
    from .operators.similarity import brute_force_knn

    emb = load_tables(spark, sf_dir)["embeddings"].select(
        "vec_id", "embedding"
    )
    fold = emb.where(F.pmod(F.col("vec_id"), F.lit(_KNN_FOLD)) == 0)
    train = emb.where(F.pmod(F.col("vec_id"), F.lit(_KNN_FOLD)) != 0)
    knn = brute_force_knn(fold, train, k=_KNN_K)
    votes = knn.groupBy(
        "query_id",
        F.pmod(F.col("neighbor_id"), F.lit(_KNN_CLASSES)).alias("pred"),
    ).agg(F.count(F.lit(1)).alias("cnt"))
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cnt"), F.asc("pred")
    )
    picked = (
        votes.withColumn("__r", F.row_number().over(w))
        .where(F.col("__r") == 1)
        .select("query_id", "pred")
    )
    return (
        picked.groupBy(
            F.pmod(F.col("query_id"), F.lit(_KNN_CLASSES)).cast("int")
            .alias("true_label")
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_queries"),
            F.sum(
                (
                    F.col("pred")
                    == F.pmod(F.col("query_id"), F.lit(_KNN_CLASSES))
                ).cast("long")
            )
            .cast("long")
            .alias("n_correct"),
        )
        .select(
            "true_label",
            "n_queries",
            "n_correct",
            _rnd(
                F.col("n_correct") / F.col("n_queries").cast("double"), 6
            ).alias("accuracy"),
        )
    )


_SQL_KNN_CLASSIFY = f"""
WITH q AS (
    SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS v
    FROM embeddings WHERE vec_id % {_KNN_FOLD} = 0
),
c AS (
    SELECT vec_id AS neighbor_id, CAST(embedding AS DOUBLE[]) AS v
    FROM embeddings WHERE vec_id % {_KNN_FOLD} <> 0
),
knn AS (
    SELECT query_id, neighbor_id FROM (
        SELECT q.query_id, c.neighbor_id, row_number() OVER (
            PARTITION BY q.query_id
            ORDER BY list_sum(list_transform(range(1, len(q.v) + 1),
                        i -> q.v[i] * c.v[i]))
                     / (sqrt(list_sum(list_transform(range(1, len(q.v) + 1),
                        i -> q.v[i] * q.v[i])))
                     * sqrt(list_sum(list_transform(range(1, len(q.v) + 1),
                        i -> c.v[i] * c.v[i])))) DESC,
                     c.neighbor_id ASC) AS rn
        FROM q CROSS JOIN c
    ) WHERE rn <= {_KNN_K}
),
votes AS (
    SELECT query_id, neighbor_id % {_KNN_CLASSES} AS pred,
           count(*) AS cnt
    FROM knn GROUP BY 1, 2
),
picked AS (
    SELECT query_id, pred FROM (
        SELECT query_id, pred, row_number() OVER (
            PARTITION BY query_id ORDER BY cnt DESC, pred ASC) AS r
        FROM votes
    ) WHERE r = 1
)
SELECT CAST(query_id % {_KNN_CLASSES} AS INT) AS true_label,
       CAST(count(*) AS BIGINT) AS n_queries,
       CAST(sum(CASE WHEN pred = query_id % {_KNN_CLASSES}
                THEN 1 ELSE 0 END) AS BIGINT) AS n_correct,
       round(1e-9 + sum(CASE WHEN pred = query_id % {_KNN_CLASSES}
             THEN 1 ELSE 0 END) / CAST(count(*) AS DOUBLE), 6) AS accuracy
FROM picked GROUP BY 1"""


# --- Kaplan–Meier survival curve ----------------------------------------------------

def q_survival_km(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan–Meier view→purchase conversion curve — the censoring-aware
    time-to-event analysis q_time_to_convert's quartiles can't give:
    users who never purchase are CENSORED at the corpus horizon instead
    of dropped, so S(t) is an unbiased "still unconverted after t days"
    curve (the product-limit estimator, the survival-analysis
    workhorse).

    Exactness: the at-risk count n_t comes from the duration CDF
    (one aggregation; n_t = N − #users with duration < t); each step's
    ln(1 − d_t/n_t) is a per-row IEEE double (engine-identical)
    quantized to 1e-9 nano-units, and the product folds as a running
    BIGINT sum over the ≤ #days distinct-duration frame — exact
    regardless of physical order — with S(t) = exp(cum/1e9) evaluated
    identically by both engines.  A step with d_t = n_t (everyone
    remaining converts) zeroes the curve explicitly rather than passing
    ln(0) (Spark NULL vs DuckDB -inf)."""
    ev = load_tables(spark, sf_dir)["events"].where(
        F.col("user_id").isNotNull() & F.col("ts").isNotNull()
    )
    per_user = ev.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "view", F.to_date("ts")))
        .alias("first_view"),
        F.min(F.when(F.col("event_type") == "purchase", F.to_date("ts")))
        .alias("first_buy"),
    ).where(F.col("first_view").isNotNull())
    horizon = ev.agg(F.max(F.to_date("ts")).alias("__h"))
    durations = per_user.crossJoin(F.broadcast(horizon)).select(
        F.when(
            F.col("first_buy") >= F.col("first_view"),
            F.datediff(F.col("first_buy"), F.col("first_view")),
        )
        .otherwise(F.datediff(F.col("__h"), F.col("first_view")))
        .cast("long")
        .alias("t"),
        (
            F.col("first_buy").isNotNull()
            & (F.col("first_buy") >= F.col("first_view"))
        )
        .cast("long")
        .alias("event"),
    )
    per_t = durations.groupBy("t").agg(
        F.count(F.lit(1)).cast("long").alias("n_at"),
        F.sum("event").cast("long").alias("d"),
    )
    tot = per_t.agg(F.sum("n_at").cast("long").alias("n_total"))
    w_lt = Window.orderBy("t").rowsBetween(
        Window.unboundedPreceding, -1
    )
    steps = per_t.crossJoin(F.broadcast(tot)).select(
        "t",
        "d",
        (F.col("n_at") - F.col("d")).alias("censored"),
        (
            F.col("n_total")
            - F.coalesce(F.sum("n_at").over(w_lt), F.lit(0))
        )
        .cast("long")
        .alias("n_risk"),
    )
    step_nano = (
        "CASE WHEN d = 0 THEN CAST(0 AS BIGINT)"
        " WHEN d >= n_risk THEN CAST(NULL AS BIGINT)"
        " ELSE CAST(round(ln(1.0 - d / CAST(n_risk AS DOUBLE)) * 1e9)"
        " AS BIGINT) END"
    )
    w_le = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, 0)
    curve = steps.select(
        "t",
        "n_risk",
        "d",
        "censored",
        F.expr(step_nano).alias("__ln"),
    ).select(
        "t",
        "n_risk",
        "d",
        "censored",
        F.sum("__ln").over(w_le).alias("__cum"),
        F.max((F.col("__ln").isNull() & (F.col("d") > 0)).cast("int"))
        .over(w_le)
        .alias("__dead"),
    )
    return curve.select(
        "t",
        "n_risk",
        "d",
        "censored",
        _rnd(
            F.expr(
                "CASE WHEN __dead = 1 THEN 0.0"
                " ELSE exp(__cum / 1e9) END"
            ),
            6,
        ).alias("s_km"),
    )


_SQL_SURVIVAL_KM = """
WITH ev AS (
    SELECT user_id, event_type, CAST(ts AS DATE) AS day
    FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
),
per_user AS (
    SELECT user_id,
           min(CASE WHEN event_type = 'view' THEN day END) AS first_view,
           min(CASE WHEN event_type = 'purchase' THEN day END) AS first_buy
    FROM ev GROUP BY 1
),
horizon AS (SELECT max(day) AS h FROM ev),
durations AS (
    SELECT CAST(CASE WHEN first_buy >= first_view
                THEN date_diff('day', first_view, first_buy)
                ELSE date_diff('day', first_view, h) END AS BIGINT) AS t,
           CAST(first_buy IS NOT NULL AND first_buy >= first_view
                AS BIGINT) AS event
    FROM per_user, horizon
    WHERE first_view IS NOT NULL
),
per_t AS (
    SELECT t, CAST(count(*) AS BIGINT) AS n_at,
           CAST(sum(event) AS BIGINT) AS d
    FROM durations GROUP BY 1
),
tot AS (SELECT CAST(sum(n_at) AS BIGINT) AS n_total FROM per_t),
steps AS (
    SELECT t, d, (n_at - d) AS censored,
           CAST(n_total - coalesce(sum(n_at) OVER (ORDER BY t
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                AS BIGINT) AS n_risk
    FROM per_t, tot
),
lns AS (
    SELECT t, n_risk, d, censored,
           CASE WHEN d = 0 THEN CAST(0 AS BIGINT)
                WHEN d >= n_risk THEN CAST(NULL AS BIGINT)
                ELSE CAST(round(ln(1.0 - d / CAST(n_risk AS DOUBLE)) * 1e9)
                     AS BIGINT) END AS ln_nano
    FROM steps
),
curve AS (
    SELECT t, n_risk, d, censored,
           sum(ln_nano) OVER (ORDER BY t
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
           max(CASE WHEN ln_nano IS NULL AND d > 0 THEN 1 ELSE 0 END)
               OVER (ORDER BY t
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS dead
    FROM lns
)
SELECT t, n_risk, d, censored,
       round(1e-9 + (CASE WHEN dead = 1 THEN 0.0
             ELSE exp(cum / 1e9) END), 6) AS s_km
FROM curve"""


# --- k-core decomposition (fixed-k, unrolled peel) ---------------------------------------

_KCORE_K = 12
_KCORE_ROUNDS = 8


def q_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """12-core of the HEAVY-TRAFFIC zone backbone — the cohesion census
    beside degree/triangles/PageRank: the raw zone graph is near-
    complete (every k is trivial there), so the graph first reduces to
    its backbone (edges with above-mean trip count — an exact
    cross-multiplied integer test), then nodes of backbone-degree < 12
    peel repeatedly; what survives is the load-bearing cluster the
    periphery hangs off.

    Like q_kmeans_cells' unrolled Lloyd's, the peel is a FIXED 8-round
    unroll (both engines run the identical rounds; on a ≤#zones graph 8
    rounds reaches the fixpoint — asserted by the pytest's replay — and
    the unroll keeps the plan static and the oracle expressible).  Each
    round is one semi-join of the edge table against the surviving
    nodes + one degree aggregation — edge-table-sized work.  Output:
    surviving zones with their final in-core degree."""
    from .plans import nyc_views, staging

    li = staging.stg_taxi_trips(
        nyc_views.trips_from_events(load_tables(spark, sf_dir)["events"])
    )
    cnt = (
        li.select(
            F.least("pickup_zone_id", "dropoff_zone_id").alias("a"),
            F.greatest("pickup_zone_id", "dropoff_zone_id").alias("b"),
        )
        .where(F.col("a") != F.col("b"))
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )
    tot = cnt.agg(
        F.sum("cnt").cast("long").alias("__tc"),
        F.count(F.lit(1)).cast("long").alias("__ne"),
    )
    e = (
        cnt.crossJoin(F.broadcast(tot))
        .where(F.col("cnt") * F.col("__ne") > F.col("__tc"))
        .select("a", "b")
    )
    # undirected simple edges, canonical a < b, then both directions.
    # localCheckpoint DISCIPLINE (the connected-components lesson): the
    # edge table is checkpointed once and the survivor set once per
    # round — without it every round's plan embeds the previous round's
    # whole join tree and analysis time goes exponential (measured:
    # 372 s → ~5 s for the identical result).  Both frames are
    # zone-graph-sized, so the eager materialization is metadata cost.
    und = e.select(
        F.least("a", "b").alias("a"), F.greatest("a", "b").alias("b")
    ).distinct()
    both = und.unionByName(
        und.select(F.col("b").alias("a"), F.col("a").alias("b"))
    ).localCheckpoint()
    nodes = both.select(F.col("a").alias("node")).distinct()
    for _ in range(_KCORE_ROUNDS):
        deg = (
            both.join(F.broadcast(nodes.select(F.col("node").alias("a"))),
                      "a")
            .join(F.broadcast(nodes.select(F.col("node").alias("b"))), "b")
            .groupBy("a")
            .agg(F.count(F.lit(1)).cast("long").alias("deg"))
        )
        nodes = deg.where(F.col("deg") >= _KCORE_K).select(
            F.col("a").alias("node")
        ).localCheckpoint()
    final = (
        both.join(F.broadcast(nodes.select(F.col("node").alias("a"))), "a")
        .join(F.broadcast(nodes.select(F.col("node").alias("b"))), "b")
        .groupBy(F.col("a").cast("long").alias("zone_id"))
        .agg(F.count(F.lit(1)).cast("long").alias("core_degree"))
    )
    return final


def _sql_kcore() -> str:
    from .plans.nyc_views import SQL_TRIPS
    from .plans.staging import SQL_STG_TRIPS

    base = (
        "WITH "
        + SQL_TRIPS.strip().rstrip(",")
        + ",\n"
        + SQL_STG_TRIPS.strip().rstrip(",")
        + """,
cnt AS MATERIALIZED (
    SELECT least(pickup_zone_id, dropoff_zone_id) AS a,
           greatest(pickup_zone_id, dropoff_zone_id) AS b,
           CAST(count(*) AS BIGINT) AS cnt
    FROM stg_trips WHERE pickup_zone_id <> dropoff_zone_id
    GROUP BY 1, 2
),
tot AS (
    SELECT CAST(sum(cnt) AS BIGINT) AS tc,
           CAST(count(*) AS BIGINT) AS ne
    FROM cnt
),
und AS MATERIALIZED (
    SELECT a, b FROM cnt, tot WHERE cnt * ne > tc
),
both_e AS MATERIALIZED (
    SELECT a, b FROM und UNION ALL SELECT b, a FROM und
),
n0 AS MATERIALIZED (SELECT DISTINCT a AS node FROM both_e)"""
    )
    rounds = []
    prev = "n0"
    for i in range(1, _KCORE_ROUNDS + 1):
        # MATERIALIZED is load-bearing: DuckDB inlines plain CTEs, and
        # each round references the previous one TWICE — unmaterialized,
        # the trips pipeline re-expands 2^rounds times (measured ~100 s
        # oracle-side; materialized it's instant)
        rounds.append(f""",
d{i} AS MATERIALIZED (
    SELECT e.a, CAST(count(*) AS BIGINT) AS deg
    FROM both_e e
    JOIN {prev} x ON e.a = x.node
    JOIN {prev} y ON e.b = y.node
    GROUP BY 1
),
n{i} AS MATERIALIZED (SELECT a AS node FROM d{i}
    WHERE deg >= {_KCORE_K})""")
        prev = f"n{i}"
    return base + "".join(rounds) + f"""
SELECT e.a AS zone_id, CAST(count(*) AS BIGINT) AS core_degree
FROM both_e e
JOIN {prev} x ON e.a = x.node
JOIN {prev} y ON e.b = y.node
GROUP BY 1"""


_LPA_ROUNDS = 4


def q_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Label-propagation communities (Raghavan et al. 2007) on the
    heavy-traffic zone backbone — the community census beside
    connectivity (CC), cohesion (k-core), and centrality (PageRank):
    every node starts as its own label; each SYNCHRONOUS round a node
    adopts its neighbors' most frequent label (exact integer counts,
    ties to the SMALLEST label — no randomness, so both engines replay
    identical rounds).  Fixed {_LPA_ROUNDS}-round unroll, the q_kcore
    discipline: per round one edge⋈label join + one (node, label) count
    + one per-node top-1, each frame zone-graph-sized and
    localCheckpointed so round plans stay flat.  Core factored to
    `graph.label_propagation` (property-tested vs a literal synchronous
    replay on random graphs).  Output: one row per surviving community
    with its size and smallest member."""
    from .plans import nyc_views, staging

    li = staging.stg_taxi_trips(
        nyc_views.trips_from_events(load_tables(spark, sf_dir)["events"])
    )
    # top-40 heaviest corridors (vs q_kcore's above-mean cut): the mean
    # cut is one dense blob that LPA collapses to a single label in
    # round 1, and a mean MULTIPLE empties out as the weight distribution
    # flattens with scale — a fixed-K heaviest-edge backbone is
    # scale-stable AND separated (13 communities at sf0.001, 12 at
    # sf0.01, 7 at sf0.1).
    _und, both = _corridor_backbone(li, 40)
    labels = graph.label_propagation(
        both, rounds=_LPA_ROUNDS, src="a", dst="b"
    )
    return labels.groupBy(F.col("lab").cast("long").alias("community")).agg(
        F.count(F.lit(1)).cast("long").alias("n_nodes"),
        F.min("node").cast("long").alias("min_node"),
    )


def _sql_label_propagation() -> str:
    from .plans.nyc_views import SQL_TRIPS
    from .plans.staging import SQL_STG_TRIPS

    base = (
        "WITH "
        + SQL_TRIPS.strip().rstrip(",")
        + ",\n"
        + SQL_STG_TRIPS.strip().rstrip(",")
        + _sql_backbone_ctes(40)
        + """,
l0 AS MATERIALIZED (
    SELECT DISTINCT a AS node, a AS lab FROM both_e
)"""
    )
    rounds = []
    prev = "l0"
    for i in range(1, _LPA_ROUNDS + 1):
        # MATERIALIZED per round — the q_kcore DuckDB-inlining lesson
        rounds.append(f""",
c{i} AS MATERIALIZED (
    SELECT e.a AS node, l.lab, CAST(count(*) AS BIGINT) AS c
    FROM both_e e JOIN {prev} l ON l.node = e.b
    GROUP BY 1, 2
),
l{i} AS MATERIALIZED (
    SELECT node, lab FROM (
        SELECT node, lab, row_number() OVER (
            PARTITION BY node ORDER BY c DESC, lab ASC) AS rn
        FROM c{i}) WHERE rn = 1
)""")
        prev = f"l{i}"
    return base + "".join(rounds) + f"""
SELECT lab AS community, CAST(count(*) AS BIGINT) AS n_nodes,
       CAST(min(node) AS BIGINT) AS min_node
FROM {prev} GROUP BY 1"""


def q_morans_i(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Moran's I spatial autocorrelation of zone demand over the top-40
    corridor backbone — the spatial-statistics reading of the graph the
    community (LPA), cohesion (k-core), and centrality (PageRank)
    queries share: do high-demand zones neighbor high-demand zones
    (I → +1), anti-cluster (I → −1), or tile randomly (I ≈ E[I] =
    −1/(n−1))?

    I = (n/W) · Σ_ij w_ij·d_i·d_j / Σ_i d_i² with binary symmetric
    weights (w_ij = 1 on a backbone edge) and d_i the demand deviation.
    Exactness: deviations stay on the integer lattice as n·x_i − S
    (clearing the mean's division), so numerator and denominator are
    exact sums — the n² scale cancels in the ratio; ONE division at the
    end.  The two deviation-product sums run in DECIMAL(38,0) (oracle:
    HUGEINT) because d·d leaves int64 once n·max_zone_demand > ~3e9 and
    Spark's non-ANSI long sum would wrap SILENTLY where DuckDB errors;
    the decimal bound |d| < 1e19 holds past any real corpus
    (n ≤ 80 here).  Shape: two corpus-grain
    aggregations (corridor pair counts, per-zone pickup counts);
    everything after is ≤80-row backbone metadata."""
    from .plans import nyc_views, staging

    li = staging.stg_taxi_trips(
        nyc_views.trips_from_events(load_tables(spark, sf_dir)["events"])
    )
    _und, both = _corridor_backbone(li, 40)
    nodes = both.select(F.col("a").alias("zone")).distinct()
    x = li.groupBy(F.col("pickup_zone_id").alias("zone")).agg(
        F.count(F.lit(1)).cast("long").alias("x")
    )
    nx = nodes.join(x, "zone", "left").select(
        "zone", F.coalesce("x", F.lit(0)).cast("long").alias("x")
    )
    tot = nx.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").cast("long").alias("s"),
    )
    dev = nx.crossJoin(F.broadcast(tot)).select(
        "zone", (F.col("n") * F.col("x") - F.col("s")).alias("d")
    ).localCheckpoint()
    da = dev.select(F.col("zone").alias("a"), F.col("d").alias("da"))
    db = dev.select(F.col("zone").alias("b"), F.col("d").alias("db"))
    # Deviation products as DECIMAL(38,0) (oracle: HUGEINT): |d| ≤
    # n·max_x fits int64 far past 100 TB, but d·d does NOT once
    # n·max_zone_demand > ~3e9 — int64 would wrap SILENTLY under
    # Spark's non-ANSI sums while DuckDB errors, a quiet divergence.
    # Decimal sums are exact to 1e38 (bound now |d| < 1e19) and the
    # frames are ≤80-row backbone metadata, so the cost is nil.
    d_dec = F.col("da").cast("decimal(19,0)") * F.col("db").cast(
        "decimal(19,0)"
    )
    num = both.join(da, "a").join(db, "b").agg(
        F.sum(d_dec).cast("decimal(38,0)").alias("num"),
        F.count(F.lit(1)).cast("long").alias("w"),
    )
    den = dev.agg(
        F.sum(
            F.col("d").cast("decimal(19,0)") * F.col("d").cast("decimal(19,0)")
        )
        .cast("decimal(38,0)")
        .alias("den")
    )
    return (
        num.crossJoin(F.broadcast(den))
        .crossJoin(F.broadcast(tot))
        .select(
            F.col("n").alias("n_nodes"),
            F.col("w").alias("w_edges"),
            _rnd(
                F.col("n").cast("double")
                * F.col("num").cast("double")
                / (F.col("w").cast("double") * F.col("den").cast("double")),
                6,
            ).alias("morans_i"),
            _rnd(F.lit(-1.0) / (F.col("n").cast("double") - 1.0), 6).alias(
                "expected_i"
            ),
        )
    )


def _sql_morans_i() -> str:
    from .plans.nyc_views import SQL_TRIPS
    from .plans.staging import SQL_STG_TRIPS

    return (
        "WITH "
        + SQL_TRIPS.strip().rstrip(",")
        + ",\n"
        + SQL_STG_TRIPS.strip().rstrip(",")
        + _sql_backbone_ctes(40)
        + """,
nodes AS MATERIALIZED (SELECT DISTINCT a AS zone FROM both_e),
xz AS MATERIALIZED (
    SELECT pickup_zone_id AS zone, CAST(count(*) AS BIGINT) AS x
    FROM stg_trips GROUP BY 1
),
nx AS MATERIALIZED (
    SELECT nodes.zone, CAST(COALESCE(xz.x, 0) AS BIGINT) AS x
    FROM nodes LEFT JOIN xz ON xz.zone = nodes.zone
),
tot AS MATERIALIZED (
    SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(x) AS BIGINT) AS s
    FROM nx
),
dev AS MATERIALIZED (
    SELECT zone, CAST(n * x - s AS BIGINT) AS d FROM nx CROSS JOIN tot
),
-- HUGEINT deviation-product sums (engine: DECIMAL(38,0)) — d*d leaves
-- int64 once n*max_zone_demand > ~3e9
numw AS (
    SELECT sum(CAST(da.d AS HUGEINT) * db.d) AS num,
           CAST(count(*) AS BIGINT) AS w
    FROM both_e e JOIN dev da ON da.zone = e.a JOIN dev db ON db.zone = e.b
),
den AS (SELECT sum(CAST(d AS HUGEINT) * d) AS den FROM dev)
SELECT n AS n_nodes, w AS w_edges,
       round(1e-9 + CAST(n AS DOUBLE) * CAST(num AS DOUBLE)
             / (CAST(w AS DOUBLE) * CAST(den AS DOUBLE)), 6) AS morans_i,
       round(1e-9 + -1.0 / (CAST(n AS DOUBLE) - 1.0), 6) AS expected_i
FROM numw CROSS JOIN den CROSS JOIN tot"""
    )


_GI_Z = (
    "(CAST(g_i AS DOUBLE) - CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE)"
    " * CAST(w_i AS DOUBLE))"
    " / (sqrt(CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE)"
    " - (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))"
    " * (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE)))"
    " * sqrt((CAST(n AS DOUBLE) * CAST(w_i AS DOUBLE)"
    " - CAST(w_i AS DOUBLE) * CAST(w_i AS DOUBLE))"
    " / (CAST(n AS DOUBLE) - 1.0)))"
)


def q_getis_ord(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Getis–Ord Gi* hot-spot z-scores over the corridor backbone — the
    PER-NODE companion to q_morans_i's global autocorrelation (WHERE is
    demand clustered, not just whether): for every backbone zone, the
    self-inclusive neighborhood demand sum against its expectation
    under spatial randomness, z-scored with the standard Gi* variance.

    Exactness: per-node inputs are exact BIGINT (neighborhood sum g_i,
    weight count w_i = deg+1) beside the global integer moments (n, Σx,
    Σx²); z evaluates ONE shared textual double formula over those five
    integers (engine-identical trees), rounded before the hot verdict
    compares |z| > 1.96.  Degenerate guards (a node adjacent to every
    node, zero variance) return NULL in BOTH engines.  Shape: two
    corpus-grain aggregations; all else ≤80-row backbone metadata."""
    from .plans import nyc_views, staging

    li = staging.stg_taxi_trips(
        nyc_views.trips_from_events(load_tables(spark, sf_dir)["events"])
    )
    _und, both = _corridor_backbone(li, 40)
    nodes = both.select(F.col("a").alias("zone")).distinct()
    x = li.groupBy(F.col("pickup_zone_id").alias("zone")).agg(
        F.count(F.lit(1)).cast("long").alias("x")
    )
    nx = nodes.join(x, "zone", "left").select(
        "zone", F.coalesce("x", F.lit(0)).cast("long").alias("x")
    ).localCheckpoint()
    # s2 = Σx² in DECIMAL(38,0) (oracle: HUGEINT): x² leaves int64 once
    # max_zone_demand > ~3e9 and Spark's non-ANSI long sum wraps
    # silently where DuckDB errors; s1 stays well inside int64 but the
    # guard below squares it, so both moments ride as decimals.  The
    # frame is ≤80-row backbone metadata — decimal cost is nil.
    tot = nx.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").cast("decimal(38,0)").alias("s1"),
        F.sum(
            F.col("x").cast("decimal(19,0)") * F.col("x").cast("decimal(19,0)")
        )
        .cast("decimal(38,0)")
        .alias("s2"),
    )
    nbr_sum = (
        both.join(
            F.broadcast(nx.select(F.col("zone").alias("b"), "x")), "b"
        )
        .groupBy(F.col("a").alias("zone"))
        .agg(
            F.sum("x").cast("long").alias("nbr_x"),
            F.count(F.lit(1)).cast("long").alias("deg"),
        )
    )
    per = (
        nx.join(nbr_sum, "zone")
        .select(
            "zone",
            "x",
            (F.col("nbr_x") + F.col("x")).cast("long").alias("g_i"),
            (F.col("deg") + 1).cast("long").alias("w_i"),
        )
        .crossJoin(F.broadcast(tot))
    )
    z = F.when(
        (F.col("n") > F.col("w_i"))
        & (F.col("s2") * F.col("n") > F.col("s1") * F.col("s1")),
        _rnd(F.expr(_GI_Z), 6),
    )
    return per.select(
        F.col("zone").cast("long").alias("zone"),
        "x",
        "w_i",
        "g_i",
        z.alias("z_score"),
        F.when(z.isNull(), F.lit(None).cast("boolean"))
        .otherwise(F.abs(z) > 1.96)
        .alias("hot"),
    )


def _sql_getis_ord() -> str:
    from .plans.nyc_views import SQL_TRIPS
    from .plans.staging import SQL_STG_TRIPS

    return (
        "WITH "
        + SQL_TRIPS.strip().rstrip(",")
        + ",\n"
        + SQL_STG_TRIPS.strip().rstrip(",")
        + _sql_backbone_ctes(40)
        + f""",
nodes AS MATERIALIZED (SELECT DISTINCT a AS zone FROM both_e),
xz AS MATERIALIZED (
    SELECT pickup_zone_id AS zone, CAST(count(*) AS BIGINT) AS x
    FROM stg_trips GROUP BY 1
),
nx AS MATERIALIZED (
    SELECT nodes.zone, CAST(COALESCE(xz.x, 0) AS BIGINT) AS x
    FROM nodes LEFT JOIN xz ON xz.zone = nodes.zone
),
-- HUGEINT moments (engine: DECIMAL(38,0)) — x*x leaves int64 once
-- max_zone_demand > ~3e9, and the guard squares s1
tot AS MATERIALIZED (
    SELECT CAST(count(*) AS BIGINT) AS n, sum(CAST(x AS HUGEINT)) AS s1,
           sum(CAST(x AS HUGEINT) * x) AS s2
    FROM nx
),
nbr AS MATERIALIZED (
    SELECT e.a AS zone, CAST(sum(nx.x) AS BIGINT) AS nbr_x,
           CAST(count(*) AS BIGINT) AS deg
    FROM both_e e JOIN nx ON nx.zone = e.b
    GROUP BY 1
),
per AS (
    SELECT nx.zone, nx.x,
           CAST(nbr.nbr_x + nx.x AS BIGINT) AS g_i,
           CAST(nbr.deg + 1 AS BIGINT) AS w_i,
           tot.n, tot.s1, tot.s2
    FROM nx JOIN nbr ON nbr.zone = nx.zone CROSS JOIN tot
)
SELECT CAST(zone AS BIGINT) AS zone, x, w_i, g_i,
       CASE WHEN n > w_i AND s2 * n > s1 * s1
            THEN round(1e-9 + {_GI_Z}, 6) END AS z_score,
       CASE WHEN n > w_i AND s2 * n > s1 * s1
            THEN abs(round(1e-9 + {_GI_Z}, 6)) > 1.96 END AS hot
FROM per"""
    )


def q_link_prediction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Link prediction on the top-300 corridor backbone — which zone
    pairs have NO direct corridor but look like they should (service
    planning's "missing route" readout): for every non-adjacent pair,
    common-neighbor count, Jaccard neighborhood overlap, and
    Adamic–Adar (common neighbors discounted by their degree's log —
    a hub's endorsement is cheap, a specialist's is informative),
    returning the top-20 predicted links.

    Exactness: ranking is on the INTEGER aa_micro — each common
    neighbor's 1/ln(deg_k) term is an engine-identical per-row double
    (ln is bit-parity across Spark/DuckDB, the q_zipf_fit precedent)
    quantized to 1e6 micro-units BEFORE the sum (the q_kruskal_wallis
    idiom: double SUMS are order-dependent, BIGINT micro sums are not);
    ln(deg_k) is safe because a common neighbor has degree ≥ 2 by
    construction.  Jaccard divides two exact integers once.  Shape: one
    corpus-grain corridor aggregation; the common-neighbor equi-join on
    the middle node and everything after is ≤600-row backbone
    metadata."""
    from .plans import nyc_views, staging

    li = staging.stg_taxi_trips(
        nyc_views.trips_from_events(load_tables(spark, sf_dir)["events"])
    )
    und, both = _corridor_backbone(li, 300)
    deg = both.groupBy(F.col("a").alias("zone")).agg(
        F.count(F.lit(1)).cast("long").alias("deg")
    )
    e1 = both.select(F.col("a").alias("i"), F.col("b").alias("k"))
    e2 = both.select(F.col("a").alias("j"), F.col("b").alias("k"))
    degk = deg.select(F.col("zone").alias("k"), F.col("deg").alias("deg_k"))
    grp = (
        e1.join(e2, "k")
        .where(F.col("i") < F.col("j"))
        .join(F.broadcast(degk), "k")
        .groupBy("i", "j")
        .agg(
            F.count(F.lit(1)).cast("long").alias("cn"),
            F.sum(
                F.round(
                    F.lit(1000000.0) / F.log(F.col("deg_k").cast("double"))
                ).cast("long")
            ).cast("long").alias("aa_micro"),
        )
    )
    non_adj = grp.join(
        und.select(F.col("a").alias("i"), F.col("b").alias("j")),
        ["i", "j"],
        "left_anti",
    )
    di = deg.select(F.col("zone").alias("i"), F.col("deg").alias("deg_i"))
    dj = deg.select(F.col("zone").alias("j"), F.col("deg").alias("deg_j"))
    return (
        non_adj.join(F.broadcast(di), "i")
        .join(F.broadcast(dj), "j")
        .select(
            F.col("i").cast("long").alias("i"),
            F.col("j").cast("long").alias("j"),
            "cn",
            "aa_micro",
            _rnd(
                F.col("cn").cast("double")
                / (F.col("deg_i") + F.col("deg_j") - F.col("cn")).cast(
                    "double"
                ),
                6,
            ).alias("jaccard"),
        )
        .orderBy(F.desc("aa_micro"), F.asc("i"), F.asc("j"))
        .limit(20)
    )


def _sql_link_prediction() -> str:
    from .plans.nyc_views import SQL_TRIPS
    from .plans.staging import SQL_STG_TRIPS

    return (
        "WITH "
        + SQL_TRIPS.strip().rstrip(",")
        + ",\n"
        + SQL_STG_TRIPS.strip().rstrip(",")
        + _sql_backbone_ctes(300)
        + """,
deg AS MATERIALIZED (
    SELECT a AS zone, CAST(count(*) AS BIGINT) AS deg FROM both_e GROUP BY 1
),
grp AS MATERIALIZED (
    SELECT e1.a AS i, e2.a AS j, CAST(count(*) AS BIGINT) AS cn,
           CAST(sum(CAST(round(1000000.0 / ln(CAST(dk.deg AS DOUBLE)))
                         AS BIGINT)) AS BIGINT) AS aa_micro
    FROM both_e e1
    JOIN both_e e2 ON e1.b = e2.b AND e1.a < e2.a
    JOIN deg dk ON dk.zone = e1.b
    GROUP BY 1, 2
),
non_adj AS (
    SELECT g.* FROM grp g
    WHERE NOT EXISTS (
        SELECT 1 FROM und u WHERE u.a = g.i AND u.b = g.j
    )
)
SELECT i, j, cn, aa_micro,
       round(1e-9 + CAST(cn AS DOUBLE)
             / CAST(di.deg + dj.deg - cn AS DOUBLE), 6) AS jaccard
FROM non_adj
JOIN deg di ON di.zone = i
JOIN deg dj ON dj.zone = j
ORDER BY aa_micro DESC, i ASC, j ASC
LIMIT 20"""
    )


# --- MMR diversified re-ranking --------------------------------------------------------

_MMR_CAND = 15  # BM25 candidates per query entering the re-rank
_MMR_PICK = 5   # greedy picks per query (fixed unroll, q_kcore's pattern)
# λ = 0.7 exactly, as the integer objective 7·relevance − 3·max_sim —
# the greedy argmax never touches a float, so selection order is
# engine-exact by construction (ties break on doc_id)


def q_mmr_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal-Marginal-Relevance diversified top-k — the re-ranker that
    keeps a near-dup-heavy corpus from filling the whole result page
    (the retrieval-side mirror of the dedup family): per IR query, the
    top-15 BM25 candidates re-rank greedily by
    λ·relevance − (1−λ)·max-similarity-to-already-picked (Carbonell &
    Goldstein), token-set Jaccard as the similarity.

    Exactness: relevance normalizes to a 1e-9 integer lattice against
    the per-query max, Jaccard quantizes to the same lattice, and the
    greedy objective is the pure-integer 7·ns − 3·ms with doc_id
    tiebreaks — no double ever decides a pick.  The 5 picks are a FIXED
    unroll (both engines run identical rounds; the oracle unrolls the
    same rounds as MATERIALIZED CTEs, q_kcore's discipline, with
    localCheckpoint keeping the Spark plan shallow).

    Shape: candidate generation is the q_ndcg_mrr two-stage top-k (the
    100 TB-safe shape); everything after — pair similarities (≤15²
    per query over candidate docs only), the greedy rounds — is
    candidate-grain metadata work."""
    docs = load_tables(spark, sf_dir)["documents"].select("doc_id", "text")
    tok = docs.select("doc_id", T.tokens("text").alias("__w")).persist()
    dl = tok.select("doc_id", F.size("__w").cast("long").alias("dl"))
    all_terms = sorted({t for _, a, b in _IR_QUERIES for t in (a, b)})
    tf = (
        tok.select("doc_id", F.explode("__w").alias("term"))
        .where(F.col("term").isin(*all_terms))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    stats = dl.agg(
        F.count(F.lit(1)).alias("n_docs"), F.avg("dl").alias("avgdl")
    )
    contrib = (
        F.log(
            (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)
            + 1.0
        )
        * (F.col("tf") * 2.2)
        / (F.col("tf") + 1.2 * (0.25 + 0.75 * F.col("dl") / F.col("avgdl")))
    )
    per_term = (
        tf.join(F.broadcast(dfreq), "term")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .select(
            "doc_id",
            "term",
            F.round(contrib * 1000000).cast("long").alias("c_micro"),
        )
    )
    queries = spark.createDataFrame(
        list(_IR_QUERIES), "qid int, t1 string, t2 string"
    )
    cand_all = (
        per_term.join(
            F.broadcast(queries),
            (F.col("term") == F.col("t1")) | (F.col("term") == F.col("t2")),
        )
        .groupBy("qid", "doc_id")
        .agg(F.sum("c_micro").cast("long").alias("score_micro"))
    )
    w_shard = Window.partitionBy(
        "qid", F.pmod(F.col("doc_id"), F.lit(32))
    ).orderBy(F.desc("score_micro"), F.asc("doc_id"))
    surv = cand_all.withColumn(
        "__r", F.row_number().over(w_shard)
    ).where(F.col("__r") <= _MMR_CAND)
    w_q = Window.partitionBy("qid").orderBy(
        F.desc("score_micro"), F.asc("doc_id")
    )
    cand = (
        surv.withColumn("__rank", F.row_number().over(w_q))
        .where(F.col("__rank") <= _MMR_CAND)
        .select("qid", "doc_id", "score_micro")
        .localCheckpoint()
    )
    mx = cand.groupBy("qid").agg(F.max("score_micro").alias("mxs"))
    ns = cand.join(F.broadcast(mx), "qid").select(
        "qid",
        "doc_id",
        "score_micro",
        F.expr(
            "CAST(round(score_micro * 1e9 / CAST(mxs AS DOUBLE)) AS BIGINT)"
        ).alias("ns_nano"),
    )
    cdocs = cand.select("doc_id").distinct()
    ctok = tok.join(F.broadcast(cdocs), "doc_id").select(
        "doc_id", F.explode(F.array_distinct("__w")).alias("t")
    )
    sz = ctok.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("sz")
    )
    inter = (
        ctok.alias("x")
        .join(
            ctok.alias("y"),
            (F.col("x.t") == F.col("y.t"))
            & (F.col("x.doc_id") < F.col("y.doc_id")),
        )
        .groupBy(
            F.col("x.doc_id").alias("da"), F.col("y.doc_id").alias("db")
        )
        .agg(F.count(F.lit(1)).cast("long").alias("nc"))
    )
    sims0 = (
        inter.join(
            sz.select(F.col("doc_id").alias("da"), F.col("sz").alias("sza")),
            "da",
        )
        .join(
            sz.select(F.col("doc_id").alias("db"), F.col("sz").alias("szb")),
            "db",
        )
        .select(
            "da",
            "db",
            F.expr(
                "CAST(round(nc * 1e9 / CAST(sza + szb - nc AS DOUBLE))"
                " AS BIGINT)"
            ).alias("sim_nano"),
        )
    )
    sims = sims0.unionByName(
        sims0.select(
            F.col("db").alias("da"), F.col("da").alias("db"), "sim_nano"
        )
    ).localCheckpoint()
    w_pick = Window.partitionBy("qid").orderBy(
        F.desc("mmr_score"), F.asc("doc_id")
    )
    remaining = ns.localCheckpoint()
    selected = None
    for r in range(1, _MMR_PICK + 1):
        if selected is None:
            scored = remaining.withColumn(
                "ms_nano", F.lit(0).cast("long")
            )
        else:
            ms = (
                remaining.select("qid", "doc_id")
                .join(
                    selected.select("qid", F.col("doc_id").alias("sdoc")),
                    "qid",
                )
                .join(
                    sims,
                    (F.col("doc_id") == F.col("da"))
                    & (F.col("sdoc") == F.col("db")),
                    "left",
                )
                .groupBy("qid", "doc_id")
                .agg(
                    F.max(F.coalesce("sim_nano", F.lit(0)))
                    .cast("long")
                    .alias("ms_nano")
                )
            )
            scored = remaining.join(ms, ["qid", "doc_id"], "left").withColumn(
                "ms_nano", F.coalesce("ms_nano", F.lit(0)).cast("long")
            )
        scored = scored.withColumn(
            "mmr_score",
            (7 * F.col("ns_nano") - 3 * F.col("ms_nano")).cast("long"),
        )
        pick = (
            scored.withColumn("__p", F.row_number().over(w_pick))
            .where(F.col("__p") == 1)
            .select(
                "qid",
                "doc_id",
                "score_micro",
                "ns_nano",
                "ms_nano",
                "mmr_score",
                F.lit(r).cast("int").alias("pick_rank"),
            )
            .localCheckpoint()
        )
        selected = (
            pick
            if selected is None
            else selected.unionByName(pick).localCheckpoint()
        )
        remaining = remaining.join(
            pick.select("qid", "doc_id"), ["qid", "doc_id"], "left_anti"
        ).localCheckpoint()
    return selected.select(
        "qid",
        "pick_rank",
        "doc_id",
        "score_micro",
        "ns_nano",
        "ms_nano",
        "mmr_score",
    )


def _sql_mmr_rerank() -> str:
    all_terms = sorted({t for _, a, b in _IR_QUERIES for t in (a, b)})
    terms_in = ", ".join(f"'{t}'" for t in all_terms)
    qrows = "\nUNION ALL\n".join(
        f"SELECT {q} AS qid, '{a}' AS t1, '{b}' AS t2"
        for q, a, b in _IR_QUERIES
    )
    base = rf"""
WITH tok AS (
    SELECT doc_id,
           list_filter(string_split_regex(text, '\s+'), t -> t <> '') AS w
    FROM documents
),
dl AS (SELECT doc_id, CAST(len(w) AS BIGINT) AS dl FROM tok),
tf AS (
    SELECT doc_id, term, count(*) AS tf
    FROM (SELECT doc_id, unnest(w) AS term FROM tok)
    WHERE term IN ({terms_in})
    GROUP BY 1, 2
),
dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
stats AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM dl),
per_term AS (
    SELECT t.doc_id, t.term,
           CAST(round(
               ln((s.n_docs - d.df + 0.5) / (d.df + 0.5) + 1.0)
               * (t.tf * 2.2)
               / (t.tf + 1.2 * (0.25 + 0.75 * l.dl / s.avgdl))
               * 1000000) AS BIGINT) AS c_micro
    FROM tf t
    JOIN dfreq d USING (term)
    JOIN dl l USING (doc_id)
    CROSS JOIN stats s
),
queries AS (
{qrows}
),
cand AS (
    SELECT q.qid, p.doc_id,
           CAST(sum(p.c_micro) AS BIGINT) AS score_micro
    FROM per_term p
    JOIN queries q ON p.term = q.t1 OR p.term = q.t2
    GROUP BY 1, 2
),
topc AS MATERIALIZED (
    SELECT qid, doc_id, score_micro FROM (
        SELECT qid, doc_id, score_micro,
               row_number() OVER (PARTITION BY qid
                   ORDER BY score_micro DESC, doc_id ASC) AS rnk
        FROM cand
    ) WHERE rnk <= {_MMR_CAND}
),
mx AS (SELECT qid, max(score_micro) AS mxs FROM topc GROUP BY 1),
ns AS MATERIALIZED (
    SELECT t.qid, t.doc_id, t.score_micro,
           CAST(round(t.score_micro * 1e9 / CAST(m.mxs AS DOUBLE))
                AS BIGINT) AS ns_nano
    FROM topc t JOIN mx m USING (qid)
),
cdocs AS (SELECT DISTINCT doc_id FROM topc),
ctok AS MATERIALIZED (
    SELECT doc_id, unnest(list_distinct(w)) AS t
    FROM tok JOIN cdocs USING (doc_id)
),
csz AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS sz FROM ctok GROUP BY 1),
inter AS (
    SELECT x.doc_id AS da, y.doc_id AS db, CAST(count(*) AS BIGINT) AS nc
    FROM ctok x JOIN ctok y ON x.t = y.t AND x.doc_id < y.doc_id
    GROUP BY 1, 2
),
sims0 AS (
    SELECT i.da, i.db,
           CAST(round(i.nc * 1e9 / CAST(a.sz + b.sz - i.nc AS DOUBLE))
                AS BIGINT) AS sim_nano
    FROM inter i
    JOIN csz a ON a.doc_id = i.da
    JOIN csz b ON b.doc_id = i.db
),
sims AS MATERIALIZED (
    SELECT da, db, sim_nano FROM sims0
    UNION ALL
    SELECT db AS da, da AS db, sim_nano FROM sims0
),
sel1 AS MATERIALIZED (
    SELECT qid, doc_id, score_micro, ns_nano,
           CAST(0 AS BIGINT) AS ms_nano,
           CAST(7 * ns_nano AS BIGINT) AS mmr_score,
           CAST(1 AS INT) AS pick_rank
    FROM (
        SELECT *, row_number() OVER (PARTITION BY qid
            ORDER BY 7 * ns_nano DESC, doc_id ASC) AS p
        FROM ns
    ) WHERE p = 1
),
selall1 AS MATERIALIZED (SELECT * FROM sel1),
rem1 AS MATERIALIZED (
    SELECT n.* FROM ns n
    LEFT JOIN sel1 s ON n.qid = s.qid AND n.doc_id = s.doc_id
    WHERE s.doc_id IS NULL
)"""
    rounds = []
    for r in range(2, _MMR_PICK + 1):
        rounds.append(f""",
ms{r} AS (
    SELECT rr.qid, rr.doc_id,
           CAST(max(coalesce(s2.sim_nano, 0)) AS BIGINT) AS ms_nano
    FROM rem{r - 1} rr
    JOIN selall{r - 1} sl ON rr.qid = sl.qid
    LEFT JOIN sims s2 ON s2.da = rr.doc_id AND s2.db = sl.doc_id
    GROUP BY 1, 2
),
sel{r} AS MATERIALIZED (
    SELECT qid, doc_id, score_micro, ns_nano, ms_nano,
           CAST(7 * ns_nano - 3 * ms_nano AS BIGINT) AS mmr_score,
           CAST({r} AS INT) AS pick_rank
    FROM (
        SELECT rr.*, m.ms_nano, row_number() OVER (PARTITION BY rr.qid
            ORDER BY 7 * rr.ns_nano - 3 * m.ms_nano DESC,
                     rr.doc_id ASC) AS p
        FROM rem{r - 1} rr JOIN ms{r} m
          ON rr.qid = m.qid AND rr.doc_id = m.doc_id
    ) WHERE p = 1
),
selall{r} AS MATERIALIZED (
    SELECT * FROM selall{r - 1} UNION ALL SELECT * FROM sel{r}
),
rem{r} AS MATERIALIZED (
    SELECT rr.* FROM rem{r - 1} rr
    LEFT JOIN sel{r} s ON rr.qid = s.qid AND rr.doc_id = s.doc_id
    WHERE s.doc_id IS NULL
)""")
    return (
        base
        + "".join(rounds)
        + f"""
SELECT qid, pick_rank, doc_id, score_micro, ns_nano, ms_nano, mmr_score
FROM selall{_MMR_PICK}"""
    )


# --- Isotonic calibration (PAV) ------------------------------------------------------

_ISO_BIN = 25000  # score-lattice bin width → ≤41 bins over pi ∈ [0, 1e6]


def q_isotonic_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Isotonic (PAV) calibration of the quality model — the
    non-parametric monotone fit q_calibration's fixed-width reliability
    curve can't give: the calibrated rate per score bin is the pool-
    adjacent-violators solution, computed by its minimax
    characterization iso(k) = max_{i≤k} min_{j≥k} wavg(y over bins
    i..j), which needs no sequential pooling loop — every (i, j)
    interval average comes from two prefix-sum lookups, so both engines
    evaluate identical arithmetic in any order.

    Shape: ONE corpus scan folds to ≤41 score bins (pi div 25000);
    everything after — prefix sums, the i≤j interval frame (≤861
    rows), the (lo, k) minimax — is bin-grain metadata work, the same
    bounded-frame theta-join class as q_kendall_tau's calendar cap.
    Exactness: interval averages are BIGINT-difference / BIGINT-
    difference per-row divisions (engine-identical doubles); min/max
    select among identical value sets; only the reported rates are
    rounded."""
    base = _scored(spark, sf_dir)
    bins = base.groupBy(
        F.expr(f"CAST(pi div {_ISO_BIN} AS BIGINT)").alias("b")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_b"),
        F.sum("y").cast("long").alias("sy_b"),
    )
    # ≤41-row frame: the unpartitioned window is bounded by the score
    # lattice, not the corpus (bucketed_value_cumsum's exemption class)
    w = Window.orderBy("b").rowsBetween(Window.unboundedPreceding, 0)
    cum = bins.select(
        "b",
        "n_b",
        "sy_b",
        F.sum("n_b").over(w).cast("long").alias("cn"),
        F.sum("sy_b").over(w).cast("long").alias("cy"),
    ).persist()  # 3 consumers: pair frame ×2 + the k grid + final join
    i, j = cum.alias("i"), cum.alias("j")
    pairs = i.join(j, F.col("i.b") <= F.col("j.b")).select(
        F.col("i.b").alias("lo"),
        F.col("j.b").alias("hi"),
        (
            (F.col("j.cy") - F.col("i.cy") + F.col("i.sy_b"))
            / (F.col("j.cn") - F.col("i.cn") + F.col("i.n_b")).cast("double")
        ).alias("avg_ij"),
    )
    ks = cum.select(F.col("b").alias("k"))
    t1 = pairs.join(
        ks, (F.col("lo") <= F.col("k")) & (F.col("k") <= F.col("hi"))
    ).groupBy("lo", "k").agg(F.min("avg_ij").alias("m"))
    iso = t1.groupBy("k").agg(F.max("m").alias("iso"))
    return cum.join(iso, cum["b"] == iso["k"]).select(
        "b",
        "n_b",
        "sy_b",
        _rnd(F.col("sy_b") / F.col("n_b").cast("double"), 6).alias("raw_rate"),
        _rnd(F.col("iso"), 6).alias("iso_rate"),
    )


def _sql_isotonic_calibration() -> str:
    return f"""{_sql_scored_prefix()},
bins AS (
    SELECT CAST(pi // {_ISO_BIN} AS BIGINT) AS b,
           CAST(count(*) AS BIGINT) AS n_b,
           CAST(sum(y) AS BIGINT) AS sy_b
    FROM scored GROUP BY 1
),
cum AS (
    SELECT b, n_b, sy_b,
           CAST(sum(n_b) OVER (ORDER BY b
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS BIGINT) AS cn,
           CAST(sum(sy_b) OVER (ORDER BY b
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS BIGINT) AS cy
    FROM bins
),
pairs AS (
    SELECT i.b AS lo, j.b AS hi,
           (j.cy - i.cy + i.sy_b)
           / CAST(j.cn - i.cn + i.n_b AS DOUBLE) AS avg_ij
    FROM cum i JOIN cum j ON i.b <= j.b
),
t1 AS (
    SELECT p.lo, c.b AS k, min(p.avg_ij) AS m
    FROM pairs p JOIN cum c ON p.lo <= c.b AND c.b <= p.hi
    GROUP BY 1, 2
),
iso AS (SELECT k, max(m) AS iso FROM t1 GROUP BY 1)
SELECT c.b, c.n_b, c.sy_b,
       round(1e-9 + c.sy_b / CAST(c.n_b AS DOUBLE), 6) AS raw_rate,
       round(1e-9 + i.iso, 6) AS iso_rate
FROM cum c JOIN iso i ON c.b = i.k"""




# --- round-13 experimentation/statistics wave --------------------------------

_EV_TYPES = ["click", "error", "purchase", "signup", "view"]


def q_levene(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brown–Forsythe test (Levene with group MEDIANS — the robust
    default) for equality of value variances across the five event-type
    groups: the variance-homogeneity companion to q_anova_f's mean test
    (ANOVA's own assumption is what this checks).

    Exactness: group medians are interpolated percentiles (Spark
    `percentile` ≡ DuckDB `quantile_cont`, the q_percentiles parity);
    each row's deviation z = |x − med_g| is ONE engine-identical double
    quantized to 1e-6 micro-units BEFORE any sum (the kruskal idiom);
    per-group (n, Σz, Σz²) pivot to a SINGLE row (the q_welch_ttest
    shape — no cross-row double sum ever happens), with Σz² as
    DECIMAL(38,0)/HUGEINT (z²·N leaves int64 at corpus scale); the F
    statistic evaluates one shared textual formula over those exact
    sums.  Shape: two corpus-grain aggregations (median pass + moment
    pass, both map-side-combining); everything after is a 1-row frame."""
    ev = load_tables(spark, sf_dir)["events"].where(
        F.col("value").isNotNull() & F.col("event_type").isin(*_EV_TYPES)
    )
    med = ev.groupBy("event_type").agg(
        F.expr("percentile(value, 0.5)").alias("med")
    )
    z = ev.join(F.broadcast(med), "event_type").select(
        "event_type",
        F.round(F.abs(F.col("value") - F.col("med")) * 1e6)
        .cast("long")
        .alias("z"),
    )
    grp = z.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_g"),
        F.sum("z").cast("long").alias("s_g"),
        F.sum(F.col("z").cast("decimal(19,0)") * F.col("z").cast("decimal(19,0)"))
        .cast("decimal(38,0)")
        .alias("q_g"),
    )
    aggs = []
    for i, t in enumerate(_EV_TYPES):
        aggs += [
            F.max(F.when(F.col("event_type") == t, F.col("n_g"))).alias(f"n{i}"),
            F.max(F.when(F.col("event_type") == t, F.col("s_g"))).alias(f"s{i}"),
            F.max(F.when(F.col("event_type") == t, F.col("q_g"))).alias(f"q{i}"),
        ]
    one = grp.agg(*aggs)
    k = len(_EV_TYPES)
    nn = " + ".join(f"CAST(n{i} AS DOUBLE)" for i in range(k))
    ss = " + ".join(f"CAST(s{i} AS DOUBLE)" for i in range(k))
    ssb_terms = " + ".join(
        f"CAST(s{i} AS DOUBLE) * CAST(s{i} AS DOUBLE) / CAST(n{i} AS DOUBLE)"
        for i in range(k)
    )
    qq = " + ".join(f"CAST(q{i} AS DOUBLE)" for i in range(k))
    f_formula = (
        f"((({ssb_terms}) - ({ss}) * ({ss}) / ({nn})) / {float(k - 1)!r})"
        f" / ((({qq}) - ({ssb_terms})) / (({nn}) - {float(k)!r}))"
    )
    return one.select(
        *[F.col(f"n{i}").alias(f"n_{t}") for i, t in enumerate(_EV_TYPES)],
        F.expr(" + ".join(f"n{i}" for i in range(k)))
        .cast("long")
        .alias("n_total"),
        F.lit(k - 1).cast("int").alias("df1"),
        (F.expr(" + ".join(f"n{i}" for i in range(k))) - k)
        .cast("long")
        .alias("df2"),
        _rnd(F.expr(f_formula), 6).alias("f_stat"),
    )


def _sql_levene() -> str:
    k = len(_EV_TYPES)
    piv = ",\n           ".join(
        f"max(CASE WHEN event_type = '{t}' THEN n_g END) AS n{i},\n"
        f"           max(CASE WHEN event_type = '{t}' THEN s_g END) AS s{i},\n"
        f"           max(CASE WHEN event_type = '{t}' THEN q_g END) AS q{i}"
        for i, t in enumerate(_EV_TYPES)
    )
    nn = " + ".join(f"CAST(n{i} AS DOUBLE)" for i in range(k))
    ss = " + ".join(f"CAST(s{i} AS DOUBLE)" for i in range(k))
    ssb_terms = " + ".join(
        f"CAST(s{i} AS DOUBLE) * CAST(s{i} AS DOUBLE) / CAST(n{i} AS DOUBLE)"
        for i in range(k)
    )
    qq = " + ".join(f"CAST(q{i} AS DOUBLE)" for i in range(k))
    f_formula = (
        f"((({ssb_terms}) - ({ss}) * ({ss}) / ({nn})) / {float(k - 1)!r})"
        f" / ((({qq}) - ({ssb_terms})) / (({nn}) - {float(k)!r}))"
    )
    types = ", ".join(f"'{t}'" for t in _EV_TYPES)
    ncols = ", ".join(
        f"n{i} AS n_{t}" for i, t in enumerate(_EV_TYPES)
    )
    ntot = " + ".join(f"n{i}" for i in range(k))
    return f"""
WITH ev AS (
    SELECT event_type, value FROM events
    WHERE value IS NOT NULL AND event_type IN ({types})
),
med AS (
    SELECT event_type, quantile_cont(value, 0.5) AS med
    FROM ev GROUP BY 1
),
z AS (
    SELECT ev.event_type,
           CAST(round(abs(ev.value - med.med) * 1e6) AS BIGINT) AS z
    FROM ev JOIN med USING (event_type)
),
grp AS (
    SELECT event_type, CAST(count(*) AS BIGINT) AS n_g,
           CAST(sum(z) AS BIGINT) AS s_g,
           sum(CAST(z AS HUGEINT) * z) AS q_g
    FROM z GROUP BY 1
),
one AS (
    SELECT {piv}
    FROM grp
)
SELECT {ncols},
       CAST({ntot} AS BIGINT) AS n_total,
       CAST({k - 1} AS INTEGER) AS df1,
       CAST({ntot} - {k} AS BIGINT) AS df2,
       round(1e-9 + {f_formula}, 6) AS f_stat
FROM one"""


def q_cuped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED variance reduction (Deng et al. 2013) for the id-parity
    A/B split — the experimentation op that makes q_ab_test's metric
    converge faster by regressing out pre-experiment behavior: the date
    range splits at its midpoint into pre/post periods, each user
    carries x = pre-period event count and y = post-period purchase
    count, θ = cov(x,y)/var(x) pooled across arms, and each arm reports
    mean(y) beside the CUPED-adjusted mean(y) − θ·(mean_v(x) − mean(x))
    with the variance-reduction factor ρ².

    Exactness: x and y are exact BIGINT per user, so all five pooled
    power sums (n, Σx, Σy, Σxy, Σx², Σy²) and the per-arm (n_v, Σx_v,
    Σy_v) are exact integers in ONE user-grain pass each (the
    q_trend_ols regression-as-aggregation pattern); θ, ρ² and the
    adjusted means are per-row double formulas over those integers.
    Int64 bound: Σx² ≤ n·max_events_per_user² — fine past 10¹² users.
    Shape: one events aggregation to user grain, one user-grain
    aggregation; nothing larger than 2 rows after that."""
    ev = load_tables(spark, sf_dir)["events"].where(
        F.col("ts").isNotNull() & F.col("user_id").isNotNull()
    )
    rng = ev.agg(
        F.min(F.to_date("ts")).alias("d0"), F.max(F.to_date("ts")).alias("d1")
    ).select(
        "d0",
        F.date_add(
            F.col("d0"), (F.datediff("d1", "d0") / 2).cast("int")
        ).alias("dmid"),
    )
    users = (
        ev.crossJoin(F.broadcast(rng))
        .groupBy("user_id")
        .agg(
            F.sum(
                F.when(F.to_date("ts") < F.col("dmid"), 1).otherwise(0)
            )
            .cast("long")
            .alias("x"),
            F.sum(
                F.when(
                    (F.to_date("ts") >= F.col("dmid"))
                    & (F.col("event_type") == "purchase"),
                    1,
                ).otherwise(0)
            )
            .cast("long")
            .alias("y"),
        )
        .select(
            F.pmod(F.col("user_id"), F.lit(2)).cast("int").alias("variant"),
            "x",
            "y",
        )
    )
    pooled = users.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").cast("long").alias("sx"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast("long").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"),
        F.sum(F.col("y") * F.col("y")).cast("long").alias("syy"),
    )
    per = users.groupBy("variant").agg(
        F.count(F.lit(1)).cast("long").alias("n_v"),
        F.sum("x").cast("long").alias("sx_v"),
        F.sum("y").cast("long").alias("sy_v"),
    )
    theta = (
        "(CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)"
        " - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))"
        " / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)"
        " - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))"
    )
    rho2 = (
        "((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)"
        " - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))"
        " * (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)"
        " - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)))"
        " / ((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)"
        " - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))"
        " * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)"
        " - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))"
    )
    adj = (
        "CAST(sy_v AS DOUBLE) / CAST(n_v AS DOUBLE)"
        f" - ({theta}) * (CAST(sx_v AS DOUBLE) / CAST(n_v AS DOUBLE)"
        " - CAST(sx AS DOUBLE) / CAST(n AS DOUBLE))"
    )
    return per.crossJoin(F.broadcast(pooled)).select(
        "variant",
        F.col("n_v").alias("n_users"),
        _rnd(F.expr("CAST(sy_v AS DOUBLE) / CAST(n_v AS DOUBLE)"), 6).alias(
            "mean_y"
        ),
        _rnd(F.expr(adj), 6).alias("mean_y_cuped"),
        _rnd(F.expr(theta), 6).alias("theta"),
        _rnd(F.expr(rho2), 6).alias("rho2"),
    )


def _sql_cuped() -> str:
    theta = (
        "(CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)"
        " - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))"
        " / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)"
        " - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))"
    )
    rho2 = (
        "((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)"
        " - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))"
        " * (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)"
        " - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)))"
        " / ((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)"
        " - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))"
        " * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)"
        " - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))"
    )
    adj = (
        "CAST(sy_v AS DOUBLE) / CAST(n_v AS DOUBLE)"
        f" - ({theta}) * (CAST(sx_v AS DOUBLE) / CAST(n_v AS DOUBLE)"
        " - CAST(sx AS DOUBLE) / CAST(n AS DOUBLE))"
    )
    return f"""
WITH ev AS (
    SELECT user_id, event_type, CAST(ts AS DATE) AS day
    FROM events WHERE ts IS NOT NULL AND user_id IS NOT NULL
),
rng AS (
    SELECT min(day) AS d0,
           min(day) + to_days(CAST(date_diff('day', min(day), max(day)) // 2
                                   AS INTEGER)) AS dmid
    FROM ev
),
users AS (
    SELECT CAST(user_id % 2 AS INTEGER) AS variant,
           CAST(sum(CASE WHEN day < dmid THEN 1 ELSE 0 END) AS BIGINT) AS x,
           CAST(sum(CASE WHEN day >= dmid AND event_type = 'purchase'
                         THEN 1 ELSE 0 END) AS BIGINT) AS y
    FROM ev CROSS JOIN rng
    GROUP BY user_id
),
pooled AS (
    SELECT CAST(count(*) AS BIGINT) AS n,
           CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
           CAST(sum(x * y) AS BIGINT) AS sxy,
           CAST(sum(x * x) AS BIGINT) AS sxx,
           CAST(sum(y * y) AS BIGINT) AS syy
    FROM users
),
per AS (
    SELECT variant, CAST(count(*) AS BIGINT) AS n_v,
           CAST(sum(x) AS BIGINT) AS sx_v, CAST(sum(y) AS BIGINT) AS sy_v
    FROM users GROUP BY 1
)
SELECT variant, n_v AS n_users,
       round(1e-9 + CAST(sy_v AS DOUBLE) / CAST(n_v AS DOUBLE), 6) AS mean_y,
       round(1e-9 + {adj}, 6) AS mean_y_cuped,
       round(1e-9 + {theta}, 6) AS theta,
       round(1e-9 + {rho2}, 6) AS rho2
FROM per CROSS JOIN pooled"""


_SPRT_P0, _SPRT_P1 = 0.2, 0.25  # H0/H1 daily purchase share
_SPRT_ALPHA = 0.05  # = beta; Wald thresholds ±ln((1-a)/a)


def q_sprt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wald's sequential probability ratio test over the daily purchase
    share — the always-valid monitoring companion to the fixed-horizon
    q_ab_test: each day contributes s·ln(p1/p0) + (t−s)·ln((1−p1)/(1−p0))
    to the cumulative log-likelihood ratio, and the experiment STOPS the
    first day the cumulative LLR leaves (ln(β/(1−α)), ln((1−β)/α)).

    Exactness: (t, s) are exact daily BIGINT counts; the day's LLR is
    one engine-identical double over them (the ln constants evaluate
    identically from the same literals) quantized to 1e-6 micro-units;
    the running sum is then an exact BIGINT window cumsum — order-safe
    where a double cumsum would not be.  The day-ordered window is
    unpartitioned but day-grain bounded by calendar (the
    fare_daily_features rationale).  Verdict thresholds are the same
    micro-quantized constants in both engines."""
    ev = load_tables(spark, sf_dir)["events"].where(F.col("ts").isNotNull())
    daily = ev.groupBy(F.to_date("ts").alias("day")).agg(
        F.count(F.lit(1)).cast("long").alias("trials"),
        F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
        .cast("long")
        .alias("successes"),
    )
    lr = (
        f"CAST(successes AS DOUBLE) * ln({_SPRT_P1!r} / {_SPRT_P0!r})"
        f" + CAST(trials - successes AS DOUBLE)"
        f" * ln((1.0 - {_SPRT_P1!r}) / (1.0 - {_SPRT_P0!r}))"
    )
    a_mu = f"CAST(round(ln((1.0 - {_SPRT_ALPHA!r}) / {_SPRT_ALPHA!r}) * 1e6) AS BIGINT)"
    b_mu = f"CAST(round(ln({_SPRT_ALPHA!r} / (1.0 - {_SPRT_ALPHA!r})) * 1e6) AS BIGINT)"
    d = daily.withColumn(
        "llr_micro", F.expr(f"CAST(round(({lr}) * 1e6) AS BIGINT)")
    )
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    d = d.withColumn("cum_llr_micro", F.sum("llr_micro").over(w).cast("long"))
    verdict = (
        F.when(F.col("cum_llr_micro") >= F.expr(a_mu), "accept_h1")
        .when(F.col("cum_llr_micro") <= F.expr(b_mu), "accept_h0")
        .otherwise("continue")
    )
    d = d.withColumn("verdict", verdict)
    wp = Window.orderBy("day").rowsBetween(
        Window.unboundedPreceding, -1
    )
    decided_before = F.coalesce(
        F.max(F.when(F.col("verdict") != "continue", 1).otherwise(0)).over(wp),
        F.lit(0),
    )
    return d.select(
        "day",
        "trials",
        "successes",
        "llr_micro",
        "cum_llr_micro",
        "verdict",
        ((F.col("verdict") != "continue") & (decided_before == 0))
        .cast("int")
        .alias("is_stop"),
    )


def _sql_sprt() -> str:
    lr = (
        f"CAST(successes AS DOUBLE) * ln({_SPRT_P1!r} / {_SPRT_P0!r})"
        f" + CAST(trials - successes AS DOUBLE)"
        f" * ln((1.0 - {_SPRT_P1!r}) / (1.0 - {_SPRT_P0!r}))"
    )
    a_mu = f"CAST(round(ln((1.0 - {_SPRT_ALPHA!r}) / {_SPRT_ALPHA!r}) * 1e6) AS BIGINT)"
    b_mu = f"CAST(round(ln({_SPRT_ALPHA!r} / (1.0 - {_SPRT_ALPHA!r})) * 1e6) AS BIGINT)"
    return f"""
WITH daily AS (
    SELECT CAST(ts AS DATE) AS day, CAST(count(*) AS BIGINT) AS trials,
           CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                AS BIGINT) AS successes
    FROM events WHERE ts IS NOT NULL GROUP BY 1
),
d AS (
    SELECT day, trials, successes,
           CAST(round(({lr}) * 1e6) AS BIGINT) AS llr_micro
    FROM daily
),
c AS (
    SELECT *, CAST(sum(llr_micro) OVER (ORDER BY day) AS BIGINT)
                  AS cum_llr_micro
    FROM d
),
v AS (
    SELECT *,
           CASE WHEN cum_llr_micro >= {a_mu} THEN 'accept_h1'
                WHEN cum_llr_micro <= {b_mu} THEN 'accept_h0'
                ELSE 'continue' END AS verdict
    FROM c
)
SELECT day, trials, successes, llr_micro, cum_llr_micro, verdict,
       CAST(CASE WHEN verdict <> 'continue'
                  AND coalesce(max(CASE WHEN verdict <> 'continue'
                                        THEN 1 ELSE 0 END)
                      OVER (ORDER BY day
                            ROWS BETWEEN UNBOUNDED PRECEDING
                                     AND 1 PRECEDING), 0) = 0
                 THEN 1 ELSE 0 END AS INTEGER) AS is_stop
FROM v"""


_SHAPLEY_CHANNELS = [("view", 1), ("click", 2), ("signup", 4), ("error", 8)]
_SHAPLEY_K = len(_SHAPLEY_CHANNELS)
# |S|!·(k−1−|S|)! for k=4 — Shapley weights scaled by k! = 24
_SHAPLEY_W = {0: 6, 1: 2, 2: 2, 3: 6}


def q_shapley_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact Shapley-value channel attribution — the game-theoretic
    marketing readout beside q_attribution's first/last-touch and
    q_markov_transitions' path model: each of the four touch channels
    (view/click/signup/error) gets its marginal contribution to
    conversions (high-value purchase, the q_ab_test definition),
    averaged over ALL orderings via the coalition formula.

    The quadratic-looking sum is aggregation-bounded: users collapse to
    their channel-touch BITMASK (one corpus-grain pass → ≤2^k = 16
    rows), the coalition value v(S) = converted users whose touch set
    ⊆ S materializes over a 16-row literal subset spine, and Shapley
    folds over 2^k·k weighted deltas — everything after the first
    aggregation is metadata-sized, every quantity an exact BIGINT
    (weights are |S|!(k−1−|S|)! scaled by k! = 24; φ divides once at
    the end).  The efficiency identity Σφ = v(full) − v(∅) is
    pytest-pinned."""
    ev = load_tables(spark, sf_dir)["events"].where(
        F.col("user_id").isNotNull()
    )
    bits = [
        F.max(F.when(F.col("event_type") == ch, 1).otherwise(0)) * b
        for ch, b in _SHAPLEY_CHANNELS
    ]
    users = ev.groupBy("user_id").agg(
        sum(bits[1:], bits[0]).cast("int").alias("mask"),
        F.max(
            F.when(
                (F.col("event_type") == "purchase") & (F.col("value") > 150),
                1,
            ).otherwise(0)
        )
        .cast("int")
        .alias("conv"),
    )
    msets = users.where(F.col("conv") == 1).groupBy("mask").agg(
        F.count(F.lit(1)).cast("long").alias("n_conv")
    )
    full = (1 << _SHAPLEY_K) - 1
    subsets = spark.range(full + 1).select(F.col("id").cast("int").alias("s"))
    v = (
        subsets.join(
            F.broadcast(msets),
            F.expr("(mask & s) = mask"),
            "left",
        )
        .groupBy("s")
        .agg(F.coalesce(F.sum("n_conv"), F.lit(0)).cast("long").alias("v"))
    )
    ch = spark.createDataFrame(
        _SHAPLEY_CHANNELS, "channel string, bit int"
    )
    wcase = "CASE " + " ".join(
        f"WHEN bit_count(s) = {sz} THEN {w}" for sz, w in _SHAPLEY_W.items()
    ) + " END"
    spine = ch.crossJoin(subsets).where(F.expr("(s & bit) = 0"))
    vw = v.select(F.col("s").alias("s_with"), F.col("v").alias("v_with"))
    vo = v.select(F.col("s").alias("s_wo"), F.col("v").alias("v_wo"))
    phi = (
        spine.withColumn("w", F.expr(wcase).cast("long"))
        .join(F.broadcast(vo), F.expr("s_wo = s"))
        .join(F.broadcast(vw), F.expr("s_with = (s | bit)"))
        .groupBy("channel")
        .agg(
            F.sum(F.col("w") * (F.col("v_with") - F.col("v_wo")))
            .cast("long")
            .alias("phi_num")
        )
    )
    vfull = v.where(F.col("s") == full).select(
        F.col("v").alias("total_conversions")
    )
    kfact = 24
    return phi.crossJoin(F.broadcast(vfull)).select(
        "channel",
        "phi_num",
        _rnd(F.col("phi_num").cast("double") / kfact, 6).alias("phi"),
        "total_conversions",
    )


def _sql_shapley_attribution() -> str:
    bits = ", ".join(
        f"max(CASE WHEN event_type = '{ch}' THEN 1 ELSE 0 END) * {b}"
        for ch, b in _SHAPLEY_CHANNELS
    ).replace(", ", " + ")
    chvals = ", ".join(f"('{ch}', {b})" for ch, b in _SHAPLEY_CHANNELS)
    wcase = "CASE " + " ".join(
        f"WHEN bit_count(CAST(s AS BIGINT)) = {sz} THEN {w}"
        for sz, w in _SHAPLEY_W.items()
    ) + " END"
    full = (1 << _SHAPLEY_K) - 1
    return f"""
WITH users AS (
    SELECT user_id,
           CAST({bits} AS INTEGER) AS mask,
           CAST(max(CASE WHEN event_type = 'purchase' AND value > 150
                         THEN 1 ELSE 0 END) AS INTEGER) AS conv
    FROM events WHERE user_id IS NOT NULL
    GROUP BY 1
),
msets AS (
    SELECT mask, CAST(count(*) AS BIGINT) AS n_conv
    FROM users WHERE conv = 1 GROUP BY 1
),
subsets AS (SELECT CAST(range AS INTEGER) AS s FROM range({full + 1})),
v AS (
    SELECT s, CAST(coalesce(sum(n_conv), 0) AS BIGINT) AS v
    FROM subsets LEFT JOIN msets ON (mask & s) = mask
    GROUP BY 1
),
ch(channel, bit) AS (VALUES {chvals}),
spine AS (
    SELECT channel, bit, s, CAST({wcase} AS BIGINT) AS w
    FROM ch CROSS JOIN subsets WHERE (s & bit) = 0
),
phi AS (
    SELECT channel,
           CAST(sum(w * (vw.v - vo.v)) AS BIGINT) AS phi_num
    FROM spine
    JOIN v vo ON vo.s = spine.s
    JOIN v vw ON vw.s = (spine.s | spine.bit)
    GROUP BY 1
)
SELECT channel, phi_num,
       round(1e-9 + CAST(phi_num AS DOUBLE) / 24, 6) AS phi,
       (SELECT v FROM v WHERE s = {full}) AS total_conversions
FROM phi"""


def q_att_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified treatment-effect estimate (propensity-bucket
    standardization) — the observational companion to q_cuped's
    randomized adjustment: users stratify by PRE-period activity
    (s = min(x div 5, 9) — an exact integer bucketing, no quantile
    estimation), and the ATT is the treated-weighted sum of
    within-stratum outcome differences Σ_s (n1_s/N1)·(ȳ1_s − ȳ0_s) —
    comparing like-for-like activity levels instead of raw arms.

    Exactness: per-(stratum, arm) sums (n, Σy) are exact BIGINT from
    ONE user-grain pass; each stratum's diff term is an
    engine-identical double quantized to 1e-6 micro-units and the ATT
    rides as an exact BIGINT micro sum over the ≤10 strata (the kruskal
    idiom — never a cross-row double sum).  Strata with a missing arm
    contribute nothing in BOTH engines (the standard overlap
    restriction).  Shape: one events aggregation to user grain, one
    10×2-row pivot; everything after is metadata."""
    ev = load_tables(spark, sf_dir)["events"].where(
        F.col("ts").isNotNull() & F.col("user_id").isNotNull()
    )
    rng = ev.agg(
        F.min(F.to_date("ts")).alias("d0"), F.max(F.to_date("ts")).alias("d1")
    ).select(
        F.date_add(
            F.col("d0"), (F.datediff("d1", "d0") / 2).cast("int")
        ).alias("dmid")
    )
    users = (
        ev.crossJoin(F.broadcast(rng))
        .groupBy("user_id")
        .agg(
            F.sum(F.when(F.to_date("ts") < F.col("dmid"), 1).otherwise(0))
            .cast("long")
            .alias("x"),
            F.sum(
                F.when(
                    (F.to_date("ts") >= F.col("dmid"))
                    & (F.col("event_type") == "purchase"),
                    1,
                ).otherwise(0)
            )
            .cast("long")
            .alias("y"),
        )
        .select(
            F.pmod(F.col("user_id"), F.lit(2)).cast("int").alias("t"),
            F.least(F.expr("x div 5"), F.lit(9)).cast("int").alias("stratum"),
            "y",
        )
    )
    cell = users.groupBy("stratum").agg(
        F.sum(F.when(F.col("t") == 1, 1).otherwise(0)).cast("long").alias("n1"),
        F.sum(F.when(F.col("t") == 1, F.col("y")).otherwise(0))
        .cast("long")
        .alias("sy1"),
        F.sum(F.when(F.col("t") == 0, 1).otherwise(0)).cast("long").alias("n0"),
        F.sum(F.when(F.col("t") == 0, F.col("y")).otherwise(0))
        .cast("long")
        .alias("sy0"),
    )
    diff = (
        "CAST(sy1 AS DOUBLE) / CAST(n1 AS DOUBLE)"
        " - CAST(sy0 AS DOUBLE) / CAST(n0 AS DOUBLE)"
    )
    per = cell.select(
        "stratum",
        "n1",
        "n0",
        F.when(
            (F.col("n1") > 0) & (F.col("n0") > 0), _rnd(F.expr(diff), 6)
        ).alias("diff"),
        F.when(
            (F.col("n1") > 0) & (F.col("n0") > 0),
            F.expr(f"CAST(round(({diff}) * 1e6) AS BIGINT)"),
        )
        .otherwise(0)
        .alias("d_micro"),
        F.when((F.col("n1") > 0) & (F.col("n0") > 0), F.col("n1"))
        .otherwise(0)
        .alias("n1_eff"),
    )
    tot = per.agg(
        F.sum(F.col("n1_eff") * F.col("d_micro")).cast("long").alias("att_num"),
        F.sum("n1_eff").cast("long").alias("n1_tot"),
    )
    return per.crossJoin(F.broadcast(tot)).select(
        "stratum",
        "n1",
        "n0",
        "diff",
        _rnd(
            F.col("att_num").cast("double")
            / (F.col("n1_tot").cast("double") * 1e6),
            6,
        ).alias("att"),
    )


def _sql_att_stratified() -> str:
    diff = (
        "CAST(sy1 AS DOUBLE) / CAST(n1 AS DOUBLE)"
        " - CAST(sy0 AS DOUBLE) / CAST(n0 AS DOUBLE)"
    )
    return f"""
WITH ev AS (
    SELECT user_id, event_type, CAST(ts AS DATE) AS day
    FROM events WHERE ts IS NOT NULL AND user_id IS NOT NULL
),
rng AS (
    SELECT min(day) + to_days(CAST(date_diff('day', min(day), max(day)) // 2
                                   AS INTEGER)) AS dmid
    FROM ev
),
users AS (
    SELECT CAST(user_id % 2 AS INTEGER) AS t,
           CAST(least(sum(CASE WHEN day < dmid THEN 1 ELSE 0 END) // 5, 9)
                AS INTEGER) AS stratum,
           CAST(sum(CASE WHEN day >= dmid AND event_type = 'purchase'
                         THEN 1 ELSE 0 END) AS BIGINT) AS y
    FROM ev CROSS JOIN rng
    GROUP BY user_id
),
cell AS (
    SELECT stratum,
           CAST(sum(CASE WHEN t = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
           CAST(sum(CASE WHEN t = 1 THEN y ELSE 0 END) AS BIGINT) AS sy1,
           CAST(sum(CASE WHEN t = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n0,
           CAST(sum(CASE WHEN t = 0 THEN y ELSE 0 END) AS BIGINT) AS sy0
    FROM users GROUP BY 1
),
per AS (
    SELECT stratum, n1, n0,
           CASE WHEN n1 > 0 AND n0 > 0
                THEN round(1e-9 + {diff}, 6) END AS diff,
           CASE WHEN n1 > 0 AND n0 > 0
                THEN CAST(round(({diff}) * 1e6) AS BIGINT)
                ELSE 0 END AS d_micro,
           CASE WHEN n1 > 0 AND n0 > 0 THEN n1 ELSE 0 END AS n1_eff
    FROM cell
),
tot AS (
    SELECT CAST(sum(n1_eff * d_micro) AS BIGINT) AS att_num,
           CAST(sum(n1_eff) AS BIGINT) AS n1_tot
    FROM per
)
SELECT stratum, n1, n0, diff,
       round(1e-9 + CAST(att_num AS DOUBLE)
             / (CAST(n1_tot AS DOUBLE) * 1e6), 6) AS att
FROM per CROSS JOIN tot"""


_CLOSENESS_H = 4  # BFS horizon; 1/d weights are exact micro literals
_CLOSENESS_W = {1: 1000000, 2: 500000, 3: 333333, 4: 250000}


def q_closeness_centrality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Harmonic closeness at horizon h=4 over the top-40 corridor
    backbone — the reachability-centrality reading of the shared graph
    (PageRank weighs endorsement, k-core cohesion, LPA community;
    closeness answers "which zone reaches the backbone fastest").
    Truncated/harmonic closeness C(u) = Σ_{v≠u, d(u,v)≤h} 1/d(u,v) is
    the standard scalable variant: exact closeness needs all-pairs
    distances, horizon-h needs h sparse frontier rounds.

    Exactness: BFS distances are exact integers from h unrolled
    min-propagation rounds (each round localCheckpointed, the q_kcore
    discipline); 1/d terms are LITERAL micro integers (d ∈ 1..4), so
    closeness is an exact BIGINT sum.  Shape: one corpus-grain corridor
    aggregation; the BFS rounds are ≤80-node backbone metadata."""
    from .plans import nyc_views, staging

    li = staging.stg_taxi_trips(
        nyc_views.trips_from_events(load_tables(spark, sf_dir)["events"])
    )
    _und, both = _corridor_backbone(li, 40)
    # dist: (src, node, d) sparse frontier table, d = exact BFS distance
    dist = both.select(
        F.col("a").alias("src"), F.col("a").alias("node"),
        F.lit(0).cast("int").alias("d"),
    ).distinct().localCheckpoint()
    for r in range(1, _CLOSENESS_H + 1):
        step = (
            dist.join(both.select(F.col("a").alias("node"),
                                  F.col("b").alias("nxt")), "node")
            .select("src", F.col("nxt").alias("node"),
                    (F.col("d") + 1).cast("int").alias("d"))
        )
        dist = (
            dist.unionByName(step)
            .groupBy("src", "node")
            .agg(F.min("d").cast("int").alias("d"))
            .localCheckpoint()
        )
    w = F.create_map(
        *[x for k, v in _CLOSENESS_W.items() for x in (F.lit(k), F.lit(v))]
    )
    return (
        dist.where(F.col("d") > 0)
        .select("src", w[F.col("d")].cast("long").alias("w"))
        .groupBy(F.col("src").cast("long").alias("zone"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_reached"),
            F.sum("w").cast("long").alias("closeness_micro"),
        )
    )


def _sql_closeness_centrality() -> str:
    from .plans.nyc_views import SQL_TRIPS
    from .plans.staging import SQL_STG_TRIPS

    parts = [
        "WITH "
        + SQL_TRIPS.strip().rstrip(",")
        + ",\n"
        + SQL_STG_TRIPS.strip().rstrip(",")
        + _sql_backbone_ctes(40)
        + """,
d0 AS MATERIALIZED (
    SELECT DISTINCT a AS src, a AS node, 0 AS d FROM both_e
)"""
    ]
    prev = "d0"
    for r in range(1, _CLOSENESS_H + 1):
        parts.append(f""",
d{r} AS MATERIALIZED (
    SELECT src, node, CAST(min(d) AS INTEGER) AS d FROM (
        SELECT src, node, d FROM {prev}
        UNION ALL
        SELECT p.src, e.b AS node, p.d + 1 AS d
        FROM {prev} p JOIN both_e e ON e.a = p.node
    ) GROUP BY 1, 2
)""")
        prev = f"d{r}"
    wcase = "CASE d " + " ".join(
        f"WHEN {k} THEN {v}" for k, v in _CLOSENESS_W.items()
    ) + " END"
    parts.append(f"""
SELECT CAST(src AS BIGINT) AS zone,
       CAST(count(*) AS BIGINT) AS n_reached,
       CAST(sum({wcase}) AS BIGINT) AS closeness_micro
FROM {prev} WHERE d > 0
GROUP BY 1""")
    return "".join(parts)



ORACLES: dict[str, str] = {
    "q_roc_auc": _sql_roc_auc(),
    "q_pr_curve": _sql_pr_curve(),
    "q_lift_table": _sql_lift_table(),
    "q_kruskal_wallis": _sql_kruskal_wallis(),
    "q_anova_f": _sql_anova_f(),
    "q_welch_ttest": _sql_welch_ttest(),
    "q_morans_i": _sql_morans_i(),
    "q_link_prediction": _sql_link_prediction(),
    "q_permutation_test": _sql_permutation_test(),
    "q_diff_in_diff": _sql_diff_in_diff(),
    "q_getis_ord": _sql_getis_ord(),
    "q_mcnemar": _sql_mcnemar(),
    "q_wilcoxon_signed_rank": _sql_wilcoxon_signed_rank(),
    "q_time_decay": _SQL_TIME_DECAY,
    "q_graph_modularity": _sql_graph_modularity(),
    "q_ips_eval": _sql_ips_eval(),
    "q_kendall_tau": _sql_kendall_tau(),
    "q_theil_sen": _SQL_THEIL_SEN,
    "q_fk_audit": _sql_fk_audit(),
    "q_partition_advisor": _SQL_PARTITION_ADVISOR,
    "q_pseudonymize": _sql_pseudonymize(),
    "q_dp_histogram": _sql_dp_histogram(),
    "q_zorder_effect": _sql_zorder_effect(),
    "q_vacuum_plan": _SQL_VACUUM_PLAN,
    "q_clustering_depth": _SQL_CLUSTERING_DEPTH,
    "q_bloom_sizing": _sql_bloom_sizing(),
    "q_ndcg_mrr": _sql_ndcg_mrr(),
    "q_rtbf_plan": _sql_rtbf_plan(),
    "q_knn_classify": _SQL_KNN_CLASSIFY,
    "q_survival_km": _SQL_SURVIVAL_KM,
    "q_kcore": _sql_kcore(),
    "q_label_propagation": _sql_label_propagation(),
    "q_isotonic_calibration": _sql_isotonic_calibration(),
    "q_mmr_rerank": _sql_mmr_rerank(),
    "q_cv_auc": _sql_cv_auc(),
    "q_levene": _sql_levene(),
    "q_cuped": _sql_cuped(),
    "q_sprt": _sql_sprt(),
    "q_shapley_attribution": _sql_shapley_attribution(),
    "q_att_stratified": _sql_att_stratified(),
    "q_closeness_centrality": _sql_closeness_centrality(),
}
