"""Skew torture: 90%-one-key distributions against the salted operators.

Two claims, separately verified because they have different physics:

- JOIN: a 90% hot key sends ~90% of the fact through ONE sort-merge task;
  `salted_broadcast_join` spreads it over n_salts tasks. Wall time is
  asserted with AQE's skew-join splitting disabled — AQE is the first-line
  fix for exactly this shape (and stays ON in production configs); the
  salted operator is for the cases AQE can't rewrite, so the test isolates
  that path.
- AGG: count/sum aggregates do NOT straggle under a hot key at any
  realistic scale, because map-side partial aggregation collapses the hot
  key to one row per map task before the shuffle. `salted_agg` exists for
  the extreme-cardinality regime where the partial-agg hash map degrades;
  at torture-skew-but-modest-cardinality it must simply stay CORRECT (and
  is allowed to be slower — it adds a shuffle). Asserting a wall-time win
  here would be asserting a falsehood.
"""

from __future__ import annotations

import time

from pyspark.sql import functions as F

from nyc_taxi_data_warehouse_spark.operators import skew

_N = 2_000_000
_HOT_SHARE = 0.9


def _skewed_fact(spark):
    """2M rows, 90% on key 1, the rest uniform over 10k keys."""
    return spark.range(_N).select(
        F.when(F.col("id") % 10 < 9, F.lit(1))
        .otherwise((F.col("id") % 10_000) + 2)
        .alias("k"),
        (F.col("id") % 97).cast("double").alias("x"),
    )


def _dim(spark):
    return spark.range(1, 10_002).select(
        F.col("id").alias("k"), (F.col("id") * 2).cast("double").alias("w")
    )


def _run(df) -> float:
    t0 = time.time()
    df.write.format("noop").mode("overwrite").save()
    return time.time() - t0


def test_salted_join_beats_unsalted_on_90pct_hot_key(spark):
    conf = spark.conf
    saved = {
        k: conf.get(k)
        for k in (
            "spark.sql.autoBroadcastJoinThreshold",
            "spark.sql.adaptive.skewJoin.enabled",
        )
    }
    fact, dim = _skewed_fact(spark), _dim(spark)
    try:
        # force the shuffle join (the scenario where the dim is too big to
        # broadcast whole) and switch off AQE's skew splitting to isolate
        # what the salt itself buys
        conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        conf.set("spark.sql.adaptive.skewJoin.enabled", "false")

        plain = fact.join(dim, "k", "left").select("k", (F.col("x") * F.col("w")).alias("xw"))
        salted = skew.salted_broadcast_join(fact, dim, "k").select(
            "k", (F.col("x") * F.col("w")).alias("xw")
        )
        # row-for-row identical results first (salts never leak)
        assert plain.count() == salted.count() == _N
        a = plain.agg(F.sum("xw"), F.count("xw")).collect()[0]
        b = salted.agg(F.sum("xw"), F.count("xw")).collect()[0]
        assert a == b

        # min-of-2 wall time: first timed run also absorbs JIT/codegen
        t_plain = min(_run(plain) for _ in range(2))
        t_salted = min(_run(salted) for _ in range(2))
        # the hot key is ~90% of 2M rows in ONE task unsalted vs n_salts
        # tasks salted; require a real margin so host noise can't produce
        # a spurious pass in either direction
        assert t_salted < t_plain, (t_salted, t_plain)
    finally:
        for k, v in saved.items():
            conf.set(k, v)


def test_salted_agg_correct_under_torture_skew(spark):
    """90%-one-key aggregation: salted result == plain result exactly
    (counts and integer-lattice sums). No wall-time claim — see module
    docstring for why plain partial aggregation already wins this shape."""
    fact = _skewed_fact(spark).withColumn(
        "xi", (F.col("x") * 100).cast("long")
    )
    plain = {
        r.k: (r.row_count, r.xi_sum)
        for r in fact.groupBy("k")
        .agg(F.count(F.lit(1)).alias("row_count"), F.sum("xi").alias("xi_sum"))
        .collect()
    }
    salted = {
        r.k: (r.row_count, r.xi_sum)
        for r in skew.salted_agg(fact, ["k"], sums=["xi"]).select(
            "k", "row_count", "xi_sum"
        ).collect()
    }
    assert salted == plain
    assert plain[1][0] >= int(_N * _HOT_SHARE * 0.99)  # the key really is hot
