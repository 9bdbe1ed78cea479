"""Merge, quality-runner, dedup, and similarity operator tests."""

from __future__ import annotations

import re
from datetime import datetime

import pandas as pd
import pytest
from pyspark.sql import functions as F

from nyc_taxi_data_warehouse_spark.functions import vectors as V
from nyc_taxi_data_warehouse_spark.operators import dedup, merge, quality, similarity


# --- merge (S8/J4) ---------------------------------------------------------

def test_merge_insert_only_dedups_on_key(spark):
    target = spark.createDataFrame([(1, "a", 10.0), (2, "b", 20.0)], "id long, k string, v double")
    staged = spark.createDataFrame(
        [(2, "b", 99.0), (3, "c", 30.0)], "id long, k string, v double"
    )
    out = merge.merge_insert_only(target, staged, ["id", "k"])
    rows = {r.id: r.v for r in out.collect()}
    assert rows == {1: 10.0, 2: 20.0, 3: 30.0}  # existing row wins, new appended


def test_merge_is_idempotent(spark):
    target = spark.createDataFrame([(1, 10.0)], "id long, v double")
    out1 = merge.merge_insert_only(target, target, ["id", "v"])
    out2 = merge.merge_insert_only(out1, target, ["id", "v"])
    assert out2.count() == 1


def test_missing_keys_antijoin(spark):
    universe = spark.createDataFrame([(1,), (2,), (3,)], "h int")
    present = spark.createDataFrame([(2,)], "h int")
    got = sorted(r.h for r in merge.missing_keys(universe, present, ["h"]).collect())
    assert got == [1, 3]


def test_dedup_exact_keeps_first_by_order(spark):
    df = spark.createDataFrame(
        [("x", 2, "late"), ("x", 1, "early"), ("y", 5, "only")],
        "k string, seq int, tag string",
    )
    out = merge.dedup_exact(df, ["k"], ["seq"])
    rows = {r.k: r.tag for r in out.collect()}
    assert rows == {"x": "early", "y": "only"}


# --- quality runner (§2.12) ------------------------------------------------

def test_quality_checks_pass_and_fail(spark):
    df = spark.createDataFrame(
        [(1, 50.0), (2, None), (2, 200.0)], "id long, temp double"
    )
    results = {
        r.name: r
        for r in quality.run_checks(
            {
                "temp_not_null": quality.not_null(df, "temp"),
                "id_unique": quality.unique(df, "id"),
                "temp_range": quality.accepted_range(df, "temp", -50, 150),
            }
        )
    }
    assert results["temp_not_null"].status == "fail"
    assert results["id_unique"].status == "fail"
    assert results["temp_range"].status == "fail"
    clean = spark.createDataFrame([(1, 50.0), (2, 60.0)], "id long, temp double")
    ok = quality.run_checks({"u": quality.unique(clean, "id")})
    assert ok[0].status == "pass"


def test_unique_skips_null_keys_on_one_column_only(spark):
    """One column: dbt's ``unique`` filters NULL keys out, so NULL, NULL, 1
    passes. Several columns: ``unique_combination_of_columns`` groups
    NULLs, so a repeated (NULL, NULL) pair still fails."""
    df = spark.createDataFrame([(None, None), (None, None), (1, 2)], "d long, e long")
    one, two = quality.run_checks(
        {"one": quality.unique(df, "d"), "two": quality.unique(df, "d", "e")}
    )
    assert (one.status, one.violations) == ("pass", 0)
    assert (two.status, two.violations) == ("fail", 1)


def test_freshness_sla(spark):
    # the feed is 3 h old at the pinned instant
    df = spark.createDataFrame([(datetime(2024, 1, 1, 21, 0),)], "ts timestamp")
    report = quality.freshness_report(
        [("pass", df, "ts", 4, 8), ("warn", df, "ts", 2, 4), ("fail", df, "ts", 1, 2)],
        as_of="2024-01-02 00:00:00",
    )
    got = {r.source: (r.age_hours, r.status) for r in report.collect()}
    assert got == {"pass": (3, "pass"), "warn": (3, "warn"), "fail": (3, "fail")}


# --- dedup wave ------------------------------------------------------------

def test_minhash_lsh_finds_planted_near_dups(spark):
    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog again and again today"),
            (2, "the quick brown fox jumps over the lazy dog again and again tonight"),
            (3, "completely different words about spark shuffles and parquet readers"),
        ],
        "doc_id long, text string",
    )
    sh = dedup.shingle_rows(docs)
    sig = dedup.minhash_signatures(sh)
    pairs = dedup.lsh_candidate_pairs(dedup.lsh_bands(sig)).collect()
    got = {(r.doc_a, r.doc_b) for r in pairs}
    assert (1, 2) in got
    assert (1, 3) not in got and (2, 3) not in got


def test_jaccard_exact_values(spark):
    docs = spark.createDataFrame(
        [(1, "a b c d"), (2, "a b c e")], "doc_id long, text string"
    )
    # trigrams: {abc, bcd} vs {abc, bce} → jaccard = 1/3
    out = dedup.jaccard_pairs(dedup.shingle_rows(docs)).collect()
    assert len(out) == 1
    assert abs(out[0].jaccard - 1 / 3) < 1e-12


def test_prefix_filter_complete_vs_bruteforce(spark):
    """PPJoin completeness theorem: every pair with shingle-Jaccard ≥ t is
    found — compare against the brute-force jaccard_pairs on the same
    shingle frame."""
    docs = spark.createDataFrame(
        [
            (1, "a b c d e f g h"),
            (2, "a b c d e f g x"),   # high overlap with 1
            (3, "a b c d q r s t"),   # partial overlap
            (4, "m n o p q r s t"),   # overlaps 3 only
            (5, "u v w x y z aa bb"),  # isolated
        ],
        "doc_id long, text string",
    )
    sh = dedup.shingle_rows(docs)
    t = 0.4
    brute = {
        (r.doc_a, r.doc_b)
        for r in dedup.jaccard_pairs(sh.persist()).collect()
        if r.jaccard >= t
    }
    got = {
        (r.doc_a, r.doc_b)
        for r in dedup.prefix_filter_pairs(sh, threshold=t).collect()
    }
    assert got == brute and brute  # non-trivially equal


def test_prefix_filter_length_integer_exact(spark):
    """The prefix length must equal the exact integer |d| − ⌈t·|d|⌉ + 1
    for EVERY (size, threshold) — exhaustively vs rational arithmetic.
    The naive ⌊sz·(1−t)⌋+1 float form loses an ulp exactly when t·sz is
    mathematically integral but 1−t is inexact in binary (t=0.9, sz=20:
    floor(20·0.0999…)=1, one element short → false-negative hole). The
    engine computes sz − ceil(sz·t − 1e-9) + 1; this pins it."""
    from fractions import Fraction
    from math import ceil

    sizes = list(range(1, 201))
    thresholds = [0.9, 0.8, 0.75, 0.7, 2 / 3, 0.6, 0.5, 0.3, 0.1]
    df = spark.createDataFrame([(s,) for s in sizes], "sz long")
    for t in thresholds:
        got = {
            r.sz: r.plen
            for r in df.select(
                "sz",
                (
                    F.col("sz")
                    - F.ceil(F.col("sz") * F.lit(t) - F.lit(1e-9))
                    + 1
                ).alias("plen"),
            ).collect()
        }
        for s in sizes:
            want = s - ceil(Fraction(t).limit_denominator(10**6) * s) + 1
            assert got[s] == want, (s, t, got[s], want)


def test_prefix_filter_high_threshold_complete(spark):
    """t=0.9 with |d|=20 token sets — the exact ulp-loss shape the float
    prefix formula got wrong. Two identical 20-element sets (J=1.0 ≥ 0.9)
    must be found; completeness would silently break if the prefix were
    one element short and the shared rare element fell outside it."""
    els = [f"tok{i:02d}" for i in range(20)]
    rows = [(0, e) for e in els] + [(1, e) for e in els]
    # a third doc sharing only half the elements (J=1/3, excluded)
    rows += [(2, e) for e in els[:10]] + [(2, f"zz{i:02d}") for i in range(10)]
    sh = spark.createDataFrame(rows, "doc_id long, shingle string")
    out = dedup.prefix_filter_pairs(sh, threshold=0.9).collect()
    assert {(r.doc_a, r.doc_b) for r in out} == {(0, 1)}
    assert out[0].jaccard == 1.0


def test_bloom_num_bits_guard(spark):
    """num_bits beyond 2^36 would overflow the probe's int array ordinal
    (wrong-but-plausible lookups) — both build and probe must refuse."""
    import pytest as _pytest

    from nyc_taxi_data_warehouse_spark.operators import bloom

    with _pytest.raises(ValueError, match="num_bits"):
        bloom.bloom_build(None, "k", num_bits=(1 << 36) + 64)
    with _pytest.raises(ValueError, match="num_bits"):
        bloom.bloom_might_contain(
            F.col("k"), F.col("b"), num_bits=1 << 40, num_hashes=3
        )
    with _pytest.raises(ValueError, match="num_bits"):
        bloom.bloom_build(None, "k", num_bits=32)


def test_prefix_filter_threshold_excludes_weak_pairs(spark):
    docs = spark.createDataFrame(
        [(1, "a b c d e"), (2, "a b c x y"), (3, "p q r s t")],
        "doc_id long, text string",
    )
    # trigrams of 1: {abc,bcd,cde}; of 2: {abc,bcx,cxy} → jaccard 1/5 < 0.5
    out = dedup.prefix_filter_pairs(
        dedup.shingle_rows(docs), threshold=0.5
    ).collect()
    assert out == []


def test_group_shingle_overlap_counts_and_ratios(spark):
    """Sources A/B share exactly the trigrams of one common sentence; C is
    disjoint and must not appear in the matrix at all."""
    shared = "one two three four five"  # 3 trigrams
    docs = spark.createDataFrame(
        [
            (1, shared + " alpha beta", "A"),  # 5 trigrams total
            (2, shared + " gamma delta", "B"),
            (3, "totally different corpus text here now", "C"),
        ],
        "doc_id long, text string, source string",
    )
    out = dedup.group_shingle_overlap(docs, group_col="source").collect()
    got = {(r.source_a, r.source_b): r for r in out}
    assert set(got) == {("A", "B")}
    r = got[("A", "B")]
    assert r.n_common == 3
    assert abs(r.jaccard - 3 / 7) < 1e-12
    assert abs(r.containment_a - 3 / 5) < 1e-12


def test_global_index_dense_deterministic(spark):
    """global_index emits a dense 0-based bijection over ANY key space —
    here sparse, unordered, negative ids — identical across invocations,
    and equal to rank in the documented (bucket, key) permutation order."""
    from nyc_taxi_data_warehouse_spark.operators import sampling

    keys = [507, -3, 9999, 0, 12, 86, -77, 1000000, 41, 7]
    df = spark.createDataFrame([(k,) for k in keys], "doc_id long")
    out1 = {r.doc_id: r.idx for r in sampling.global_index(df, "doc_id").collect()}
    out2 = {r.doc_id: r.idx for r in sampling.global_index(df, "doc_id").collect()}
    assert out1 == out2
    assert sorted(out1.values()) == list(range(len(keys)))

    def bucket(k):
        import hashlib

        h = hashlib.md5(f"{k}gidx".encode()).hexdigest()
        return int(h[:8], 16) % 256

    want_order = sorted(keys, key=lambda k: (bucket(k), k))
    assert out1 == {k: i for i, k in enumerate(want_order)}


def test_quantile_bins_uniform_deciles(spark):
    from nyc_taxi_data_warehouse_spark.operators import sampling

    df = spark.range(1, 101).select(F.col("id").alias("x"))
    out = sampling.quantile_bins(df, "x", num_bins=10)
    per = {
        r.bin: r.n
        for r in out.groupBy("bin").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    assert per == {b: 10 for b in range(1, 11)}
    # bin edges are half-open on the right: x=10 is the last of bin 1
    vals = {r.x: r.bin for r in out.collect()}
    assert vals[10] == 1 and vals[11] == 2 and vals[100] == 10


def test_quantile_bins_ties_share_a_bin(spark):
    """95 copies of one value + 5 larger: the tie mass stays in bin 1 and
    the tail lands in the LAST bin — ties are never split across bins."""
    from nyc_taxi_data_warehouse_spark.operators import sampling

    rows = [(1,)] * 95 + [(v,) for v in (2, 3, 4, 5, 6)]
    df = spark.createDataFrame(rows, "x long")
    out = sampling.quantile_bins(df, "x", num_bins=10).collect()
    bins = {}
    for r in out:
        bins.setdefault(r.bin, 0)
        bins[r.bin] += 1
    assert bins == {1: 95, 10: 5}


def test_rolling_median_resists_spike_where_mean_does_not(spark):
    from nyc_taxi_data_warehouse_spark.operators import timeseries

    rows = [("a", i, v) for i, v in enumerate([10, 10, 10, 1000, 10, 10, 10])]
    df = spark.createDataFrame(rows, "k string, t long, x long")
    out = {
        r.t: r
        for r in timeseries.rolling_median(
            df, ["k"], "t", "x", window=3
        ).collect()
    }
    assert out[4].rolling_med == 10.0  # window {1000,10,10} → median 10
    assert out[3].rolling_med == 10.0  # {10,10,1000}
    assert out[0].rolling_med == 10.0  # partial leading frame


def test_robust_anomalies_flags_planted_spike(spark):
    """Series of flat 10s with one 100-spike: median 10, MAD 0... so use a
    mildly varying series — MAD must be positive for a score to exist."""
    from nyc_taxi_data_warehouse_spark.operators import timeseries

    rows = [("a", i, v) for i, v in enumerate([10, 11, 9, 10, 12, 8, 10, 100])]
    df = spark.createDataFrame(rows, "k string, t long, x long")
    out = {r.t: r for r in timeseries.robust_anomalies(df, ["k"], "x").collect()}
    assert out[7].is_anomaly == 1  # the spike
    assert all(out[i].is_anomaly == 0 for i in range(7))
    assert out[0].med == 10.0 and out[0].mad == 1.0


def test_robust_anomalies_zero_mad_yields_null_score_not_flag(spark):
    """Constant series: MAD = 0 → NULL score, nothing flagged, no div-by-0."""
    from nyc_taxi_data_warehouse_spark.operators import timeseries

    df = spark.createDataFrame(
        [("a", i, 5) for i in range(6)], "k string, t long, x long"
    )
    out = timeseries.robust_anomalies(df, ["k"], "x").collect()
    assert all(r.rz is None and r.is_anomaly == 0 for r in out)


def test_robust_anomalies_outlier_cannot_hide_itself(spark):
    """The breakdown property mean/std z-scores lack: with a HUGE outlier,
    a classical 3-sigma test on this series would not flag it (the outlier
    inflates sigma); the MAD score still does."""
    from nyc_taxi_data_warehouse_spark.operators import timeseries

    vals = [10, 11, 9, 10, 12, 8, 11, 9, 10000]
    df = spark.createDataFrame(
        [("a", i, v) for i, v in enumerate(vals)], "k string, t long, x long"
    )
    import statistics

    mu, sigma = statistics.mean(vals), statistics.pstdev(vals)
    assert abs(vals[-1] - mu) / sigma < 3  # classical test misses it
    out = {r.t: r for r in timeseries.robust_anomalies(df, ["k"], "x").collect()}
    assert out[8].is_anomaly == 1  # MAD test catches it


def test_bloom_semi_join_equals_exact_semi_join(spark):
    from nyc_taxi_data_warehouse_spark.operators import bloom

    dim = spark.range(0, 500).select((F.col("id") * 7).alias("k"))
    fact = spark.range(0, 20000).select(
        F.col("id").alias("k"), (F.col("id") % 5).alias("v")
    )
    exact = fact.join(dim.select("k").distinct(), "k", "left_semi")
    got = bloom.bloom_semi_join(fact, dim, "k")
    assert got.exceptAll(exact).count() == 0
    assert exact.exceptAll(got).count() == 0


def _bloom_prefilter(fact, dim, key, num_bits=1 << 20, num_hashes=5):
    """The Bloom survivors of ``fact`` (a superset of fact ⋉ dim) — the
    pruning step `bloom_semi_join` composes, before its confirming join."""
    from nyc_taxi_data_warehouse_spark.operators import bloom

    bits = bloom.bloom_build(dim, key, num_bits, num_hashes)
    return (
        fact.crossJoin(F.broadcast(bits))
        .where(
            bloom.bloom_might_contain(
                F.col(key), F.col("__bloom"), num_bits, num_hashes
            )
        )
        .drop("__bloom")
    )


def test_bloom_prefilter_prunes_but_never_drops_matches(spark):
    dim = spark.range(0, 200).select((F.col("id") * 13).alias("k"))
    fact = spark.range(0, 20000).select(F.col("id").alias("k"))
    pre = _bloom_prefilter(fact, dim, "k")
    true_keys = {r.k for r in fact.join(dim, "k", "left_semi").collect()}
    pre_keys = {r.k for r in pre.collect()}
    assert true_keys <= pre_keys  # no false negatives, ever
    assert len(pre_keys) < 0.05 * 20000  # bitset actually prunes


def test_bloom_mixed_key_types_no_false_negatives(spark):
    """xxhash64 is type-sensitive; the key canonicalization must make an
    int-keyed dim match a bigint-keyed fact (regression: 0-row result)."""
    from nyc_taxi_data_warehouse_spark.operators import bloom

    dim = spark.range(0, 50).select((F.col("id") * 2).cast("int").alias("k"))
    fact = spark.range(0, 1000).select(F.col("id").alias("k"))  # bigint
    got = bloom.bloom_semi_join(fact, dim, "k")
    exact = fact.join(dim.select(F.col("k").cast("long")), "k", "left_semi")
    assert got.count() == exact.count() == 50


def test_bloom_fact_with_colliding_column_name(spark):
    from nyc_taxi_data_warehouse_spark.operators import bloom

    dim = spark.range(0, 10).select(F.col("id").alias("k"))
    fact = spark.range(0, 100).select(
        F.col("id").alias("k"), F.lit("x").alias("bloom")
    )
    out = bloom.bloom_semi_join(fact, dim, "k")
    assert out.count() == 10 and "bloom" in out.columns


def test_top_k_prune_preserves_exact_topk(spark):
    """The salted two-phase prune must yield EXACTLY the same top-k rows
    and rank values as the single-window form — including price ties that
    straddle salt buckets, groups smaller than k, and k larger than a
    salt bucket's share."""
    from pyspark.sql import Window

    from nyc_taxi_data_warehouse_spark.operators.sampling import top_k_prune

    rows = []
    for g in ("a", "b"):
        for i in range(200):
            rows.append((g, i + (1000 if g == "b" else 0), float(i % 7)))
    rows.append(("tiny", 5000, 9.0))  # group smaller than k
    df = spark.createDataFrame(rows, "grp string, key long, price double")
    order = [F.desc("price"), F.asc("key")]
    w = Window.partitionBy("grp").orderBy(*order)

    def ranked(frame):
        return (
            frame.select(
                "grp", "key", "price",
                F.row_number().over(w).alias("rn"),
                F.dense_rank().over(w).alias("drk"),
            )
            .where(F.col("rn") <= 5)
        )

    want = sorted(map(tuple, ranked(df).collect()))
    got = sorted(
        map(
            tuple,
            ranked(
                top_k_prune(df, ["grp"], order, k=5, salt_key="key", n_salt=8)
            ).collect(),
        )
    )
    assert got == want


def test_psi_nonnegative_and_orders_drift(spark):
    """PSI is a sum of (p−q)·ln(p/q) terms — each term has matching signs,
    so PSI ≥ 0 ALWAYS; a group drawn from the same distribution as the
    corpus must score near zero, and a location-shifted group must score
    strictly higher. Both groups share the corpus-wide decile ruler."""
    from nyc_taxi_data_warehouse_spark.operators import drift

    rows = [("same", i % 100) for i in range(500)]
    rows += [("shifted", 200 + (i % 100)) for i in range(500)]
    df = spark.createDataFrame(rows, "grp string, x long")
    out = {r.grp: r for r in drift.psi_by_group(df, "grp", "x").collect()}
    assert set(out) == {"same", "shifted"}
    for r in out.values():
        assert r.psi >= 0.0
        assert r.n_rows == 500
    # "same" spans the low half of the corpus range, "shifted" the high
    # half — both drift from the pooled corpus equally by construction;
    # the discriminating check needs a genuinely corpus-like group:
    mixed = rows + [("pooledlike", i % 100) for i in range(250)] + [
        ("pooledlike", 200 + (i % 100)) for i in range(250)
    ]
    df2 = spark.createDataFrame(mixed, "grp string, x long")
    out2 = {r.grp: r.psi for r in drift.psi_by_group(df2, "grp", "x").collect()}
    assert out2["pooledlike"] < out2["same"]
    assert out2["pooledlike"] < out2["shifted"]
    assert out2["pooledlike"] < 0.02  # near-zero for a corpus-like group


def test_psi_excludes_nulls(spark):
    """NULL values join neither the boundary derivation nor either
    distribution; a group that is entirely NULL disappears (no rows)."""
    from nyc_taxi_data_warehouse_spark.operators import drift

    rows = [("a", i) for i in range(100)] + [("a", None)] * 20
    rows += [("allnull", None)] * 10
    df = spark.createDataFrame(rows, "grp string, x long")
    out = {r.grp: r for r in drift.psi_by_group(df, "grp", "x").collect()}
    assert "allnull" not in out
    assert out["a"].n_rows == 100


def test_ks_by_group_matches_naive(spark):
    """Exact two-sample KS vs a brute-force Python computation over the
    union of distinct values: the bucketed-window CDF + fill-forward +
    carry machinery must agree to the last ulp (the statistic is an
    integer max divided once)."""
    import bisect
    import random

    from nyc_taxi_data_warehouse_spark.operators import drift

    rng = random.Random(7)
    rows = [("a", rng.randint(0, 50)) for _ in range(300)]
    rows += [("b", rng.randint(20, 90)) for _ in range(200)]
    rows += [("c", rng.randint(0, 90)) for _ in range(150)]
    df = spark.createDataFrame(rows, "g string, v long")
    out = {r.g: (r.n_rows, r.ks) for r in drift.ks_by_group(df, "g", "v").collect()}
    allv = sorted({v for _, v in rows})
    n = len(rows)
    svals = sorted(v for _, v in rows)
    for g in ("a", "b", "c"):
        gv = sorted(v for gg, v in rows if gg == g)
        n_g = len(gv)
        d = max(
            abs(bisect.bisect_right(gv, v) * n - bisect.bisect_right(svals, v) * n_g)
            for v in allv
        )
        assert out[g][0] == n_g
        assert abs(out[g][1] - d / (n_g * n)) < 1e-12


def test_ks_by_group_bounds_and_self(spark):
    """0 ≤ KS ≤ 1; a group that IS the corpus scores exactly 0, and a
    group disjoint in value range from most of the corpus scores high."""
    from nyc_taxi_data_warehouse_spark.operators import drift

    rows = [("whole", i % 37) for i in range(370)]
    out = {r.g: r.ks for r in drift.ks_by_group(
        spark.createDataFrame(rows, "g string, v long"), "g", "v"
    ).collect()}
    assert out["whole"] == 0.0
    rows2 = [("low", i % 10) for i in range(500)] + [
        ("high", 1000 + i % 10) for i in range(500)
    ]
    out2 = {r.g: r.ks for r in drift.ks_by_group(
        spark.createDataFrame(rows2, "g string, v long"), "g", "v"
    ).collect()}
    assert all(0.0 <= v <= 1.0 for v in out2.values())
    assert out2["low"] >= 0.45 and out2["high"] >= 0.45


def test_divergence_by_group_invariants(spark):
    """psi column equals psi_by_group bit-for-bit (shared grid); KL and
    χ² are nonnegative; JS is nonnegative and bounded by ln 2."""
    import math

    from nyc_taxi_data_warehouse_spark.operators import drift

    rows = [("same", i % 100) for i in range(500)]
    rows += [("shifted", 200 + (i % 100)) for i in range(500)]
    df = spark.createDataFrame(rows, "grp string, x long")
    dv = {r.grp: r for r in drift.divergence_by_group(df, "grp", "x").collect()}
    psi = {r.grp: r.psi for r in drift.psi_by_group(df, "grp", "x").collect()}
    for g, r in dv.items():
        assert r.psi == psi[g]
        assert r.kl_div >= 0.0
        assert r.chi2 >= 0.0
        assert 0.0 <= r.js_div <= math.log(2) + 1e-12


def test_quantile_bins_single_bin_and_nulls(spark):
    from nyc_taxi_data_warehouse_spark.operators import sampling

    df = spark.createDataFrame(
        [(1,), (2,), (3,), (None,)], "x long"
    )
    one = {r.x: r.bin for r in sampling.quantile_bins(df, "x", 1).collect()}
    assert one == {1: 1, 2: 1, 3: 1, None: None}
    # NULLs excluded from boundaries, NULL bin out; non-nulls unaffected
    two = {r.x: r.bin for r in sampling.quantile_bins(df, "x", 3).collect()}
    assert two[None] is None
    assert two[1] == 1 and two[2] == 2 and two[3] == 3


def test_bloom_large_bitset_builds_and_prunes(spark):
    """The 2^24-bit configuration (the 'size it up' path: 262k-word dense
    array, 2 MiB broadcast) builds through the word spine and still
    satisfies both contracts: zero false negatives, strong pruning."""
    dim = spark.range(0, 2000).select((F.col("id") * 3).alias("k"))
    fact = spark.range(0, 50000).select(F.col("id").alias("k"))
    pre = _bloom_prefilter(fact, dim, "k", num_bits=1 << 24, num_hashes=5)
    pre_keys = {r.k for r in pre.collect()}
    true_keys = {r.k for r in fact.join(dim, "k", "left_semi").collect()}
    assert true_keys <= pre_keys
    assert len(pre_keys) < 0.05 * 50000


def test_bloom_empty_dim_filters_everything(spark):
    dim = spark.range(0, 10).where(F.lit(False)).select(F.col("id").alias("k"))
    fact = spark.range(0, 100).select(F.col("id").alias("k"))
    assert _bloom_prefilter(fact, dim, "k").count() == 0


def test_sparse_cosine_identical_and_disjoint(spark):
    from nyc_taxi_data_warehouse_spark.operators import terms as TM

    docs = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta"),
            (2, "alpha beta gamma delta"),
            (3, "epsilon zeta eta theta"),
        ],
        "doc_id long, text string",
    )
    out = TM.sparse_cosine_pairs(docs, threshold=0.0).collect()
    got = {(r.doc_a, r.doc_b): r for r in out}
    assert set(got) == {(1, 2)}  # disjoint doc 3 never pairs
    assert abs(got[(1, 2)].cosine - 1.0) < 1e-12
    assert got[(1, 2)].dot == 4  # four unit-tf shared terms


def test_sparse_cosine_max_df_drops_boilerplate_term(spark):
    """A term in EVERY doc exceeds max_df and is excluded from both the
    vectors and the pairing — docs sharing only that term never pair."""
    from nyc_taxi_data_warehouse_spark.operators import terms as TM

    docs = spark.createDataFrame(
        [(i, f"common unique{i} other{i}") for i in range(1, 6)],
        "doc_id long, text string",
    )
    out = TM.sparse_cosine_pairs(docs, max_df=3, threshold=0.0).collect()
    assert out == []


def test_sparse_cosine_top_m_prunes_low_tf_terms(spark):
    """With top_m=1 only each doc's highest-TF term survives: docs 1/2 keep
    'aa' (cosine 1 on that axis); doc 3's top term is 'bb' so its overlap
    with 1 via 'cc' is pruned away."""
    from nyc_taxi_data_warehouse_spark.operators import terms as TM

    docs = spark.createDataFrame(
        [
            (1, "aa aa aa cc"),
            (2, "aa aa aa dd"),
            (3, "bb bb bb cc"),
        ],
        "doc_id long, text string",
    )
    out = TM.sparse_cosine_pairs(docs, top_m=1, threshold=0.0).collect()
    assert {(r.doc_a, r.doc_b) for r in out} == {(1, 2)}


def test_dup_ngram_coverage_planted(spark):
    """Doc 2 is doc 1's exact copy (coverage 1.0 both ways); doc 3 shares
    nothing (coverage 0); doc 4 shares exactly its first trigram with 1/2."""
    shared = "the quick brown fox jumps over the lazy dog"
    docs = spark.createDataFrame(
        [
            (1, shared),
            (2, shared),
            (3, "completely unrelated words about parquet shuffles here"),
            (4, "the quick brown cat naps on warm stones"),
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in dedup.dup_ngram_coverage(docs).collect()}
    # 9 tokens → 7 trigrams per shared doc, all duplicated across 1↔2
    assert out[1].n_grams == 7 and out[1].dup_grams == 7
    assert abs(out[1].dup_fraction - 1.0) < 1e-12
    assert abs(out[2].dup_fraction - 1.0) < 1e-12
    assert out[3].dup_grams == 0 and out[3].dup_fraction == 0.0
    # doc 4: only "the quick brown" is shared → 1/6 trigrams duplicated
    assert out[4].n_grams == 6 and out[4].dup_grams == 1


def test_dup_ngram_repeated_gram_within_one_doc_not_duplicated(spark):
    """A gram repeated INSIDE a single doc but nowhere else is not
    corpus-duplicated: df counts distinct docs, not occurrences."""
    docs = spark.createDataFrame(
        [(1, "x y z x y z x y z"), (2, "totally different tokens entirely")],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in dedup.dup_ngram_coverage(docs).collect()}
    assert out[1].n_grams == 7 and out[1].dup_grams == 0


def test_simhash_near_for_twins(spark):
    """Docs with the SAME distinct-token set get the same 64-bit fingerprint
    (SimHash is set-based) and surface as a Hamming-0 pair; an unrelated doc
    pairs with neither."""
    base = "spark shuffle partition broadcast join aggregate window watermark"
    reordered = "watermark window aggregate join broadcast partition shuffle spark spark"
    docs = spark.createDataFrame(
        [(1, base), (2, reordered), (3, "zebra yak xylophone wombat vulture unicorn")],
        "doc_id long, text string",
    )
    hashes = dedup.simhash(docs)
    vals = {r.doc_id: r.simhash for r in hashes.collect()}
    assert vals[1] == vals[2]
    pairs = dedup.simhash_near_pairs(hashes, max_hamming=3).collect()
    assert any((p.doc_a, p.doc_b, p.hamming) == (1, 2, 0) for p in pairs)
    assert all(3 not in (p.doc_a, p.doc_b) for p in pairs)


def test_simhash_band_pigeonhole_finds_planted_hamming3_pair(spark):
    """Every Hamming-≤3 pair of 64-bit fingerprints shares ≥1 of the 4
    16-bit bands exactly, so the band join must find it — including pairs
    whose differing bits span 3 DIFFERENT bands (worst case)."""
    # bits 0, 16, 32 set → differs in bands 0, 1, 2; band 3 identical
    a = (7 << 48) | (5 << 32) | (9 << 16) | 3
    b = a ^ ((1 << 0) | (1 << 16) | (1 << 32))
    far = (1 << 62) | (4321 << 16) | 999  # shares no band with a or b
    hashes = spark.createDataFrame(
        [(1, a), (2, b), (3, far)], "doc_id long, simhash long"
    )
    pairs = {(p.doc_a, p.doc_b): p.hamming for p in
             dedup.simhash_near_pairs(hashes, max_hamming=3).collect()}
    assert pairs == {(1, 2): 3}


def test_simhash_sign_bit_band_and_hamming(spark):
    """Bit 63 lands on the BIGINT sign bit: band 3 extraction and Hamming
    must be two's-complement-transparent (negative fingerprints work)."""
    a = -(1 << 63) | (42 << 16)  # bit 63 set → negative BIGINT
    b = a | 1                    # differs only in bit 0 → hamming 1
    hashes = spark.createDataFrame(
        [(1, a), (2, b)], "doc_id long, simhash long"
    )
    bands = {(r.band, r.bkey) for r in dedup.simhash_bands(
        hashes.where("doc_id = 1")).collect()}
    assert (3, 1 << 15) in bands  # sign bit visible in band 3's key
    pairs = dedup.simhash_near_pairs(hashes, max_hamming=3).collect()
    assert [(p.doc_a, p.doc_b, p.hamming) for p in pairs] == [(1, 2, 1)]


def test_simhash_hot_bucket_capped_but_true_pair_survives(spark):
    """A 10k-doc bucket (identical band-0 key) must NOT blow up the pair
    count: the cap drops it outright, while a planted near-pair that
    co-buckets in the other bands is still found."""
    mega = [(i, (i << 48) | (i << 32) | (i << 16)) for i in range(1, 10_001)]
    # a/b escape the mega bucket in band 0 (keys 1/2) and co-bucket in
    # bands 1 (12345) and 2 (7); they differ only in band-0 bits → hamming 2
    a = (7 << 32) | (12_345 << 16) | 1
    b = (7 << 32) | (12_345 << 16) | 2
    hashes = spark.createDataFrame(
        mega + [(20_001, a), (20_002, b)], "doc_id long, simhash long"
    )
    got = dedup.simhash_near_pairs(hashes, max_hamming=3, max_bucket=1000)
    rows = got.collect()  # bounded: without the cap this is ~5·10⁷ pairs
    assert [(p.doc_a, p.doc_b, p.hamming) for p in rows] == [(20_001, 20_002, 2)]


def test_simhash_max_hamming_must_respect_band_guarantee(spark):
    import pytest

    hashes = spark.createDataFrame([(1, 5)], "doc_id long, simhash long")
    with pytest.raises(ValueError):
        dedup.simhash_near_pairs(hashes, max_hamming=4)


def test_lsh_hot_bucket_capped_and_observable(spark):
    """MinHash LSH: 2000 identical docs form one mega-bucket per band; the
    cap drops them (bounded candidate count) while a distinct planted
    near-dup pair is still found, and lsh_hot_buckets reports the drop."""
    boiler = [(i, "terms of service apply to all content on this site forever")
              for i in range(1, 2001)]
    near = [
        (5001, "the quick brown fox jumps over the lazy dog again and again today"),
        (5002, "the quick brown fox jumps over the lazy dog again and again tonight"),
    ]
    docs = spark.createDataFrame(boiler + near, "doc_id long, text string")
    bands = dedup.lsh_bands(dedup.minhash_signatures(dedup.shingle_rows(docs)))
    bands.persist()
    pairs = dedup.lsh_candidate_pairs(bands, max_bucket=1000).collect()
    got = {(p.doc_a, p.doc_b) for p in pairs}
    assert (5001, 5002) in got
    assert len(got) <= 10  # the 2000²/2 boilerplate pairs never materialized
    hot = dedup.lsh_hot_buckets(bands, max_bucket=1000).collect()
    assert hot and all(r.bucket_size == 2000 for r in hot)
    bands.unpersist()


def test_lsh_cross_candidates_caps_combined_occupancy(spark):
    """Cross-corpus cap: a bucket boiling over only when BOTH sides are
    combined (600 left + 600 right identical docs) is dropped; a planted
    train→eval leak in a sane bucket is still caught."""
    boiler_l = [(i, "all rights reserved contact the webmaster for details today")
                for i in range(1, 601)]
    boiler_r = [(i, "all rights reserved contact the webmaster for details today")
                for i in range(1, 601)]
    leak = "the quick brown fox jumps over the lazy dog again and again today"
    left = spark.createDataFrame(boiler_l + [(900, leak)], "doc_id long, text string")
    right = spark.createDataFrame(boiler_r + [(901, leak)], "doc_id long, text string")

    def bandify(df):
        return dedup.lsh_bands(dedup.minhash_signatures(dedup.shingle_rows(df)))

    got = {
        (r.left_id, r.right_id)
        for r in dedup.lsh_cross_candidates(
            bandify(left), bandify(right), max_bucket=1000
        ).collect()
    }
    assert (900, 901) in got
    assert len(got) <= 10  # 600×600 boilerplate cross product never materialized


# --- similarity ------------------------------------------------------------

def test_brute_force_knn_exact(spark):
    vecs = spark.createDataFrame(
        [
            (1, [1.0, 0.0]),
            (2, [0.9, 0.1]),
            (3, [0.0, 1.0]),
        ],
        "vec_id long, embedding array<float>",
    )
    out = similarity.brute_force_knn(vecs.where("vec_id = 1"), vecs, k=2).collect()
    ranked = [r.neighbor_id for r in sorted(out, key=lambda r: -r.sim)]
    assert ranked == [1, 2]  # self first, then the near vector


def test_ivf_knn_prunes_other_cells(spark):
    vecs = spark.createDataFrame(
        [
            (1, [1.0, 0.0], 0),
            (2, [0.99, 0.01], 1),  # nearest overall but different cell
            (3, [0.5, 0.5], 0),
        ],
        "vec_id long, embedding array<float>, label int",
    )
    out = similarity.ivf_knn(vecs.where("vec_id = 1"), vecs, k=2).collect()
    ids = {r.neighbor_id for r in out}
    assert 2 not in ids and ids == {1, 3}


def test_connected_components_chain_and_singleton(spark):
    # chain 1-2-3 (diameter 2, needs >1 propagation round), pair (10,11),
    # singleton 20
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], "doc_a long, doc_b long"
    )
    nodes = spark.createDataFrame(
        [(i,) for i in (1, 2, 3, 10, 11, 20)], "doc_id long"
    )
    out = {
        r.doc_id: r.cluster_id
        for r in dedup.connected_components(pairs, nodes).collect()
    }
    assert out == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10, 20: 20}


def test_connected_components_spill_variant_identical(spark):
    """The localCheckpoint edge materialization yields the component-min
    labels."""
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], "doc_a long, doc_b long"
    )
    nodes = spark.createDataFrame(
        [(i,) for i in (1, 2, 3, 10, 11, 20)], "doc_id long"
    )
    base = {
        r.doc_id: r.cluster_id
        for r in dedup.connected_components(pairs, nodes).collect()
    }
    assert base == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10, 20: 20}


def test_connected_components_two_phase_matches_min_label(spark):
    """large_star mode reaches the same unique fixpoint (component-min
    labels) as the default min-label propagation, on a mixed graph of
    chain + pair + isolated node."""
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11)], "doc_a long, doc_b long"
    )
    nodes = spark.createDataFrame(
        [(i,) for i in (1, 2, 3, 4, 10, 11, 20)], "doc_id long"
    )
    base = {
        r.doc_id: r.cluster_id
        for r in dedup.connected_components(pairs, nodes).collect()
    }
    two = {
        r.doc_id: r.cluster_id
        for r in dedup.connected_components(
            pairs, nodes, mode="large_star"
        ).collect()
    }
    assert two == base == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 20: 20}


def test_connected_components_two_phase_path_graph_log_rounds(spark):
    """The adversarial shape for min-label: a 1000-node path (diameter
    999, min-label needs ~999 rounds). Two-phase large-star/small-star
    must label the whole path with node 0 within O(log n) rounds —
    max_iter=12 would leave min-label hopelessly unconverged, so a fully
    correct result here proves the logarithmic convergence claim; the
    unconverged-exit RuntimeWarning, made an error here, shows the
    fixpoint was reached within the 12 rounds."""
    import warnings

    n = 1000
    edges = spark.range(n - 1).selectExpr("id AS doc_a", "id + 1 AS doc_b")
    nodes = spark.range(n).withColumnRenamed("id", "doc_id")
    with warnings.catch_warnings():
        warnings.filterwarnings(
            "error", ".*WITHOUT converging", RuntimeWarning
        )
        out = dedup.connected_components(
            edges, nodes, max_iter=12, mode="large_star"
        )
    got = out.groupBy("cluster_id").count().collect()
    assert len(got) == 1
    assert got[0].cluster_id == 0 and got[0]["count"] == n


def test_connected_components_string_ids(spark):
    """String ids exercise the changed-count convergence path (sum(label)
    is NULL for strings and would false-converge after one round); the
    diameter-3 chain a-b-c-d needs multiple propagation rounds."""
    pairs = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "d"), ("x", "y")],
        "doc_a string, doc_b string",
    )
    nodes = spark.createDataFrame(
        [(s,) for s in "abcdxyz"], "doc_id string"
    )
    out = {
        r.doc_id: r.cluster_id
        for r in dedup.connected_components(pairs, nodes).collect()
    }
    assert out == {
        "a": "a", "b": "a", "c": "a", "d": "a", "x": "x", "y": "x", "z": "z",
    }


# --- skew ------------------------------------------------------------------

def test_salted_agg_matches_plain_groupby(spark, sf_dir):
    from nyc_taxi_data_warehouse_spark.operators import skew

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    got = {
        r.l_returnflag: (r.row_count, round(r.l_quantity_sum, 6))
        for r in skew.salted_agg(
            li, ["l_returnflag"], sums=["l_quantity"]
        ).collect()
    }
    from pyspark.sql import functions as F2

    want = {
        r.l_returnflag: (r.c, round(r.s, 6))
        for r in li.groupBy("l_returnflag")
        .agg(F2.count(F2.lit(1)).alias("c"), F2.sum("l_quantity").alias("s"))
        .collect()
    }
    assert got == want


def test_salted_agg_counts_non_null(spark):
    """`counts` columns emit true non-null counts (regression: they were
    silently dropped from the output)."""
    from nyc_taxi_data_warehouse_spark.operators import skew

    df = spark.createDataFrame(
        [("a", 1.0), ("a", None), ("a", 3.0), ("b", None)],
        "k string, v double",
    )
    got = {
        r.k: (r.row_count, r.v_count, r.v_sum)
        for r in skew.salted_agg(df, ["k"], counts=["v"], sums=["v"]).collect()
    }
    assert got == {"a": (3, 2, 4.0), "b": (1, 0, None)}


def test_salted_broadcast_join_matches_plain_join(spark, sf_dir):
    from nyc_taxi_data_warehouse_spark.operators import skew

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(
        "l_orderkey", "l_partkey", "l_quantity"
    )
    part = spark.read.parquet(f"{sf_dir}/part.parquet").select(
        F.col("p_partkey").alias("l_partkey"), "p_name"
    )
    got = skew.salted_broadcast_join(li, part, "l_partkey")
    plain = li.join(part, "l_partkey", "left")
    assert got.count() == plain.count()
    assert got.where(F.col("p_name").isNull()).count() == plain.where(
        F.col("p_name").isNull()
    ).count()


@pytest.mark.parametrize("how", ["right", "right_outer", "full", "FullOuter", "outer"])
def test_salted_broadcast_join_rejects_joins_that_cannot_broadcast_the_dim(
    spark, how
):
    from nyc_taxi_data_warehouse_spark.operators import skew

    df = spark.createDataFrame([(1,)], "k int")
    with pytest.raises(ValueError, match="cannot broadcast"):
        skew.salted_broadcast_join(df, df, "k", how=how)


# --- sampling --------------------------------------------------------------

def test_hash_sample_stable_and_partition_independent(spark, sf_dir):
    from nyc_taxi_data_warehouse_spark.operators import sampling

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    a = {r.doc_id for r in sampling.hash_sample(docs, "doc_id", 20).collect()}
    b = {
        r.doc_id
        for r in sampling.hash_sample(docs.repartition(7), "doc_id", 20).collect()
    }
    assert a == b  # content-hash: partitioning can't change membership
    wider = {r.doc_id for r in sampling.hash_sample(docs, "doc_id", 40).collect()}
    assert a <= wider  # rate increase only adds rows (nested samples)


def test_epoch_shuffle_is_permutation_and_epochs_differ(spark, sf_dir):
    """Every doc appears exactly once with a dense within-shard rank;
    re-running is bit-identical; a different epoch yields a different
    order; membership is partition-independent."""
    from nyc_taxi_data_warehouse_spark.operators import sampling

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id")
    n = docs.count()
    e1 = sampling.epoch_shuffle(docs, "doc_id", epoch=1, n_shards=8)
    rows = e1.collect()
    assert len(rows) == n and len({r.doc_id for r in rows}) == n
    per_shard = {}
    for r in rows:
        per_shard.setdefault(r.shard, []).append(r.rank_in_shard)
    for ranks in per_shard.values():  # dense 1..k ranks in every shard
        assert sorted(ranks) == list(range(1, len(ranks) + 1))

    again = sampling.epoch_shuffle(
        docs.repartition(7), "doc_id", epoch=1, n_shards=8
    ).collect()
    assert {(r.doc_id, r.shard, r.rank_in_shard) for r in again} == {
        (r.doc_id, r.shard, r.rank_in_shard) for r in rows
    }
    e2 = sampling.epoch_shuffle(docs, "doc_id", epoch=2, n_shards=8).collect()
    assert {(r.doc_id, r.shard, r.rank_in_shard) for r in e2} != {
        (r.doc_id, r.shard, r.rank_in_shard) for r in rows
    }


def test_stratified_sample_exactly_k_per_group(spark, sf_dir):
    from pyspark.sql import functions as F2

    from nyc_taxi_data_warehouse_spark.operators import sampling

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    out = sampling.stratified_sample(docs, ["lang"], "doc_id", k=3)
    per = out.groupBy("lang").agg(F2.count(F2.lit(1)).alias("n")).collect()
    assert per and all(r.n == 3 for r in per)


# --- pandas UDF (grouped agg) ----------------------------------------------

def test_grouped_agg_pandas_udf_matches_native(spark, sf_dir):
    """The third sanctioned Python crossing (after mapInPandas and
    applyInPandasWithState): an Arrow-batched GROUPED_AGG pandas_udf.
    Equivalence-checked against the native expression it would replace —
    at scale prefer the native form; the UDF exists for logic Spark can't
    express (custom stats, model scoring)."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def weighted_avg_price(qty: pd.Series, price: pd.Series) -> float:
        return float((qty * price).sum() / qty.sum())

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    got = {
        r.l_returnflag: r.w
        for r in li.groupBy("l_returnflag")
        .agg(weighted_avg_price("l_quantity", "l_extendedprice").alias("w"))
        .collect()
    }
    want = {
        r.l_returnflag: r.w
        for r in li.groupBy("l_returnflag")
        .agg(
            (
                F.sum(F.col("l_quantity") * F.col("l_extendedprice"))
                / F.sum("l_quantity")
            ).alias("w")
        )
        .collect()
    }
    assert set(got) == set(want)
    for k in got:
        assert abs(got[k] - want[k]) < 1e-6 * abs(want[k])


# --- as-of / interval joins ------------------------------------------------

def test_asof_join_multi_series_and_tolerance(spark):
    from datetime import datetime

    from nyc_taxi_data_warehouse_spark.operators.asof import asof_join_latest

    def ts(m):
        return datetime(2026, 1, 1, 10, m)

    obs = spark.createDataFrame(
        [("a", ts(0), 1.0), ("a", ts(20), 2.0), ("b", ts(5), 9.0)],
        "city string, ot timestamp, temp double",
    )
    probes = spark.createDataFrame(
        [("a", ts(10)), ("a", ts(20)), ("a", ts(59)), ("b", ts(4)), ("c", ts(30))],
        "city string, pt timestamp",
    )
    out = asof_join_latest(
        probes, obs, "pt", "ot", ["temp"],
        tolerance_minutes=30, series_cols=["city"],
    )
    got = {(r.city, r.pt.minute): r.temp for r in out.collect()}
    assert got[("a", 10)] == 1.0   # latest at-or-before
    assert got[("a", 20)] == 2.0   # exact-timestamp tie counts
    assert got[("a", 59)] is None  # match exists but beyond tolerance
    assert got[("b", 4)] is None   # series b has no obs yet
    assert got[("c", 30)] is None  # unknown series never matches


def test_interval_overlap_join_boundaries(spark):
    from datetime import datetime

    from nyc_taxi_data_warehouse_spark.operators.asof import interval_overlap_join

    def ts(h, m=0):
        return datetime(2026, 1, 1, h, m)

    rows = spark.createDataFrame(
        [(1, ts(10), ts(11))], "rid int, s timestamp, e timestamp"
    )
    periods = spark.createDataFrame(
        [
            (100, ts(9), ts(10)),      # touches start -> matches (closed)
            (101, ts(10, 30), ts(12)), # inside -> matches
            (102, ts(11, 1), ts(12)),  # after end -> no match
            (103, ts(8), ts(9, 59)),   # before start -> no match
        ],
        "pid int, ps timestamp, pe timestamp",
    )
    out = interval_overlap_join(rows, periods, "s", "e", "ps", "pe")
    assert {r.pid for r in out.collect()} == {100, 101}


def test_fused_violation_counts_matches_per_check(spark):
    df = spark.createDataFrame(
        [(1, 50.0), (2, None), (3, 200.0), (4, -60.0)], "id long, temp double"
    )
    fused = {
        r.check_name: r.violations
        for r in quality.fused_violation_counts(
            df,
            {
                "temp_not_null": F.col("temp").isNull(),
                "temp_range": F.col("temp").isNotNull()
                & ((F.col("temp") < -50) | (F.col("temp") > 150)),
            },
        ).collect()
    }
    assert fused == {"temp_not_null": 1, "temp_range": 2}


def test_bucketed_ffill_matches_single_window(spark):
    """resample_ffill's two-pass bucketed fill must equal the naive one-
    window-per-series fill: nulls before the first observation stay null,
    and carries cross day-bucket boundaries (series `b` observes only on
    day 1 and coasts through days 2-3)."""
    from datetime import datetime

    from pyspark.sql import Window

    from nyc_taxi_data_warehouse_spark.operators.timeseries import resample_ffill

    def ts(d, h):
        return datetime(2024, 3, d, h)

    rows = [
        ("a", ts(1, 5), 1.0),
        ("a", ts(1, 7), None),     # gap within bucket
        ("a", ts(2, 1), 2.0),      # next-day observation
        ("a", ts(3, 23), 3.0),
        ("b", ts(1, 6), 10.0),     # only day-1 obs; days 2-3 all carried
        ("b", ts(1, 8), 11.0),
    ]
    df = spark.createDataFrame(rows, "city string, observed_at timestamp, temp double")
    got = resample_ffill(df, "observed_at", ["city"], ["temp"])

    hourly = df.groupBy(
        "city", F.date_trunc("hour", "observed_at").alias("hour_ts")
    ).agg(F.avg("temp").alias("temp"))
    spine = spark.sql(
        "SELECT explode(sequence(timestamp'2024-03-01 05:00:00',"
        " timestamp'2024-03-03 23:00:00', INTERVAL 1 HOUR)) AS hour_ts"
    )
    grid = df.select("city").distinct().crossJoin(spine)
    w = (
        Window.partitionBy("city")
        .orderBy("hour_ts")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    want = grid.join(hourly, ["city", "hour_ts"], "left").select(
        "city",
        "hour_ts",
        F.last("temp", ignorenulls=True).over(w).alias("temp_filled"),
        F.col("temp").isNotNull().alias("temp_observed"),
    )
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))


def test_ffill_grid_spine_is_broadcast(spark):
    """The dense-grid build (series × hour spine) must plan as a BROADCAST
    nested-loop join — the spine is hours-of-history sized (KiB) and an
    unhinted crossJoin could degrade to a shuffled CartesianProduct at
    high #series. Pin the plan, not just the hint."""
    from datetime import datetime

    from nyc_taxi_data_warehouse_spark.operators.timeseries import resample_ffill

    df = spark.createDataFrame(
        [("a", datetime(2024, 3, 1, 5), 1.0), ("b", datetime(2024, 3, 1, 9), 2.0)],
        "city string, observed_at timestamp, temp double",
    )
    plan = (
        resample_ffill(df, "observed_at", ["city"], ["temp"])
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "BroadcastNestedLoopJoin" in plan
    assert "CartesianProduct" not in plan


# --- similarity: kmeans build + multi-probe blocking -----------------------

def _clustered_vectors(spark):
    """60 vectors in 3 well-separated axis clusters (cosine-separable)."""
    rows = []
    for i in range(60):
        c = i % 3
        base = [0.0] * 6
        base[c * 2] = 10.0
        base[c * 2 + 1] = 10.0
        jitter = [((i * 7 + j) % 5) * 0.1 for j in range(6)]
        rows.append((i, [b + j for b, j in zip(base, jitter)]))
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def test_kmeans_fit_exact_clusters_and_is_reproducible(spark):
    """The integer-lattice variant: recovers the same separated clusters AND
    two independent fits produce bit-identical codebooks (the property the
    SQL oracle relies on)."""
    from nyc_taxi_data_warehouse_spark.operators import similarity

    v = _clustered_vectors(spark)
    cb1 = similarity.kmeans_fit_exact(v, k=3, n_iter=3)
    cb2 = similarity.kmeans_fit_exact(v, k=3, n_iter=3)
    rows1 = sorted((r.centroid_id, list(r.embedding)) for r in cb1.collect())
    rows2 = sorted((r.centroid_id, list(r.embedding)) for r in cb2.collect())
    assert rows1 == rows2  # exact, not approximately
    assigned = similarity.assign_cells(
        v.select("vec_id", V.quantize("embedding").alias("qv")),
        cb1.withColumnRenamed("embedding", "qv"),
        vec_col="qv",
    )
    got = {r.vec_id: r.centroid_id for r in assigned.collect()}
    by_true = {}
    for i in range(60):
        by_true.setdefault(i % 3, set()).add(got[i])
    assert all(len(s) == 1 for s in by_true.values())
    assert len(set().union(*by_true.values())) == 3


def test_assign_cells_broadcast_codebook_matches_inline_k256(spark, monkeypatch):
    """Large-codebook path (k=256, dim=64): the 1-row broadcast collect_list
    codebook must assign bit-identically to the inlined-literal codebook —
    same fold expression over the same doubles — while keeping the plan
    free of the 16k-literal array."""
    from nyc_taxi_data_warehouse_spark.operators import similarity

    vecs = spark.range(1, 301).select(
        F.col("id").alias("vec_id"),
        F.expr(
            "transform(sequence(0, 63), d -> cast(sin(id * 0.37 + d * 0.11) AS double))"
        ).alias("embedding"),
    )
    cents = spark.range(0, 256).select(
        F.col("id").alias("centroid_id"),
        F.expr(
            "transform(sequence(0, 63), d -> cast(cos(id * 0.19 + d * 0.07) AS double))"
        ).alias("embedding"),
    )
    monkeypatch.setattr(similarity, "MAX_INLINE_CELLS", 10**9)
    inline = similarity.assign_cells(vecs, cents)
    monkeypatch.setattr(similarity, "MAX_INLINE_CELLS", 0)
    bcast = similarity.assign_cells(vecs, cents)
    rows_i = sorted((r.vec_id, r.centroid_id, r.sim) for r in inline.collect())
    rows_b = sorted((r.vec_id, r.centroid_id, r.sim) for r in bcast.collect())
    assert rows_i == rows_b  # exact, not approximate
    # structural: the broadcast variant routes through the 1-row codebook
    # join; the inline variant folds a literal with no join at all
    assert "Join" in bcast._jdf.queryExecution().analyzed().toString()
    assert "Join" not in inline._jdf.queryExecution().analyzed().toString()


def test_kmeans_fit_exact_broadcast_codebook_matches_inline(spark, monkeypatch):
    """Integer-lattice Lloyd's through the broadcast-codebook iterations
    produces the bit-identical codebook to the inline-literal iterations
    (integer sums are order-free in both)."""
    from nyc_taxi_data_warehouse_spark.operators import similarity

    v = _clustered_vectors(spark)
    monkeypatch.setattr(similarity, "MAX_INLINE_CELLS", 10**9)
    cb_inline = similarity.kmeans_fit_exact(v, k=3, n_iter=3)
    monkeypatch.setattr(similarity, "MAX_INLINE_CELLS", 0)
    cb_bcast = similarity.kmeans_fit_exact(v, k=3, n_iter=3)
    rows_i = sorted((r.centroid_id, list(r.embedding)) for r in cb_inline.collect())
    rows_b = sorted((r.centroid_id, list(r.embedding)) for r in cb_bcast.collect())
    assert rows_i == rows_b


def test_bucketed_pairs_subset_of_exact(spark):
    """Cell blocking only drops candidates: every bucketed pair is an
    exact pair, even when the centroids split the true clusters."""
    from nyc_taxi_data_warehouse_spark.operators import similarity

    v = _clustered_vectors(spark).select(
        "vec_id", F.col("embedding").alias("v")
    )
    cents = v.where(F.col("vec_id") < 6)  # 6 centroids, clusters split
    exact = {
        (r.id_a, r.id_b)
        for r in similarity.cosine_pairs(v, threshold=0.99).collect()
    }
    p1 = {
        (r.id_a, r.id_b)
        for r in similarity.bucketed_cosine_pairs(v, cents, 0.99).collect()
    }
    assert p1 <= exact


# --- sampling: deterministic train/val/test split --------------------------

def test_split_assignment_partition_independent_and_shaped(spark):
    from nyc_taxi_data_warehouse_spark.operators import sampling

    df1 = spark.range(0, 500).withColumnRenamed("id", "k").repartition(1)
    df8 = spark.range(0, 500).withColumnRenamed("id", "k").repartition(8)
    s1 = {(r.k, r.split)
          for r in sampling.train_val_test_split(df1, "k", salt="x").collect()}
    s8 = {(r.k, r.split)
          for r in sampling.train_val_test_split(df8, "k", salt="x").collect()}
    assert s1 == s8
    counts = {}
    for _, sp in s1:
        counts[sp] = counts.get(sp, 0) + 1
    assert set(counts) == {"train", "val", "test"}
    assert counts["train"] > counts["val"] + counts["test"]


def test_split_membership_stable_under_corpus_growth(spark):
    from nyc_taxi_data_warehouse_spark.operators import sampling

    small = spark.range(0, 200).withColumnRenamed("id", "k")
    big = spark.range(0, 400).withColumnRenamed("id", "k")
    s_small = {(r.k, r.split)
               for r in sampling.train_val_test_split(small, "k", salt="x").collect()}
    s_big = {(r.k, r.split)
             for r in sampling.train_val_test_split(big, "k", salt="x").collect()}
    assert s_small <= s_big


# --- chunking & packing ----------------------------------------------------

def test_chunk_tokens_windows_and_overlap(spark):
    from nyc_taxi_data_warehouse_spark.operators import chunking

    docs = spark.createDataFrame(
        [(1, " ".join(f"t{i}" for i in range(100))), (2, "a b"), (3, "")],
        "doc_id long, text string",
    )
    out = chunking.chunk_tokens(docs, chunk_size=50, overlap=10)
    rows = {(r.doc_id, r.chunk_idx): r.chunk for r in out.collect()}
    # doc 1: starts 0, 40, 80 -> 3 chunks; last one short (20 tokens)
    assert sorted(k for k in rows if k[0] == 1) == [(1, 0), (1, 1), (1, 2)]
    assert rows[(1, 0)] == [f"t{i}" for i in range(50)]
    assert rows[(1, 1)][:10] == [f"t{i}" for i in range(40, 50)]  # overlap
    assert rows[(1, 2)] == [f"t{i}" for i in range(80, 100)]
    # tiny doc -> one chunk, empty doc -> none
    assert rows[(2, 0)] == ["a", "b"]
    assert not any(k[0] == 3 for k in rows)


def test_pack_sequences_bins_are_contiguous_per_shard(spark):
    from nyc_taxi_data_warehouse_spark.operators import chunking

    docs = spark.createDataFrame(
        [(i, 100 + (i % 7) * 10) for i in range(200)], "doc_id long, n_tok long"
    )
    packed = chunking.pack_sequences(docs, budget=500, n_shards=4)
    rows = packed.collect()
    assert len(rows) == 200  # every doc assigned exactly once
    by_shard = {}
    for r in rows:
        by_shard.setdefault(r.shard, []).append(r)
    assert set(by_shard) <= set(range(4))
    for shard_rows in by_shard.values():
        shard_rows.sort(key=lambda r: r.start_offset)
        # offsets are the running sum of lengths (concat-and-cut invariant)
        expect = 0
        for r in shard_rows:
            assert r.start_offset == expect
            assert r.bin_idx == expect // 500
            expect += r.n_tok


def test_pack_sequences_partition_independent(spark):
    from nyc_taxi_data_warehouse_spark.operators import chunking

    docs = spark.createDataFrame(
        [(i, 50 + i % 13) for i in range(150)], "doc_id long, n_tok long"
    )
    a = {(r.doc_id, r.shard, r.bin_idx)
         for r in chunking.pack_sequences(docs.repartition(1), 300).collect()}
    b = {(r.doc_id, r.shard, r.bin_idx)
         for r in chunking.pack_sequences(docs.repartition(11), 300).collect()}
    assert a == b


def test_capped_sample_respects_caps_and_allowlist(spark):
    from nyc_taxi_data_warehouse_spark.operators import sampling

    df = spark.createDataFrame(
        [(i, f"g{i % 4}") for i in range(100)], "k long, grp string"
    )
    out = sampling.capped_sample(df, "grp", {"g0": 3, "g1": 30}, "k", salt="c")
    rows = out.collect()
    by_grp = {}
    for r in rows:
        by_grp.setdefault(r.grp, set()).add(r.k)
    assert set(by_grp) == {"g0", "g1"}          # g2/g3 not in caps -> dropped
    assert len(by_grp["g0"]) == 3               # capped
    assert len(by_grp["g1"]) == 25              # cap above group size -> all
    # deterministic under repartitioning
    again = sampling.capped_sample(
        df.repartition(7), "grp", {"g0": 3, "g1": 30}, "k", salt="c"
    ).collect()
    assert {(r.grp, r.k) for r in again} == {(r.grp, r.k) for r in rows}


def test_srp_signature_locality(spark):
    """SRP signatures: a positively-scaled copy keeps (nearly) the same
    signature; a negated copy flips (nearly) every determined bit."""
    from nyc_taxi_data_warehouse_spark.operators import similarity

    base = [((i * 13 + d * 7) % 21 - 10) / 10.0 for d in range(64) for i in [3]]
    vecs = spark.createDataFrame(
        [
            (0, base),
            (1, [x * 2.0 for x in base]),    # same direction
            (2, [-x for x in base]),          # opposite direction
        ],
        "vec_id long, embedding array<double>",
    )
    planes = similarity.ternary_planes(16, 64)
    sigs = {r.vec_id: r.srp_sig for r in
            similarity.srp_signatures(vecs, planes).collect()}
    ham_same = bin(sigs[0] ^ sigs[1]).count("1")
    ham_opp = bin(sigs[0] ^ sigs[2]).count("1")
    assert ham_same <= 2
    assert ham_opp >= 10


def test_inverted_index_postings_consistent(spark, sf_dir):
    """doc_freq equals the postings length, postings are strictly
    ascending, and every posted doc actually contains the term."""
    from nyc_taxi_data_warehouse_spark.queries_data import q_inverted_index

    rows = q_inverted_index(spark, sf_dir).collect()
    assert rows
    docs = {
        r.doc_id: set(r.text.split())
        for r in spark.read.parquet(f"{sf_dir}/documents.parquet").collect()
    }
    for r in rows:
        ids = [int(x) for x in r.postings.split("|")]
        assert len(ids) == r.doc_freq
        assert ids == sorted(set(ids))
        for did in ids[:5]:
            assert r.term in docs[did]


def test_embedding_quantize_error_bound(spark, sf_dir):
    """Every reconstruction error respects the theoretical floor-quantizer
    bound: err <= scale = max_abs/127 (floor is one-sided, so the bound is
    the full step, not half)."""
    from nyc_taxi_data_warehouse_spark.queries_data import q_embedding_quantize

    rows = q_embedding_quantize(spark, sf_dir).collect()
    assert rows
    for r in rows:
        codes = [int(x) for x in r.codes.split(",")]
        assert len(codes) == r.n_dims
        assert max(abs(c) for c in codes) <= 127
        # both columns are rounded to 6dp, so allow that much slack
        assert r.max_abs_err <= r.max_abs / 127 + 2e-6


def test_incremental_merge_is_split_invariant(spark):
    """Folding any disjoint split of the input through
    partial_daily_trips + merge_partials equals the single-batch partials,
    and finalize derives avg = sum/count exactly."""
    from datetime import datetime

    from nyc_taxi_data_warehouse_spark.operators import incremental

    rows = [
        (datetime(2024, 1, 1 + i % 3, 8 + i % 10), 10.0 + i * 0.37)
        for i in range(60)
    ]
    df = spark.createDataFrame(rows, "pickup_datetime timestamp, total_amount double")
    full = incremental.partial_daily_trips(df)
    # split three ways on an arbitrary predicate
    parts = [
        incremental.partial_daily_trips(df.where(f"pmod(cast(total_amount*100 as long), 3) = {k}"))
        for k in range(3)
    ]
    merged = incremental.merge_partials(*parts)
    key = lambda r: (r.trip_date, r.trip_count, r.fare_units, r.min_fare_units, r.max_fare_units)
    assert {key(r) for r in merged.collect()} == {key(r) for r in full.collect()}
    fin = {r.trip_date: r for r in incremental.finalize_daily(merged).collect()}
    for r in full.collect():
        assert fin[r.trip_date].avg_fare == (r.fare_units / r.trip_count) / 100.0


def test_merge_upsert_update_skip_insert_keep(spark):
    """All four MERGE paths: newer source updates, stale source is skipped,
    unmatched source inserts, untouched target rows survive."""
    target = spark.createDataFrame(
        [(1, "old", 5), (2, "keep", 9), (3, "plain", 5)],
        "id long, v string, ver int",
    )
    source = spark.createDataFrame(
        [(1, "new", 7), (2, "stale", 3), (4, "ins", 1)],
        "id long, v string, ver int",
    )
    out = {r.id: (r.v, r.ver) for r in
           merge.merge_upsert(target, source, ["id"], "ver").collect()}
    assert out == {1: ("new", 7), 2: ("keep", 9), 3: ("plain", 5), 4: ("ins", 1)}
    # equal version: source wins (MERGE UPDATE semantics)
    tie = merge.merge_upsert(
        spark.createDataFrame([(1, "t", 5)], "id long, v string, ver int"),
        spark.createDataFrame([(1, "s", 5)], "id long, v string, ver int"),
        ["id"], "ver",
    ).collect()
    assert tie[0].v == "s"


def test_freshness_report_empty_source_fails(spark):
    """An empty feed (max ts NULL) is the dead-feed condition: the report
    must say 'fail', not fall through NULL comparisons to 'pass'."""
    from nyc_taxi_data_warehouse_spark.operators import quality

    empty = spark.createDataFrame([], "ts timestamp")
    full = spark.createDataFrame(
        [("2024-01-01 00:00:00",)], "ts string"
    ).select(F.col("ts").cast("timestamp"))
    got = {
        r.source: r.status
        for r in quality.freshness_report(
            [("dead", empty, "ts", 2, 4), ("ok", full, "ts", 2, 4)],
            as_of="2024-01-01 01:00:00",
        ).collect()
    }
    assert got == {"dead": "fail", "ok": "pass"}


def test_snapshot_delta_classification_with_null_values(spark):
    """snapshot_delta presence must come from the join markers, not the
    compare columns: a present row with a NULL value is 'unchanged' when
    both sides are NULL, 'updated' when a value appears or disappears."""
    from nyc_taxi_data_warehouse_spark.operators import merge as M

    old = spark.createDataFrame(
        [(1, 10), (2, None), (3, 30), (4, 40)], "k long, v long"
    )
    new = spark.createDataFrame(
        [(1, 10), (2, None), (3, None), (5, 50)], "k long, v long"
    )
    out = {r.k: r.change for r in M.snapshot_delta(old, new, ["k"], ["v"]).collect()}
    assert out == {
        1: "unchanged",
        2: "unchanged",   # NULL == NULL (null-safe)
        3: "updated",     # value disappeared, row still present
        4: "removed",
        5: "added",
    }


def test_quantile_bounds_partition_invariant(spark):
    """The exact path's range-partitioned cumulative counts must be
    bit-identical under ANY input partitioning (the claim that justifies
    replacing the unpartitioned global window): same boundaries from a
    1-partition and a 17-partition layout of the same skewed data."""
    from nyc_taxi_data_warehouse_spark.operators import sampling

    rows = [(v,) for v in list(range(1, 201)) * 3 + [5] * 140 + [199] * 60]
    df = spark.createDataFrame(rows, "x long")
    b1 = sampling.quantile_bounds(df.repartition(1), "x", 10).collect()[0][0]
    b17 = sampling.quantile_bounds(df.repartition(17), "x", 10).collect()[0][0]
    assert b1 == b17
    # and they equal the naive driver-side type-1 quantile computation
    vals = sorted(v for (v,) in rows)
    n = len(vals)
    import bisect

    want = sorted(
        {
            min(
                v
                for v in sorted(set(vals))
                if bisect.bisect_right(vals, v) * 10 >= i * n
            )
            for i in range(1, 10)
        }
    )
    assert sorted(b1) == want


def test_bucketed_value_cumsum_grouped_matches_naive(spark):
    """The grouped variant (part_cols) of the distributed-CDF primitive:
    per-group cumulative counts over distinct values must equal the
    naive per-group computation under any physical partitioning."""
    import bisect
    import random

    from nyc_taxi_data_warehouse_spark.operators import sampling

    rng = random.Random(11)
    rows = [(rng.choice("abc"), rng.randint(0, 40)) for _ in range(600)]
    df = spark.createDataFrame(rows, "g string, v long")
    for nparts in (1, 13):
        out = sampling.bucketed_value_cumsum(
            df.repartition(nparts), "v", ("g",)
        ).collect()
        got = {(r["g"], r["__v"]): r["__cle"] for r in out}
        for g in "abc":
            gv = sorted(v for gg, v in rows if gg == g)
            for v in set(gv):
                assert got[(g, v)] == bisect.bisect_right(gv, v)


def test_connected_components_warns_when_unconverged(spark):
    """max_iter too small for the graph's diameter must be LOUD: an
    unconverged large-star edge set can yield non-minimum centers, so
    both CC loops emit a RuntimeWarning instead of silently returning."""
    import warnings

    n = 40
    edges = spark.range(n - 1).selectExpr("id AS doc_a", "id + 1 AS doc_b")
    nodes = spark.range(n).withColumnRenamed("id", "doc_id")
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        dedup.connected_components(edges, nodes, max_iter=2).collect()
    assert any(
        issubclass(w.category, RuntimeWarning) and "converging" in str(w.message)
        for w in caught
    )
    # a converged run stays silent (short path: diameter 9 « max_iter)
    edges_s = spark.range(9).selectExpr("id AS doc_a", "id + 1 AS doc_b")
    nodes_s = spark.range(10).withColumnRenamed("id", "doc_id")
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        dedup.connected_components(edges_s, nodes_s, max_iter=25).collect()
    assert not [w for w in caught if issubclass(w.category, RuntimeWarning)]


def test_mixture_plan_hand_computed(spark):
    """Integer recipe arithmetic against hand-computed values: weights
    a=3, b=1, z=6 (Σw=10 — a listed-but-unservable group still holds its
    budget share) over a 1000-token budget → targets 300/100; a has only
    100 tokens available so rate 3.0 ⇒ epochs 3 (the up-weighting case),
    b has 500 ⇒ rate 0.2, epochs 1. Unlisted (c) and zero-token (z)
    groups drop from the plan."""
    from nyc_taxi_data_warehouse_spark.operators import sampling

    rows = (
        [("a", 10) for _ in range(10)]
        + [("b", 100) for _ in range(5)]
        + [("c", 999)]          # not in weights -> dropped
        + [("z", 0), ("z", 0)]  # zero tokens -> dropped
    )
    df = spark.createDataFrame(rows, "source string, n_tok long")
    out = {
        r["source"]: r
        for r in sampling.mixture_plan(
            df, "source", {"a": 3, "b": 1, "z": 6}, 1000, "n_tok"
        ).collect()
    }
    assert set(out) == {"a", "b"}
    a, b = out["a"], out["b"]
    assert (a["n_docs"], a["avail_tokens"], a["weight"]) == (10, 100, 3)
    assert a["target_tokens"] == 1000 * 3 // 10 == 300
    assert abs(a["rate"] - 3.0) < 1e-12 and a["epochs"] == 3
    assert (b["n_docs"], b["avail_tokens"], b["weight"]) == (5, 500, 1)
    assert b["target_tokens"] == 100
    assert abs(b["rate"] - 0.2) < 1e-12 and b["epochs"] == 1


def test_semdedup_decision_table_invariants(spark):
    """The semantic-dedup decision table from the gated composition:
    exactly ONE keep per cluster (the min id), cluster_size matches the
    actual member count, and every vector appears exactly once."""
    import __spark_entry__ as entry

    rows = entry.queries()["q_semdedup"](
        spark, "/root/testdata/sf0.001"
    ).collect()
    assert rows
    ids = [r["vec_id"] for r in rows]
    assert len(ids) == len(set(ids))
    by_cluster: dict[int, list] = {}
    for r in rows:
        by_cluster.setdefault(r["cluster_id"], []).append(r)
    for cid, members in by_cluster.items():
        keeps = [m for m in members if m["keep"]]
        assert len(keeps) == 1 and keeps[0]["vec_id"] == cid == min(
            m["vec_id"] for m in members
        )
        assert all(m["cluster_size"] == len(members) for m in members)
    # the twin construction guarantees at least one multi-member cluster
    assert any(len(m) > 1 for m in by_cluster.values())


def test_t_closeness_invariants(spark, sf_dir):
    """t is a normalized EMD: every group lands in [0, 1], the integer
    at-risk flag agrees with the float t at the 0.2 cut (away from the
    boundary), and a group whose distribution mirrors the global one
    would score 0 — verified on a synthetic two-value check of the same
    algebra."""
    from nyc_taxi_data_warehouse_spark.queries_data import q_t_closeness

    rows = q_t_closeness(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert 0.0 <= r.t_closeness <= 1.0 + 1e-9
        if abs(r.t_closeness - 0.2) > 1e-3:
            assert r.at_risk_t02 == int(r.t_closeness > 0.2)


def test_seasonal_decompose_reconstruction(spark, sf_dir):
    """On full-window days y == trend + seasonal + residual (up to the
    6-dp rounding), trend is NULL exactly on the 3-day edges, and the
    detrended day-of-week means reproduce the seasonal column."""
    from nyc_taxi_data_warehouse_spark.queries_data import q_seasonal_decompose

    rows = sorted(q_seasonal_decompose(spark, sf_dir).collect(),
                  key=lambda r: r.d)
    assert len(rows) >= 14
    for i, r in enumerate(rows):
        edge = i < 3 or i >= len(rows) - 3
        assert (r.trend is None) == edge
        assert (r.residual is None) == edge
        if not edge:
            assert abs(r.y - (r.trend + r.seasonal + r.residual)) < 5e-6


def test_split_leakage_detects_planted_twins(spark, sf_dir):
    """The twin construction guarantees cross-split duplicate clusters,
    so the audit must actually fire: some eval split carries
    train-contaminated docs, and the per-split counts nest
    (contaminated <= cross-split <= dup <= total)."""
    from nyc_taxi_data_warehouse_spark.queries_data import q_split_leakage

    rows = {r.split: r for r in q_split_leakage(spark, sf_dir).collect()}
    assert set(rows) == {"train", "val", "test"}
    for r in rows.values():
        assert (
            r.n_train_contaminated
            <= r.n_cross_split_docs
            <= r.n_dup_docs
            <= r.n_docs
        )
    assert rows["train"].n_train_contaminated == 0
    assert (
        rows["val"].n_train_contaminated + rows["test"].n_train_contaminated
        > 0
    )


def test_pca_power_rayleigh_approaches_top_eigenvalue(spark, sf_dir):
    """The integer power iteration's Rayleigh quotient must be a lower
    bound on (and after 24 rounds close to) numpy's top eigenvalue of
    the SAME integer scatter matrix, and the loading vector is unit
    norm.  Near-isotropic corpus => var_share stays near 1/dim."""
    import numpy as np

    from nyc_taxi_data_warehouse_spark.queries_data import q_pca_power
    from nyc_taxi_data_warehouse_spark.plans.nyc_views import load_tables

    rows = sorted(
        q_pca_power(spark, sf_dir).collect(), key=lambda r: r.dim_idx
    )
    emb = load_tables(spark, sf_dir)["embeddings"].select("embedding").collect()
    X = np.floor(np.array([r.embedding for r in emb], dtype=np.float64) * 1000)
    n = X.shape[0]
    S = n * (X.T @ X) - np.outer(X.sum(0), X.sum(0))
    lam1 = np.linalg.eigvalsh(S)[-1] / 65536.0
    ray = rows[0].rayleigh_q
    assert ray <= lam1 * (1 + 1e-6)
    assert ray >= 0.8 * lam1
    norm = sum(r.loading**2 for r in rows) ** 0.5
    assert abs(norm - 1.0) < 1e-3
    assert 0.0 < rows[0].var_share <= 1.0


def test_market_basket_pair_counts_and_lift(spark, sf_dir):
    """Grouped-array pair explosion must equal the naive self-join pair
    count, pairs are canonical (a < b), and lift agrees with the
    definition on every emitted row."""
    from nyc_taxi_data_warehouse_spark.queries_data import q_market_basket

    rows = q_market_basket(spark, sf_dir).collect()
    assert 0 < len(rows) <= 50
    from nyc_taxi_data_warehouse_spark.plans.nyc_views import load_tables

    b = (
        load_tables(spark, sf_dir)["lineitem"]
        .select("l_orderkey", "l_partkey")
        .distinct()
    )
    naive = (
        b.alias("x")
        .join(
            b.alias("y"),
            (F.col("x.l_orderkey") == F.col("y.l_orderkey"))
            & (F.col("x.l_partkey") < F.col("y.l_partkey")),
        )
        .groupBy(
            F.col("x.l_partkey").alias("pa"), F.col("y.l_partkey").alias("pb")
        )
        .count()
        .collect()
    )
    naive_counts = {(r.pa, r.pb): r["count"] for r in naive}
    for r in rows:
        assert r.part_a < r.part_b
        assert naive_counts[(r.part_a, r.part_b)] == r.pair_count
        expect_lift = (r.pair_count * r.n_orders) / (r.count_a * r.count_b)
        assert abs(r.lift - expect_lift) < 1e-3


def test_mixture_temperature_flattens_the_mix(spark):
    """Temperature 0.5 must up-weight the small source and damp the
    large one relative to proportional sampling, with integer targets
    summing to <= budget and exact isqrt weights."""
    import math

    from nyc_taxi_data_warehouse_spark.operators import sampling

    df = spark.createDataFrame(
        [("big", 10_000)] * 50 + [("small", 10_000)] * 2,
        ["source", "toks"],
    )
    rows = {
        r.source: r
        for r in sampling.mixture_temperature(
            df, "source", "toks", 600_000
        ).collect()
    }
    for r in rows.values():
        assert r.weight == math.isqrt(r.avail_tokens)
    assert rows["small"].boost > 1.0 > rows["big"].boost
    assert (
        sum(r.target_tokens for r in rows.values()) <= 600_000
    )


def test_key_skew_report_flags_a_hot_key(spark):
    """A 90%-one-key frame must surface the hot key at rank 1 with
    ~0.9 share and eff_keys collapsing toward 1; a uniform frame keeps
    eff_keys equal to the key count."""
    from nyc_taxi_data_warehouse_spark.operators import skew

    hot = spark.createDataFrame(
        [(1,)] * 900 + [(k,) for k in range(2, 102)], ["k"]
    )
    rows = skew.key_skew_report(hot, "k", top_n=5).collect()
    top = next(r for r in rows if r.rank == 1)
    assert top.key == 1 and abs(top.share - 0.9) < 1e-6
    assert rows[0].eff_keys < 2.0
    uni = spark.createDataFrame([(k,) for k in range(50)] * 4, ["k"])
    u = skew.key_skew_report(uni, "k", top_n=3).collect()[0]
    assert abs(u.eff_keys - 50.0) < 1e-6


def test_ohlc_bars_invariants(spark, sf_dir):
    """low <= open/close <= high on every bar, volume-average sits in
    [low, high], and counts are positive."""
    from nyc_taxi_data_warehouse_spark.queries_data import q_ohlc_bars

    rows = q_ohlc_bars(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r.low_u <= r.open_u <= r.high_u
        assert r.low_u <= r.close_u <= r.high_u
        assert r.low_u <= r.sum_u / r.n_trades <= r.high_u
        assert r.n_trades > 0


def test_attribution_models_balance(spark, sf_dir):
    """Both attribution models credit the SAME purchases, so their
    conversion totals must match, shares sum to 1 within each model,
    and no purchase ever credits the 'purchase' channel."""
    from nyc_taxi_data_warehouse_spark.queries_data import q_attribution

    rows = q_attribution(spark, sf_dir).collect()
    by_model = {}
    for r in rows:
        assert r.channel != "purchase"
        by_model.setdefault(r.model, []).append(r)
    assert set(by_model) == {"first_touch", "last_touch"}
    totals = {
        m: sum(r.n_conversions for r in rs) for m, rs in by_model.items()
    }
    assert totals["first_touch"] == totals["last_touch"]
    for rs in by_model.values():
        assert abs(sum(r.share for r in rs) - 1.0) < 1e-4


def test_trend_ols_matches_numpy_polyfit(spark, sf_dir):
    """The six-power-sum closed form must reproduce numpy's least-squares
    fit (slope/intercept) and the squared Pearson correlation on the
    collected per-type daily series."""
    import numpy as np

    from nyc_taxi_data_warehouse_spark.queries_data import q_trend_ols

    rows = {r.event_type: r for r in q_trend_ols(spark, sf_dir).collect()}
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    daily = (
        ev.groupBy("event_type", F.to_date("ts").alias("day"))
        .count()
        .collect()
    )
    d0 = min(r.day for r in daily)
    series = {}
    for r in daily:
        series.setdefault(r.event_type, []).append(
            ((r.day - d0).days, r["count"])
        )
    for et, pts in series.items():
        x = np.array([p[0] for p in pts], dtype=float)
        y = np.array([p[1] for p in pts], dtype=float)
        slope, intercept = np.polyfit(x, y, 1)
        r2 = np.corrcoef(x, y)[0, 1] ** 2
        got = rows[et]
        assert abs(got.slope - slope) < 1e-4
        assert abs(got.intercept - intercept) < 1e-3
        assert abs(got.r2 - r2) < 1e-4
        assert got.n_days == len(pts)


def test_benford_chi2_accounting(spark, sf_dir):
    """Digit shares sum to 1, contributions sum to the reported chi2, the
    expectation column is the Benford pmf, and uniform synthetic prices
    are correctly flagged as non-Benford."""
    import math

    from nyc_taxi_data_warehouse_spark.queries_data import q_benford

    rows = q_benford(spark, sf_dir).collect()
    assert {r.digit for r in rows} <= set(range(1, 10))
    assert abs(sum(r.share for r in rows) - 1.0) < 1e-4
    n = rows[0].n
    assert sum(r.obs for r in rows) == n
    chi2 = rows[0].chi2
    assert abs(sum(r.contrib for r in rows) - chi2) < 1e-2
    for r in rows:
        assert abs(r.exp_p - math.log10(1 + 1 / r.digit)) < 1e-5
    # uniform [1000, 500000] prices are decisively non-Benford
    assert rows[0].benford_ok == 0 and chi2 > 15.507


def test_bootstrap_ci_brackets_point_and_counts_near_n(spark, sf_dir):
    """Poisson(1) resamples average ~n rows per replicate; the CI must
    bracket most replicate means and (for a well-behaved mean) the point
    estimate; replicate draws are deterministic (same call → same CI)."""
    from nyc_taxi_data_warehouse_spark.queries_data import q_bootstrap_ci

    rows = q_bootstrap_ci(spark, sf_dir).collect()
    assert len(rows) == 32
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    n = ev.where(
        (F.col("event_type") == "purchase") & F.col("value").isNotNull()
    ).count()
    for r in rows:
        assert abs(r.n_resampled - n) < 5 * (n ** 0.5) + 10
    lo, hi = rows[0].ci_lo, rows[0].ci_hi
    assert lo <= hi
    inside = sum(1 for r in rows if lo <= r.mean_b <= hi)
    assert inside >= 28  # 30 of 32 by construction (ranks 2..31)
    assert lo <= rows[0].point_mean <= hi
    again = q_bootstrap_ci(spark, sf_dir).collect()
    assert {(r.b, r.mean_b) for r in again} == {(r.b, r.mean_b) for r in rows}


def test_ewma_anomaly_matches_recurrence(spark, sf_dir):
    """The lag-sum formulation equals the textbook finite EWMA of the
    prior <=16 observations, and a planted 10x spike day trips the flag."""
    from nyc_taxi_data_warehouse_spark.queries_data import q_ewma_anomaly

    rows = sorted(
        q_ewma_anomaly(spark, sf_dir).collect(),
        key=lambda r: (r.event_type, r.day),
    )
    series = {}
    for r in rows:
        series.setdefault(r.event_type, []).append(r)
    for rs in series.values():
        ys = [r.y for r in rs]
        assert rs[0].ewma is None and rs[0].spike_flag == 0
        for i, r in enumerate(rs):
            if i == 0:
                continue
            lags = ys[max(0, i - 16):i][::-1]  # lag 1 first
            num = sum(y * (1 << (16 - l)) for l, y in enumerate(lags, 1))
            den = sum((1 << (16 - l)) for l in range(1, len(lags) + 1))
            assert abs(r.ewma - num / den) < 1e-3
            assert r.spike_flag == (1 if r.y * den > 2 * num else 0)
            assert r.drop_flag == (1 if 2 * r.y * den < num else 0)


def test_markov_transitions_rows_normalize(spark, sf_dir):
    """Each from-state's transition probabilities sum to 1 and pair
    counts reconcile with the per-user sequence lengths (pairs = events
    - users, since each user's last event has no successor)."""
    from nyc_taxi_data_warehouse_spark.queries_data import (
        q_markov_transitions,
    )

    rows = q_markov_transitions(spark, sf_dir).collect()
    by_from = {}
    for r in rows:
        by_from.setdefault(r.from_type, []).append(r)
    for rs in by_from.values():
        assert abs(sum(r.p_transition for r in rs) - 1.0) < 1e-4
        assert all(r.n_from == rs[0].n_from for r in rs)
        assert sum(r.n_pairs for r in rs) == rs[0].n_from
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    n_events = ev.count()
    n_users = ev.select("user_id").distinct().count()
    assert sum(r.n_pairs for r in rows) == n_events - n_users


def test_ab_test_matches_scipy_free_formula(spark, sf_dir):
    """The integer-lattice flag must agree with the float two-proportion
    z-test computed from the same counts."""
    from nyc_taxi_data_warehouse_spark.queries_data import q_ab_test

    r = q_ab_test(spark, sf_dir).collect()[0]
    p1, p2 = r.c1 / r.n1, r.c2 / r.n2
    p = (r.c1 + r.c2) / (r.n1 + r.n2)
    z = abs(p1 - p2) / (p * (1 - p) * (1 / r.n1 + 1 / r.n2)) ** 0.5
    assert abs(r.z_abs - z) < 1e-3
    assert r.significant == (1 if z > 1.96 else 0)
    assert 0 < r.c1 < r.n1 and 0 < r.c2 < r.n2  # non-degenerate fixture


def test_watermark_audit_bucketed_equals_naive_window(spark, sf_dir):
    """The hour-bucketed carry composition must equal the strict-
    predecessor running max stated as one naive window, and lateness
    must be monotone in the watermark choice."""
    from nyc_taxi_data_warehouse_spark.queries_data import (
        _WM_JITTER_S,
        q_watermark_audit,
    )

    rows = sorted(
        q_watermark_audit(spark, sf_dir).collect(), key=lambda r: r.w_seconds
    )
    assert [r.w_seconds for r in rows] == [60, 300, 900]
    assert rows[0].n_late >= rows[1].n_late >= rows[2].n_late
    assert all(r.n_rows == rows[0].n_rows for r in rows)
    assert rows[0].n_late > 0  # the planted jitter produces lateness
    assert all(r.max_lateness_s <= _WM_JITTER_S for r in rows)
    # naive single-window replica of the 60s row
    from pyspark.sql import Window as W

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    w = (
        W.orderBy("arr_us", "event_id")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    jit = (
        F.conv(
            F.substring(F.md5(F.col("event_id").cast("string")), 1, 15),
            16,
            10,
        ).cast("long")
        % F.lit(_WM_JITTER_S)
    ) * F.lit(1_000_000)
    t = F.unix_micros(F.col("ts").cast("timestamp"))
    naive = (
        ev.select("event_id", t.alias("t_us"), (t + jit).alias("arr_us"))
        .withColumn("hw_prev", F.max("t_us").over(w))
        .where(F.col("t_us") < F.col("hw_prev") - F.lit(60_000_000))
        .count()
    )
    assert naive == rows[0].n_late


def test_sliding_distinct_window_union_is_lossless(spark, sf_dir):
    """A day's 7-day register union must equal sketching the window's
    users directly: same estimate, and within the HLL error bound of the
    exact windowed distinct."""
    from nyc_taxi_data_warehouse_spark.operators import sketches
    from nyc_taxi_data_warehouse_spark.queries_data import q_sliding_distinct

    rows = q_sliding_distinct(spark, sf_dir).collect()
    assert len(rows) > 7
    for r in rows:
        assert abs(r.rel_err) < 0.20  # p=9 ~4.6% se; generous 4x margin
    # pick the last day: direct sketch over the raw 7-day slice
    last = max(r.day for r in rows)
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    sl = ev.select(F.to_date("ts").alias("day"), "user_id").where(
        (F.col("day") >= F.date_sub(F.lit(last), 6))
        & (F.col("day") <= F.lit(last))
    )
    direct = sketches.hll_estimate(sl, "user_id", (), p=9).collect()[0]
    got = [r for r in rows if r.day == last][0]
    assert abs(got.est_7d - direct.est_distinct) < 1e-3  # est_7d is rounded(4)


def test_rrf_fusion_scores_and_provenance(spark, sf_dir):
    """Every fused row carries at least one source rank, the score equals
    the RRF formula of its ranks, and fused order is score-descending."""
    from nyc_taxi_data_warehouse_spark.queries_data import q_rrf_fusion

    rows = sorted(q_rrf_fusion(spark, sf_dir).collect(), key=lambda r: r.fused_rank)
    assert [r.fused_rank for r in rows] == list(range(1, len(rows) + 1))
    prev = None
    for r in rows:
        assert r.rank_lex is not None or r.rank_vec is not None
        want = (1.0 / (60 + r.rank_lex) if r.rank_lex else 0.0) + (
            1.0 / (60 + r.rank_vec) if r.rank_vec else 0.0
        )
        assert abs(r.rrf_score - want) < 1e-5
        if prev is not None:
            assert r.rrf_score <= prev + 1e-9
        prev = r.rrf_score
    # both modalities must actually contribute to the fused top
    assert any(r.rank_lex is not None for r in rows)
    assert any(r.rank_vec is not None for r in rows)


def test_rank_functions_internal_consistency(spark, sf_dir):
    """rank >= dense_rank, percent_rank = (rank-1)/(n-1) recomputed from
    the partition sizes, quartile in 1..4 and monotone in rank."""
    from nyc_taxi_data_warehouse_spark.queries_data import q_rank_functions

    rows = q_rank_functions(spark, sf_dir).collect()
    od = spark.read.parquet(f"{sf_dir}/orders.parquet")
    n_by_prio = {
        r.o_orderpriority: r.n
        for r in od.groupBy("o_orderpriority")
        .agg(F.count_distinct("o_custkey").alias("n"))
        .collect()
    }
    by_prio = {}
    for r in rows:
        assert r.rnk >= r.dense_rnk >= 1
        assert 1 <= r.quartile <= 4
        n = n_by_prio[r.o_orderpriority]
        assert abs(r.pct_rank - (r.rnk - 1) / (n - 1)) < 1e-4
        assert 0 < r.cume <= 1
        by_prio.setdefault(r.o_orderpriority, []).append(r)
    for rs in by_prio.values():
        rs.sort(key=lambda r: r.rnk)
        assert all(
            a.quartile <= b.quartile for a, b in zip(rs, rs[1:])
        )


def test_set_ops_bag_identities(spark, sf_dir):
    """|A ∩all B| + |A \\all B| = |A| (multiset partition identity), and
    the distinct intersect is bounded by the bag intersect."""
    from nyc_taxi_data_warehouse_spark.queries_data import q_set_ops

    rows = {r.mode: r for r in q_set_ops(spark, sf_dir).collect()}
    od = spark.read.parquet(f"{sf_dir}/orders.parquet")
    n_a = od.where(F.col("o_orderpriority") == "1-URGENT").count()
    ia, ea = rows["intersect_all"], rows["except_all"]
    assert ia.n_rows + ea.n_rows == n_a
    idd = rows["intersect_distinct"]
    assert idd.n_rows == idd.n_distinct <= ia.n_rows
    assert ia.n_distinct == idd.n_distinct


def test_dp_budget_planning_invariants(spark, sf_dir):
    """Tighter epsilon => larger scale, wider CI, larger expected error;
    small cells are always suppressed; rel-err = b/n exactly."""
    from nyc_taxi_data_warehouse_spark.queries_data import q_dp_budget

    rows = q_dp_budget(spark, sf_dir).collect()
    by_cell = {}
    for r in rows:
        assert abs(r.expected_rel_err - r.laplace_b / r.n) < 1e-4
        assert r.ci95_halfwidth > r.laplace_b  # ln20 > 1
        if r.n < 10:
            assert r.suppress == 1
        by_cell.setdefault((r.source, r.lang), []).append(r)
    for cell in by_cell.values():
        cell.sort(key=lambda r: r.epsilon)
        assert cell[0].laplace_b > cell[-1].laplace_b  # eps 0.1 noisier than 1.0
        assert cell[0].suppress >= cell[-1].suppress


def test_cohort_ltv_is_monotone_and_reconciles(spark, sf_dir):
    """Cumulative revenue is non-decreasing in age within a cohort, and
    the final cumulative sums across cohorts equal total purchase
    revenue on the integer lattice."""
    from nyc_taxi_data_warehouse_spark.queries_data import q_cohort_ltv

    rows = sorted(
        q_cohort_ltv(spark, sf_dir).collect(),
        key=lambda r: (str(r.cohort_day), r.age_days),
    )
    by_cohort = {}
    for r in rows:
        by_cohort.setdefault(r.cohort_day, []).append(r)
    total = 0
    for rs in by_cohort.values():
        for a, b in zip(rs, rs[1:]):
            assert b.cum_rev_u == a.cum_rev_u + b.rev_u
        total += rs[-1].cum_rev_u
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    want = (
        ev.where(
            (F.col("event_type") == "purchase") & F.col("value").isNotNull()
        )
        .agg(F.sum(F.floor(F.col("value") * 100 + F.lit(0.5))).cast("long"))
        .collect()[0][0]
    )
    assert total == want


def test_skyline_is_exactly_the_undominated_set(spark, sf_dir):
    """Level-decomposition output must equal the brute-force dominance
    check computed driver-side over the collected part aggregates."""
    from nyc_taxi_data_warehouse_spark.queries_data import q_skyline

    got = {
        (r.l_partkey, r.qty_u, r.rev_u)
        for r in q_skyline(spark, sf_dir).collect()
    }
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    pts = [
        (r.l_partkey, r.q, r.v)
        for r in li.groupBy("l_partkey")
        .agg(
            F.sum(F.col("l_quantity").cast("long")).alias("q"),
            F.sum(
                F.floor(F.col("l_extendedprice") * 100 + F.lit(0.5))
            ).alias("v"),
        )
        .collect()
    ]
    want = {
        (k, q, v)
        for (k, q, v) in pts
        if not any(
            q2 >= q and v2 >= v and (q2 > q or v2 > v)
            for (_, q2, v2) in pts
        )
    }
    assert got == want and got


def test_weighted_median_matches_expansion(spark, sf_dir):
    """The weighted type-1 quantiles must equal the unweighted quantiles
    of the weight-EXPANDED multiset (each line replicated qty times)."""
    from nyc_taxi_data_warehouse_spark.queries_data import q_weighted_median

    rows = {r.l_returnflag: r for r in q_weighted_median(spark, sf_dir).collect()}
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    data = li.select(
        "l_returnflag",
        F.floor(F.col("l_extendedprice") * 100 + F.lit(0.5))
        .cast("long")
        .alias("p"),
        F.col("l_quantity").cast("long").alias("w"),
    ).collect()
    import math as _m

    by_flag = {}
    for r in data:
        by_flag.setdefault(r.l_returnflag, []).append((r.p, r.w))
    for flag, pts in by_flag.items():
        expanded = []
        for p, w in pts:
            expanded.extend([p] * w)
        expanded.sort()
        n = len(expanded)
        got = rows[flag]
        assert got.total_weight == n
        # smallest v with cumw >= k/4 * total == element at ceil(k*n/4)-1
        assert got.wp25_u == expanded[_m.ceil(n / 4) - 1]
        assert got.wmedian_u == expanded[_m.ceil(n / 2) - 1]
        assert got.wp75_u == expanded[_m.ceil(3 * n / 4) - 1]


def test_zipf_fit_matches_numpy_loglog(spark, sf_dir):
    import numpy as np

    from nyc_taxi_data_warehouse_spark.queries_data import q_zipf_fit

    got = q_zipf_fit(spark, sf_dir).collect()[0]
    ev = spark.read.parquet(f"{sf_dir}/documents.parquet")
    from nyc_taxi_data_warehouse_spark.functions import text as T

    tc = (
        ev.select(F.explode(T.tokens("text")).alias("t"))
        .groupBy("t")
        .count()
        .collect()
    )
    cnts = sorted((r["count"], r.t) for r in tc)[::-1]
    x = np.log(np.arange(1, len(cnts) + 1, dtype=float))
    y = np.log(np.array([c for c, _ in cnts], dtype=float))
    slope, _ = np.polyfit(x, y, 1)
    r2 = np.corrcoef(x, y)[0, 1] ** 2
    assert got.vocab_size == len(cnts)
    assert abs(got.zipf_slope - slope) < 1e-3
    assert abs(got.r2 - r2) < 1e-3
    assert got.zipf_slope < 0  # frequency decreases with rank


def test_rfm_segments_partition_users(spark, sf_dir):
    from nyc_taxi_data_warehouse_spark.queries_data import q_rfm_segments

    rows = q_rfm_segments(spark, sf_dir).collect()
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    n_users = ev.select("user_id").distinct().count()
    assert sum(r.n_users for r in rows) == n_users
    for r in rows:
        assert 1 <= r.r_score <= 5 and 1 <= r.f_score <= 5 and 1 <= r.m_score <= 5
    # each axis's quintiles must each hold ~n/5 users
    for axis in ("r_score", "f_score", "m_score"):
        per = {}
        for r in rows:
            per[r[axis]] = per.get(r[axis], 0) + r.n_users
        assert set(per) == {1, 2, 3, 4, 5}
        assert max(per.values()) - min(per.values()) <= 1


def test_stream_ohlc_equals_batch(spark, sf_dir):
    """The streaming bars must be row-identical to the batch query —
    the exactly-once / order-insensitivity contract of the sink."""
    from nyc_taxi_data_warehouse_spark.queries_data import (
        q_ohlc_bars,
        q_stream_ohlc,
    )

    batch = {tuple(r) for r in q_ohlc_bars(spark, sf_dir).collect()}
    stream = {tuple(r) for r in q_stream_ohlc(spark, sf_dir).collect()}
    assert stream == batch and stream


def test_kmv_jaccard_estimates_track_exact(spark, sf_dir):
    """j_est must sit within the KMV error envelope of j_exact, and the
    sketch never invents similarity for near-disjoint sets."""
    from nyc_taxi_data_warehouse_spark.queries_data import q_kmv_jaccard

    rows = q_kmv_jaccard(spark, sf_dir).collect()
    assert len(rows) == 10  # C(5,2) event-type pairs
    for r in rows:
        assert 0 <= r.j_est <= 1 and 0 <= r.j_exact <= 1
        assert r.n_match <= r.n_union_k
        # se ~ sqrt(J(1-J)/k) <= 0.0625 at k=64; allow 4x
        assert abs(r.j_est - r.j_exact) < 0.25


def test_embedding_drift_numpy_parity(spark, sf_dir):
    import numpy as np

    from nyc_taxi_data_warehouse_spark.queries_data import (
        _KMEANS_QUANT,
        q_embedding_drift,
    )

    rows = {r.label: r for r in q_embedding_drift(spark, sf_dir).collect()}
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").collect()
    by_label = {}
    for r in emb:
        by_label.setdefault(r.label, []).append(
            np.floor(np.array(r.embedding, dtype=np.float64) * _KMEANS_QUANT)
        )
    allv = [v for vs in by_label.values() for v in vs]
    g = np.sum(allv, axis=0)
    gm = g / len(allv)
    for label, vs in by_label.items():
        s = np.sum(vs, axis=0)
        cos = float(s @ g / (np.linalg.norm(s) * np.linalg.norm(g)))
        l2 = float(np.linalg.norm((s / len(vs) - gm) / _KMEANS_QUANT))
        got = rows[label]
        assert got.n_vecs == len(vs)
        assert abs(got.cos_to_global - cos) < 1e-4
        assert abs(got.l2_shift - l2) < 1e-4


def test_time_to_convert_quartiles_match_sorted_list(spark, sf_dir):
    from nyc_taxi_data_warehouse_spark.queries_data import q_time_to_convert

    got = q_time_to_convert(spark, sf_dir).collect()[0]
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    t = F.unix_micros(F.col("ts").cast("timestamp"))
    per = (
        ev.groupBy("user_id")
        .agg(
            F.min(F.when(F.col("event_type") == "view", t)).alias("v"),
            F.min(F.when(F.col("event_type") == "purchase", t)).alias("p"),
        )
        .where("v IS NOT NULL AND p IS NOT NULL AND p >= v")
        .collect()
    )
    import math as _m

    vals = sorted((r.p - r.v) // 1_000_000 for r in per)
    n = len(vals)
    assert got.n_users == n
    assert got.p25_s == vals[_m.ceil(n / 4) - 1]
    assert got.median_s == vals[_m.ceil(n / 2) - 1]
    assert got.p75_s == vals[_m.ceil(3 * n / 4) - 1]
    assert abs(got.mean_s - sum(vals) / n) < 1e-3
    assert got.p25_s <= got.median_s <= got.p75_s


def test_graph_degree_totals_and_reciprocity_bounds(spark, sf_dir):
    from nyc_taxi_data_warehouse_spark.queries_data import q_graph_degree

    rows = q_graph_degree(spark, sf_dir).collect()
    # handshake: sum of out-degrees == sum of in-degrees == |E|
    assert sum(r.out_deg for r in rows) == sum(r.in_deg for r in rows) > 0
    for r in rows:
        assert 0 <= r.n_reciprocal <= r.out_deg


def test_microagg_partitions_sorted_rows_into_k_groups(spark, sf_dir):
    """Groups tile the sorted multiset: sizes k (last absorbs remainder),
    every k_ok set, ranges non-overlapping and ordered, totals reconcile."""
    from nyc_taxi_data_warehouse_spark.queries_data import q_microagg

    rows = sorted(q_microagg(spark, sf_dir).collect(), key=lambda r: r.group_id)
    od = spark.read.parquet(f"{sf_dir}/orders.parquet")
    n = od.count()
    assert sum(r.n_rows for r in rows) == n
    assert len(rows) == max(n // 10, 1)
    for r in rows[:-1]:
        assert r.n_rows == 10
    assert rows[-1].n_rows >= 10
    assert all(r.k_ok == 1 for r in rows)
    for a, b in zip(rows, rows[1:]):
        assert a.max_u <= b.min_u  # value-ordered, non-overlapping
        assert a.min_u / 100 <= a.mean_price <= a.max_u / 100 + 1e-9


def test_stream_sliding_every_event_in_two_windows(spark, sf_dir):
    from nyc_taxi_data_warehouse_spark.queries_data import q_stream_sliding

    rows = q_stream_sliding(spark, sf_dir).collect()
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    n = ev.where(
        (F.col("event_type") == "purchase")
        & F.col("ts").isNotNull()
        & F.col("value").isNotNull()
    ).count()
    assert sum(r.n_trades for r in rows) == 2 * n
    for r in rows:
        assert (r.win_end - r.win_start).total_seconds() == 7200


def test_phrase_search_matches_python_substring_scan(spark, sf_dir):
    from nyc_taxi_data_warehouse_spark.queries_data import q_phrase_search

    got = {r.phrase: (r.n_docs, r.n_occurrences) for r in q_phrase_search(spark, sf_dir).collect()}
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").collect()
    for phrase in ("hash join", "scan filter", "join scan"):
        a, b = phrase.split()
        n_docs = n_occ = 0
        for d in docs:
            w = d.text.split()
            c = sum(1 for i in range(len(w) - 1) if w[i] == a and w[i + 1] == b)
            if c:
                n_docs += 1
                n_occ += c
        if phrase in got:
            assert got[phrase] == (n_docs, n_occ)
        else:
            assert n_docs == 0


def test_cdc_chunking_beats_fixed_on_shifted_twins(spark, sf_dir):
    """Content-defined cuts survive the twins' 30-char prefix shift;
    fixed-size chunking loses alignment — the savings gap IS the
    operator's reason to exist.  Byte accounting must reconcile."""
    from nyc_taxi_data_warehouse_spark.queries_data import q_cdc_chunking

    rows = {r.strategy: r for r in q_cdc_chunking(spark, sf_dir).collect()}
    cdc, fix = rows["cdc"], rows["fixed64"]
    assert cdc.savings_pct > 0.25 > fix.savings_pct
    for r in (cdc, fix):
        assert r.n_distinct <= r.n_chunks
        assert r.bytes_stored <= r.bytes_total
        assert abs(
            r.savings_pct - (r.bytes_total - r.bytes_stored) / r.bytes_total
        ) < 1e-4
    # every input byte lands in exactly one chunk per strategy
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").collect()
    total = sum(
        len(d.text) + max(len(d.text) - 30, 0)
        for d in docs
        if len(d.text) >= 8
    )
    # twins shorter than 8 chars are excluded by the corpus filter
    twin_short = sum(
        1 for d in docs if 0 < max(len(d.text) - 30, 0) < 8
    )
    assert fix.bytes_total <= total
    assert cdc.bytes_total == fix.bytes_total  # same corpus, full tiling


def test_lsh_tuning_s_curve_monotonicity(spark, sf_dir):
    """More rows per band => stricter: candidates and recall can only
    shrink, precision can only grow (the S-curve), and every config's
    candidate set is sound (tp <= min(n_candidates, n_truth))."""
    from nyc_taxi_data_warehouse_spark.queries_data import q_lsh_tuning

    rows = sorted(
        q_lsh_tuning(spark, sf_dir).collect(), key=lambda r: r.rows_per_band
    )
    assert [r.rows_per_band for r in rows] == [1, 2, 4]
    assert all(r.n_truth == rows[0].n_truth for r in rows)
    for a, b in zip(rows, rows[1:]):
        assert a.n_candidates >= b.n_candidates
        assert a.recall >= b.recall
        assert a.precision <= b.precision + 1e-9
    for r in rows:
        assert r.tp <= min(r.n_candidates, r.n_truth)
    assert rows[0].recall > 0.9  # r=1 is near-exhaustive on twin pairs


@pytest.mark.parametrize("sf", ["sf0.001", "sf0.01"])
def test_lsh_tuning_oracle_buckets_stay_under_the_spark_cap(sf_dir, sf):
    """q_lsh_tuning's Spark side drops (config, band, bh) buckets larger
    than _MAX_BUCKET; its DuckDB oracle self-joins every bucket uncapped.
    The two agree only while no bucket exceeds the cap, so pin that on
    the shipped data, measured on the oracle's own band CTEs."""
    import os

    import duckdb

    from nyc_taxi_data_warehouse_spark.queries_data import (
        _LSH_BAND_SIZES,
        _MAX_BUCKET,
        _sql_lsh_tuning,
    )

    d = os.path.join(os.path.dirname(sf_dir), sf)
    if not os.path.isdir(d):
        pytest.skip(f"{d} not present")
    sql = _sql_lsh_tuning()
    ctes = sql[: sql.rindex("\nSELECT rows_per_band")]
    sizes = "\nUNION ALL\n".join(
        f"SELECT count(*) AS n FROM bands{bs} GROUP BY band, bh"
        for bs in _LSH_BAND_SIZES
    )
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{d}/documents.parquet')"
    )
    n_buckets, biggest = con.execute(
        f"{ctes}\nSELECT count(*), max(n) FROM ({sizes})"
    ).fetchone()
    assert n_buckets > 0
    assert biggest <= _MAX_BUCKET


def test_cumulative_distinct_equals_direct_count(spark, sf_dir):
    """The first-seen running sum must equal COUNT(DISTINCT) over the
    growing prefix, checked directly on the last day and one mid day."""
    from nyc_taxi_data_warehouse_spark.queries_data import (
        q_cumulative_distinct,
    )

    rows = sorted(
        q_cumulative_distinct(spark, sf_dir).collect(), key=lambda r: r.day
    )
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    for r in (rows[len(rows) // 2], rows[-1]):
        direct = (
            ev.where(F.to_date("ts") <= F.lit(r.day))
            .select("user_id")
            .distinct()
            .count()
        )
        assert r.cum_distinct == direct
    assert sum(r.new_users for r in rows) == rows[-1].cum_distinct
    for a, b in zip(rows, rows[1:]):
        assert b.cum_distinct >= a.cum_distinct


def test_stream_kmins_estimates_within_envelope(spark, sf_dir):
    """k=16 mins: se ~ 1/sqrt(k-2) ~ 27%; every day's estimate must sit
    within a generous multiple, and stream mins must equal batch mins
    (checked implicitly: est derives from the drained sink, exact from
    batch — a min mismatch would blow the envelope)."""
    from nyc_taxi_data_warehouse_spark.queries_data import q_stream_kmins

    rows = q_stream_kmins(spark, sf_dir).collect()
    assert len(rows) >= 28
    for r in rows:
        assert r.est_distinct > 0
        assert r.rel_err < 0.8  # 3x the k=16 standard error
    import statistics

    med = statistics.median(r.rel_err for r in rows)
    assert med < 0.35  # typical day well inside one-ish se


def test_seasonal_anomaly_median_mad_accounting(spark, sf_dir):
    """med/mad are true type-1 medians of the residual list; the flag
    fires iff |resid - med| > 3*mad; a 5x planted spike day trips it."""
    import math as _m

    from nyc_taxi_data_warehouse_spark.queries_data import q_seasonal_anomaly

    rows = q_seasonal_anomaly(spark, sf_dir).collect()
    res = sorted(r.resid for r in rows)
    n = len(res)
    med = res[_m.ceil(n / 2) - 1]
    assert abs(rows[0].med - med) < 1e-6
    devs = sorted(round(abs(r - med), 6) for r in res)
    mad = devs[_m.ceil(n / 2) - 1]
    assert abs(rows[0].mad - mad) < 1e-6
    for r in rows:
        want = 1 if round(abs(r.resid - r.med), 6) > 3 * r.mad else 0
        assert r.anomaly == want


def test_grouping_sets_exact_marginals_only(spark, sf_dir):
    """Output = the source marginal plus the lang marginal, nothing
    else; each marginal's doc counts sum to the corpus size."""
    from nyc_taxi_data_warehouse_spark.queries_data import q_grouping_sets

    rows = q_grouping_sets(spark, sf_dir).collect()
    n = spark.read.parquet(f"{sf_dir}/documents.parquet").count()
    src_rows = [r for r in rows if r.lang is None]
    lang_rows = [r for r in rows if r.source is None]
    assert len(src_rows) + len(lang_rows) == len(rows)
    assert sum(r.n_docs for r in src_rows) == n
    assert sum(r.n_docs for r in lang_rows) == n
    assert all(r.source is not None for r in src_rows)
    assert all(r.lang is not None for r in lang_rows)


def test_autocorrelation_matches_numpy(spark, sf_dir):
    import numpy as np

    from nyc_taxi_data_warehouse_spark.queries_data import q_autocorrelation

    rows = {r.lag: r for r in q_autocorrelation(spark, sf_dir).collect()}
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    daily = sorted(
        (r.d, r.y)
        for r in ev.groupBy(F.to_date("ts").alias("d"))
        .agg(F.count("*").alias("y"))
        .collect()
    )
    y = np.array([v for _, v in daily], dtype=float)
    m = y.mean()
    den = ((y - m) ** 2).sum()
    for lag in range(1, 8):
        want = (((y[lag:] - m) * (y[:-lag] - m)).sum()) / den
        got = rows[lag]
        assert got.n_days == len(y)
        assert abs(got.acf - want) < 1e-4
        assert -1.0 <= got.acf <= 1.0


def test_gini_matches_sorted_rank_formula(spark, sf_dir):
    from nyc_taxi_data_warehouse_spark.queries_data import q_gini

    rows = {r.o_orderpriority: r for r in q_gini(spark, sf_dir).collect()}
    od = spark.read.parquet(f"{sf_dir}/orders.parquet")
    cust = (
        od.groupBy("o_orderpriority", "o_custkey")
        .agg(
            F.sum(
                F.floor(F.col("o_totalprice") * 100 + F.lit(0.5))
            ).alias("rev")
        )
        .collect()
    )
    by_p = {}
    for r in cust:
        by_p.setdefault(r.o_orderpriority, []).append(r.rev)
    for p, revs in by_p.items():
        revs.sort()
        n, s = len(revs), sum(revs)
        want = (
            2 * sum((i + 1) * x for i, x in enumerate(revs)) - (n + 1) * s
        ) / (n * s)
        got = rows[p]
        assert got.n_cust == n and got.revenue_u == s
        assert abs(got.gini - want) < 1e-5
        assert 0 <= got.gini < 1


def test_crosscorrelation_matches_numpy_aligned_pearson(spark, sf_dir):
    import numpy as np

    from nyc_taxi_data_warehouse_spark.queries_data import q_crosscorrelation

    rows = {r.lag: r for r in q_crosscorrelation(spark, sf_dir).collect()}
    assert set(rows) == {-3, -2, -1, 0, 1, 2, 3}
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    daily = sorted(
        (r.d, r.x, r.y)
        for r in ev.groupBy(F.to_date("ts").alias("d"))
        .agg(
            F.sum((F.col("event_type") == "view").cast("long")).alias("x"),
            F.sum((F.col("event_type") == "purchase").cast("long")).alias("y"),
        )
        .collect()
    )
    x = np.array([a for _, a, _ in daily], dtype=float)
    y = np.array([b for _, _, b in daily], dtype=float)
    for lag, r in rows.items():
        if lag >= 0:
            xa, yb = (x[: len(x) - lag] if lag else x), y[lag:]
        else:
            xa, yb = x[-lag:], y[: len(y) + lag]
        want = np.corrcoef(xa, yb)[0, 1]
        assert r.n_pairs == len(xa)
        assert abs(r.xcf - want) < 1e-4
        assert -1 <= r.xcf <= 1


def test_pareto_share_matches_sorted_top_slice(spark, sf_dir):
    import math as _m

    from nyc_taxi_data_warehouse_spark.queries_data import q_pareto_share

    rows = q_pareto_share(spark, sf_dir).collect()
    od = spark.read.parquet(f"{sf_dir}/orders.parquet")
    cust = (
        od.groupBy("o_orderpriority", "o_custkey")
        .agg(
            F.sum(F.floor(F.col("o_totalprice") * 100 + F.lit(0.5))).alias(
                "rev"
            )
        )
        .collect()
    )
    by_p = {}
    for r in cust:
        by_p.setdefault(r.o_orderpriority, []).append(r.rev)
    for r in rows:
        revs = sorted(by_p[r.o_orderpriority], reverse=True)
        q = 0.1 if r.segment == "top10" else 0.2
        k = _m.ceil(q * len(revs))
        assert r.n_top == k and r.n_cust == len(revs)
        assert r.top_rev_u == sum(revs[:k])
        assert abs(r.rev_share - sum(revs[:k]) / sum(revs)) < 1e-5
        assert r.rev_share >= q  # top slice carries at least its weight


def test_tukey_outliers_match_python_quartiles(spark, sf_dir):
    import math as _m

    from nyc_taxi_data_warehouse_spark.queries_data import q_tukey_outliers

    rows = {r.o_orderpriority: r for r in q_tukey_outliers(spark, sf_dir).collect()}
    od = spark.read.parquet(f"{sf_dir}/orders.parquet")
    data = od.select(
        "o_orderpriority",
        F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).alias("p"),
    ).collect()
    by_p = {}
    for r in data:
        by_p.setdefault(r.o_orderpriority, []).append(r.p)
    for p, vals in by_p.items():
        vals.sort()
        n = len(vals)
        q1 = vals[_m.ceil(n / 4) - 1]
        q3 = vals[_m.ceil(3 * n / 4) - 1]
        iqr = q3 - q1
        low = sum(1 for v in vals if 2 * v < 2 * q1 - 3 * iqr)
        high = sum(1 for v in vals if 2 * v > 2 * q3 + 3 * iqr)
        got = rows[p]
        assert (got.q1_u, got.q3_u, got.iqr_u) == (q1, q3, iqr)
        assert (got.n_low, got.n_high, got.n) == (low, high, n)


def test_stickiness_bounds_and_first_day_identity(spark, sf_dir):
    from nyc_taxi_data_warehouse_spark.queries_data import q_stickiness

    rows = sorted(q_stickiness(spark, sf_dir).collect(), key=lambda r: r.day)
    for r in rows:
        assert 0 < r.dau <= r.wau
        assert abs(r.stickiness - r.dau / r.wau) < 1e-5
    # day 1 has no history: WAU == DAU, stickiness == 1
    assert rows[0].dau == rows[0].wau and abs(rows[0].stickiness - 1.0) < 1e-9


def test_power_analysis_scaling_law(spark, sf_dir):
    """Halving the MDE quadruples the required n (within ceil rounding);
    the formula reproduces the textbook z-test sample size."""
    from nyc_taxi_data_warehouse_spark.queries_data import q_power_analysis

    rows = sorted(q_power_analysis(spark, sf_dir).collect(), key=lambda r: r.mde)
    assert [r.mde for r in rows] == [0.01, 0.02, 0.05]
    p = rows[0].p_baseline
    z2 = (1.959963984540054 + 0.8416212335729143) ** 2
    import math as _m

    for r in rows:
        want = _m.ceil(z2 * 2 * p * (1 - p) / (r.mde ** 2))
        assert abs(r.n_required_per_variant - want) <= 1
        assert r.feasible == (1 if 2 * r.n_required_per_variant <= r.n_avail else 0)
    # quadratic law: n(1%) ~ 4x n(2%)
    assert 3.5 < rows[0].n_required_per_variant / rows[1].n_required_per_variant < 4.5


def test_new_vs_returning_reconciles_with_totals(spark, sf_dir):
    from nyc_taxi_data_warehouse_spark.queries_data import q_new_vs_returning

    rows = sorted(
        q_new_vs_returning(spark, sf_dir).collect(), key=lambda r: r.day
    )
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    pur = ev.where(
        (F.col("event_type") == "purchase") & F.col("value").isNotNull()
    )
    total_rev = pur.agg(
        F.sum(F.floor(F.col("value") * 100 + F.lit(0.5)))
    ).collect()[0][0]
    total_n = pur.count()
    assert sum(r.new_rev_u + r.ret_rev_u for r in rows) == total_rev
    assert sum(r.new_purchases + r.ret_purchases for r in rows) == total_n
    # day 1: everyone is new; late days: mostly returning
    assert rows[0].ret_purchases == 0 and rows[0].new_rev_share == 1.0
    assert rows[-1].new_rev_share < 0.5


def test_heatmap_grid_bounds_and_share_sums(spark, sf_dir):
    from nyc_taxi_data_warehouse_spark.queries_data import q_heatmap

    rows = q_heatmap(spark, sf_dir).collect()
    assert len(rows) <= 168
    assert abs(sum(r.share for r in rows) - 1.0) < 1e-3
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    assert sum(r.n_events for r in rows) == ev.count()
    for r in rows:
        assert 0 <= r.dow <= 6 and 0 <= r.hour <= 23
        assert 1 <= r.rank_in_dow <= 24


def _feed_dir(stream) -> str:
    """The dir a file-source stream replays (its ``FileSource[...]`` leaf)."""
    plan = stream._jdf.queryExecution().analyzed().toString()
    return re.search(r"FileSource\[(.+?)\]", plan).group(1)


def test_stream_feed_memoizes_per_key(spark, monkeypatch):
    """stream_feed writes once per (name, key) and replays the same dir
    on later calls; a different key stages to a different dir."""
    from pyspark.sql.readwriter import DataFrameWriter

    from nyc_taxi_data_warehouse_spark import util
    from nyc_taxi_data_warehouse_spark.streaming.weather_stream import (
        drain_available_now,
    )

    writes = []
    parquet = DataFrameWriter.parquet

    def counted(self, path, *args, **kwargs):
        writes.append(path)
        return parquet(self, path, *args, **kwargs)

    monkeypatch.setattr(DataFrameWriter, "parquet", counted)
    df = spark.range(100).selectExpr("id", "id * 2 AS v")
    s1 = util.stream_feed(df, "ut_feed", "k1", n_files=2)
    s2 = util.stream_feed(
        spark.range(5).selectExpr("id", "id AS v"), "ut_feed", "k1"
    )
    s3 = util.stream_feed(
        spark.range(7).selectExpr("id", "id AS v"), "ut_feed", "k2", n_files=2
    )
    d1, d3 = _feed_dir(s1), _feed_dir(s3)
    assert _feed_dir(s2) == d1 and d3 != d1
    assert writes == [d1, d3]
    # the second k1 call replays the first call's 100 rows, not its own 5
    rows = [
        drain_available_now(s, "ut_feed", "append").count() for s in (s1, s2, s3)
    ]
    assert rows == [100, 100, 7]


def test_stream_feed_reads_staged_schema_with_ntz_as_timestamp(spark):
    """The stream is the staged frame's schema, names and order kept,
    with only TIMESTAMP_NTZ read as TIMESTAMP; under the UTC session
    the wall-clock values survive."""
    from pyspark.sql import types as ST

    from nyc_taxi_data_warehouse_spark import util
    from nyc_taxi_data_warehouse_spark.streaming.weather_stream import (
        drain_available_now,
    )

    df = spark.range(3).selectExpr(
        "id",
        "TIMESTAMP_NTZ'2024-03-10 05:30:00' + make_dt_interval(0, id) AS ts",
        "CAST(id AS STRING) AS s",
        "TIMESTAMP'2024-03-10 05:30:00' AS tz",
        "CAST(id AS DOUBLE) / 2 AS d",
    )
    stream = util.stream_feed(df, "ut_schema", "k", n_files=2)
    assert stream.isStreaming
    want = [
        (f.name, ST.TimestampType())
        if isinstance(f.dataType, ST.TimestampNTZType)
        else (f.name, f.dataType)
        for f in df.schema.fields
    ]
    assert [(f.name, f.dataType) for f in stream.schema.fields] == want
    assert dict(df.dtypes)["ts"] == "timestamp_ntz"
    got = drain_available_now(stream, "ut_schema", "append").select(
        "id", F.col("ts").cast("string").alias("ts")
    )
    assert sorted(map(tuple, got.collect())) == [
        (0, "2024-03-10 05:30:00"),
        (1, "2024-03-10 06:30:00"),
        (2, "2024-03-10 07:30:00"),
    ]


def test_stream_feed_drains_sixteen_files_in_two_batches(spark):
    """maxFilesPerTrigger 8: a 16-file feed drains in two non-empty
    micro-batches, a 4-file feed in one."""
    from nyc_taxi_data_warehouse_spark import util
    from nyc_taxi_data_warehouse_spark.streaming import weather_stream

    df = spark.range(160).selectExpr("id", "id % 7 AS v")
    for n_files, batches in ((16, 2), (4, 1)):
        stream = util.stream_feed(df, "ut_batches", str(n_files), n_files=n_files)
        q = weather_stream.run_available_now(
            stream, util.unique_name("ut_batches"), "append"
        )
        assert q.awaitTermination(120)
        n = sum(1 for p in q.recentProgress if p["numInputRows"] > 0)
        assert n == batches, (n_files, n)


def test_session_memo_builds_once_under_concurrent_callers(spark, monkeypatch):
    """Four threads asking for one PQ codebook at the same moment share
    ONE fit and get the same object back (a check-then-set cache would
    run the fit once per thread)."""
    import threading
    import time
    import uuid

    from nyc_taxi_data_warehouse_spark import queries_data
    from nyc_taxi_data_warehouse_spark.operators import pq

    fits = []
    lock = threading.Lock()

    def slow_fit(emb, **kw):
        with lock:
            fits.append(emb)
        time.sleep(0.3)
        return [[len(fits)]]

    monkeypatch.setattr(pq, "pq_fit", slow_fit)
    monkeypatch.setattr(queries_data, "_emb", lambda spark, sf_dir: "emb")
    key = f"race-{uuid.uuid4().hex}"
    barrier = threading.Barrier(4)
    got = [None] * 4

    def ask(i):
        barrier.wait()
        got[i] = queries_data._pq_codebook(spark, key)

    threads = [threading.Thread(target=ask, args=(i,)) for i in range(4)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert len(fits) == 1
    assert all(g is got[0] for g in got) and got[0] == [[1]]


def test_session_memo_retries_a_build_that_raised(spark):
    """A failed build leaves no entry: the next call builds again, and
    once a build succeeds later calls return its value unbuilt."""
    import uuid

    from nyc_taxi_data_warehouse_spark import util

    key = ("ut_retry", uuid.uuid4().hex)

    def boom():
        raise ValueError("first build fails")

    with pytest.raises(ValueError):
        util.session_memo(spark, key, boom)
    assert util.session_memo(spark, key, lambda: 42) == 42
    assert util.session_memo(spark, key, boom) == 42


def test_drain_available_now_names_a_fresh_sink_per_call(spark, tmp_path):
    """Two drains with one prefix fill two distinct sink tables, and the
    first stays readable after the second; names stay unique across
    threads."""
    import threading

    from nyc_taxi_data_warehouse_spark import util
    from nyc_taxi_data_warehouse_spark.streaming.weather_stream import (
        drain_available_now,
    )

    src = str(tmp_path / "feed")
    spark.range(10).selectExpr("id % 3 AS k").write.parquet(src)

    def sinks():
        return {
            t.name for t in spark.catalog.listTables()
            if t.name.startswith("same_prefix_")
        }

    def drain():
        stream = spark.readStream.schema("k long").parquet(src)
        return drain_available_now(stream.groupBy("k").count(), "same_prefix")

    before = sinks()
    s1 = drain()
    s2 = drain()
    new = sinks() - before
    assert len(new) == 2
    want = {(0, 4), (1, 3), (2, 3)}
    for df in [s1, s2] + [spark.table(n) for n in new]:
        assert {(r.k, r["count"]) for r in df.collect()} == want

    names = []

    def draw():
        names.extend(util.unique_name("p") for _ in range(1000))

    threads = [threading.Thread(target=draw) for _ in range(8)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert len(set(names)) == 8000
