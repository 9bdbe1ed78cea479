"""Property-based tests (hypothesis) for the Snowflake-compat expression
layer — the semantics-dense edges of SURVEY §2.5 (E1 minute-boundary
datediff, E5/E7 weekday numbering, E15 surrogate keys) checked against
plain-Python ground truth over randomized inputs.

One DataFrame per hypothesis example (lists of rows, single Spark job) keeps
run time bounded; deadline disabled because Spark job latency is noisy.
"""

from __future__ import annotations

import hashlib
from datetime import datetime, timezone

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from nyc_taxi_data_warehouse_spark.functions import compat

import os

EPOCH = st.integers(min_value=0, max_value=2**31 - 1)
# SPARK_GRAFT_HYPOTHESIS_MAX widens the example budget for extended fuzz
# sessions (the round-8 kmv nd==k boundary was found by exactly such a
# widened run); the default stays small so the suite remains fast.
SETTINGS = dict(
    max_examples=int(os.environ.get("SPARK_GRAFT_HYPOTHESIS_MAX", "8")),
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)


def _utc(sec: int) -> datetime:
    return datetime.fromtimestamp(sec, tz=timezone.utc).replace(tzinfo=None)


@given(rows=st.lists(st.tuples(EPOCH, st.integers(-7200, 7200)), min_size=1, max_size=50))
@settings(**SETTINGS)
def test_datediff_minute_counts_boundary_crossings(spark, rows):
    df = spark.createDataFrame(
        [(a, a + d) for a, d in rows], "a_sec long, b_sec long"
    ).select(
        "a_sec",
        "b_sec",
        compat.datediff_minute(
            F.timestamp_seconds("a_sec"), F.timestamp_seconds("b_sec")
        ).alias("dm"),
    )
    for r in df.collect():
        assert r.dm == r.b_sec // 60 - r.a_sec // 60


@given(secs=st.lists(EPOCH, min_size=1, max_size=50))
@settings(**SETTINGS)
def test_weekday_numbering_and_weekend_flag(spark, secs):
    df = spark.createDataFrame([(s,) for s in secs], "sec long").select(
        "sec",
        compat.dayofweek0(F.timestamp_seconds("sec")).alias("dow0"),
        compat.dayname3(F.timestamp_seconds("sec")).alias("dn"),
        compat.is_weekend(F.timestamp_seconds("sec")).alias("wk"),
    )
    names = ["Mon", "Tue", "Wed", "Thu", "Fri", "Sat", "Sun"]
    for r in df.collect():
        py = _utc(r.sec)
        # Snowflake numbering: Sunday=0 .. Saturday=6
        assert r.dow0 == (py.weekday() + 1) % 7
        assert r.dn == names[py.weekday()]
        assert r.wk == (r.dow0 in (0, 6))


@given(
    parts=st.lists(
        st.one_of(st.none(), st.text(alphabet=st.characters(codec="ascii"), max_size=20)),
        min_size=1,
        max_size=4,
    )
)
@settings(**SETTINGS)
def test_surrogate_key_matches_dbt_utils_recipe(spark, parts):
    cols = [F.lit(p).cast("string") for p in parts]
    got = (
        spark.range(1)
        .select(compat.surrogate_key(*cols).alias("k"))
        .collect()[0]
        .k
    )
    expected = hashlib.md5(
        "-".join("" if p is None else p for p in parts).encode()
    ).hexdigest()
    assert got == expected


def test_datediff_minute_boundary_examples(spark):
    # the E1 edge the reference depends on: 10:00:59 -> 10:01:01 is 1 minute
    df = spark.createDataFrame(
        [(59, 61), (0, 59), (59, 120), (60, 60)], "a long, b long"
    ).select(
        compat.datediff_minute(
            F.timestamp_seconds("a"), F.timestamp_seconds("b")
        ).alias("dm")
    )
    # 0:59->1:01 crosses one boundary; 0:59->2:00 crosses two; elapsed-time
    # rounding would say 0 and 1 respectively.
    assert [r.dm for r in df.collect()] == [1, 0, 2, 0]


@given(
    toks=st.lists(
        st.text(alphabet=st.characters(codec="ascii", exclude_characters=" \t\n\r\x0b\x0c\x00"), min_size=1, max_size=8),
        min_size=0,
        max_size=30,
    )
)
@settings(**SETTINGS)
def test_shingle_count_and_fingerprint_order_invariance(spark, toks):
    from nyc_taxi_data_warehouse_spark.functions import text as T

    doc = " ".join(toks)
    rev = " ".join(reversed(toks))
    df = spark.createDataFrame([(doc, rev)], "a string, b string").select(
        F.size(T.shingles("a")).alias("n_sh"),
        T.fingerprint("a").alias("fp_a"),
        T.fingerprint("b").alias("fp_b"),
        T.word_count("a").alias("wc"),
    )
    r = df.collect()[0]
    assert r.wc == len(toks)
    assert r.n_sh == max(0, len(toks) - 2)
    # fingerprint is invariant under token reordering
    assert r.fp_a == r.fp_b


# --- chunking invariants ----------------------------------------------------

WORD = st.text(alphabet="abcXYZ09", min_size=1, max_size=6)


@given(
    docs=st.lists(st.lists(WORD, min_size=0, max_size=120), min_size=1, max_size=10),
    chunk_size=st.integers(5, 60),
    overlap=st.integers(0, 4),
)
@settings(**SETTINGS)
def test_chunk_tokens_covers_every_token_exactly(spark, docs, chunk_size, overlap):
    from nyc_taxi_data_warehouse_spark.operators import chunking

    df = spark.createDataFrame(
        [(i, " ".join(ws)) for i, ws in enumerate(docs)], "doc_id long, text string"
    )
    out = chunking.chunk_tokens(
        df, chunk_size=chunk_size, overlap=overlap
    ).collect()
    stride = chunk_size - overlap
    by_doc = {}
    for r in out:
        by_doc.setdefault(r.doc_id, {})[r.chunk_idx] = r.chunk
    for i, ws in enumerate(docs):
        chunks = by_doc.get(i, {})
        if not ws:
            assert chunks == {}
            continue
        n_expected = len(range(0, max(len(ws) - overlap, 1), stride))
        assert sorted(chunks) == list(range(n_expected))
        # reassembling chunk k's non-overlap prefix reconstructs the doc
        rebuilt = []
        for k in sorted(chunks):
            rebuilt.extend(chunks[k][: stride] if k < len(chunks) - 1 else chunks[k])
        # trailing chunk may re-cover tokens already emitted; clip to doc
        assert rebuilt[: len(ws)] == ws
        # every chunk except possibly the last is exactly chunk_size long
        for k in sorted(chunks)[:-1]:
            assert len(chunks[k]) == chunk_size


@given(
    vals=st.lists(
        st.integers(min_value=-1000, max_value=1000), min_size=1, max_size=60
    ),
    nb=st.integers(min_value=2, max_value=8),
)
@settings(**SETTINGS)
def test_quantile_bins_monotone_bounded_and_balanced(spark, vals, nb):
    """quantile_bins invariants over random ints: (a) bins ∈ 1..B,
    (b) monotone in the value, (c) for ALL-DISTINCT values the bin sizes
    differ by at most 1 (the ceil/floor split of the rank thresholds)."""
    from nyc_taxi_data_warehouse_spark.operators import sampling

    df = spark.createDataFrame([(v,) for v in vals], "x long")
    out = sampling.quantile_bins(df, "x", num_bins=nb).collect()
    assert all(1 <= r.bin <= nb for r in out)
    by_val = sorted(out, key=lambda r: r.x)
    assert all(
        a.bin <= b.bin for a, b in zip(by_val, by_val[1:])
    )  # monotone
    if len(set(vals)) == len(vals):
        sizes: dict[int, int] = {}
        for r in out:
            sizes[r.bin] = sizes.get(r.bin, 0) + 1
        assert max(sizes.values()) - min(sizes.values()) <= 1


@given(
    texts=st.lists(
        st.lists(
            st.sampled_from(["aa", "bb", "cc", "dd", "ee", "ff"]),
            min_size=3,
            max_size=8,
        ).map(" ".join),
        min_size=2,
        max_size=6,
    )
)
@settings(**SETTINGS)
def test_prefix_filter_matches_bruteforce_on_random_corpora(spark, texts):
    """PPJoin completeness + exactness against brute-force jaccard_pairs
    on random tiny corpora (threshold 0.3)."""
    from nyc_taxi_data_warehouse_spark.operators import dedup

    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    sh = dedup.shingle_rows(docs).persist()
    t = 0.3
    brute = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in dedup.jaccard_pairs(sh).collect()
        if r.jaccard >= t
    }
    got = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in dedup.prefix_filter_pairs(sh, threshold=t).collect()
    }
    assert set(got) == set(brute)
    for k in got:
        assert abs(got[k] - brute[k]) < 1e-12


@given(
    keys=st.lists(
        st.integers(min_value=-(10**9), max_value=10**9),
        unique=True,
        min_size=1,
        max_size=40,
    ),
    bits_pow=st.integers(min_value=10, max_value=16),
)
@settings(**SETTINGS)
def test_bloom_never_false_negative(spark, keys, bits_pow):
    """The bloom filter's one guarantee, over random key sets and filter
    sizes (down to 1024 bits, where false POSITIVES are rampant but false
    negatives must still be impossible)."""
    from nyc_taxi_data_warehouse_spark.operators import bloom

    dim = spark.createDataFrame([(k,) for k in keys], "k long")
    probe = spark.createDataFrame(
        [(k,) for k in keys] + [(k + 1, ) for k in keys], "k long"
    )
    num_bits = 1 << bits_pow
    bits = bloom.bloom_build(dim, "k", num_bits, 3)
    pre = probe.crossJoin(F.broadcast(bits)).where(
        bloom.bloom_might_contain(F.col("k"), F.col("__bloom"), num_bits, 3)
    )
    surviving = {r.k for r in pre.collect()}
    assert set(keys) <= surviving


@given(
    vals=st.lists(st.integers(-50, 50), min_size=1, max_size=120),
    nb=st.sampled_from([2, 4, 10]),
)
@settings(**SETTINGS)
def test_quantile_bounds_exact_equals_naive_type1(spark, vals, nb):
    """The bucketed-parallel exact path must reproduce the naive type-1
    (inverted-CDF) boundaries — ``min v : |{x ≤ v}|·B ≥ i·n``, ONE per
    threshold i (duplicates retained, as the strict-> assignment fold
    and the DuckDB oracles expect) — for random multisets (ties,
    negatives, single-value columns). Pins that the value-bucketed
    cumulative-count rewrite can never drift from the global-window
    definition."""
    import bisect

    from nyc_taxi_data_warehouse_spark.operators import sampling

    df = spark.createDataFrame([(v,) for v in vals], "x long")
    got = sorted(sampling.quantile_bounds(df, "x", nb).collect()[0][0])
    svals = sorted(vals)
    n = len(svals)
    want = sorted(
        min(
            v
            for v in sorted(set(svals))
            if bisect.bisect_right(svals, v) * nb >= i * n
        )
        for i in range(1, nb)
    )
    assert got == want


@given(
    vals=st.lists(
        st.text(alphabet="abcdefgh", min_size=1, max_size=4),
        min_size=1,
        max_size=60,
    ),
    k=st.integers(min_value=2, max_value=16),
)
@settings(**SETTINGS)
def test_kmv_union_law_and_exact_below_k(spark, vals, k):
    """Bottom-k of the union of per-group bottom-k tables == bottom-k of
    the whole input, for ANY grouping; and with distinct(vals) < k the
    estimate is exactly the distinct count (at nd == k the sketch is
    full, so the unbiased (k-1)/U_k estimator applies, not exactness —
    hypothesis found the nd == k boundary in round 8)."""
    from nyc_taxi_data_warehouse_spark.operators import sketches

    rows = [(v, i % 3) for i, v in enumerate(vals)]
    df = spark.createDataFrame(rows, ["v", "g"])
    per = sketches.kmv_bottom_k(df, "v", ("g",), k)
    merged = sketches.kmv_merge([per.select("h")], (), k)
    direct = sketches.kmv_bottom_k(df, "v", (), k)
    assert sorted(r.h for r in merged.collect()) == sorted(
        r.h for r in direct.collect()
    )
    nd = len(set(vals))
    if nd < k:
        est = sketches.kmv_estimate_from_bottom(direct, (), k).collect()[0]
        assert est.est_distinct == float(nd)


@given(
    counts=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=9),
            st.integers(min_value=1, max_value=40),
        ),
        min_size=1,
        max_size=30,
    ),
    k=st.integers(min_value=1, max_value=8),
    shards=st.integers(min_value=1, max_value=4),
)
@settings(**SETTINGS)
def test_mg_merge_theorem_on_random_multisets(spark, counts, k, shards):
    """For random shard-partitioned multisets: every surviving key's
    estimate never exceeds its true count and undershoots by at most
    sum(shard deltas) + merge delta."""
    from collections import Counter

    from nyc_taxi_data_warehouse_spark.operators import sketches

    truth = Counter()
    rows = []
    for i, (key, cnt) in enumerate(counts):
        truth[key] += cnt
        rows.append((i % shards, key, cnt))
    df = spark.createDataFrame(rows, ["shard", "key", "cnt"]).groupBy(
        "shard", "key"
    ).agg(F.sum("cnt").cast("long").alias("cnt"))
    ssum = sketches.mg_compress(df, "key", "cnt", ("shard",), k)
    d1 = sketches.mg_deltas(df, "key", "cnt", ("shard",), k).agg(
        F.sum("delta")
    ).collect()[0][0]
    merged = sketches.mg_merge(ssum.select("key", "weight"), (), k).collect()
    assert len(merged) <= k
    for r in merged:
        under = truth[r.key] - r.weight
        assert 0 <= under <= d1 + r.delta


@given(
    edges=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=12),
            st.integers(min_value=0, max_value=12),
        ),
        min_size=1,
        max_size=40,
    )
)
@settings(**SETTINGS)
def test_bfs_hops_equals_python_bfs_on_random_digraphs(spark, edges):
    from collections import deque

    from nyc_taxi_data_warehouse_spark.operators import graph

    df = spark.createDataFrame(edges, ["src", "dst"])
    src_node = min(a for a, _ in edges)
    got = {
        r.node: r.hops
        for r in graph.bfs_hops(
            df, spark.createDataFrame([(src_node,)], ["node"])
        ).collect()
    }
    adj = {}
    for a, b in edges:
        adj.setdefault(a, set()).add(b)
    want = {src_node: 0}
    dq = deque([src_node])
    while dq:
        u = dq.popleft()
        for v in adj.get(u, ()):
            if v not in want:
                want[v] = want[u] + 1
                dq.append(v)
    assert got == want
