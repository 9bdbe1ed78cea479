"""Round-11 operator tests: incremental ingest dedup vs a persisted
signature store (dedup.signature_records / dedup.incremental_neardup)."""

from __future__ import annotations

import pytest

from nyc_taxi_data_warehouse_spark.operators import dedup


@pytest.fixture(scope="module")
def corpus(spark):
    # long texts so 3-gram shingles exist; doc 5 is a short (shingle-less)
    # doc; doc 4 duplicates doc 1 exactly; doc 6 is a near-dup of doc 2
    words = lambda seed, n: " ".join(f"w{seed}_{i}" for i in range(n))
    rows = [
        (1, words(1, 40)),
        (2, words(2, 40)),
        (3, words(3, 40)),
    ]
    batch = [
        (4, words(1, 40)),              # exact copy of doc 1
        (5, "tiny"),                    # shingle-less: exact-only leg
        (6, words(2, 40) + " extra"),   # near-dup of doc 2 (shares grams)
        (7, words(7, 40)),              # genuinely new
    ]
    hist_df = spark.createDataFrame(rows, "doc_id long, text string")
    batch_df = spark.createDataFrame(batch, "doc_id long, text string")
    return hist_df, batch_df


def test_incremental_neardup_decisions(spark, corpus):
    hist, batch = corpus
    store = dedup.signature_records(hist)
    report, merged = dedup.incremental_neardup(batch, store)
    d = {r.doc_id: r for r in report.collect()}
    assert set(d) == {4, 5, 6, 7}
    assert d[4].decision == "exact_dup" and d[4].is_exact_dup == 1
    assert d[5].decision == "new"  # short doc: no shingles, exact leg only
    assert d[6].decision == "near_dup" and d[6].n_near_store >= 1
    assert d[7].decision == "new" and d[7].n_near_store == 0
    # merged store = history + accepted (new) docs only
    ids = {r.doc_id for r in merged.select("doc_id").collect()}
    assert ids == {1, 2, 3, 5, 7}


def test_incremental_neardup_idempotent(spark, corpus):
    """Re-ingesting the same batch against the merged store is a no-op:
    every previously-accepted doc reports exact_dup, previously-rejected
    docs keep their rejection, and the store does not grow."""
    hist, batch = corpus
    store = dedup.signature_records(hist)
    _, merged = dedup.incremental_neardup(batch, store)
    report2, merged2 = dedup.incremental_neardup(batch, merged)
    d = {r.doc_id: r.decision for r in report2.collect()}
    # 4 matches doc 1's content; 5 and 7 now match their own stored hash
    assert d[4] == "exact_dup"
    assert d[5] == "exact_dup"
    assert d[7] == "exact_dup"
    assert d[6] in ("exact_dup", "near_dup")  # rejected again, never 'new'
    assert merged2.count() == merged.count()


def test_incremental_neardup_no_null_band_bucket(spark):
    """Two shingle-less docs (NULL signatures) must NOT pair via a NULL
    band bucket — the groupBy-treats-NULLs-as-equal trap."""
    hist = spark.createDataFrame([(1, "ab")], "doc_id long, text string")
    batch = spark.createDataFrame([(2, "cd")], "doc_id long, text string")
    store = dedup.signature_records(hist)
    report, _ = dedup.incremental_neardup(batch, store)
    row = report.collect()[0]
    assert row.decision == "new" and row.n_near_store == 0


def test_signature_records_schema(spark, corpus):
    hist, _ = corpus
    rec = dedup.signature_records(hist, num_hashes=8)
    cols = rec.columns
    assert cols[:2] == ["doc_id", "content_hash"]
    assert [c for c in cols if c.startswith("h")] == [f"h{i}" for i in range(8)]


# --- CDC log apply -----------------------------------------------------------

def test_apply_changelog_latest_wins_and_deletes_tombstone(spark):
    from datetime import datetime

    from nyc_taxi_data_warehouse_spark.operators.merge import apply_changelog

    def ts(m):
        return datetime(2026, 1, 1, 12, m)

    log = spark.createDataFrame(
        [
            (1, ts(0), 10, False, "a"),   # superseded
            (1, ts(5), 11, False, "b"),   # winner for key 1
            (2, ts(0), 12, False, "c"),   # superseded by delete
            (2, ts(9), 13, True, "d"),    # winning delete -> tombstone
            (3, ts(3), 14, True, "e"),    # delete then re-insert
            (3, ts(4), 15, False, "f"),   # winner for key 3
            (4, ts(7), 16, False, "g"),   # same ts as below
            (4, ts(7), 17, False, "h"),   # higher event_id wins the tie
        ],
        "k long, ts timestamp, eid long, is_del boolean, payload string",
    )
    out = {
        r.k: r.payload
        for r in apply_changelog(
            log, key=["k"], order_by=["ts", "eid"], delete_col="is_del"
        ).collect()
    }
    assert out == {1: "b", 3: "f", 4: "h"}


# --- streaming ingest-dedup parity -------------------------------------------

def test_stream_ingest_dedup_matches_batch(spark):
    """The streaming preflight must equal the batch computation exactly
    (stream-static join + windowless shard counter: re-delivery-free by
    availableNow construction)."""
    from pyspark.sql import functions as F

    from nyc_taxi_data_warehouse_spark.queries_data import (
        _ingest_generations,
        q_stream_ingest_dedup,
    )

    sf = "/root/testdata/sf0.001"
    got = {
        r.shard: (r.n_known, r.n_new)
        for r in q_stream_ingest_dedup(spark, sf).collect()
    }
    hist, batch = _ingest_generations(spark, sf)
    known = hist.select(F.md5("text").alias("h")).distinct()
    exp = {
        r.shard: (r.n_known, r.n_new)
        for r in batch.select(
            (F.col("doc_id") % 16).alias("shard"), F.md5("text").alias("h")
        )
        .join(known.withColumn("__k", F.lit(1)), "h", "left")
        .groupBy("shard")
        .agg(
            F.sum(F.when(F.col("__k").isNotNull(), 1).otherwise(0))
            .cast("long").alias("n_known"),
            F.sum(F.when(F.col("__k").isNull(), 1).otherwise(0))
            .cast("long").alias("n_new"),
        )
        .collect()
    }
    assert got == exp and sum(v[0] for v in got.values()) > 0


# --- lake-persisted signature store -----------------------------------------

def test_neardup_store_ingest_lifecycle(spark, corpus, tmp_path):
    """Three-generation lifecycle of the versioned signature store:
    init ingest (all new, v1) -> second ingest (decisions; append-only
    v2 grows by exactly the accepted delta) -> re-ingest (all rejected,
    store content unchanged)."""
    hist, batch = corpus
    path = str(tmp_path / "sig_store")
    r1, v1 = dedup.neardup_store_ingest(spark, path, hist)
    assert v1 == 0  # ManifestTable versions start at 0
    assert {r.decision for r in r1.collect()} == {"new"}

    r2, v2 = dedup.neardup_store_ingest(spark, path, batch)
    assert v2 == 1
    d = {r.doc_id: r.decision for r in r2.collect()}
    assert d == {4: "exact_dup", 5: "new", 6: "near_dup", 7: "new"}
    from nyc_taxi_data_warehouse_spark.sources.manifest import ManifestTable

    ids = {r.doc_id for r in ManifestTable(path).read(spark).collect()}
    assert ids == {1, 2, 3, 5, 7}  # history + accepted delta only

    r3, v3 = dedup.neardup_store_ingest(spark, path, batch)
    d3 = {r.doc_id: r.decision for r in r3.collect()}
    assert d3[4] == "exact_dup" and d3[5] == "exact_dup"
    assert d3[7] == "exact_dup" and d3[6] != "new"
    ids3 = {r.doc_id for r in ManifestTable(path).read(spark).collect()}
    assert ids3 == ids  # empty append: content unchanged
    assert v3 == 2


# --- hypothesis properties for the round-11 operator cores -------------------

from hypothesis import given, settings
from hypothesis import strategies as st

_H_SETTINGS = dict(max_examples=25, deadline=None)


@given(
    ops=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=4),    # key
            st.integers(min_value=0, max_value=50),   # ts minute
            st.booleans(),                            # is_delete
        ),
        min_size=1,
        max_size=40,
    ),
)
@settings(**_H_SETTINGS)
def test_apply_changelog_matches_literal_replay(spark, ops):
    """apply_changelog must equal a literal driver-side replay of the log
    in (ts, eid) order for ANY op sequence — per key the last op wins and
    a winning delete removes the row."""
    import datetime as dt

    from nyc_taxi_data_warehouse_spark.operators.merge import apply_changelog

    t0 = dt.datetime(2024, 5, 1)
    rows = [
        (k, t0 + dt.timedelta(minutes=m), eid, d, f"p{eid}")
        for eid, (k, m, d) in enumerate(ops)
    ]
    log = spark.createDataFrame(
        rows, "k long, ts timestamp, eid long, is_del boolean, payload string"
    )
    got = {
        r.k: r.payload
        for r in apply_changelog(
            log, key=["k"], order_by=["ts", "eid"], delete_col="is_del"
        ).collect()
    }
    state = {}
    for k, ts, eid, d, p in sorted(rows, key=lambda r: (r[1], r[2])):
        if d:
            state.pop(k, None)
        else:
            state[k] = p
    # literal replay keeps only non-deleted FINAL states — but
    # apply_changelog's contract is "winning op decides", which differs
    # from sequential replay when a delete is later overwritten: replay
    # in LSN order makes the overwrite win in both formulations
    assert got == state


@given(
    trips=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=300),  # start minute
            st.integers(min_value=1, max_value=120),  # duration minutes
        ),
        min_size=1,
        max_size=30,
    ),
)
@settings(**_H_SETTINGS)
def test_concurrency_sweep_matches_literal(spark, trips):
    """The boundary-sweep concurrency core must match a literal per-minute
    scan for ANY interval set (half-open [start, end) semantics)."""
    import datetime as dt

    from pyspark.sql import functions as F

    from nyc_taxi_data_warehouse_spark.operators.sampling import (
        bucketed_value_cumsum,
    )

    t0 = dt.datetime(2024, 6, 1)
    rows = [
        (t0 + dt.timedelta(minutes=s), t0 + dt.timedelta(minutes=s + d))
        for s, d in trips
    ]
    t = spark.createDataFrame(rows, "ps timestamp, pe timestamp")
    b = t.select(
        (F.unix_micros("ps") * 2 + 1).alias("enc"), F.lit(1).alias("delta")
    ).unionByName(
        t.select(
            (F.unix_micros("pe") * 2).alias("enc"), F.lit(-1).alias("delta")
        )
    )
    run = bucketed_value_cumsum(b, "enc", weight_col="delta")
    got = max(r["__cle"] for r in run.collect())
    lit_max = max(
        sum(1 for s, d in trips if s <= m < s + d) for m in range(0, 430)
    )
    assert got == lit_max


@given(
    docs=st.lists(
        st.integers(min_value=0, max_value=6),  # content id (collisions!)
        min_size=1,
        max_size=12,
    ),
    hist_n=st.integers(min_value=0, max_value=6),
)
@settings(**_H_SETTINGS)
def test_incremental_neardup_exact_leg_matches_set_logic(spark, docs, hist_n):
    """The exact leg must match plain set membership of content for ANY
    batch/history content overlap (short texts: near leg inert)."""
    from nyc_taxi_data_warehouse_spark.operators import dedup as dd

    hist_rows = [(i, f"c{i % (hist_n + 1)}") for i in range(hist_n)]
    batch_rows = [(100 + j, f"c{c}") for j, c in enumerate(docs)]
    hist = spark.createDataFrame(
        hist_rows or [(999, "zzz")], "doc_id long, text string"
    )
    batch = spark.createDataFrame(batch_rows, "doc_id long, text string")
    store = dd.signature_records(hist)
    report, _ = dd.incremental_neardup(batch, store)
    hist_contents = {t for _, t in (hist_rows or [(999, "zzz")])}
    got = {r.doc_id: r.is_exact_dup for r in report.collect()}
    for did, txt in batch_rows:
        assert got[did] == (1 if txt in hist_contents else 0), (did, txt)


# --- streaming Misra-Gries bounds --------------------------------------------

def test_stream_mg_topk_bounds_and_heavy_guarantee(spark):
    """The streaming MG summary must satisfy the sketch bounds on its
    slicing-DEPENDENT side too: every final counter underestimates its
    key's exact shard count by at most n_shard/(k+1), never
    overestimates — and every globally-heavy key appears."""
    from pyspark.sql import functions as F

    from nyc_taxi_data_warehouse_spark.plans.nyc_views import load_tables
    from nyc_taxi_data_warehouse_spark.queries_data import (
        _MG_K,
        _MG_SHARDS,
        q_stream_mg_topk,
    )

    sf = "/root/testdata/sf0.001"
    heavy = {r.key for r in q_stream_mg_topk(spark, sf).collect()}
    # the planted skew keys are always heavy
    assert {0, 1} <= heavy
    # bounds on the final per-shard counters (read the LAST sink emitted
    # by the query run above)
    sink_name = max(
        (
            t.name for t in spark.catalog.listTables()
            if t.name.startswith("q_stream_mg_topk_sink_")
        ),
        key=lambda n: int(n.rsplit("_", 1)[1]),
    )
    sink = spark.table(sink_name)
    from pyspark.sql import Window

    final = sink.withColumn(
        "__mx", F.max("seq").over(Window.partitionBy("shard"))
    ).where(F.col("seq") == F.col("__mx"))
    ev = load_tables(spark, sf)["events"].where(
        F.col("user_id").isNotNull() & F.col("ts").isNotNull()
    )
    skey = F.when(F.col("user_id") % 4 < 2, F.col("user_id") % 4).otherwise(
        F.col("user_id")
    )
    feed = ev.select(skey.alias("key")).withColumn(
        "shard",
        F.pmod(
            F.conv(
                F.substring(F.md5(F.col("key").cast("string")), 1, 15),
                16, 10,
            ).cast("long"),
            F.lit(_MG_SHARDS),
        ).cast("int"),
    )
    exact = {
        (r.shard, r.key): r.cnt
        for r in feed.groupBy("shard", "key")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .collect()
    }
    n_shard = {}
    for (s, _k), c in exact.items():
        n_shard[s] = n_shard.get(s, 0) + c
    for r in final.collect():
        ex = exact[(r.shard, r.key)]
        assert r.weight <= ex, (r, ex)
        assert ex - r.weight <= n_shard[r.shard] / (_MG_K + 1), (r, ex)
