"""Skew-mitigation helpers for hot-key joins and aggregations.

First line of defense is AQE's skew-join splitting (on in `session.py`),
which re-plans from runtime partition statistics. These helpers cover the
cases AQE can't fix:

- `salted_agg`: a two-phase aggregation for algebraic aggregates when ONE
  grouping key dominates (e.g. one zone id holds 30% of all trips). Phase 1
  aggregates on (key, salt) — spreading the hot key over `n_salts`
  reducers — phase 2 re-aggregates the per-salt partials. Spark's partial
  (map-side) aggregation already handles most skew; salting matters when
  per-partition cardinality is so high the partial-agg hash map degrades.
- `salted_broadcast_join`: replicate-the-small-side join for a skewed fact
  key against a dimension too big to broadcast whole but small enough to
  broadcast `n_salts` replicas of the hot keys' rows. The fact side gets a
  random salt; the dim side is exploded over all salts.

Both preserve exact semantics — salts never leak into results.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def salted_agg(
    df: DataFrame,
    keys: Sequence[str],
    n_salts: int = 16,
    *,
    counts: Sequence[str] = (),
    sums: Sequence[str] = (),
) -> DataFrame:
    """Two-phase count/sum aggregation over `keys` with a salt fan-out.

    Returns one row per key with `row_count`, a non-null `<c>_count` per
    `counts` column, and a `<c>_sum` per `sums` column. Averages derive
    downstream as sum/count (algebraic decomposition); non-algebraic
    aggregates (median, mode) need different machinery and are out of scope.
    """
    salt = (F.rand(seed=42) * n_salts).cast("int").alias("__salt")
    cols = dict.fromkeys([*counts, *sums])  # de-dup, keep order
    phase1 = df.select(*keys, salt, *cols).groupBy(*keys, "__salt").agg(
        F.count(F.lit(1)).alias("__n"),
        *[F.count(c).alias(f"__cnt_{c}") for c in counts],
        *[F.sum(c).alias(f"__sum_{c}") for c in sums],
    )
    aggs = [F.sum("__n").alias("row_count")]
    aggs += [F.sum(f"__cnt_{c}").alias(f"{c}_count") for c in counts]
    aggs += [F.sum(f"__sum_{c}").alias(f"{c}_sum") for c in sums]
    return phase1.groupBy(*keys).agg(*aggs)


# join types whose right side Spark cannot broadcast, spelled as Spark's
# JoinType parser normalizes them (lower case, no underscores)
_NO_RIGHT_BROADCAST = frozenset({"right", "rightouter", "outer", "full", "fullouter"})


def salted_broadcast_join(
    fact: DataFrame,
    dim: DataFrame,
    key: str,
    n_salts: int = 8,
    how: str = "left",
) -> DataFrame:
    """Skew-safe equi-join: fact rows draw a random salt, dim rows replicate
    across every salt, and the join runs on (key, salt) so a hot key spreads
    over `n_salts` tasks instead of one straggler.

    The replicated dim is broadcast EXPLICITLY (guide §3.1): replication
    across salts only makes sense for a dim small enough to ship whole,
    and relying on the planner's size estimate let the join silently
    degrade to a sort-merge — re-shuffling the fact on (key, salt) and
    giving back most of what the salt bought (the skew-torture test
    caught exactly that under ``autoBroadcastJoinThreshold=-1``).  With
    the hint the fact side is never shuffled at all; the salt then only
    matters for DOWNSTREAM keyed ops, and the broadcast join is
    hot-key-immune by construction.  Results are identical either way —
    every fact row still meets exactly one dim replica.

    Precondition: ``n_salts`` × the dim's rows must fit a broadcast.
    ``how`` must keep the fact side as the streamed side; a right or full
    outer join cannot broadcast its right side, so the hint would be a
    silent no-op and those joins raise ``ValueError``."""
    if how.lower().replace("_", "") in _NO_RIGHT_BROADCAST:
        raise ValueError(
            f"salted_broadcast_join cannot broadcast the dim for how={how!r}"
        )
    f = fact.withColumn("__salt", (F.rand(seed=42) * n_salts).cast("int"))
    d = dim.withColumn(
        "__salt", F.explode(F.sequence(F.lit(0), F.lit(n_salts - 1)))
    )
    out = f.join(F.broadcast(d), on=[key, "__salt"], how=how)
    return out.drop("__salt")


def key_skew_report(
    df: DataFrame,
    key_col: str,
    top_n: int = 20,
) -> DataFrame:
    """Join-key skew diagnostic — the observability half of this module
    (salting is the mitigation; this tells you whether you need it, and
    for which keys).  Reports the ``top_n`` heaviest keys with count,
    share, and cumulative share, each row also carrying the global
    summary: row count, distinct-key count, the Herfindahl
    concentration index HHI = Σ(c_k/n)² and its reciprocal — the
    EFFECTIVE number of keys a shuffle actually spreads over (uniform ⇒
    n_keys; one hot key ⇒ →1; AQE skew-split or salting is warranted
    when eff_keys ≪ shuffle partitions).

    Exactness: HHI's numerator Σc² and every count are exact integers;
    shares divide once per output row.  Shape: ONE map-side-combinable
    groupBy to a key-cardinality frame (persisted: it feeds the top-N
    prune AND the 1-row summary; the cache entry lives until
    ``spark.catalog.clearCache()`` or session end — the result is lazy,
    so this function cannot unpersist it), a TakeOrdered for the top N
    (never a full sort), and windows only over the N-row pruned
    frame."""
    counts = df.groupBy(F.col(key_col).alias("key")).agg(
        F.count(F.lit(1)).cast("long").alias("cnt")
    ).persist()  # two consumers; cached until harness clearCache
    summary = counts.agg(
        F.sum("cnt").cast("long").alias("n_rows"),
        F.count(F.lit(1)).cast("long").alias("n_keys"),
        F.sum(F.col("cnt") * F.col("cnt")).cast("long").alias("__c2"),
    )
    top = counts.orderBy(F.desc("cnt"), F.asc("key")).limit(top_n)
    w = (
        Window.orderBy(F.desc("cnt"), F.asc("key"))
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    ranked = top.select(
        "key",
        "cnt",
        F.row_number().over(Window.orderBy(F.desc("cnt"), F.asc("key")))
        .cast("int")
        .alias("rank"),
        F.sum("cnt").over(w).cast("long").alias("__cum"),
    )
    return ranked.crossJoin(F.broadcast(summary)).select(
        "rank",
        "key",
        "cnt",
        "n_rows",
        "n_keys",
        (F.col("cnt") / F.col("n_rows")).alias("share"),
        (F.col("__cum") / F.col("n_rows")).alias("cum_share"),
        (F.col("__c2") / (F.col("n_rows") * F.col("n_rows")).cast("double"))
        .alias("hhi"),
        (
            (F.col("n_rows") * F.col("n_rows"))
            / F.col("__c2").cast("double")
        ).alias("eff_keys"),
    )
