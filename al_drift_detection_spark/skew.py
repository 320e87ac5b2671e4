"""Skew handling: salted repartition + two-level aggregation + AQE conf.

north_star: "Skew on fmt/size is handled via salted repartitioning and AQE."
The images table is fmt-skewed 90/10 (jpeg/png — FIXTURES.md), so any
`groupBy(fmt)` or join keyed on fmt sends ~90% of rows to one reducer. Two
mitigations, composable:

1. AQE (on by default in session.py): splits skewed shuffle partitions at
   runtime (`spark.sql.adaptive.skewJoin.enabled`,
   `advisoryPartitionSizeInBytes`).
2. Explicit salting for aggregations whose key set is tiny (AQE can't split
   a single hot KEY within a hash aggregate): add salt = pmod(hash(row_key),
   n_salts) to the group key, aggregate (key, salt), then re-aggregate by
   key. Works for any algebraic aggregate (sum/count/min/max and avg via
   sum+count).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from al_drift_detection_spark.persist import persist_scope, scoped

AQE_CONF = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "3",
    "spark.sql.adaptive.advisoryPartitionSizeInBytes": "64m",
}


def with_salt(df: DataFrame, row_key: str, n_salts: int = 16, salt_col: str = "_salt") -> DataFrame:
    """Deterministic salt from a high-cardinality row key (never rand() —
    reruns must be idempotent, fixing the reference's per-run seeding,
    /root/reference/gan.py:913)."""
    return df.withColumn(salt_col, F.pmod(F.hash(F.col(row_key)), F.lit(n_salts)))


def salted_agg(
    df: DataFrame,
    group_cols: list[str],
    aggs: dict[str, Column],
    row_key: str,
    n_salts: int = 16,
) -> DataFrame:
    """Two-level aggregation over a skewed key.

    Level 1 groups by (group_cols + salt) — hot keys fan out over n_salts
    reducers; level 2 merges the partials by group_cols alone (tiny input).
    `aggs` maps output name → level-1 aggregate Column; merge functions are
    derived (sum→sum, count→sum, min→min, max→max). For avg, request sum +
    count and divide afterwards.
    """
    salted = with_salt(df, row_key, n_salts)
    level1 = salted.groupBy(*group_cols, "_salt").agg(
        *[c.alias(f"_p_{name}") for name, c in aggs.items()]
    )
    merged = []
    for name, c in aggs.items():
        fn_name = c._jc.toString().lower() if hasattr(c, "_jc") else ""
        src = F.col(f"_p_{name}")
        if fn_name.startswith("min"):
            merged.append(F.min(src).alias(name))
        elif fn_name.startswith("max"):
            merged.append(F.max(src).alias(name))
        else:  # sum/count partials merge by summation
            merged.append(F.sum(src).alias(name))
    return level1.groupBy(*group_cols).agg(*merged)


def skewed_key_histogram(df: DataFrame, key: str, top: int = 20) -> DataFrame:
    """Diagnostic: per-key row counts + share of total, descending — the
    planning input for choosing n_salts."""
    total = df.count()
    return (
        df.groupBy(key)
        .agg(F.count(F.lit(1)).alias("n"))
        .withColumn("share", F.round(F.col("n") / F.lit(total), 4))
        .orderBy(F.desc("n"))
        .limit(top)
    )


def salted_agg_auto(
    df: DataFrame,
    group_cols: list[str],
    aggs: dict[str, Column],
    row_key: str,
    profile: DataFrame | int | None = None,
    max_salts: int = 32,
) -> tuple[DataFrame, int]:
    """salted_agg with the fan-out DERIVED from the skew profile instead of
    hand-plumbed (VERDICT r6 Next #7 — q_skew_profile measured the skew and
    q_salted_agg demonstrated the mitigation, but nothing wired them).

    profile:
      None       — measure skew_profile(df, group_cols) here (one extra
                   count pass over df; at scale, measure once and reuse);
      DataFrame  — a skew_profile output for this key: its max
                   suggested_salts is the fan-out (hot keys dominate the
                   level-1 reducer, so leveling the hottest levels all);
      int        — an explicit fan-out (the caller's own sizing).

    A derived fan-out ≤ 1 means the key is not skewed: return the PLAIN
    one-level aggregate — salting a uniform key would only add a pointless
    second shuffle. Returns (result frame, n_salts used); values are
    identical to the unsalted aggregate either way (parity pinned in
    tests/test_skew_auto.py and by q_salted_agg_auto's plain-GROUP-BY
    oracle)."""
    if profile is None or isinstance(profile, DataFrame):
        # nested scope: a profile measured here frees its count frame as
        # soon as the fan-out is read
        with persist_scope():
            if profile is None:
                profile = skew_profile(df, group_cols, max_salts=max_salts)
            row = profile.agg(F.max("suggested_salts").alias("_s")).collect()[0]
        n_salts = int(row["_s"]) if row["_s"] is not None else 1
    else:
        n_salts = int(profile)
    if n_salts <= 1:
        return (
            df.groupBy(*group_cols).agg(
                *[c.alias(name) for name, c in aggs.items()]
            ),
            1,
        )
    return salted_agg(df, group_cols, aggs, row_key, n_salts=n_salts), n_salts


def skew_profile(df: DataFrame, key: str | list[str], max_salts: int = 32) -> DataFrame:
    """Skew PROFILER for a grouping/join key: per-key row count, share of
    total, skew ratio vs a uniform key distribution, and the salt fan-out
    salted_agg would need to level that key (suggested_salts =
    ceil(skew_ratio), capped) — the measurement step before the
    q_salted_agg mitigation (north_star: 'skew on fmt/size is handled via
    salted repartitioning and AQE'; AQE splits hot PARTITIONS but cannot
    split one hot KEY inside a hash aggregate, so the decision needs this
    per-key view).

    One raw-table shuffle total: per-key counts, then the O(keys) frame
    crossJoins its own broadcast single-row total. The count frame is the
    shared child of the totals aggregate AND the join side (the CLAUDE.md
    rule — unpersisted, the raw scan would execute twice), so it is
    persisted into the caller's persist scope. skew_ratio is computed
    as cnt·n_keys/tot (all integer-valued doubles, exact in IEEE754 below
    2^53) rather than cnt/avg(cnt), so ceil() sits on an
    exactly-reproducible quotient and the suggested fan-out never flips
    across engines or retries from last-bit float drift.
    """

    keys = [key] if isinstance(key, str) else list(key)
    c = scoped(df.groupBy(*keys).agg(F.count(F.lit(1)).alias("cnt")).persist())
    t = c.agg(
        F.sum("cnt").cast("double").alias("_tot"),
        F.count(F.lit(1)).cast("double").alias("_nk"),
    )
    ratio = F.col("cnt") * F.col("_nk") / F.col("_tot")
    out = c.crossJoin(F.broadcast(t)).select(
        *keys,
        F.col("cnt").cast("long").alias("cnt"),
        F.round(F.col("cnt") / F.col("_tot"), 6).alias("share"),
        F.round(ratio, 6).alias("skew_ratio"),
        F.least(F.ceil(ratio), F.lit(int(max_salts)).cast("long"))
        .cast("int")
        .alias("suggested_salts"),
    )
    return out
