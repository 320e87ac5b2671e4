"""KMV (k minimum values) cross-window OVERLAP sketches — set-intersection
estimates between windows: retention ("which share of last window's users
came back"), churn, and cross-snapshot duplication rate. This is the set
operation the HLL uniqueness store cannot answer: HLL register unions give
|A ∪ B| only; a KMV sketch — the k smallest hash values of a window's
distinct keys — supports INTERSECTION, because the k smallest hashes of
A ∪ B are a uniform coordinated sample of the union, and the fraction of
that sample present in both sketches estimates Jaccard(A, B)
(Beyer et al. 2007, "On synopses for distinct-value estimation under
multiset operations" — public algorithm; the same coordinated-sample idea
as the engine's MinHash dedup, functions/dedup.py, applied to whole-window
set overlap).

Spark-first shape: the sketch build is one distinct + one ranked filter per
window (bounded to k rows per window however large the window); every pair
estimate runs on the O(windows x k) sketch rows alone — consecutive-window
retention over a year of windows never re-touches raw data. The hash is
Spark's xxhash64 (pure JVM), replicated bit-exactly by
operators/xxh64_replica.xxhash64_long, so q_kmv_retention carries a FULL
lazy DuckDB oracle (key->hash literals) that value-checks sketch ranks,
the coordinated sample, and the Jaccard estimate itself — not just bounds.

SURVEY.md §2.4 A2 (uniqueness family — its cross-window set-operation
form); reference analog: the recurring-vs-new regime question
(/root/reference/gan.py:385-420) is "how much does this window's
population overlap a previous one" — answered there by sketch distance,
here by coordinated key samples.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from al_drift_detection_spark.persist import scoped


def kmv_sketches(
    df: DataFrame, key_col: str, window_col: str, k: int = 1024
) -> DataFrame:
    """One KMV sketch per window as ROWS: (window_col, h) with at most k
    rows per window — the k smallest xxhash64 values over the window's
    DISTINCT non-null keys (signed-long order is uniform, so rank order is
    all that matters; no normalization needed for overlap).

    Scale shape — TWO-STAGE ranked filter, because a plain
    row_number().over(partitionBy(window)) would sort a window's ENTIRE
    distinct-key set in one task (few windows x billions of keys is
    exactly this operator's deployment case; the CLAUDE.md
    single-hot-task rule). Stage 1 DENSE-ranks the raw hash rows within
    (window, salt) — SALT buckets derived from the hash itself, so
    parallelism is window x {salt} — and keeps dense_rank <= k per
    bucket: every copy of a bucket's k smallest DISTINCT hashes survives,
    and the window's true k smallest are necessarily among them (each is
    within the k smallest distinct of its own bucket). Ranking BEFORE
    deduplicating (r8) removes the old up-front `.distinct()`'s full-table
    exchange — one shuffle of every (window, hash) row — because
    dense_rank counts distinct values by itself; the explicit distinct
    then runs on the <= windows x salt x k survivors (x key multiplicity)
    only. Stage 2 re-ranks the bounded survivor set per window. Output
    bounded by windows x k, values identical (same distinct-hash set
    survives stage 1 by the argument above)."""
    if k < 16:
        raise ValueError(f"k must be >= 16, got {k}")
    n_salt = 32
    d = df.filter(F.col(key_col).isNotNull()).select(
        window_col, F.xxhash64(key_col).alias("h")
    )
    s1 = Window.partitionBy(window_col, "_salt").orderBy("h")
    pre = (
        d.withColumn("_salt", F.pmod(F.col("h"), F.lit(n_salt)))
        .withColumn("_rn", F.dense_rank().over(s1))
        .filter(F.col("_rn") <= k)
        .drop("_rn", "_salt")
        .distinct()
    )
    s2 = Window.partitionBy(window_col).orderBy("h")
    return (
        pre.withColumn("_rn", F.row_number().over(s2))
        .filter(F.col("_rn") <= k)
        .drop("_rn")
    )


def kmv_pair_overlap(
    sketches: DataFrame, window_col: str, k: int = 1024
) -> DataFrame:
    """Jaccard estimate for every CONSECUTIVE window pair (w, w+1) from the
    sketches alone: union the two sketches' rows, keep the k smallest
    distinct hashes (the coordinated sample of A ∪ B), and count how many
    appear in both. Output: (window_col = the pair's LEFT window, w_next,
    k_used, n_both, jaccard_est). Estimate error ~ 1/sqrt(k); when the
    union's distinct hashes fit inside k the estimate is EXACT (pinned in
    tests/test_kmv.py). Every frame is O(windows x k).

    The sketch frame is consumed THREE times (A side, B side, window list)
    and its child is the expensive distinct + two-stage rank over raw data
    — persisted here into the caller's persist scope (the shared-child
    rule; without it the whole sketch pipeline executes three times)."""

    sketches = scoped(sketches.persist())
    a = sketches.select(F.col(window_col).alias("_p"), "h", F.lit(1).alias("_a"))
    b = sketches.select(
        (F.col(window_col) - 1).alias("_p"), "h", F.lit(1).alias("_b")
    )
    wins = sketches.select(F.col(window_col).alias("_p")).distinct()
    pairs = wins.join(
        wins.select((F.col("_p") - 1).alias("_p")), "_p"
    )  # left windows whose w+1 also exists
    u = (
        a.join(F.broadcast(pairs), "_p")
        .unionByName(b.join(F.broadcast(pairs), "_p"), allowMissingColumns=True)
        .groupBy("_p", "h")
        .agg(F.max("_a").alias("_ina"), F.max("_b").alias("_inb"))
    )
    rn = Window.partitionBy("_p").orderBy("h")
    out = (
        u.withColumn("_rn", F.row_number().over(rn))
        .filter(F.col("_rn") <= k)
        .groupBy("_p")
        .agg(
            F.count(F.lit(1)).alias("k_used"),
            F.sum(
                (F.coalesce("_ina", F.lit(0)) * F.coalesce("_inb", F.lit(0)))
            ).cast("long").alias("n_both"),
        )
        .select(
            F.col("_p").alias(window_col),
            (F.col("_p") + 1).alias("w_next"),
            "k_used",
            "n_both",
            (F.col("n_both") / F.col("k_used")).alias("jaccard_est"),
        )
    )
    return out


def exact_pair_overlap(
    df: DataFrame, key_col: str, window_col: str
) -> DataFrame:
    """Exact consecutive-pair Jaccard — the verification twin (shuffles
    every distinct key once; the sketch path above is what a 100 TB
    deployment runs). Output: (window_col, w_next, n_a, n_b, n_overlap,
    jaccard_exact)."""
    d = (
        df.filter(F.col(key_col).isNotNull())
        .select(window_col, key_col)
        .distinct()
    )
    a = d.select(F.col(window_col).alias("_p"), key_col, F.lit(1).alias("_a"))
    b = d.select(
        (F.col(window_col) - 1).alias("_p"), key_col, F.lit(1).alias("_b")
    )
    wins = d.select(F.col(window_col).alias("_p")).distinct()
    pairs = wins.join(wins.select((F.col("_p") - 1).alias("_p")), "_p")
    u = (
        a.join(F.broadcast(pairs), "_p")
        .unionByName(b.join(F.broadcast(pairs), "_p"), allowMissingColumns=True)
        .groupBy("_p", key_col)
        .agg(F.max("_a").alias("_ina"), F.max("_b").alias("_inb"))
    )
    both = F.coalesce("_ina", F.lit(0)) * F.coalesce("_inb", F.lit(0))
    return u.groupBy("_p").agg(
        F.sum(F.coalesce("_ina", F.lit(0))).cast("long").alias("n_a"),
        F.sum(F.coalesce("_inb", F.lit(0))).cast("long").alias("n_b"),
        F.sum(both).cast("long").alias("n_overlap"),
    ).select(
        F.col("_p").alias(window_col),
        (F.col("_p") + 1).alias("w_next"),
        "n_a",
        "n_b",
        "n_overlap",
        (
            F.col("n_overlap")
            / (F.col("n_a") + F.col("n_b") - F.col("n_overlap"))
        ).alias("jaccard_exact"),
    )
