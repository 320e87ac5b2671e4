"""Frequent-items (heavy-hitters) analyzers: exact per-window top-k as the
oracle twin, and a MISRA-GRIES bounded mergeable summary as the 100 TB path
(Deequ's FrequentItems/Histogram analyzer family; the mergeable-summaries
form is Agarwal et al., "Mergeable Summaries", PODS 2012).

Why a sketch: an exact top-k over a high-cardinality column shuffles every
distinct value — at 10^12 rows a groupBy(url_domain) moves billions of
groups to count a handful of heavy hitters. Misra-Gries keeps k counters
per (window × chunk) with the classic guarantees, preserved under merging:

- UNDERCOUNT ONLY: est(item) ≤ true(item);
- bounded deficit: true(item) − est(item) ≤ n/(k+1) (n = window rows);
- PRESENCE: every item with true share > 1/(k+1) is in the summary.

Scale shape: one Arrow-vectorized mapInPandas pass reduces each chunk to a
k-counter summary (pandas value_counts + the MG reduction — subtract the
(k+1)-th largest, drop non-positives), so only O(chunks × k) rows shuffle;
the merge is PLAIN RELATIONAL (sum per item, re-reduce per window with one
rank window over the O(k·chunks)-bounded frame). A per-chunk `(null)` item
row carries the chunk's raw count so n is recoverable without a second raw
scan.

Store: per-snapshot summary rows sum-merge LOSSLESSLY (the k-reduction
happens at read time), so compact_snapshot_store keeps answers identical —
unlike the sketch itself, whose error is chunking-dependent; the registry
oracle therefore verifies the INVARIANTS (presence + deficit bound), which
hold for every chunking, not the raw estimates (q_mg_frequent_items, the
q_hll_uniqueness est_ok pattern).
"""

from __future__ import annotations

import os

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

STORE_SCHEMA = "window long, item string, cnt long, _snapshot int"
_N_ITEM = "(n)"  # reserved per-chunk row carrying the raw row count


def window_frequent_items(
    df: DataFrame, col: str, window_col: str, top: int = 10
) -> DataFrame:
    """EXACT per-window top items — the small-scale oracle twin (one count
    shuffle over every distinct (window, value)). Deterministic order:
    count desc, item asc. Output: (window, item, n, rank, share)."""
    c = (
        df.filter(F.col(col).isNotNull())
        .groupBy(
            F.col(window_col).cast("long").alias("window"),
            F.col(col).cast("string").alias("item"),
        )
        .agg(F.count(F.lit(1)).alias("n"))
    )
    w = Window.partitionBy("window")
    ranked = c.withColumn(
        "rank", F.row_number().over(w.orderBy(F.desc("n"), F.asc("item")))
    ).withColumn("n_total", F.sum("n").over(w))
    return ranked.filter(F.col("rank") <= top).select(
        "window", "item", "n", "rank",
        F.round(F.col("n") / F.col("n_total"), 6).alias("share"),
        "n_total",
    )


def mg_partials(df: DataFrame, col: str, window_col: str, k: int = 16) -> DataFrame:
    """Per-(window × Arrow chunk) Misra-Gries summaries: ≤ k item counters
    (exact chunk counts reduced by the (k+1)-th largest) plus the `(n)` row
    holding the chunk's raw count. Only these O(chunks × k) rows ever
    shuffle. Output: (window, item, cnt)."""
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    proj = df.filter(F.col(col).isNotNull()).select(
        F.col(window_col).cast("long").alias("window"),
        F.col(col).cast("string").alias("item"),
    )

    def mp(pdfs):
        for pdf in pdfs:
            if not len(pdf):
                continue
            rows = []
            for wid, g in pdf.groupby("window", sort=False):
                vc = g["item"].value_counts()  # desc by count
                rows.append((wid, _N_ITEM, int(len(g))))
                if len(vc) > k:
                    t = int(vc.iloc[k])
                    vc = vc.iloc[:k] - t
                    vc = vc[vc > 0]
                rows += [(wid, item, int(c)) for item, c in vc.items()]
            yield pd.DataFrame(rows, columns=["window", "item", "cnt"])

    return proj.mapInPandas(mp, "window long, item string, cnt long")


def mg_summary(partials: DataFrame, k: int = 16) -> DataFrame:
    """Merge MG partials relationally: sum per (window, item), then the MG
    reduction once per window — subtract the (k+1)-th largest sum, drop
    non-positives (Agarwal et al.'s merge; deficit stays ≤ n/(k+1)). Input
    is already O(chunks × k) rows, so the rank window is bounded by
    construction. Output: (window, item, est, n_total) — est ≤ true count.
    A window whose partials carry no `(n)` row has no defined n_total and
    is dropped."""
    # ONE window pass over the summed partials (r8): the `(n)` total row
    # rides the SAME per-window partition as the item rows — ordered LAST
    # (flag-first sort key), so items still occupy ranks 1..m — and
    # n_total folds out as a per-window max instead of a filter branch +
    # join-back. The old shape paid a second consumer of the groupBy (its
    # exchange only sometimes stage-reused) plus a join exchange; this is
    # one exchange, one Window, zero joins — same est/n_total by identity.
    summed = partials.groupBy("window", "item").agg(F.sum("cnt").alias("cnt"))
    flag = (F.col("item") == _N_ITEM).cast("int")
    w = Window.partitionBy("window")
    wo = w.orderBy(F.asc("_is_n"), F.desc("cnt"), F.asc("item"))
    ranked = (
        summed.withColumn("_is_n", flag)
        .withColumn("rank", F.row_number().over(wo))
        .withColumn(
            "n_total",
            F.max(F.when(F.col("_is_n") == 1, F.col("cnt"))).over(w),
        )
        .withColumn(
            "t",
            F.max(
                F.when(
                    (F.col("rank") == k + 1) & (F.col("_is_n") == 0), F.col("cnt")
                ).otherwise(0)
            ).over(w),
        )
    )
    return ranked.filter(
        (F.col("_is_n") == 0)
        & F.col("n_total").isNotNull()
        & (F.col("rank") <= k)
        & (F.col("cnt") - F.col("t") > 0)
    ).select(
        "window", "item", (F.col("cnt") - F.col("t")).alias("est"), "n_total"
    )


def mg_frequent_items(
    df: DataFrame, col: str, window_col: str, k: int = 16
) -> DataFrame:
    """End-to-end sketch path: chunk summaries → relational merge. Output:
    (window, item, est, n_total) with the module-docstring guarantees."""
    return mg_summary(mg_partials(df, col, window_col, k=k), k=k)


def mg_verified(
    df: DataFrame, col: str, window_col: str, k: int = 16, top: int = 5
) -> DataFrame:
    """Self-verifying form (the q_hll_uniqueness est_ok pattern): the exact
    top-`top` items per window, each carrying `ok` = the MG invariants held
    — the item's deficit cleared the n/(k+1) bound (presence follows: a
    guaranteed-heavy item with est 0 would blow the bound). `ok` is TRUE
    for EVERY chunking by the MG theorem, so the output is deterministic
    and the DuckDB oracle (which recomputes the exact side and expects
    TRUE) fails iff the sketch ever violates its guarantee."""
    exact = window_frequent_items(df, col, window_col, top=top)
    est = mg_frequent_items(df, col, window_col, k=k).select(
        "window", "item", "est"
    )
    # n_total comes from the EXACT side — an item absent from the sketch
    # (est NULL -> 0) must still be judged against its window's true total
    j = exact.join(est, ["window", "item"], "left").select(
        "window", "item", "n", "rank", "share",
        (F.col("share") > 1.0 / (k + 1)).alias("guaranteed"),
        # integer arithmetic: (n_exact − est)·(k+1) ≤ n_total
        (
            (F.col("n") - F.coalesce(F.col("est"), F.lit(0))) * (k + 1)
            <= F.col("n_total")
        ).alias("ok"),
    )
    return j


def update_frequent_store(
    df_new: DataFrame,
    store_path: str,
    col: str,
    window_col: str,
    snapshot_id: int,
    k: int = 16,
) -> None:
    """Append one snapshot's per-window MG summary rows (≤ k+1 rows per
    window incl. the `(n)` row) — idempotent per snapshot_id (the HLL-store
    dynamic-partition contract). The store keeps UN-reduced sums per
    snapshot; the k-reduction happens at read (store_frequent_items), so
    snapshot sum-merges — and therefore compact_snapshot_store — are
    LOSSLESS: answers identical before/after compaction."""
    partials = mg_partials(df_new, col, window_col, k=k)
    summed = partials.groupBy("window", "item").agg(F.sum("cnt").alias("cnt"))
    (
        summed.withColumn("_snapshot", F.lit(int(snapshot_id)))
        .coalesce(1)
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("_snapshot")
        .parquet(store_path)
    )


def compact_frequent_store(
    spark: SparkSession, store_path: str, keep_last: int = 1
) -> int | None:
    """Bound the store: sum counts per (window, item) across merged
    snapshots — lossless by construction (module docstring), marker-atomic
    via functions/stores."""
    from al_drift_detection_spark.functions.stores import compact_snapshot_store

    return compact_snapshot_store(
        spark, store_path,
        lambda rows: rows.groupBy("window", "item").agg(F.sum("cnt").alias("cnt")),
        keep_last=keep_last, schema=STORE_SCHEMA,
    )


def store_frequent_items(
    spark: SparkSession, store_path: str, k: int = 16
) -> DataFrame:
    """Heavy-hitter answers from the STORE alone: sum snapshots per
    (window, item), MG-reduce once per window. The summaries were built at
    the same k, so the merged estimate keeps deficit ≤ n/(k+1) over the
    corpus lifetime ingested so far. Output: (window, item, est, n_total)."""
    from al_drift_detection_spark.functions.stores import read_snapshot_store

    if not os.path.exists(store_path):
        raise FileNotFoundError(store_path)
    st = read_snapshot_store(spark, store_path, schema=STORE_SCHEMA)
    if st is None:
        raise FileNotFoundError(f"{store_path}: no committed snapshots")
    return mg_summary(st.select("window", "item", "cnt"), k=k)


def frequent_items_drift(
    df: DataFrame,
    col: str,
    window_col: str,
    ref_windows: int,
    top: int = 10,
    l1_threshold: float = 0.3,
    entrant_threshold: float = 0.1,
) -> DataFrame:
    """Top-item DRIFT per window — "did the heavy hitters change": compare
    each post-reference window's item shares against the reference windows'
    top-`top` set on two signals, (a) the L1 share distance over the
    REFERENCE top set (the deterministic-universe rule: the compared item
    set derives from the reference, never from the observed window, so a
    window's verdict is independent of other windows) and (b) the largest
    NEW-ENTRANT share — the heaviest item outside the reference top set
    (L1 over a fixed set alone is blind to a brand-new heavy hitter that
    steals mass proportionally). fail iff l1 > l1_threshold or
    entrant_share > entrant_threshold.

    One count shuffle over (window, item); everything downstream is
    O(windows × top) relational work on the aggregated frame, which is
    persisted — it feeds the reference fold, the per-window totals, both
    share joins, and the entrant ranking (the shared-child rule); caller
    releases via _persist.release. Output: (window, l1, entrant_item,
    entrant_share, verdict)."""
    from al_drift_detection_spark.functions._persist import attach_persisted

    c = (
        df.filter(F.col(col).isNotNull())
        .groupBy(
            F.col(window_col).cast("long").alias("window"),
            F.col(col).cast("string").alias("item"),
        )
        .agg(F.count(F.lit(1)).alias("n"))
        .persist()
    )
    refc = (
        c.filter(F.col("window") < ref_windows)
        .groupBy("item")
        .agg(F.sum("n").alias("rn"))
    )
    ref_tot = refc.agg(F.sum("rn").alias("rtot"))
    top_ref = (
        refc.crossJoin(F.broadcast(ref_tot))
        .withColumn(
            "rk",
            F.row_number().over(Window.orderBy(F.desc("rn"), F.asc("item"))),
        )
        .filter(F.col("rk") <= top)
        .select("item", (F.col("rn") / F.col("rtot")).alias("ref_share"))
    )
    cur = c.filter(F.col("window") >= ref_windows)
    w_tot = cur.groupBy("window").agg(F.sum("n").alias("n_total"))

    # (a) L1 over the fixed reference universe — absent items count as 0
    universe = w_tot.crossJoin(F.broadcast(top_ref))
    shares = universe.join(cur, ["window", "item"], "left").select(
        "window",
        F.abs(
            F.coalesce(F.col("n"), F.lit(0)) / F.col("n_total")
            - F.col("ref_share")
        ).alias("gap"),
    )
    l1 = shares.groupBy("window").agg(F.round(F.sum("gap"), 6).alias("l1"))

    # (b) heaviest item OUTSIDE the reference set (deterministic tie-break)
    ent = (
        cur.join(F.broadcast(top_ref.select("item")), "item", "left_anti")
        .withColumn(
            "rk",
            F.row_number().over(
                Window.partitionBy("window").orderBy(F.desc("n"), F.asc("item"))
            ),
        )
        .filter(F.col("rk") == 1)
        .join(w_tot, "window")
        .select(
            "window",
            F.col("item").alias("entrant_item"),
            F.round(F.col("n") / F.col("n_total"), 6).alias("entrant_share"),
        )
    )
    out = (
        l1.join(ent, "window", "left")
        .select(
            "window", "l1", "entrant_item",
            F.coalesce("entrant_share", F.lit(0.0)).alias("entrant_share"),
            F.when(
                (F.col("l1") > l1_threshold)
                | (F.coalesce("entrant_share", F.lit(0.0)) > entrant_threshold),
                "fail",
            ).otherwise("pass").alias("verdict"),
        )
    )
    return attach_persisted(out, c)
