"""Mergeable fixed-grid histogram sketches → quantile answers without a raw
re-scan (the engine's mergeable-quantile seam — the role t-digest/KLL play
in the north-star design, stats.py's documented gap: "Quantile/HLL sketches
are NOT mergeable from these scalar outputs").

Representation choice: a histogram is LONG-FORMAT relational rows
``(window, bin, n)`` over a FIXED reference-derived grid — not an opaque
binary sketch and not a per-row array. That makes every operation a plain
relational primitive:

- build: one ``groupBy(window, bin).count()`` pass (partial+final hash agg,
  raw rows never shuffle);
- merge (across windows, snapshots, or whole stores): ``groupBy(bin).sum(n)``
  — exactly associative/commutative, no estimate drift (unlike HLL/KLL the
  merge is lossless by construction);
- quantile answers: an ordered cumulative over ≤ n_bins+2 rows per window
  (bounded BY CONSTRUCTION — the plan-audit Aggregate-in-subtree shape) +
  linear interpolation inside the hit bin, deterministic error ≤ bin width.

The fixed grid is the same design decision as drift.categorical_drift's
deterministic category universe: edges derive from the REFERENCE (lo/hi/
n_bins), never from the observed data, so a window's sketch is independent
of what other windows/snapshots contained — merges are well-defined across
ingests and batch ≡ streaming. Out-of-range mass lands in explicit
underflow/overflow bins (bin -1 / n_bins); NULLs are excluded and counted
by the caller's stats pass.

Store: the same run-keyed dynamic-partition-overwrite contract as the HLL
snapshot store (idempotent replay); lifetime quantiles come from the store
alone.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from al_drift_detection_spark.persist import scoped

STORE_SCHEMA = "window long, bin int, n long, _snapshot int"


def window_histograms(
    df: DataFrame,
    col: str,
    window_col: str,
    lo: float,
    hi: float,
    n_bins: int = 256,
) -> DataFrame:
    """One pass → (window, bin, n) rows. bin ∈ [-1, n_bins]: -1 underflow,
    n_bins overflow, else floor((x − lo) / width) clamped so x == hi lands
    in the last real bin."""
    if not (hi > lo) or n_bins < 1:
        raise ValueError(f"need hi > lo and n_bins >= 1, got [{lo}, {hi}] × {n_bins}")
    width = (hi - lo) / n_bins
    x = F.col(col).cast("double")
    raw = F.floor((x - F.lit(float(lo))) / F.lit(width)).cast("int")
    b = (
        F.when(x < lo, F.lit(-1))
        .when(x >= hi, F.lit(int(n_bins)))
        .otherwise(F.least(raw, F.lit(int(n_bins) - 1)))
    )
    return (
        df.filter(x.isNotNull())
        .groupBy(F.col(window_col).cast("long").alias("window"), b.alias("bin"))
        .agg(F.count(F.lit(1)).alias("n"))
    )


def merge_histograms(hist: DataFrame, by_window: bool = False) -> DataFrame:
    """Lossless merge: sum counts per bin (optionally keeping the window
    dimension — merging the same window across snapshots)."""
    keys = ["window", "bin"] if by_window else ["bin"]
    return hist.groupBy(*keys).agg(F.sum("n").alias("n"))


def histogram_quantiles(
    hist: DataFrame,
    qs: list[float],
    lo: float,
    hi: float,
    n_bins: int = 256,
    window_col: str | None = "window",
) -> DataFrame:
    """Quantile answers from sketch rows alone. For each q: find the first
    bin whose cumulative count reaches q·total, then interpolate linearly
    inside it. Underflow/overflow bins answer with their boundary edge (the
    sketch cannot see past the grid — deterministic, documented saturation).

    Output: (window?, q, quantile, n_total). Error ≤ bin width for
    in-range data."""
    from pyspark.sql import Window as W

    width = (hi - lo) / n_bins
    keys = [window_col] if window_col else []
    # bounded ordered cumulative: ≤ n_bins+2 rows per window — and in the
    # global case ≤ n_bins+2 rows TOTAL (an Aggregate sits in the subtree,
    # the plan-audit allowance changepoint.py's series windows use)
    agg = hist.groupBy(*keys, "bin").agg(F.sum("n").alias("n"))
    wb = W.partitionBy(window_col) if window_col else W.partitionBy()
    cum = agg.withColumn("cum_n", F.sum("n").over(wb.orderBy("bin"))).withColumn(
        "total", F.sum("n").over(wb)
    )
    qdf = F.broadcast(
        hist.sparkSession.createDataFrame([(float(q),) for q in qs], "q double")
    )
    j = cum.join(qdf, F.col("cum_n") >= F.col("q") * F.col("total"))
    # first qualifying bin per (window, q)
    hit = j.groupBy(*keys, "q").agg(
        F.min_by(F.struct("bin", "n", "cum_n", "total"), F.col("bin")).alias("h")
    )
    bin_, n_, cum_n, total = (F.col(f"h.{f}") for f in ("bin", "n", "cum_n", "total"))
    target = F.col("q") * total
    frac = F.when(n_ > 0, (target - (cum_n - n_)) / n_).otherwise(F.lit(0.0))
    est = (
        F.when(bin_ < 0, F.lit(float(lo)))
        .when(bin_ >= n_bins, F.lit(float(hi)))
        .otherwise(F.lit(float(lo)) + (bin_ + frac) * F.lit(width))
    )
    return hit.select(
        *keys,
        "q",
        est.alias("quantile"),
        total.cast("long").alias("n_total"),
    )


def update_histogram_store(
    df_new: DataFrame,
    store_path: str,
    col: str,
    window_col: str,
    lo: float,
    hi: float,
    snapshot_id: int,
    n_bins: int = 256,
) -> None:
    """Append one snapshot's per-window histograms — idempotent per
    snapshot_id (dynamic-partition overwrite, the HLL-store contract)."""
    (
        window_histograms(df_new, col, window_col, lo, hi, n_bins)
        .withColumn("_snapshot", F.lit(int(snapshot_id)))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("_snapshot")
        .parquet(store_path)
    )


def compact_histogram_store(
    spark: SparkSession, store_path: str, keep_last: int = 1
) -> int | None:
    """Bound the store (VERDICT r6 Next #3): merge every snapshot except the
    newest `keep_last` into one — per (window, bin), sum counts. The
    histogram merge is lossless by construction (module docstring), so
    answers are IDENTICAL before/after (tests/test_store_compaction.py);
    atomicity via the functions/stores marker protocol. Returns the
    committed cutoff or None if nothing to do."""
    from al_drift_detection_spark.functions.stores import compact_snapshot_store

    return compact_snapshot_store(
        spark, store_path, lambda rows: merge_histograms(rows, by_window=True),
        keep_last=keep_last, schema=STORE_SCHEMA,
    )


def store_quantiles(
    spark: SparkSession,
    store_path: str,
    qs: list[float],
    lo: float,
    hi: float,
    n_bins: int = 256,
) -> DataFrame:
    """Per-window + corpus-lifetime quantiles from the STORE alone (no raw
    data): per-window rows merge the same window across snapshots; the
    lifetime row (window NULL) merges everything. O(store rows) work.
    Reads the store's committed view (live snapshots above the highest
    committed compaction cutoff + the merged rows at it)."""
    from al_drift_detection_spark.functions.stores import read_snapshot_store

    if not os.path.exists(store_path):
        raise FileNotFoundError(store_path)
    st = read_snapshot_store(spark, store_path, schema=STORE_SCHEMA)
    if st is None:
        raise FileNotFoundError(f"{store_path}: no committed snapshots")
    per_w = histogram_quantiles(
        merge_histograms(st, by_window=True), qs, lo, hi, n_bins
    )
    life = histogram_quantiles(
        merge_histograms(st), qs, lo, hi, n_bins, window_col=None
    ).select(F.lit(None).cast("long").alias("window"), "q", "quantile", "n_total")
    return per_w.unionByName(life)


def histogram_drift(
    hist: DataFrame,
    ref_windows: int,
    n_bins: int = 256,
    eps: float = 1e-6,
    psi_threshold: float = 0.2,
    ks_threshold: float = 0.1,
) -> DataFrame:
    """Distribution-drift verdicts from SKETCH ROWS ALONE — PSI and a
    histogram-KS statistic per window vs the merged reference histogram
    (windows < ref_windows). Composed with the snapshot store this answers
    "did today's ingest drift vs the corpus reference" without touching a
    single raw row: O(windows × bins) relational work.

    Universe discipline: shares are computed over the ENTIRE fixed grid
    (bins −1..n_bins via sequence), never the observed union — same
    deterministic-universe rule as drift.categorical_drift, so a window's
    statistic is independent of what other windows/snapshots contained.
    PSI uses additive smoothing p′ = (p + eps)/(1 + eps·B) on both sides
    (exactly replicable in ANSI SQL); histogram-KS is the max cumulative
    share gap, within bin-width discretization of the exact statistic.
    """
    spark = hist.sparkSession
    b = int(n_bins)
    grid = spark.range(-1, b + 1).select(F.col("id").cast("int").alias("bin"))
    n_grid = b + 2

    # hist feeds four branches (ref counts, ref total, current windows, the
    # window census) — when the caller builds it inline from raw rows the
    # unpersisted child would re-scan the table per branch (CLAUDE.md
    # shared-child rule). The frame is O(windows × bins) — always safe to pin.
    hist = scoped(hist.persist())
    ref = (
        hist.filter(F.col("window") < ref_windows)
        .groupBy("bin")
        .agg(F.sum("n").alias("rn"))
    )
    ref_tot = ref.agg(F.sum("rn").alias("r_tot"))
    ref_full = (
        grid.join(F.broadcast(ref), "bin", "left")
        .select("bin", F.coalesce("rn", F.lit(0)).alias("rn"))
        .crossJoin(F.broadcast(ref_tot))
    )
    cur = (
        hist.filter(F.col("window") >= ref_windows)
        .groupBy("window", "bin")
        .agg(F.sum("n").alias("cn"))
    )
    wins = cur.select("window").distinct()
    universe = wins.crossJoin(F.broadcast(grid))
    cur_full = (
        universe.join(cur, ["window", "bin"], "left")
        .select("window", "bin", F.coalesce("cn", F.lit(0)).alias("cn"))
    )
    from pyspark.sql import Window as W

    cur_full = cur_full.withColumn(
        "c_tot", F.sum("cn").over(W.partitionBy("window"))
    )
    j = cur_full.join(F.broadcast(ref_full), "bin")
    p = F.col("rn") / F.col("r_tot")
    q = F.col("cn") / F.col("c_tot")
    ps = (p + eps) / (1 + eps * n_grid)
    qs = (q + eps) / (1 + eps * n_grid)
    terms = j.select(
        "window",
        "bin",
        ((qs - ps) * F.log(qs / ps)).alias("psi_term"),
        (q - p).alias("share_gap"),
    )
    wb = W.partitionBy("window").orderBy("bin")
    ks = terms.withColumn("cum_gap", F.sum("share_gap").over(wb)).groupBy(
        "window"
    ).agg(
        F.sum("psi_term").alias("psi"),
        F.max(F.abs(F.col("cum_gap"))).alias("ks"),
    )
    out = (
        ks.selectExpr(
            "window",
            f"stack(2, 'psi', psi, cast({float(psi_threshold)} as double), "
            f"'hist_ks', ks, cast({float(ks_threshold)} as double)) "
            "as (kernel, statistic, threshold)",
        )
        .withColumn(
            "verdict",
            F.when(F.col("statistic") > F.col("threshold"), "fail").otherwise("pass"),
        )
    )

    return out
