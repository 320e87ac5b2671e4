"""Sequential CHANGE DETECTORS over the engine's per-window metric series —
Page-Hinkley and a windowed DDM (Gama et al. 2004), the two classic
drift-detection-literature tests the windowed KS/PSI/MMD family doesn't
cover: those compare two windows' DISTRIBUTIONS; these watch the metric
TIME SERIES itself (mean value, error rate) for a sustained level shift and
answer "when did it change", cumulatively over the whole run.

Reference analog: the detector's drift verdicts are per-window votes over a
growing history (/root/reference/gan.py:737-757 — SURVEY.md §2.10); these
operators are the published sequential tests for the same question, applied
to the metrics rows the engine already emits (S8 log sink → metrics rows,
SURVEY.md §2.1). The north_star's "emitting the same per-partition pass/fail
verdicts" extends naturally to meta-monitoring: the validation suite's own
output series is what a production deployment alarms on.

Scale shape: both detectors take an ALREADY-AGGREGATED per-window series —
O(windows) rows by construction (one row per ingest window, bounded like
regimes.regime_segments' catalog) — so the unpartitioned ordered windows /
tiny prefix self-joins here run over frames that are small BY CONSTRUCTION,
never over raw rows (the plan audit's Aggregate-in-subtree allowance,
tests/test_plans.py::audit_window_shapes). The raw-data pass is the one
per-window aggregate the caller brings; 100 TB of rows still yields only
O(days × windows/day) series points.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from al_drift_detection_spark.persist import scoped


def page_hinkley(
    series: DataFrame,
    order_col: str,
    value_col: str,
    delta: float = 0.005,
    threshold: float = 10.0,
) -> DataFrame:
    """Two-sided Page-Hinkley test over an aggregated metric series.

    Two separate one-sided statistics (sharing one mt would bias the other
    side upward by 2δ·t on stationary data — caught by the stationary-series
    test): mt_inc = Σ_{i≤t} (x_i − x̄_i − δ) with x̄_i the running mean at i,
    ph_inc = mt_inc − min_{i≤t} mt_inc (mean increase); mt_dec =
    Σ_{i≤t} (x_i − x̄_i + δ), ph_dec = max_{i≤t} mt_dec − mt_dec (decrease);
    alarm when either exceeds `threshold`. δ is the tolerated magnitude of
    change; after an alarm the
    statistics keep accumulating (restart policy belongs to the caller —
    slice the series at the alarm row and re-run, exactly the reference's
    per-drift re-baseline, gan.py:161-170).

    `order_col` must be unique per row (a window id / bucket start — true
    for any per-window aggregate). Input contract: `series` is already
    reduced to O(windows) rows (module docstring).

    Output: (order_col, value_col, cum_mean, mt_inc, mt_dec, ph_inc, ph_dec,
    alarm), floats un-rounded (round at the query edge).
    """
    w = Window.orderBy(order_col).rowsBetween(Window.unboundedPreceding, 0)
    x = F.col(value_col)
    dev = x - F.col("cum_mean")
    d = (
        series.withColumn("cum_mean", F.avg(x).over(w))
        .withColumn("mt_inc", F.sum(dev - F.lit(float(delta))).over(w))
        .withColumn("mt_dec", F.sum(dev + F.lit(float(delta))).over(w))
    )
    d = (
        d.withColumn("ph_inc", F.col("mt_inc") - F.min("mt_inc").over(w))
        .withColumn("ph_dec", F.max("mt_dec").over(w) - F.col("mt_dec"))
    )
    return d.select(
        order_col,
        value_col,
        "cum_mean",
        "mt_inc",
        "mt_dec",
        "ph_inc",
        "ph_dec",
        (
            (F.col("ph_inc") > float(threshold))
            | (F.col("ph_dec") > float(threshold))
        ).alias("alarm"),
    )


def normalized_page_hinkley(
    series: DataFrame,
    order_col: str,
    value_col: str,
    ref_upto,
    delta: float = 0.05,
    threshold: float = 4.0,
) -> DataFrame:
    """page_hinkley over a series STANDARDIZED by the location/scale of its
    reference prefix (rows with order_col < ref_upto) — so delta/threshold
    are dimensionless reference-std units and one default works across
    metrics (per-window means, volumes, drift statistics). A degenerate
    reference (zero/undefined std) falls back to unscaled deviations. The
    one collect is a single row off the already-O(windows) series."""
    ref = (
        series.filter(F.col(order_col) < ref_upto)
        .agg(F.avg(value_col).alias("mu"), F.stddev(value_col).alias("sd"))
        .collect()[0]
    )
    mu = ref["mu"] if ref["mu"] is not None else 0.0
    sd = ref["sd"] if ref["sd"] else 1.0
    norm = series.select(
        order_col, ((F.col(value_col) - mu) / sd).alias(value_col)
    )
    return page_hinkley(
        norm, order_col, value_col, delta=delta, threshold=threshold
    )


def cusum_levels(
    series: DataFrame,
    order_col: str,
    value_col: str,
    ref_upto,
    k_mult: float = 0.5,
    threshold: float = 25.0,
) -> DataFrame:
    """Two-sided tabular CUSUM (Page 1954) over an aggregated metric series,
    baselined on its reference prefix: μ₀ = mean and k = k_mult·std of the
    rows with order_col < ref_upto (the in-control windows — the reference's
    pre-drift baseline the detector retrains from, gan.py:161-170). CUSUM's
    recursion S⁺_t = max(0, S⁺_{t−1} + x_t − μ₀ − k) is computed in its
    closed prefix form S_t = C_t − min(0, min_{j≤t} C_j) — two cumulative
    sums + two cumulative mins over the O(windows) series (module docstring:
    the unpartitioned ordered windows here run over a frame bounded BY
    CONSTRUCTION; the raw pass is the caller's per-window aggregate). The
    baseline rides in as a broadcast cross join, never a collect, so the
    whole plan stays lazy and both engines derive the statistics from the
    same aggregates. A degenerate reference (zero/undefined std) falls back
    to k = 0.

    Complements page_hinkley (running-mean baseline) and ddm_levels
    (binomial error-rate register): CUSUM is the known-baseline test —
    SURVEY.md §2.10's sequential-verdict family over the engine's own S8
    metric rows. Kernel twin: kernels.cusum_2sided (closed form ≡ recursion
    pinned in tests/test_changepoint.py).

    `series` is persisted — it is the shared child of the reference
    aggregate AND the main path (the CLAUDE.md rule: unpersisted, the
    caller's raw-table aggregate would execute twice); it lives in the
    caller's persist scope.

    Output: (order_col, value_col, mu, k, s_inc, s_dec, alarm), floats
    un-rounded (round at the query edge).
    """
    series = scoped(series.persist())
    ref = series.filter(F.col(order_col) < ref_upto).agg(
        F.avg(value_col).alias("mu"),
        (float(k_mult) * F.coalesce(F.stddev(value_col), F.lit(0.0))).alias("k"),
    )
    w = Window.orderBy(order_col).rowsBetween(Window.unboundedPreceding, 0)
    x = F.col(value_col)
    d = (
        series.crossJoin(F.broadcast(ref))
        .withColumn("_ci", F.sum(x - F.col("mu") - F.col("k")).over(w))
        .withColumn("_cd", F.sum(F.col("mu") - x - F.col("k")).over(w))
    )
    d = d.withColumn(
        "s_inc", F.col("_ci") - F.least(F.lit(0.0), F.min("_ci").over(w))
    ).withColumn(
        "s_dec", F.col("_cd") - F.least(F.lit(0.0), F.min("_cd").over(w))
    )
    out = d.select(
        order_col,
        value_col,
        "mu",
        "k",
        "s_inc",
        "s_dec",
        (
            (F.col("s_inc") > float(threshold))
            | (F.col("s_dec") > float(threshold))
        ).alias("alarm"),
    )
    return out


def ddm_levels(
    series: DataFrame,
    order_col: str,
    n_col: str,
    err_col: str,
    warn_mult: float = 2.0,
    drift_mult: float = 3.0,
) -> DataFrame:
    """Windowed DDM (Drift Detection Method, Gama et al. 2004) over a
    per-window (n, errors) series: cumulative error rate p_t = Σerr/Σn and
    its binomial std s_t = sqrt(p_t(1−p_t)/Σn); (p_min, s_min) are taken at
    the EARLIEST prefix row minimizing p_i + s_i (the stored-minimum
    register of the sequential algorithm — strict-improvement updates, so
    first occurrence wins ties); level 2 ("drift") when
    p_t + s_t > p_min + drift_mult·s_min, level 1 ("warning") at
    warn_mult, else 0.

    The argmin is materialized relationally — prefix min of p+s (ordered
    window), then a prefix equi-join picking the earliest achieving row —
    three joins over the O(windows) series frame (module docstring), the
    identical construction the DuckDB oracle runs, so verdict booleans
    compare IEEE-identical doubles in both engines.

    Output: (order_col, n_col, err_col, p_cum, s_cum, p_min, s_min, level).
    The windowed frame is persisted — it feeds the argmin self-join's two
    sides AND the final join (the CLAUDE.md shared-child rule: without it
    the caller's raw-table aggregate re-executes ~3x). It lives in the
    caller's persist scope.
    """

    w = Window.orderBy(order_col).rowsBetween(Window.unboundedPreceding, 0)
    d = scoped(
        series.withColumn("_cn", F.sum(n_col).over(w).cast("double"))
        .withColumn("_ce", F.sum(err_col).over(w).cast("double"))
        .withColumn("p_cum", F.col("_ce") / F.col("_cn"))
        .withColumn(
            "s_cum",
            F.sqrt(F.col("p_cum") * (1.0 - F.col("p_cum")) / F.col("_cn")),
        )
        .withColumn("_ps", F.col("p_cum") + F.col("s_cum"))
        .withColumn("_ps_min", F.min("_ps").over(w))
        .persist()
    )
    # earliest prefix row achieving the running min of p+s: equality on the
    # engine's own double (bitwise-stable — min() returns one of the joined
    # values unchanged), tie → earliest order key
    arg = (
        d.alias("a")
        .join(
            d.select(order_col, "_ps", "p_cum", "s_cum").alias("b"),
            (F.col(f"b.{order_col}") <= F.col(f"a.{order_col}"))
            & (F.col("b._ps") == F.col("a._ps_min")),
        )
        .groupBy(F.col(f"a.{order_col}").alias(order_col))
        .agg(
            F.min_by(
                F.struct(F.col("b.p_cum").alias("p"), F.col("b.s_cum").alias("s")),
                F.col(f"b.{order_col}"),
            ).alias("_m")
        )
        .select(
            order_col,
            F.col("_m.p").alias("p_min"),
            F.col("_m.s").alias("s_min"),
        )
    )
    lvl = (
        F.when(
            F.col("p_cum") + F.col("s_cum")
            > F.col("p_min") + float(drift_mult) * F.col("s_min"),
            2,
        )
        .when(
            F.col("p_cum") + F.col("s_cum")
            > F.col("p_min") + float(warn_mult) * F.col("s_min"),
            1,
        )
        .otherwise(0)
    )
    out = d.join(arg, order_col).select(
        order_col,
        n_col,
        err_col,
        "p_cum",
        "s_cum",
        "p_min",
        "s_min",
        lvl.cast("int").alias("level"),
    )
    return out
