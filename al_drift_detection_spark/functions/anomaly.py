"""Metric-history anomaly validation — a persisted metrics repository plus
verdict strategies over it (the Deequ "anomaly detection on a metrics
repository" pattern, Schelter et al., VLDB 2018 — public design).

The reference recomputes its detector from scratch per run and keeps no
metric history (SURVEY.md §1.3; the closest analog is its fsync'd text log,
util.py:8-23). A 100 TB deployment validates each ingest's column STATS
against the trailing history of prior ingests — drift in the metrics, not
the rows. This module supplies that layer over the engine's own long-format
metric rows (the stats.melt_stats contract: part/column/metric/value):

- ``anomaly_verdicts``: pure DataFrame kernel — current run's metric rows
  vs an aggregated history frame; strategies stacked as rows:
  * ``zscore``      — |value − mean(history)| vs k·std(history)
  * ``rel_change``  — |value / last_run − 1| vs max_rel
  * ``abs_bounds``  — value within caller-configured [lo, hi] per series
- ``MetricsStore``: run_id-keyed parquet store (dynamic-partition
  overwrite = idempotent replay, the same crash-retry contract as the
  HLL snapshot store and the dedup pair ledger).

Scale shape (100 TB): the history side folds O(runs × parts × columns)
metric rows into ONE row per series key (partial+final hash agg), then
broadcast-joins to the current run's equally tiny metric frame — answers
come from the store alone, raw data is never re-scanned. Verdicts are pure
JVM expressions; no Python UDFs.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from al_drift_detection_spark.persist import scoped

SERIES_KEYS = ("part", "column", "metric")

STORE_SCHEMA = (
    "part int, column string, metric string, value double, "
    "run_ts long, run_id string"
)


def _hist_agg(history: DataFrame, keys: list[str], value_col: str, order_col: str) -> DataFrame:
    """History → one row per series key: count / mean / sample-std / the most
    recent value (max_by on the run ordering column)."""
    v = F.col(value_col)
    return history.groupBy(*keys).agg(
        F.count(v).alias("n_hist"),
        F.avg(v).alias("hist_mean"),
        F.stddev_samp(v).alias("hist_std"),
        F.max_by(value_col, order_col).alias("prev_value"),
    )


def anomaly_verdicts(
    history: DataFrame,
    current: DataFrame,
    keys: tuple[str, ...] = SERIES_KEYS,
    value_col: str = "value",
    order_col: str = "run_ts",
    k_sigma: float = 3.0,
    max_rel: float = 0.5,
    bounds: list[tuple[str, str, float, float]] | None = None,
    min_history: int = 2,
) -> DataFrame:
    """Score the current run's metric rows against trailing history.

    One output row per (series key, strategy): value, baseline, stat,
    threshold, n_hist, verdict. Series with fewer than ``min_history`` prior
    points (including brand-new series) emit verdict='insufficient' — a
    fail-open that never blocks the first ingests of a new column.

    zscore edge: identical history (std = 0) is common for structural
    metrics (n_rows per fixed-size window, null counts of an always-present
    column). There a changed value is an infinite z — verdict fail — and an
    unchanged value passes with stat 0. Deterministic aggregates over
    identical data are bit-identical, so this does not false-positive on
    re-runs of the same corpus.
    """
    klist = list(keys)
    hist = _hist_agg(history, klist, value_col, order_col)
    cur = current.select(*klist, F.col(value_col).alias("value"))
    # the strategy branches below UNION over this same join — union branches
    # cannot share an exchange, so without the persist the history/current
    # upstreams (a full raw-table aggregate when the caller builds metrics
    # inline rather than reading the store) re-execute once per strategy
    # (the CLAUDE.md shared-child rule). The frame is O(series keys) rows.
    j = scoped(cur.join(F.broadcast(hist), klist, "left").persist())

    v, mu, sd, pv = F.col("value"), F.col("hist_mean"), F.col("hist_std"), F.col("prev_value")
    enough = F.coalesce(F.col("n_hist"), F.lit(0)) >= F.lit(min_history)

    z = F.when(sd > 0, F.abs(v - mu) / sd)
    z_fail = F.when(sd > 0, F.abs(v - mu) > F.lit(k_sigma) * sd).otherwise(v != mu)
    zscore = j.select(
        *klist,
        "value",
        F.lit("zscore").alias("strategy"),
        mu.alias("baseline"),
        z.alias("stat"),
        F.lit(float(k_sigma)).alias("threshold"),
        F.coalesce(F.col("n_hist"), F.lit(0)).alias("n_hist"),
        F.when(~enough, "insufficient")
        # a NULL current metric where history has real values IS the anomaly
        # (the metric vanished) — without this guard the NULL comparison
        # three-values its way to 'pass'
        .when(v.isNull(), "fail")
        .when(z_fail, "fail")
        .otherwise("pass")
        .alias("verdict"),
    )

    rel = F.when(pv != 0, F.abs(v / pv - 1)).otherwise(
        F.when(v == 0, F.lit(0.0))
    )
    rel_rows = j.select(
        *klist,
        "value",
        F.lit("rel_change").alias("strategy"),
        pv.alias("baseline"),
        rel.alias("stat"),
        F.lit(float(max_rel)).alias("threshold"),
        F.coalesce(F.col("n_hist"), F.lit(0)).alias("n_hist"),
        # rel-change needs only ONE prior point; prev=0 → any nonzero value
        # is an undefined ratio → fail
        F.when(F.coalesce(F.col("n_hist"), F.lit(0)) < 1, "insufficient")
        .when(F.coalesce(rel > F.lit(max_rel), F.lit(True)), "fail")
        .otherwise("pass")
        .alias("verdict"),
    )
    out = zscore.unionByName(rel_rows)

    if bounds:
        spark = current.sparkSession
        bdf = spark.createDataFrame(
            [(c, m, float(lo), float(hi)) for c, m, lo, hi in bounds],
            "column string, metric string, _lo double, _hi double",
        )
        babs = (
            j.join(F.broadcast(bdf), ["column", "metric"])
            .select(
                *klist,
                "value",
                F.lit("abs_bounds").alias("strategy"),
                F.col("_lo").alias("baseline"),
                F.col("value").alias("stat"),
                F.col("_hi").alias("threshold"),
                F.lit(0).cast("long").alias("n_hist"),
                F.when(
                    F.col("value").between(F.col("_lo"), F.col("_hi")), "pass"
                )
                .otherwise("fail")
                .alias("verdict"),
            )
        )
        out = out.unionByName(babs)
    return out


class MetricsStore:
    """run_id-keyed long-format metric repository on plain parquet.

    ``append`` is idempotent per run_id (dynamic-partition overwrite — a
    crashed-and-retried ingest replaces its own rows, never duplicates);
    on Delta/Iceberg the same call is REPLACE WHERE run_id = X. The store
    is O(runs × parts × columns) rows — trivially small even at 10^6
    partitions × years of daily runs."""

    def __init__(self, path: str):
        self.path = path

    def exists(self) -> bool:
        return os.path.exists(self.path)

    def append(self, metrics: DataFrame, run_id: str, run_ts: int) -> None:
        (
            metrics.select(
                F.col("part").cast("int"),
                "column",
                "metric",
                F.col("value").cast("double"),
                F.lit(int(run_ts)).alias("run_ts"),
                F.lit(run_id).alias("run_id"),
            )
            .coalesce(1)  # O(parts × cols) rows — one file per run
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("run_id")
            .parquet(self.path)
        )

    def _retained(self, spark: SparkSession) -> DataFrame:
        """The store's committed view: rows of runs NEWER than the highest
        committed expiry cutoff (`_expired_<run_ts>.committed` markers — the
        functions/stores protocol). Stale expired partitions awaiting vacuum
        are filtered out, so a crashed/skipped vacuum never changes answers."""
        from al_drift_detection_spark.functions.stores import max_committed_level

        df = spark.read.schema(STORE_SCHEMA).parquet(self.path)
        cutoff = max_committed_level(self.path, "_expired_")
        if cutoff is not None:
            df = df.filter(F.col("run_ts") > cutoff)
        return df

    def resolve_run_ts(self, spark: SparkSession, run_id: str) -> int:
        """Replay-safe ordering key: a run_id already present keeps its
        original run_ts (a crash-retried ingest lands exactly where it did
        in the history order); a new run_id gets max+1 (0 on first ingest).
        A run_id whose rows were EXPIRED counts as new — its re-ingest
        enters the history at the head, not at its long-gone position."""
        if not self.exists():
            return 0
        row = (
            self._retained(spark)
            .agg(
                F.max(
                    F.when(F.col("run_id") == run_id, F.col("run_ts"))
                ).alias("own"),
                F.max("run_ts").alias("mx"),
            )
            .collect()[0]
        )
        if row["own"] is not None:
            return int(row["own"])
        from al_drift_detection_spark.functions.stores import max_committed_level

        cutoff = max_committed_level(self.path, "_expired_")
        mx = int(row["mx"]) if row["mx"] is not None else (
            cutoff if cutoff is not None else -1
        )
        return mx + 1

    def history(self, spark: SparkSession, exclude_run_id: str | None = None) -> DataFrame:
        df = self._retained(spark)
        if exclude_run_id is not None:
            df = df.filter(F.col("run_id") != exclude_run_id)
        return df

    def expire(self, spark: SparkSession, keep_last_runs: int) -> int | None:
        """RETENTION (VERDICT r6 Next #3): keep only the newest
        `keep_last_runs` runs — unlike the sketch stores there is no lossless
        merge of runs (the anomaly z-scores and the cross-run changepoint
        need the individual points), so retention here is EXPIRY with the
        honest semantics: verdicts afterwards are computed over exactly the
        retained window (identical to filtering the full history to the same
        horizon — pinned in tests/test_store_compaction.py). Commit point is
        one atomic marker; expired run partitions are vacuumed best-effort
        and invisible either way. Returns the cutoff run_ts or None."""
        if keep_last_runs < 1:
            raise ValueError(f"keep_last_runs must be >= 1, got {keep_last_runs}")
        if not self.exists():
            return None
        from al_drift_detection_spark.functions.stores import commit_level

        ts = sorted(
            r["run_ts"]
            for r in self._retained(spark).select("run_ts").distinct().collect()
        )
        if len(ts) <= keep_last_runs:
            return None
        cutoff = int(ts[len(ts) - keep_last_runs - 1])
        commit_level(self.path, cutoff, "_expired_")
        self.vacuum(spark)
        return cutoff

    def vacuum(self, spark: SparkSession) -> int:
        """Best-effort removal of run partitions wholly at-or-under the
        committed expiry cutoff. Readers already ignore them (_retained's
        run_ts filter), so a crash mid-vacuum is harmless."""
        import shutil

        from al_drift_detection_spark.functions.stores import max_committed_level

        cutoff = max_committed_level(self.path, "_expired_")
        if cutoff is None:
            return 0
        doomed = (
            spark.read.schema(STORE_SCHEMA)
            .parquet(self.path)
            .groupBy("run_id")
            .agg(F.max("run_ts").alias("mx"))
            .filter(F.col("mx") <= cutoff)
            .collect()
        )
        removed = 0
        for r in doomed:
            d = os.path.join(self.path, f"run_id={r['run_id']}")
            if os.path.isdir(d):
                shutil.rmtree(d, ignore_errors=True)
                removed += 1
        for f in list(os.listdir(self.path)):  # superseded expiry markers
            if (
                f.startswith("_expired_")
                and f.endswith(".committed")
                and int(f[len("_expired_"):-len(".committed")]) < cutoff
            ):
                os.remove(os.path.join(self.path, f))
                removed += 1
        return removed

    def verdicts(
        self,
        current_metrics: DataFrame,
        run_id: str,
        **kw,
    ) -> DataFrame | None:
        """Anomaly verdicts for the current run vs every OTHER run in the
        store (excluding run_id makes the call replay-safe: a re-run never
        compares a run against its own already-appended rows). None when
        the store doesn't exist yet (first ingest)."""
        if not self.exists():
            return None
        hist = self.history(current_metrics.sparkSession, exclude_run_id=run_id)
        return anomaly_verdicts(hist, current_metrics, **kw)

    def seasonal_verdicts(
        self,
        current_metrics: DataFrame,
        run_id: str,
        run_ts: int,
        period: int,
        **kw,
    ) -> DataFrame | None:
        """seasonal_anomaly over the store (docstring there) — same
        replay-safe exclude-own-rows contract as ``verdicts``; the caller
        passes the run_ts it resolved for the append so the slot is the one
        this run actually occupies in the history order."""
        if not self.exists():
            return None
        hist = self.history(current_metrics.sparkSession, exclude_run_id=run_id)
        return seasonal_anomaly(hist, current_metrics, run_ts, period, **kw)


def store_changepoint(
    history: DataFrame,
    delta: float = 0.05,
    threshold: float = 4.0,
    min_runs: int = 5,
) -> DataFrame:
    """Two-sided Page-Hinkley per metric SERIES across the RUN history —
    the cross-run sequential detector the within-run `--changepoint`
    windows cannot be: anomaly_verdicts asks "is this run's stat outside
    the trailing band?", this asks "WHEN did the series' level shift?"
    cumulatively over the whole repository, per (part, column, metric) key
    (the Deequ metrics-repository pattern's retrospective view; the
    reference's analog is re-reading its fsync'd text log, util.py:8-23).

    Each series is standardized by its own sample std over the full history
    (retrospective analysis — deterministic and replay-stable; a degenerate
    constant series falls back to unscaled deviations and can never alarm),
    so `delta`/`threshold` are dimensionless per-series std units — one
    default works across row counts, null ratios, and means alike. Series
    with fewer than `min_runs` runs are excluded (a two-point series alarms
    on noise).

    Scale shape: the input is the store's O(runs × series) metric rows —
    already aggregated, bounded by construction (the changepoint module's
    O(windows)-series contract); the ordered windows are PARTITIONED by the
    series key, so no single-task global sort exists at any width. The
    shared history frame feeds the scale aggregate and the main path —
    persisted in the caller's persist scope.

    Output: (part, column, metric, run_id, run_ts, x, ph_inc, ph_dec,
    alarm) — x is the standardized value; alarm per the PH test at
    `threshold`.
    """
    from pyspark.sql.window import Window

    keys = list(SERIES_KEYS)
    hist = scoped(history.persist())
    scale = hist.groupBy(*keys).agg(
        F.count(F.lit(1)).alias("_n_runs"),
        F.coalesce(
            F.nullif(F.stddev_samp("value"), F.lit(0.0)), F.lit(1.0)
        ).alias("_sd"),
    )
    d = (
        hist.join(scale, keys)
        .filter(F.col("_n_runs") >= int(min_runs))
        .withColumn("x", F.col("value") / F.col("_sd"))
    )
    w = Window.partitionBy(*keys).orderBy("run_ts", "run_id").rowsBetween(
        Window.unboundedPreceding, 0
    )
    x = F.col("x")
    dev = x - F.col("cum_mean")
    d = (
        d.withColumn("cum_mean", F.avg(x).over(w))
        .withColumn("mt_inc", F.sum(dev - F.lit(float(delta))).over(w))
        .withColumn("mt_dec", F.sum(dev + F.lit(float(delta))).over(w))
    )
    d = d.withColumn(
        "ph_inc", F.col("mt_inc") - F.min("mt_inc").over(w)
    ).withColumn("ph_dec", F.max("mt_dec").over(w) - F.col("mt_dec"))
    out = d.select(
        *keys,
        "run_id",
        "run_ts",
        "x",
        "ph_inc",
        "ph_dec",
        (
            (F.col("ph_inc") > float(threshold))
            | (F.col("ph_dec") > float(threshold))
        ).alias("alarm"),
    )
    return out


def seasonal_anomaly(
    history: DataFrame,
    current: DataFrame,
    run_ts: int,
    period: int,
    keys: tuple[str, ...] = SERIES_KEYS,
    value_col: str = "value",
    order_col: str = "run_ts",
    k_sigma: float = 3.0,
    min_cycles: int = 2,
) -> DataFrame:
    """SEASONAL anomaly strategy over the metrics repository — the missing
    sibling of anomaly_verdicts' zscore/rel_change for series with a known
    cycle (day-of-week row counts, hour-of-day null rates: the Deequ
    HoltWinters use case, public design; the repo's run_ts is the dense
    resolve_run_ts sequence, so slot = run_ts mod period IS the calendar
    slot for regular ingests). A plain zscore over such a series fails every
    in-cycle peak; a seasonal baseline compares each run against ITS OWN
    slot.

    Closed relational form (no sequential recurrence — same discipline as
    the EWMA/DDM kernels): per (series, slot) the history folds to the slot
    mean, and the series' residual std pools every history point's deviation
    from its own slot mean (stddev_samp of the DESEASONALIZED series).
    Verdict for the current run, whose slot is run_ts mod period:
    |value − slot_mean| > k_sigma · resid_sd. A perfectly seasonal history
    (resid_sd = 0) keeps the zscore edge rule — any off-baseline value
    fails, an exact repeat passes. Slots with fewer than `min_cycles` prior
    points (and series too new for a residual std) emit 'insufficient' —
    the fail-open contract of anomaly_verdicts.

    Scale shape: two groupBys over the store's O(runs × series) rows —
    already aggregated, never a raw re-scan; the slot frame is
    O(series × period) and broadcast to both the residual fold and the
    current join. The history projection is the shared child of the slot
    and residual folds — persisted in the caller's persist scope (the
    shared-child rule).

    Output matches anomaly_verdicts' schema exactly (union-compatible for
    the metric_anomalies sink): (keys..., value, strategy='seasonal',
    baseline=slot mean, stat=|resid|/resid_sd, threshold=k_sigma,
    n_hist=prior points IN THIS SLOT, verdict). SURVEY.md §2.4 A13 / S8
    (metrics sink); reference analog: the per-orbit (per-regime) baselines
    of gan.py's drift scoring — a verdict relative to the matching cohort,
    never the global pool.
    """

    if period < 2:
        raise ValueError(f"period must be >= 2, got {period}")
    klist = list(keys)
    h = scoped(history.select(
        *klist,
        F.col(value_col).alias("_v"),
        F.pmod(F.col(order_col), F.lit(int(period))).alias("_slot"),
    ).persist())
    slot_means = h.groupBy(*klist, "_slot").agg(
        F.count(F.lit(1)).alias("_n_slot"),
        F.avg("_v").alias("_slot_mean"),
    )
    resid = (
        h.join(F.broadcast(slot_means), klist + ["_slot"])
        .groupBy(*klist)
        .agg(
            F.count(F.lit(1)).alias("n_hist_total"),
            F.stddev_samp(F.col("_v") - F.col("_slot_mean")).alias("_resid_sd"),
        )
    )
    cur_slot = int(run_ts) % int(period)
    cur = current.select(*klist, F.col(value_col).alias("value"))
    j = (
        cur.join(
            F.broadcast(
                slot_means.filter(F.col("_slot") == cur_slot).drop("_slot")
            ),
            klist,
            "left",
        )
        .join(F.broadcast(resid), klist, "left")
    )
    v, mu, sd = F.col("value"), F.col("_slot_mean"), F.col("_resid_sd")
    n_slot = F.coalesce(F.col("_n_slot"), F.lit(0))
    enough = (n_slot >= F.lit(int(min_cycles))) & sd.isNotNull()
    out = j.select(
        *klist,
        "value",
        F.lit("seasonal").alias("strategy"),
        mu.alias("baseline"),
        F.when(sd > 0, F.abs(v - mu) / sd).alias("stat"),
        F.lit(float(k_sigma)).alias("threshold"),
        n_slot.cast("long").alias("n_hist"),
        F.when(~enough, "insufficient")
        # NULL current metric over a real seasonal history IS the anomaly
        # (the metric vanished) — the anomaly_verdicts guard
        .when(v.isNull(), "fail")
        .when(
            F.when(sd > 0, F.abs(v - mu) > F.lit(float(k_sigma)) * sd).otherwise(
                v != mu
            ),
            "fail",
        )
        .otherwise("pass")
        .alias("verdict"),
    )
    return out


def trend_verdicts(
    history: DataFrame,
    keys: tuple[str, ...] = SERIES_KEYS,
    value_col: str = "value",
    order_col: str = "run_ts",
    z_crit: float = 1.96,
    min_runs: int = 8,
) -> DataFrame:
    """Mann-Kendall TREND test + Sen's slope per metric series across the
    run history — the slow-degradation detector the repository family
    lacked: anomaly_verdicts needs one run OUTSIDE the trailing band,
    store_changepoint needs a level SHIFT; a metric drifting 1% per run
    for twenty runs trips neither (every run sits inside the band the
    drift itself keeps widening) yet is exactly the "null ratio has been
    creeping up since the producer change" a monitoring deployment must
    catch. Mann & Kendall's S statistic with the normal approximation and
    tie correction, plus Sen's (median pairwise) slope as the
    distribution-free trend magnitude — both public textbook statistics
    (Mann 1945, Kendall 1975, Sen 1968), both rank-based, so a single
    outlier run cannot fake or hide a trend (the reason a least-squares
    slope is the wrong tool on contaminated monitoring series).

    Closed relational form: S = Σ_{i<j} sign(x_j − x_i) over ordered run
    pairs, Var(S) = [n(n−1)(2n+5) − Σ_t t(t−1)(2t+5)]/18 (t = tied-value
    multiplicities), z = (S∓1)/√Var(S) with the continuity correction,
    sen_slope = exact median of pairwise slopes. Requires `order_col`
    values UNIQUE within a series (the repository's resolve_run_ts
    guarantees a dense unique run_ts; equal-order pairs would silently
    drop out of S).

    Scale shape: the pairwise self-join runs on the store's O(runs ×
    series) rows — already aggregated, never raw data — and is
    O(runs²) WITHIN each series key only (the documented ddm_levels /
    prefix-fold bound: hundreds of runs per series, ~10⁴ pairs, trivial;
    the join keys partition it, no cross-series blow-up). The history
    projection is the shared child of the pair join's BOTH sides, the
    run-count fold and the tie fold — persisted in the caller's persist
    scope (the shared-child rule).

    Output: (keys..., n_runs, s_stat, var_s, z, sen_slope, verdict) with
    verdict ∈ insufficient (n_runs < min_runs — MK's normal approximation
    needs ~8+ points) / increasing (z > z_crit) / decreasing
    (z < −z_crit) / no_trend. A constant series (Var(S) = 0 after the tie
    correction) is no_trend by construction.
    """

    klist = list(keys)
    # NULL metric values carry no trend signal but would count as runs:
    # null comparisons fall through sgn's otherwise(0) and null values form
    # a tie group, inflating n_runs and Var(S) while contributing nothing
    # to S — biasing z toward no_trend (ADVICE r7). Excluded up front.
    h = scoped(history.filter(F.col(value_col).isNotNull()).select(
        *klist,
        F.col(value_col).cast("double").alias("_v"),
        F.col(order_col).alias("_o"),
    ).persist())
    a = h.select(*klist, F.col("_v").alias("_va"), F.col("_o").alias("_oa"))
    b = h.select(*klist, F.col("_v").alias("_vb"), F.col("_o").alias("_ob"))
    pairs = a.join(b, klist).filter(F.col("_oa") < F.col("_ob"))
    sgn = (
        F.when(F.col("_vb") > F.col("_va"), 1)
        .when(F.col("_vb") < F.col("_va"), -1)
        .otherwise(0)
    )
    slope = (F.col("_vb") - F.col("_va")) / (F.col("_ob") - F.col("_oa"))
    pa = pairs.groupBy(*klist).agg(
        F.sum(sgn).cast("long").alias("s_stat"),
        F.percentile(slope, 0.5).alias("sen_slope"),
    )
    nn = h.groupBy(*klist).agg(F.count(F.lit(1)).alias("n_runs"))
    t = F.col("_t")
    ties = (
        h.groupBy(*klist, "_v")
        .agg(F.count(F.lit(1)).cast("double").alias("_t"))
        .groupBy(*klist)
        .agg(
            F.coalesce(
                F.sum(t * (t - 1.0) * (2.0 * t + 5.0)), F.lit(0.0)
            ).alias("_corr")
        )
    )
    n = F.col("n_runs").cast("double")
    var_s = (n * (n - 1.0) * (2.0 * n + 5.0) - F.col("_corr")) / 18.0
    s = F.col("s_stat")
    z = (
        F.when(var_s <= 0.0, 0.0)
        .when(s > 0, (s - 1.0) / F.sqrt(var_s))
        .when(s < 0, (s + 1.0) / F.sqrt(var_s))
        .otherwise(0.0)
    )
    out = (
        nn.join(ties, klist)
        .join(pa, klist, "left")
        .select(
            *klist,
            "n_runs",
            "s_stat",
            F.round(var_s, 6).alias("var_s"),
            F.round(z, 6).alias("z"),
            F.round("sen_slope", 6).alias("sen_slope"),
            F.when(F.col("n_runs") < int(min_runs), "insufficient")
            .when(z > float(z_crit), "increasing")
            .when(z < -float(z_crit), "decreasing")
            .otherwise("no_trend")
            .alias("verdict"),
        )
    )
    return out
