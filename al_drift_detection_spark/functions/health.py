"""Windowed data-HEALTH checks: volume, completeness, freshness, schema.

The Deequ-style monitoring block a validation engine runs alongside value
constraints (SURVEY.md §2.4 A1-A4 stat family applied as per-window verdict
series, the same windowed-verdict pattern as the drift kernels — ref
gan.py:723-757 per-window vote): a 100 TB ingest pipeline alarms on "this
window has half the rows it should", "a column suddenly went 30% null",
"ingestion stalled for an hour", and "the producer changed the schema"
before any value-level drift kernel fires.

Scale shapes — everything is one JVM aggregate over a pruned projection:
- volume_anomaly: groupBy(window).count() → O(windows) frame; the reference
  mean is an aggregate OF that frame (no second scan), broadcast back.
- completeness_drift: one groupBy(window) with an avg(is-null) column per
  tracked column → unpivot via stack; reference ratios derive from the SAME
  aggregated frame.
- ingestion_gaps: two-pass bucketed lag (intra-bucket lag over
  (window, ts-bucket) + seam lag over the tiny aggregated bucket frame) —
  no whole-window single-task sort; avg gap telescopes to a pure agg.
- schema_check: pure metadata (df.schema vs an expected DDL) — no job runs
  at all.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StructType
from pyspark.sql.window import Window

from al_drift_detection_spark.persist import scoped


def _eager_reference(per_w: DataFrame, ref_filter, aggs: list, op_name: str):
    """Shared reference-resolution tail of the data-derived health paths:
    evaluate the reference aggregate EAGERLY from the (persisted) per-window
    frame and return the 1-row Row, raising loudly — and unpersisting the
    frame on that error path, so a failed build leaks no executor storage —
    when the reference selects no windows (a NULL aggregate would otherwise
    make every verdict fall through to 'pass')."""
    ref = per_w if ref_filter is None else per_w.filter(ref_filter)
    row = ref.agg(*aggs).first()
    if any(v is None for v in row):
        per_w.unpersist()
        raise ValueError(
            f"{op_name}: the reference selects no windows — every verdict "
            "would silently be NULL→'pass'; check ref_filter / the input's "
            "window values"
        )
    return row


def volume_anomaly(
    df: DataFrame,
    window_col: str = "window_id",
    ref_filter=None,
    ref_first_n: int | None = None,
    ref_mean: float | None = None,
    low: float = 0.5,
    high: float = 2.0,
) -> DataFrame:
    """Per-window ROW-COUNT anomaly vs the mean volume of reference windows.

    ref_filter: a Column predicate over the window column selecting the
    reference windows (default: all windows — self-referential baseline).
    ref_first_n: alternatively, use the FIRST N WINDOWS in window order as
    the reference — resolved from the persisted O(windows) count frame via
    orderBy/limit (works for sparse and non-numeric window ids; no extra
    scan of the table).
    ref_mean: alternatively, a FIXED reference volume, so a window's verdict
    never depends on which other windows the input holds (the same
    deterministic-reference rule as categorical_drift and the closed-window
    streaming twin, closed.window_health_spec); with a literal reference
    there is no persist.
    A data-derived reference that selects NO windows raises loudly instead
    of emitting NULL-ratio all-'pass' rows (review-caught: NULL comparisons
    fall through to the otherwise-branch).
    Output: (window_id, n_rows, ref_mean, ratio, verdict) — fail iff the
    ratio falls outside [low, high]. One count aggregate over the window
    column only; the reference mean folds back as a literal.
    """
    if sum(x is not None for x in (ref_filter, ref_first_n, ref_mean)) > 1:
        raise ValueError("pass at most one of ref_filter / ref_first_n / ref_mean")
    if ref_mean is not None and not ref_mean > 0:
        # a zero/negative literal reference makes every ratio NULL (or
        # sign-flipped) and every verdict silently 'pass' — the same
        # NULL→'pass' trap _eager_reference guards on the data-derived path
        raise ValueError(f"ref_mean must be positive, got {ref_mean}")
    counts = df.groupBy(F.col(window_col).alias("window_id")).agg(
        F.count(F.lit(1)).alias("n_rows")
    )
    if ref_mean is None:
        # persist the O(windows) aggregate: the eager reference mean below
        # materializes it once and the returned plan reuses the cache — the
        # full table scans ONCE (freed by the caller's persist scope)
        counts = scoped(counts.persist())
        if ref_first_n is not None:
            wins = [
                r[0]
                for r in counts.select("window_id")
                .orderBy("window_id")
                .limit(ref_first_n)
                .collect()
            ]
            ref_filter = F.col("window_id").isin(wins)
        ref_mean = _eager_reference(
            counts, ref_filter, [F.avg("n_rows")], "volume_anomaly"
        )[0]
    m = F.lit(float(ref_mean))
    return counts.select(
        "window_id",
        "n_rows",
        F.round(m, 6).alias("ref_mean"),
        F.round(F.col("n_rows") / m, 6).alias("ratio"),
        F.when(
            (F.col("n_rows") / m < low) | (F.col("n_rows") / m > high),
            F.lit("fail"),
        )
        .otherwise(F.lit("pass"))
        .alias("verdict"),
    )


def completeness_drift(
    df: DataFrame,
    cols: list[str],
    window_col: str = "window_id",
    ref_filter=None,
    ref_ratios: dict[str, float] | None = None,
    threshold: float = 0.05,
) -> DataFrame:
    """Per-window NULL-RATIO drift per column vs the reference windows'
    ratio: a column that suddenly goes null in an ingest window is the most
    common producer bug, and value-drift kernels drop nulls so they cannot
    see it (the drop-null → completeness family, SURVEY.md §2.2 P1, as a
    windowed verdict series).

    Output: (window_id, column, null_ratio, ref_ratio, delta, verdict) —
    fail iff null_ratio − ref_ratio > threshold (one-sided: columns BECOMING
    null). ONE groupBy(window) computes every column's ratio; the reference
    ratio is a count-weighted aggregate of the same (persisted) frame,
    folded back as a literal.
    ref_ratios: alternatively a FIXED per-column reference ratio map — same
    deterministic-reference rule as volume_anomaly's ref_mean; with literals
    there is no persist.
    A data-derived reference selecting no windows raises loudly (same
    NULL→'pass' trap as volume_anomaly).
    """
    if ref_filter is not None and ref_ratios is not None:
        raise ValueError("pass ref_filter or ref_ratios, not both")
    if ref_ratios is not None:
        missing = set(cols) - set(ref_ratios)
        if missing:
            raise ValueError(f"ref_ratios missing columns: {sorted(missing)}")
    # POSITIONAL aliases (r_0, r_1, …), never interpolated column names: a
    # column named "event count" (or containing a quote) would break — or
    # inject into — a stack() expression built from raw names; the display
    # label is emitted as an escaped string literal only
    aggs = [F.count(F.lit(1)).alias("_n")] + [
        F.avg(F.isnull(F.col(c)).cast("double")).alias(f"r_{i}")
        for i, c in enumerate(cols)
    ]
    per_w = df.groupBy(F.col(window_col).alias("window_id")).agg(*aggs)
    if ref_ratios is None:
        # persist: the eager reference aggregate below materializes the tiny
        # frame once and the returned plan reuses the cache — one table scan
        per_w = scoped(per_w.persist())
        row = _eager_reference(
            per_w,
            ref_filter,
            [
                (F.sum(F.col(f"r_{i}") * F.col("_n")) / F.sum("_n")).alias(f"ref_{i}")
                for i in range(len(cols))
            ],
            "completeness_drift",
        )
        ref_ratios = {c: float(row[f"ref_{i}"]) for i, c in enumerate(cols)}

    def esc(s: str) -> str:
        return s.replace("\\", "\\\\").replace("'", "\\'")

    stacked = per_w.select(
        "window_id",
        F.expr(
            "stack({n}, {args}) as (column, null_ratio, ref_ratio)".format(
                n=len(cols),
                args=", ".join(
                    f"'{esc(c)}', r_{i}, cast({float(ref_ratios[c])!r} as double)"
                    for i, c in enumerate(cols)
                ),
            )
        ),
    )
    delta = F.col("null_ratio") - F.col("ref_ratio")
    return stacked.select(
        "window_id",
        "column",
        F.round("null_ratio", 6).alias("null_ratio"),
        F.round("ref_ratio", 6).alias("ref_ratio"),
        F.round(delta, 6).alias("delta"),
        F.when(delta > threshold, F.lit("fail")).otherwise(F.lit("pass")).alias("verdict"),
    )


def build_conditional_completeness_reference(
    ref_df: DataFrame,
    cond_col: str,
    target_col: str,
    max_categories: int = 20,
) -> dict:
    """Driver-side reference CONFIG for the streaming twin
    (streaming/closed.conditional_completeness_spec): the same
    deterministic universe and per-category null-ratios
    conditional_completeness_drift derives internally, folded to a plain
    picklable dict — O(categories) floats. Built ONCE from the reference
    windows; every later window (batch or stream) scores against it, so
    the two modes cannot diverge on universes or baselines (the
    build_sliced_reference pattern)."""
    OTHER = "(other)"
    cat = F.coalesce(F.col(cond_col).cast("string"), F.lit("(null)"))
    # top-N and the pooled tail are computed IN SPARK and only the bounded
    # results collected (ADVICE r7: collecting ALL distinct categories
    # before truncating is unbounded driver memory on a corrupted
    # high-cardinality cond column — the bounded-universe discipline). The
    # per-category agg is persisted: the top-N pick and the tail fold are
    # two consumers of the same shuffle.
    agg = (
        ref_df.select(
            cat.alias("_s"),
            F.isnull(F.col(target_col)).cast("double").alias("_in"),
        )
        .groupBy("_s")
        .agg(F.count(F.lit(1)).alias("_n"), F.sum("_in").alias("_nn"))
        .persist()
    )
    try:
        top = (
            agg.orderBy(F.col("_n").desc(), "_s")
            .limit(int(max_categories))
            .collect()
        )
        if not top:
            raise ValueError(
                "build_conditional_completeness_reference: the reference "
                "selects no rows"
            )
        tail = (
            agg.filter(~F.col("_s").isin([r["_s"] for r in top]))
            .agg(F.sum("_n").alias("_n"), F.sum("_nn").alias("_nn"))
            .first()
        )
    finally:
        agg.unpersist()
    tn = int(tail["_n"] or 0)
    ratios = {r["_s"]: float(r["_nn"]) / int(r["_n"]) for r in top}
    ratios[OTHER] = (float(tail["_nn"]) / tn) if tn else 0.0
    return {"universe": [*(r["_s"] for r in top), OTHER], "ratios": ratios}


def conditional_completeness_drift(
    df: DataFrame,
    cond_col: str,
    target_col: str,
    window_col: str = "window_id",
    ref_filter=None,
    threshold: float = 0.05,
    max_categories: int = 20,
    min_rows: int = 50,
) -> DataFrame:
    """Per-(category, window) NULL-RATIO drift of `target_col` conditioned
    on `cond_col` vs the CATEGORY'S OWN reference ratio — the drill-down
    completeness_drift cannot answer: "n_chars went 4% null overall" is
    below every global threshold when one upstream source went 80% null
    (Deequ's `completeness(...).where(...)` conditional analyzer, public
    design; SURVEY.md §2.2 P1 completeness family × §2.4 A14 grouping —
    the per-cohort-baseline discipline of the reference's per-orbit
    scoring, /root/reference/gan.py:723-757).

    Determinism (the categorical_drift / sliced_psi_drift universe rule):
    categories are the reference's top `max_categories` by count (ties by
    name) plus one "(other)" catch-all, so a corrupted high-cardinality
    cond column bounds the output and a window's verdict never depends on
    other windows' contents. "(other)"'s reference ratio is the ref tail's
    pooled ratio (0.0 when the tail is empty — a brand-new category that
    arrives with nulls scores against a fully-complete baseline and
    flags).

    Scale shape: exactly TWO raw scans — reference rows into a persisted
    per-category (n, n_null) frame (whose folds give the universe AND
    every reference ratio), current rows into a persisted per-(window,
    universe-category) frame; the deterministic windows × universe grid is
    broadcast-joined to both. Output one row per (window × universe
    category): (window_id, category, n_cur, null_ratio, ref_ratio, delta,
    verdict) — fail iff null_ratio − ref_ratio > threshold (one-sided:
    BECOMING null); n_cur == 0 → 'no_data' (volume_anomaly owns empties),
    0 < n_cur < min_rows → 'insufficient' (a handful of rows makes the
    ratio pure noise — the anomaly family's small-sample posture).
    """
    if ref_filter is None:
        raise ValueError("conditional_completeness_drift requires ref_filter")
    OTHER = "(other)"
    cat = F.coalesce(F.col(cond_col).cast("string"), F.lit("(null)"))
    base = df.select(
        F.col(window_col).alias("_w"),
        cat.alias("_s"),
        F.isnull(F.col(target_col)).cast("double").alias("_in"),
        ref_filter.alias("_is_ref"),
    )
    stats = scoped(
        base.filter("_is_ref")
        .groupBy("_s")
        .agg(F.count(F.lit(1)).alias("_n"), F.sum("_in").alias("_nn"))
        .persist()
    )
    if stats.limit(1).count() == 0:
        stats.unpersist()
        raise ValueError(
            "conditional_completeness_drift: the reference selects no rows "
            "— every verdict would score against an empty baseline; check "
            "ref_filter / the input's window values"
        )
    top = (
        stats.orderBy(F.col("_n").desc(), "_s").limit(max_categories).select("_s")
    )
    ref_known = stats.join(F.broadcast(top), "_s").select(
        "_s", (F.col("_nn") / F.col("_n")).alias("_rr")
    )
    ref_other = (
        stats.join(F.broadcast(top), "_s", "left_anti")
        .agg(
            F.coalesce(F.sum("_nn") / F.sum("_n"), F.lit(0.0)).alias("_rr")
        )
        .select(F.lit(OTHER).alias("_s"), "_rr")
    )
    refs = ref_known.unionByName(ref_other)
    curc = scoped(
        base.filter(~F.col("_is_ref"))
        .join(F.broadcast(top.withColumn("_known", F.lit(True))), "_s", "left")
        .select(
            "_w",
            F.when(F.col("_known"), F.col("_s")).otherwise(F.lit(OTHER)).alias("_s"),
            "_in",
        )
        .groupBy("_w", "_s")
        .agg(F.count(F.lit(1)).alias("_nc"), F.sum("_in").alias("_cn"))
        .persist()
    )
    universe = top.unionByName(
        top.sparkSession.createDataFrame([(OTHER,)], "_s string")
    )
    grid = curc.select("_w").distinct().crossJoin(F.broadcast(universe))
    ratio = F.col("_cn") / F.col("_nc")
    delta = ratio - F.col("_rr")
    out = (
        grid.join(curc, ["_w", "_s"], "left")
        .join(F.broadcast(refs), "_s", "left")
        .select(
            F.col("_w").alias(window_col),
            F.col("_s").alias("category"),
            F.coalesce("_nc", F.lit(0)).alias("n_cur"),
            F.round(ratio, 6).alias("null_ratio"),
            F.round("_rr", 6).alias("ref_ratio"),
            F.round(delta, 6).alias("delta"),
            F.when(F.coalesce("_nc", F.lit(0)) == 0, "no_data")
            .when(F.col("_nc") < min_rows, "insufficient")
            .when(delta > threshold, "fail")
            .otherwise("pass")
            .alias("verdict"),
        )
    )
    return out


def uniqueness_drift(
    df: DataFrame,
    col: str,
    window_col: str = "window_id",
    ref_filter=None,
    ref_ratio: float | None = None,
    threshold: float = 0.05,
    approx: bool = True,
    rsd: float = 0.01,
) -> DataFrame:
    """Per-window UNIQUENESS drift: distinct-ratio (n_distinct / n_rows) of
    a key column vs the reference windows — a dropping ratio is a duplicate
    SURGE (re-ingested shard, crawler loop) long before content-level dedup
    runs; the north_star's HyperLogLog-uniqueness stat (SURVEY.md §2.4 A2
    distinct-keys family) as a windowed verdict series.

    approx=True (default, the scale path) uses approx_count_distinct — a
    bounded HLL sketch per window, one agg, no extra shuffle; the threshold
    must clear 3× the sketch's relative error (enforced) or clean windows
    fail on sketch noise. approx=False uses exact count(DISTINCT) for
    oracle-checkable output (an extra dedup exchange — fine at test scale,
    use HLL at corpus scale).
    Reference ratio = Σ n_distinct / Σ n_rows over the reference windows
    (the count-weighted per-window expectation; distinct counts are NOT
    merged across windows), folded back as a literal from the persisted
    O(windows) frame — same eager-literal shape as volume_anomaly, same
    loud failure when the reference selects no windows. ref_ratio:
    alternatively a FIXED reference (streaming form). Output: (window_id,
    n_rows, n_distinct, ratio, ref_ratio, verdict) — fail iff
    ref_ratio − ratio > threshold (one-sided: uniqueness DROPPING).
    """
    if ref_filter is not None and ref_ratio is not None:
        raise ValueError("pass ref_filter or ref_ratio, not both")
    if approx and threshold < 3.0 * rsd:
        # HLL relative error ~rsd on BOTH the window and reference counts:
        # a threshold inside the sketch noise band turns the verdict into a
        # coin flip (observed on the synthetic corpus at rsd=0.05/thr=0.05:
        # clean windows failing at ratio 0.946). Demand 3σ of headroom.
        raise ValueError(
            f"uniqueness_drift: threshold {threshold} is inside the HLL "
            f"noise band (rsd={rsd}; need threshold ≥ {3.0 * rsd}); lower "
            "rsd, raise the threshold, or use approx=False"
        )
    nd = (
        F.approx_count_distinct(col, rsd) if approx else F.count_distinct(F.col(col))
    )
    per_w = df.groupBy(F.col(window_col).alias("window_id")).agg(
        F.count(F.lit(1)).alias("n_rows"), nd.alias("n_distinct")
    )
    if ref_ratio is None:
        per_w = scoped(per_w.persist())
        ref_ratio = float(
            _eager_reference(
                per_w,
                ref_filter,
                [(F.sum("n_distinct") / F.sum("n_rows")).alias("r")],
                "uniqueness_drift",
            )["r"]
        )
    r = F.lit(float(ref_ratio))
    ratio = F.col("n_distinct") / F.col("n_rows")
    return per_w.select(
        "window_id",
        "n_rows",
        "n_distinct",
        F.round(ratio, 6).alias("ratio"),
        F.round(r, 6).alias("ref_ratio"),
        F.when(r - ratio > threshold, F.lit("fail"))
        .otherwise(F.lit("pass"))
        .alias("verdict"),
    )


def ingestion_gaps(
    df: DataFrame,
    ts_col: str = "ts",
    window_col: str = "window_id",
    id_col: str | None = None,
    max_gap_seconds: float = 3600.0,
    bucket_seconds: float = 3600.0,
) -> DataFrame:
    """Per-window FRESHNESS/staleness: the largest gap between consecutive
    event timestamps inside each window — an ingestion stall shows up as one
    huge inter-arrival gap long before aggregate stats move.

    Scale shape (VERDICT r4 "What's wrong" #2 — the one-task-per-window sort
    is gone): a lag() partitioned ONLY by window_col would sort every row of
    an ingest window in a single task (a 10⁸-10⁹-row spill/straggler at
    100 TB with daily windows). Instead, the two-pass bucketed form of
    operators/windows.global_lead: sub-bucket each window by
    floor(sec / bucket_seconds) — a coarse monotone prefix of the (ts, id)
    order, since equal timestamps always share a bucket — so the intra-bucket
    lag sorts at most bucket_seconds worth of events per task; SEAM gaps
    between consecutive non-empty buckets come from a second lag over the
    per-(window, bucket) AGGREGATED frame (O(windows × active buckets) tiny
    rows). The per-window avg gap needs no lag at all: consecutive gaps
    telescope, so avg = (max_ts − min_ts) / (n_nonnull_ts − 1) exactly.

    id_col breaks timestamp ties deterministically (ties never straddle
    buckets). Output: (window_id, n_rows, max_gap_sec, avg_gap_sec, verdict)
    — fail iff max_gap_sec > max_gap_seconds; byte-identical to the
    single-lag form (pinned by the q_ingestion_gaps DuckDB oracle).
    """
    # parquet NTZ timestamps cannot cast to double directly — hop through
    # TIMESTAMP (session TZ pinned UTC, so values are unchanged; the same
    # convention as streaming/closed._windowed)
    sec = F.col(ts_col).cast("timestamp").cast("double")
    src = df.select(
        F.col(window_col).alias("window_id"),
        sec.alias("_sec"),
        F.floor(sec / F.lit(float(bucket_seconds))).cast("long").alias("_bkt"),
        *([F.col(id_col).alias("_id")] if id_col else []),
    )
    order = [F.col("_sec")] + ([F.col("_id")] if id_col else [])
    w_intra = Window.partitionBy("window_id", "_bkt").orderBy(*order)
    intra = src.withColumn("_gap", F.col("_sec") - F.lag("_sec").over(w_intra))
    per_bucket = intra.groupBy("window_id", "_bkt").agg(
        F.count(F.lit(1)).alias("_n"),          # all rows (NULL ts included)
        F.count("_sec").alias("_n_ts"),         # rows with a timestamp
        F.min("_sec").alias("_min"),
        F.max("_sec").alias("_max"),
        F.max("_gap").alias("_max_intra"),
    )
    # seam gaps: lag over the tiny aggregated frame (allowlisted window-only
    # partition — input is already reduced, the regime_segments pattern)
    w_seam = Window.partitionBy("window_id").orderBy("_bkt")
    seam = per_bucket.withColumn(
        "_seam", F.col("_min") - F.lag("_max").over(w_seam)
    )
    n_ts = F.sum("_n_ts")
    span = F.max("_max") - F.min("_min")
    return (
        seam.groupBy("window_id")
        .agg(
            F.sum("_n").alias("n_rows"),
            F.round(F.greatest(F.max("_max_intra"), F.max("_seam")), 4).alias(
                "max_gap_sec"
            ),
            F.round(
                F.when(n_ts > 1, span / (n_ts - 1)).otherwise(F.lit(None)), 4
            ).alias("avg_gap_sec"),
        )
        .withColumn(
            "verdict",
            F.when(F.col("max_gap_sec") > max_gap_seconds, F.lit("fail")).otherwise(
                F.lit("pass")
            ),
        )
    )


def schema_check(df: DataFrame, expected_ddl: str) -> DataFrame:
    """SCHEMA validation: the actual DataFrame schema vs an expected DDL —
    missing columns, unexpected extras, and type mismatches as verdict rows
    (the north_star's 'schema + constraint validation engine': the schema
    half; the reference's fixed-column contract is util.py:78-96's hardcoded
    frame layout). Pure metadata — no Spark job runs; output is a tiny
    driver-built table: (column, expected_type, actual_type, status) with
    status ∈ {ok, type_mismatch, missing, unexpected}."""
    expected = StructType.fromDDL(expected_ddl)
    actual = {f.name: f.dataType.simpleString() for f in df.schema.fields}
    rows = []
    for f in expected.fields:
        want = f.dataType.simpleString()
        if f.name not in actual:
            rows.append((f.name, want, None, "missing"))
        elif actual[f.name] != want:
            rows.append((f.name, want, actual[f.name], "type_mismatch"))
        else:
            rows.append((f.name, want, actual[f.name], "ok"))
    want_names = {f.name for f in expected.fields}
    for name, typ in actual.items():
        if name not in want_names:
            rows.append((name, None, typ, "unexpected"))
    return df.sparkSession.createDataFrame(
        rows, "column string, expected_type string, actual_type string, status string"
    )


def correlation_drift(
    df: DataFrame,
    col_a: str,
    col_b: str,
    window_col: str = "window_id",
    ref_filter=None,
    max_abs_diff: float = 0.2,
) -> DataFrame:
    """Cross-column CORRELATION drift: per-window Pearson r(col_a, col_b) vs
    the reference windows' r — the relationship-between-columns check the
    per-column kernel family (KS/PSI/chi2/...) cannot see (two columns can
    keep their marginals while their joint structure breaks).

    Scale shape: Pearson r is computed from MERGEABLE sufficient moments
    (n, Σa, Σb, Σab, Σa², Σb²) — one partial+final aggregate pass builds the
    O(windows) moment frame, and the reference r folds from the SUMMED
    moments of the reference windows (the same lossless-merge discipline as
    the histogram/HLL stores; the raw table scans exactly once). Rows where
    either column is NULL are excluded pairwise (the standard corr
    contract). Windows with a degenerate denominator (constant column)
    emit corr NULL → verdict 'fail' (an undefined relationship IS the
    anomaly); a degenerate REFERENCE raises loudly via _eager_reference.

    Output: (window_id, n, corr, ref_corr, abs_diff, verdict)."""
    a = F.col(col_a).cast("double")
    b = F.col(col_b).cast("double")
    both = df.filter(a.isNotNull() & b.isNotNull())
    m = scoped(
        both.groupBy(F.col(window_col).alias("window_id"))
        .agg(
            F.count(F.lit(1)).cast("double").alias("n"),
            F.sum(a).alias("sa"),
            F.sum(b).alias("sb"),
            F.sum(a * b).alias("sab"),
            F.sum(a * a).alias("saa"),
            F.sum(b * b).alias("sbb"),
        )
        .persist()
    )

    def _corr(n, sa, sb, sab, saa, sbb):
        den2 = (n * saa - sa * sa) * (n * sbb - sb * sb)
        return F.when(den2 > 0, (n * sab - sa * sb) / F.sqrt(den2))

    ref_row = _eager_reference(
        m,
        ref_filter,
        [
            F.sum("n").alias("n"), F.sum("sa"), F.sum("sb"),
            F.sum("sab"), F.sum("saa"), F.sum("sbb"),
        ],
        "correlation_drift",
    )
    rn, rsa, rsb, rsab, rsaa, rsbb = (float(v) for v in ref_row)
    rden2 = (rn * rsaa - rsa * rsa) * (rn * rsbb - rsb * rsb)
    if not rden2 > 0:
        m.unpersist()
        raise ValueError(
            "correlation_drift: the reference windows have a degenerate "
            f"(constant) column — corr undefined (den²={rden2})"
        )
    ref_corr = (rn * rsab - rsa * rsb) / (rden2 ** 0.5)

    n, sa, sb = F.col("n"), F.col("sa"), F.col("sb")
    sab, saa, sbb = F.col("sab"), F.col("saa"), F.col("sbb")
    corr = _corr(n, sa, sb, sab, saa, sbb)
    diff = F.abs(corr - F.lit(ref_corr))
    return m.select(
        "window_id",
        n.cast("long").alias("n"),
        corr.alias("corr"),
        F.lit(ref_corr).alias("ref_corr"),
        diff.alias("abs_diff"),
        F.when(corr.isNull() | (diff > max_abs_diff), "fail")
        .otherwise("pass")
        .alias("verdict"),
    )


def categorical_association(df: DataFrame, col_a: str, col_b: str) -> DataFrame:
    """Categorical ASSOCIATION analyzer: mutual information (natural log,
    nats) and Cramér's V between two categorical columns — the categorical
    sibling of correlation_drift's Pearson r (the Deequ MutualInformation
    analyzer, public design; SURVEY.md §2.4 stat family). Two columns can
    keep their marginal distributions while their pairing breaks — lang and
    source each look stable, but captions suddenly arrive under the wrong
    source — and every per-column kernel is blind to it.

    Scale shape: ONE raw-table shuffle builds the joint contingency
    (groupBy(a, b).count() — O(ka·kb) rows, bounded by the category
    universes), persisted because it feeds the two marginal aggregates, the
    totals row, and the grid join (the CLAUDE.md shared-child rule: unpersisted,
    the raw scan would re-execute 4×). Everything downstream — marginals,
    the FULL ka×kb grid (zero cells carry expected mass for chi², exactly
    like kernels.chi2_2samp's contingency), MI and V — runs over that tiny
    frame with broadcast joins. NULL in either column excludes the pair
    (the standard analyzer contract).

    V = sqrt(chi² / (n · (min(ka, kb) − 1))), NULL when either column is
    constant (no association measurable; MI is exactly 0 there). Output:
    one row (n, ka, kb, mi, cramers_v), floats un-rounded.
    Oracle twin: q_mutual_information."""
    a = F.col(col_a).cast("string")
    b = F.col(col_b).cast("string")
    joint = scoped(
        df.filter(a.isNotNull() & b.isNotNull())
        .groupBy(a.alias("a"), b.alias("b"))
        .agg(F.count(F.lit(1)).cast("double").alias("nab"))
        .persist()
    )
    pa = joint.groupBy("a").agg(F.sum("nab").alias("na"))
    pb = joint.groupBy("b").agg(F.sum("nab").alias("nb"))
    tot = joint.agg(
        F.sum("nab").alias("tot"),
        F.countDistinct("a").cast("int").alias("ka"),
        F.countDistinct("b").cast("int").alias("kb"),
    )
    grid = (
        pa.crossJoin(pb)
        .join(joint, ["a", "b"], "left")
        .crossJoin(F.broadcast(tot))
        .select(
            F.coalesce(F.col("nab"), F.lit(0.0)).alias("nab"),
            "na", "nb", "tot", "ka", "kb",
        )
    )
    e = F.col("na") * F.col("nb") / F.col("tot")
    nab, t = F.col("nab"), F.col("tot")
    mi_cell = F.when(nab > 0, (nab / t) * F.log(nab * t / (F.col("na") * F.col("nb")))).otherwise(0.0)
    chi2 = F.sum((nab - e) * (nab - e) / e)
    kmin = F.least(F.max("ka"), F.max("kb"))
    out = grid.agg(
        F.max(t).cast("long").alias("n"),
        F.max("ka").alias("ka"),
        F.max("kb").alias("kb"),
        F.sum(mi_cell).alias("mi"),
        F.when(
            kmin > 1, F.sqrt(chi2 / (F.max(t) * (kmin - 1).cast("double")))
        ).alias("cramers_v"),
    )
    return out


def association_drift(
    df: DataFrame,
    col_a: str,
    col_b: str,
    cats_a: list[str],
    cats_b: list[str],
    window_col: str = "window_id",
    ref_filter=None,
    max_abs_diff: float = 0.1,
) -> DataFrame:
    """Per-window ASSOCIATION drift: each window's mutual information
    between two categorical columns vs the reference windows' MI — the
    windowed-verdict form of categorical_association, completing the
    joint-structure pair (correlation_drift watches numeric×numeric, this
    watches categorical×categorical; both catch "marginals hold, pairing
    broke", which every per-column kernel misses).

    The category universes are DETERMINISTIC (the categorical_drift rule):
    exactly `cats_a`/`cats_b` plus one "(other)" catch-all each (NULL
    coalesced to "(null)" first), so a window's verdict depends only on its
    own rows and the fixed universes — batch ≡ streaming — and the joint
    grid is bounded by (|cats_a|+1)·(|cats_b|+1) regardless of data
    cardinality (a corrupted high-cardinality column cannot blow it up).

    Scale shape: ONE groupBy(window, a, b) shuffle over the raw table; the
    persisted O(windows·ka·kb) joint frame feeds the per-window marginals,
    totals, and MI/chi² folds (broadcast joins over aggregated frames). The
    reference MI folds from the SUMMED reference-window counts — joint
    counts are lossless-mergeable, the histogram-store discipline — and is
    resolved eagerly from ≤ (ka+1)(kb+1) rows (raising loudly on an empty
    or degenerate reference, the _eager_reference contract). Cramér's V is
    reported per window (NULL where a window sees one category on either
    side); MI of such a window is 0.

    Output: (window_id, n, mi, ref_mi, abs_diff, cramers_v, verdict) —
    verdict 'fail' iff |mi − ref_mi| > max_abs_diff (nats).
    Oracle twin: q_association_drift."""
    import math

    if "(other)" in cats_a or "(other)" in cats_b:
        raise ValueError('"(other)" is the reserved catch-all bucket name')

    def _mapped(col, cats):
        c = F.coalesce(F.col(col).cast("string"), F.lit("(null)"))
        return F.when(c.isin([str(x) for x in cats]), c).otherwise(F.lit("(other)"))

    jw = scoped(
        df.select(
            F.col(window_col).alias("window_id"),
            _mapped(col_a, cats_a).alias("a"),
            _mapped(col_b, cats_b).alias("b"),
        )
        .groupBy("window_id", "a", "b")
        .agg(F.count(F.lit(1)).cast("double").alias("nab"))
        .persist()
    )

    # reference MI from the SUMMED reference-window joint counts (eager,
    # bounded by the fixed grid; raises on an empty/degenerate reference)
    jr = jw
    if ref_filter is not None:
        jr = jw.filter(ref_filter)
    ref_cells = jr.groupBy("a", "b").agg(F.sum("nab").alias("nab")).collect()
    if not ref_cells:
        jw.unpersist()
        raise ValueError(
            "association_drift: the reference selects no windows — "
            "every verdict would be vacuous"
        )
    rt = sum(r["nab"] for r in ref_cells)
    rna: dict[str, float] = {}
    rnb: dict[str, float] = {}
    for r in ref_cells:
        rna[r["a"]] = rna.get(r["a"], 0.0) + r["nab"]
        rnb[r["b"]] = rnb.get(r["b"], 0.0) + r["nab"]
    if len(rna) < 2 or len(rnb) < 2:
        jw.unpersist()
        raise ValueError(
            "association_drift: a reference column is constant — "
            "association undefined over the reference windows"
        )
    ref_mi = sum(
        (r["nab"] / rt) * math.log(r["nab"] * rt / (rna[r["a"]] * rnb[r["b"]]))
        for r in ref_cells
        if r["nab"] > 0
    )

    # per-window folds over the aggregated frame: marginals, totals, then
    # MI over observed cells + chi² over the marginal-product grid
    ma = jw.groupBy("window_id", "a").agg(F.sum("nab").alias("na"))
    mb = jw.groupBy("window_id", "b").agg(F.sum("nab").alias("nb"))
    tw = jw.groupBy("window_id").agg(
        F.sum("nab").alias("n"),
        F.countDistinct("a").cast("int").alias("ka"),
        F.countDistinct("b").cast("int").alias("kb"),
    )
    grid = (
        ma.join(mb, "window_id")
        .join(jw, ["window_id", "a", "b"], "left")
        .join(F.broadcast(tw), "window_id")
        .select(
            "window_id",
            F.coalesce(F.col("nab"), F.lit(0.0)).alias("nab"),
            "na", "nb", "n", "ka", "kb",
        )
    )
    nab, n = F.col("nab"), F.col("n")
    e = F.col("na") * F.col("nb") / n
    mi_cell = F.when(
        nab > 0, (nab / n) * F.log(nab * n / (F.col("na") * F.col("nb")))
    ).otherwise(0.0)
    kmin = F.least(F.max("ka"), F.max("kb"))
    per_w = grid.groupBy("window_id").agg(
        F.max(n).cast("long").alias("n"),
        F.sum(mi_cell).alias("mi"),
        F.when(
            kmin > 1,
            F.sqrt(F.sum((nab - e) * (nab - e) / e) / (F.max(n) * (kmin - 1).cast("double"))),
        ).alias("cramers_v"),
    )
    diff = F.abs(F.col("mi") - F.lit(ref_mi))
    out = per_w.select(
        "window_id",
        "n",
        "mi",
        F.lit(ref_mi).alias("ref_mi"),
        diff.alias("abs_diff"),
        "cramers_v",
        F.when(diff > max_abs_diff, "fail").otherwise("pass").alias("verdict"),
    )
    return out


def benford_digit_counts(df: DataFrame, col: str) -> DataFrame:
    """Benford first-significant-digit analyzer (classic data-audit /
    fraud-screen constraint; Great Expectations' distribution-shape family,
    public design): the observed first-digit distribution of a positive
    numeric column vs Benford's law p(d) = log10(1 + 1/d), with the per-digit
    chi² goodness-of-fit terms (sum them and apply kernels.chi2_sf at dof=8
    for the verdict — the p-value lives in the numpy kernel, the
    q_chi2_drift precedent: the incomplete-gamma SF is not relational).

    Naturally-grown magnitude data (payments, populations, file sizes)
    follows Benford; uniform or capped synthetic data does not — the check
    is a SHAPE constraint flagging fabricated or truncated feeds, not a
    value constraint.

    Scale shape: one filtered scan + one groupBy(digit) (≤9 groups,
    map-side partials), then the fixed 9-row digit grid (zero observed
    digits still carry expected mass — LEFT JOIN, the chi² grid rule) with
    a broadcast totals row. The first digit comes from a POWER-OF-TEN
    COMPARISON LADDER (magnitude = largest 10^k ≤ x, k ≤ 8), never
    floor(log10(x)): comparisons and one exact division are bitwise-stable
    across engines, while libm log10 can land a hair under an integer on
    one engine and flip the digit. Rows outside [1, 10^9) are excluded
    (documented domain; extend the ladder for wider magnitudes).

    Output: 9 rows (digit, observed, observed_p, benford_p, chi2_term),
    floats un-rounded. Oracle twin: q_benford."""
    x = F.col(col).cast("double")
    mag = F.lit(1.0)
    for k in range(1, 9):
        mag = F.when(x >= float(10 ** k), float(10 ** k)).otherwise(mag)
    # the digit-count frame is the shared child of the totals aggregate and
    # the grid join (unpersisted, the raw scan would execute twice); it
    # lives in the caller's persist scope
    d = scoped(
        df.filter(x.isNotNull() & (x >= 1.0) & (x < 1e9))
        .select(F.floor(x / mag).cast("long").alias("digit"))
        .groupBy("digit")
        .agg(F.count(F.lit(1)).cast("double").alias("o"))
        .persist()
    )
    spark = df.sparkSession
    digits = spark.range(1, 10).select(F.col("id").alias("digit"))
    tot = d.agg(F.sum("o").alias("n"))
    g = (
        digits.join(d, "digit", "left")
        .crossJoin(F.broadcast(tot))
        .select(
            "digit",
            F.coalesce(F.col("o"), F.lit(0.0)).alias("o"),
            "n",
            (F.log10(F.lit(1.0) + F.lit(1.0) / F.col("digit"))).alias("p"),
        )
    )
    o, n, p = F.col("o"), F.col("n"), F.col("p")
    return g.select(
        "digit",
        o.cast("long").alias("observed"),
        (o / n).alias("observed_p"),
        p.alias("benford_p"),
        ((o - n * p) * (o - n * p) / (n * p)).alias("chi2_term"),
    )


def referential_drift(
    df: DataFrame,
    key_col: str,
    dim: DataFrame,
    dim_key: str,
    window_col: str = "window_id",
    ref_filter=None,
    max_abs_jump: float = 0.05,
) -> DataFrame:
    """Per-window REFERENTIAL-integrity drift: each window's orphan rate
    (fraction of fact keys absent from the dimension) vs the reference
    windows' rate — the windowed-verdict form of the suite's one-shot
    referential check (north_star: 'phash referential checks against a
    broadcast reference set'; SURVEY.md §2.3 J4 anti-join family). A feed
    whose producer starts emitting unknown foreign keys shows up here
    window-by-window before any value constraint fires.

    NULL fact keys are EXCLUDED from both numerator and denominator (SQL
    FK semantics: NULL means "no reference", tracked by the completeness
    check, not a violation of this one).

    Scale shape: the dimension's distinct keys are broadcast (one tiny
    distinct + broadcast hash join — no fact shuffle; the suite's
    referential pattern); the fact table folds in ONE groupBy(window) pass
    to the O(windows) (n, orphans) frame, persisted because the reference
    rate folds from its SUMMED counts (_eager_reference contract: raises
    loudly on an empty reference). For dimensions too large to broadcast,
    pre-distinct and let AQE pick the join — the fold shape is unchanged.

    Verdict is ONE-SIDED: 'fail' iff rate − ref_rate > max_abs_jump (fewer
    orphans than the reference is an improvement, not drift). Output:
    (window_id, n, orphans, rate, ref_rate, verdict).
    Oracle twin: q_referential_drift."""
    keys = dim.select(F.col(dim_key).alias("_dk")).distinct()
    fact = df.filter(F.col(key_col).isNotNull())
    flagged = fact.join(
        F.broadcast(keys), fact[key_col] == F.col("_dk"), "left"
    )
    per_w = scoped(
        flagged.groupBy(F.col(window_col).alias("window_id"))
        .agg(
            F.count(F.lit(1)).cast("double").alias("n"),
            F.sum(F.col("_dk").isNull().cast("long")).cast("double").alias("orphans"),
        )
        .persist()
    )
    ref_row = _eager_reference(
        per_w,
        ref_filter,
        [F.sum("n").alias("n"), F.sum("orphans").alias("orphans")],
        "referential_drift",
    )
    ref_rate = float(ref_row["orphans"]) / max(float(ref_row["n"]), 1.0)
    rate = F.col("orphans") / F.col("n")
    return per_w.select(
        "window_id",
        F.col("n").cast("long").alias("n"),
        F.col("orphans").cast("long").alias("orphans"),
        rate.alias("rate"),
        F.lit(ref_rate).alias("ref_rate"),
        F.when(rate - F.lit(ref_rate) > max_abs_jump, "fail")
        .otherwise("pass")
        .alias("verdict"),
    )
