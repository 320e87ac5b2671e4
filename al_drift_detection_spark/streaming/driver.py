"""End-to-end STREAMING driver surface (`runner --stream`): drive the
closed-window verdict family (streaming/closed.py) over the images table as
a real Structured Streaming job with parquet sinks — the streaming twin of
the batch validation pass, runnable from the CLI rather than only from
pytest memory-sink harnesses.

The reference's detector is a windowed loop over an ever-growing corpus
(gan.py:737-757 votes when a window completes); its streaming analog is a
file-source feed whose event-time windows close at the watermark. The
images table is positional (part/window_id — FIXTURES.md §1), so this
driver mints a deterministic event time from the positional key:

    ts = BASE + window_id·W + (xxhash64(image_id) mod W) seconds

(W = --stream-window seconds). A positional window therefore maps 1:1 onto
the event-time tumbling window [BASE + id·W, BASE + (id+1)·W) — the
closed-window verdicts are keyed by the SAME row sets as the batch
operators, making the batch ≡ streaming contract directly checkable from
the CLI outputs (window_id = (window_start − BASE)/W).

Staging (bounded-run mode): each positional window is written as ONE
parquet file with strictly increasing mtimes, so `maxFilesPerTrigger=1`
replays the corpus window-by-window in event-time order — every real
window's close is triggered by the arrival of later files, and a final
one-row SENTINEL file (event time past the last window end + the watermark
delay) closes the tail windows. The sentinel's own window never closes and
emits nothing, exactly the tests' convention (tests/test_closed_windows.py).
Staging is how a BOUNDED table becomes a replayable feed for the CLI/e2e
check; a production deployment points `spark.readStream` at the live
Iceberg/file feed and skips it — the query graphs are identical.

Scale shape: staging is one repartition("_b") write (one task per window,
one file per window — O(windows) renames driver-side, no data through the
driver); every verdict stream runs the pre-reduced closed_multi plan
whose per-trigger state input is O(chunks) partials, not raw rows
(streaming/closed.py module docstring). References are the same
deterministic batch references (window_id < ref_windows) the batch pass
uses — a window's verdict never depends on other windows or on micro-batch
boundaries.
"""

from __future__ import annotations

import os
import shutil
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

BASE_TS = "2026-01-01 00:00:00"

STAGE_DDL = (
    "ts timestamp, image_id string, fmt string, caption string, w int, h int"
)


def mint_event_time(meta: DataFrame, window_seconds: int) -> DataFrame:
    """Deterministic event time from the positional window key (module
    docstring): every row of positional window k lands inside event-time
    window [BASE + k·W, BASE + (k+1)·W). Pure JVM column math."""
    base = F.unix_timestamp(F.lit(BASE_TS))
    offset = F.pmod(F.xxhash64(F.col("image_id")), F.lit(window_seconds))
    return meta.withColumn(
        "ts",
        F.timestamp_seconds(
            base + F.col("window_id").cast("long") * window_seconds + offset
        ),
    )


def stage_bounded_stream(
    meta: DataFrame, stage_dir: str, window_seconds: int, watermark_seconds: int
) -> int:
    """Stage the bounded images table as a replayable event-time feed: one
    parquet file per positional window (strictly increasing mtimes → file
    discovery order = event-time order) plus the far-future sentinel file
    that closes the tail windows. Returns the number of real windows.

    One repartition("_b") shuffle gives one task per window value, hence
    exactly one data file per `_b=N` directory; the driver then renames
    O(windows) files — never touching row data."""
    spark = meta.sparkSession
    shutil.rmtree(stage_dir, ignore_errors=True)
    tmp = stage_dir + "__parts"
    staged = mint_event_time(meta, window_seconds).select(
        "ts", "image_id", "fmt", "caption", "w", "h",
        F.col("window_id").alias("_b"),
    )
    staged.repartition("_b").write.mode("overwrite").partitionBy("_b").parquet(tmp)

    os.makedirs(stage_dir, exist_ok=True)
    wids = sorted(
        int(d.split("=", 1)[1]) for d in os.listdir(tmp) if d.startswith("_b=")
    )
    now = time.time()
    for i, wid in enumerate(wids):
        part_dir = os.path.join(tmp, f"_b={wid}")
        files = [f for f in os.listdir(part_dir) if f.endswith(".parquet")]
        for j, f in enumerate(files):  # one file per window by construction
            dst = os.path.join(stage_dir, f"batch_{wid:06d}_{j}.parquet")
            os.replace(os.path.join(part_dir, f), dst)
            # strictly increasing, all in the past — the sentinel written
            # below is naturally newest
            os.utime(dst, (now - len(wids) + i, now - len(wids) + i))
    shutil.rmtree(tmp, ignore_errors=True)

    n_windows = len(wids)
    if not wids:
        raise ValueError(
            "stage_bounded_stream: the input table produced no windows "
            "(zero rows?) — nothing to stream"
        )
    sentinel_ts = (max(wids) + 2) * window_seconds + watermark_seconds
    sentinel = spark.createDataFrame(
        [(None, "sentinel", "png", "x", 1, 1)], STAGE_DDL
    ).withColumn(
        "ts",
        F.timestamp_seconds(F.unix_timestamp(F.lit(BASE_TS)) + F.lit(sentinel_ts)),
    )
    sentinel.coalesce(1).write.mode("append").parquet(stage_dir)
    return n_windows


def build_references(
    meta: DataFrame,
    ref_windows: int,
    cat_cols: list[str],
    slice_pairs: list[tuple[str, str]] | None = None,
    cond_pairs: list[tuple[str, str]] | None = None,
) -> dict:
    """The deterministic references the batch pass uses (window_id <
    ref_windows), in the forms the closed-window builders take: quantile-grid
    samples for KS/PSI/MMD (drift.build_reference_sample — bounded,
    JVM-computed), per-window mean volume, null ratios, distinct ratio, and
    per-category proportions with NULL → '(null)' (categorical_drift's
    universe rule). One tiny agg per reference — O(ref windows) rows ever
    reach the driver."""
    from al_drift_detection_spark.drift import build_reference_sample

    # persisted: four bounded folds consume the reference projection (the
    # quantile grids, the volume/null/uniqueness/w-range agg, the
    # per-category counts, the fmt x w-bucket joint counts — plus the
    # optional sliced/cond builders) and each would otherwise re-scan the
    # full table for the reference windows' rows (r8; the
    # shared-expensive-child rule). All folds consume eagerly in this
    # function, so the persist is released before return.
    ref = meta.filter(F.col("window_id") < ref_windows).persist()
    samples = build_reference_sample(ref, ["w", "h"])

    # one job for the scalar references: volume, null ratio, distinct
    # ratio and the w range the association buckets are cut from
    agg = ref.agg(
        F.count(F.lit(1)).alias("n"),
        F.countDistinct("window_id").alias("nw"),
        F.avg(F.col("caption").isNull().cast("double")).alias("null_caption"),
        F.countDistinct("image_id").alias("n_ids"),
        F.min(F.col("w").cast("double")).alias("w_lo"),
        F.max(F.col("w").cast("double")).alias("w_hi"),
    ).collect()[0]
    refs = {
        "samples": samples,
        "volume": float(agg["n"]) / max(int(agg["nw"]), 1),
        "null_ratios": {"caption": float(agg["null_caption"])},
        "uniq_ratio": min(float(agg["n_ids"]) / max(int(agg["n"]), 1), 1.0),
        "cat_props": {},
    }
    for col in cat_cols:
        rows = (
            ref.groupBy(
                F.coalesce(F.col(col).cast("string"), F.lit("(null)")).alias("c")
            )
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        )
        total = sum(r["n"] for r in rows)
        refs["cat_props"][col] = {r["c"]: r["n"] / total for r in rows}

    # fmt × w-bucket association reference: universes fixed to the reference-
    # observed fmt categories + w quintile buckets of the REFERENCE-OBSERVED
    # w range (the reference-derived fixed-grid rule — the 0..10000
    # constraint grid would park every synthetic w in one bucket and make
    # the check vacuous: kb_eff = 1 → MI ≡ 0). Drift-era w past the
    # reference range clamps into the edge buckets, exactly like the
    # histogram store's grid saturation. Ref MI folds from the reference
    # windows' joint counts (lossless merge — the same number
    # health.association_drift would embed). O(grid) rows collected.
    import math

    w_lo = float(agg["w_lo"]) if agg["w_lo"] is not None else 0.0
    w_hi = float(agg["w_hi"]) if agg["w_hi"] is not None else w_lo + 1.0
    if w_hi <= w_lo:
        w_hi = w_lo + 1.0
    wb = _w_bucket_col(w_lo, w_hi)
    joint = (
        ref.groupBy(
            F.coalesce(F.col("fmt").cast("string"), F.lit("(null)")).alias("a"),
            # map outside the fixed bucket universe (a null w) to the same
            # '(other)' catch-all the stream-side builder uses
            F.when(wb.isin([str(i) for i in range(5)]), wb)
            .otherwise(F.lit("(other)"))
            .alias("b"),
        )
        .agg(F.count(F.lit(1)).cast("double").alias("nab"))
        .collect()
    )
    rt = sum(r["nab"] for r in joint)
    # per-slice drift drill-down references (slice_col, value_col) — the
    # batch twin's deterministic universe + grid + shares, folded by
    # functions/slices.build_sliced_reference (O(slices x bins) floats)
    refs["sliced"] = {}
    if slice_pairs:
        from al_drift_detection_spark.functions.slices import (
            build_sliced_reference,
        )

        for slice_col, value_col in slice_pairs:
            refs["sliced"][(slice_col, value_col)] = build_sliced_reference(
                ref, value_col, slice_col
            )
    # conditional-completeness references (cond_col, target_col) — the batch
    # twin's deterministic universe + per-category baselines, folded by
    # functions/health.build_conditional_completeness_reference
    refs["cond"] = {}
    if cond_pairs:
        from al_drift_detection_spark.functions.health import (
            build_conditional_completeness_reference,
        )

        for cond_col, target_col in cond_pairs:
            refs["cond"][(cond_col, target_col)] = (
                build_conditional_completeness_reference(
                    ref, cond_col, target_col
                )
            )

    rna: dict = {}
    rnb: dict = {}
    for r in joint:
        rna[r["a"]] = rna.get(r["a"], 0.0) + r["nab"]
        rnb[r["b"]] = rnb.get(r["b"], 0.0) + r["nab"]
    refs["assoc"] = {
        "cats_a": sorted(rna),
        "cats_b": [str(i) for i in range(5)],
        "w_lo": w_lo,
        "w_hi": w_hi,
        "ref_mi": sum(
            (r["nab"] / rt) * math.log(r["nab"] * rt / (rna[r["a"]] * rnb[r["b"]]))
            for r in joint
            if r["nab"] > 0
        ),
    }
    ref.unpersist()
    return refs


def _w_bucket_col(w_lo: float, w_hi: float):
    """The deterministic w bucket shared by the reference fold and the
    stream: quintiles of the reference-observed [w_lo, w_hi] range, clamped
    to buckets 0..4 so out-of-reference-range (drift-era) values land in
    the edge buckets ('(null)' for null w via the builder's coalesce
    rule)."""
    step = (w_hi - w_lo) / 5.0
    return F.coalesce(
        F.greatest(
            F.least(F.floor((F.col("w") - w_lo) / step), F.lit(4)), F.lit(0)
        )
        .cast("long")
        .cast("string"),
        F.lit("(null)"),
    )


def stream_specs(refs: dict, cat_cols: list[str]) -> list:
    """The CLI stream's verdict families as ClosedSpecs — ONE config list
    shared verbatim by the single-scan combined path the CLI runs
    (run_closed_streams_combined: every spec in one closed_multi query) and
    its share-nothing parity reference (run_closed_streams: one
    closed.closed query per spec), so the two cannot diverge on thresholds,
    universes, or references.
    Spec names are the sink directory names."""
    from al_drift_detection_spark.streaming import closed as C

    specs = [
        C.drift_scores_spec(["w", "h"], refs["samples"], name="stream_drift"),
        C.window_health_spec(
            refs["volume"], refs["null_ratios"], name="stream_health"
        ),
        C.window_uniqueness_spec(
            "image_id", refs["uniq_ratio"], name="stream_uniqueness"
        ),
        # the constraint grid (0..10000, the between-bound universe) — same
        # deterministic-reference rule as the batch --quantile-store surface
        C.window_quantiles_spec(
            "w", 0.0, 10000.0, [0.25, 0.5, 0.75, 0.95], n_bins=1024,
            name="stream_quantiles",
        ),
        # fmt × w-bucket joint-structure verdicts vs the reference MI (the
        # batch association_drift twin; w bucketed with the same expression
        # the reference fold used — minted on the stream by _with_bucket)
        C.association_drift_spec(
            "fmt", "w_bucket", refs["assoc"]["cats_a"], refs["assoc"]["cats_b"],
            refs["assoc"]["ref_mi"], name="stream_association",
        ),
        # per-window heavy hitters (Misra-Gries closed windows; fmt's tiny
        # universe keeps it exact here — the k bound matters for the
        # high-cardinality columns a deployment points it at)
        C.frequent_items_spec("fmt", k=8, top=5, name="stream_frequent"),
    ]
    for col in cat_cols:
        specs.append(
            C.cat_drift_spec(
                col, refs["cat_props"][col], name=f"stream_cat_drift_{col}"
            )
        )
    for (slice_col, value_col), cfg in refs.get("sliced", {}).items():
        specs.append(
            C.sliced_drift_spec(
                value_col, slice_col, cfg,
                name=f"stream_slice_drift_{slice_col}_{value_col}",
            )
        )
    for (cond_col, target_col), cfg in refs.get("cond", {}).items():
        specs.append(
            C.conditional_completeness_spec(
                cond_col, target_col, cfg, threshold=0.1, min_rows=50,
                name=f"stream_cond_completeness_{cond_col}_{target_col}",
            )
        )
    return specs


def _with_bucket(df: DataFrame, refs: dict) -> DataFrame:
    return df.withColumn(
        "w_bucket", _w_bucket_col(refs["assoc"]["w_lo"], refs["assoc"]["w_hi"])
    )


def _stream_state_partitions(
    spark: SparkSession, n_concurrent: int
) -> int | None:
    """Shuffle/state partition count for the closed-window verdict streams
    (guide §2.2: size partitions by data, not task count). The stateful
    stage's per-trigger input is O(specs × windows-per-trigger) KB-sized
    PARTIAL rows — thousands of bytes where one partition wants 100 MB+ —
    so per-partition fixed costs dominate: every trigger pays one task
    launch, one fresh Python worker (spark.python.worker.reuse=false, a
    measured hard constraint for the batch pandas-UDF jobs — a warm fork
    of worker_daemon, which already holds pandas and pyarrow, not a cold
    interpreter import), and one state-store commit PER PARTITION PER
    QUERY. Measured at 1M rows /
    500 windows / 7 share-nothing queries on local[32]: 59.7 s at 32
    state partitions → 25.9 s at 4 — identical verdict rows.

    Scale-adaptive rule, not a local constant: N concurrently-running
    queries divide the session's shuffle-partition budget, floor 4 (the
    fold stays parallel). spark.sql.shuffle.partitions is the one
    deployment knob: a deployment with orders of magnitude more in-flight
    windows per trigger raises it and this scales with it. Returns None
    when the budget is unparseable (leave the conf alone).
    """
    try:
        budget = int(spark.conf.get("spark.sql.shuffle.partitions"))
    except Exception:
        return None
    return max(4, budget // max(1, n_concurrent))


class _state_partition_conf:
    """Temporarily pin spark.sql.shuffle.partitions while the closed-window
    streaming queries plan their first micro-batch (the state partition
    count is read from the conf at first-batch planning and then pinned in
    the checkpoint for the query's lifetime); restored on exit so batch
    queries in the same session are untouched."""

    def __init__(self, spark: SparkSession, n_concurrent: int):
        self.spark = spark
        self.parts = _stream_state_partitions(spark, n_concurrent)

    def __enter__(self):
        if self.parts is not None:
            self.saved = self.spark.conf.get("spark.sql.shuffle.partitions")
            self.spark.conf.set("spark.sql.shuffle.partitions", str(self.parts))
        return self

    def __exit__(self, *exc):
        if self.parts is not None:
            self.spark.conf.set("spark.sql.shuffle.partitions", self.saved)
        return False


def run_closed_streams(
    spark: SparkSession,
    stage_dir: str,
    out_dir: str,
    refs: dict,
    cat_cols: list[str],
    window_seconds: int = 300,
    watermark: str = "60 seconds",
    files_per_trigger: int = 1,
    slide_seconds: int | None = None,
) -> dict[str, int]:
    """Run the closed-window verdict streams over the staged feed with
    parquet sinks + checkpoints, availableNow-bounded; returns per-table
    emitted-window row counts. Each family is its own query
    (closed.closed — the one-spec form of the same closed_multi runner the
    combined mode uses) reading the file source independently
    (share-nothing), so a failed sink resumes from its own checkpoint
    without touching the others — the streaming analog of the batch
    checkpoint's per-partition resume. N families therefore cost N corpus
    scans; run_closed_streams_combined is the single-scan mode the CLI
    runs, and this mode is its parity reference."""
    from al_drift_detection_spark.streaming.closed import closed

    window = f"{window_seconds} seconds"
    slide = f"{slide_seconds} seconds" if slide_seconds else None

    def src():
        return _with_bucket(
            spark.readStream.schema(STAGE_DDL)
            .option("maxFilesPerTrigger", files_per_trigger)
            .parquet(stage_dir),
            refs,
        )

    specs = stream_specs(refs, cat_cols)
    outs = {
        spec.name: closed(src(), "ts", spec, window, watermark, slide)
        for spec in specs
    }

    # N concurrent queries share the shuffle-partition budget — see
    # _stream_state_partitions (the conf is read at first-batch planning,
    # so it wraps the starts AND the awaits; availableNow queries terminate
    # inside the block)
    with _state_partition_conf(spark, len(specs)):
        queries = []
        for name, df in outs.items():
            queries.append(
                df.writeStream.outputMode("append")
                .format("parquet")
                .option("path", f"{out_dir}/{name}")
                .option("checkpointLocation", f"{out_dir}/stream_ckpt/{name}")
                .trigger(availableNow=True)
                .start()
            )
        for q in queries:
            q.awaitTermination()

    return {
        name: spark.read.parquet(f"{out_dir}/{name}").count() for name in outs
    }


def run_closed_streams_combined(
    spark: SparkSession,
    stage_dir: str,
    out_dir: str,
    refs: dict,
    cat_cols: list[str],
    window_seconds: int = 300,
    watermark: str = "60 seconds",
    files_per_trigger: int = 1,
    slide_seconds: int | None = None,
) -> dict[str, int]:
    """SINGLE-SCAN mode (VERDICT r6 Next #1): every verdict family in ONE
    streaming query over ONE read of the feed — one projection, one
    mapInPandas pre-reducer emitting `_check`-tagged partials for all
    families per chunk, one stateful dispatcher (closed.closed_multi), one
    trigger sequence. The generic long-format sink (`stream_combined/`) is
    then split — a deterministic batch projection over the tiny verdict
    rows — into the SAME per-family directories run_closed_streams writes,
    with identical schemas and rows (parity pinned in
    tests/test_closed_combined.py). The reference analog: the detector
    scores ALL features in one window pass (gan.py:730-735). This is the
    path `runner --stream` runs.

    A family that raises fails only its own windows: each closes with one
    'error' row (closed.closed_multi's fault isolation) and every other
    family's sink is that of a clean run, so one checkpoint for all
    families costs no isolation."""
    from al_drift_detection_spark.streaming.closed import closed_multi, split_closed

    specs = stream_specs(refs, cat_cols)
    src = _with_bucket(
        spark.readStream.schema(STAGE_DDL)
        .option("maxFilesPerTrigger", files_per_trigger)
        .parquet(stage_dir),
        refs,
    )
    generic = closed_multi(
        src, "ts", specs,
        window=f"{window_seconds} seconds", watermark=watermark,
        slide=f"{slide_seconds} seconds" if slide_seconds else None,
    )
    # ONE query, HALF the shuffle-partition budget (n_concurrent=2 in the
    # _stream_state_partitions formula): the dispatcher's per-trigger input is KB-sized
    # partials, so per-partition fixed costs (task launch + fresh Python
    # worker + state-store commit, every trigger) dominate — but unlike a
    # share-nothing query it folds EVERY family's state, so it needs more
    # width than budget//N. Measured A/B (identical verdict rows),
    # stream-only wall: 10M rows/5000 windows — 32 parts 212.6 s,
    # 16 → 151.3 s, 8 → 176.9 s; 1M rows/500 windows — 32 → 31.5 s,
    # 16 → 18-21 s, 8 → 20-23 s, 4 → 31-35 s. budget//2 is the optimum at
    # both scales and stays scale-adaptive (follows
    # spark.sql.shuffle.partitions on a cluster).
    with _state_partition_conf(spark, 2):
        q = (
            generic.writeStream.outputMode("append")
            .format("parquet")
            .option("path", f"{out_dir}/stream_combined")
            .option("checkpointLocation", f"{out_dir}/stream_ckpt/stream_combined")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    # every family's row count from one groupBy over the generic sink:
    # split_closed filters on `check` and projects, so a family directory
    # holds exactly its check's rows
    gen = spark.read.parquet(f"{out_dir}/stream_combined")
    n_rows = {r["check"]: r["count"] for r in gen.groupBy("check").count().collect()}
    for spec in specs:
        split_closed(gen, spec).write.mode("overwrite").parquet(
            f"{out_dir}/{spec.name}"
        )
    return {spec.name: n_rows.get(spec.name, 0) for spec in specs}


def stream_series(
    spark: SparkSession, out_dir: str, window_seconds: int
) -> list[tuple[str, str, str, DataFrame]]:
    """The per-window metric series the sequential detectors read from the
    closed-window sinks (`runner --stream --changepoint` / `--trend`), as
    (signal, column, metric, frame) with frame = (window_id, x): the
    volume series (stream_health n_rows, one per window) and each drift
    column's KS statistic (stream_drift). A failed window's 'error' row
    carries no metric and stays out of the series."""
    wid = (
        (F.unix_timestamp("window_start") - F.unix_timestamp(F.lit(BASE_TS)))
        / window_seconds
    ).cast("long").alias("window_id")
    volume = (
        spark.read.parquet(f"{out_dir}/stream_health")
        .filter(~F.col("verdict").eqNullSafe("error"))
        .select(wid, F.col("n_rows").cast("double").alias("x"))
        .distinct()  # one n_rows per window, repeated across checks
    )
    # error rows have a NULL kernel, so the KS filter already drops them
    ks = spark.read.parquet(f"{out_dir}/stream_drift").filter(F.col("kernel") == "ks")
    return [("volume", "volume", "n_rows", volume)] + [
        (f"ks:{c}", c, "ks_stat",
         ks.filter(F.col("column") == c).select(wid, F.col("statistic").alias("x")))
        for c in ("w", "h")
    ]
