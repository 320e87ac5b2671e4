"""Closed-window streaming verdicts (streaming/closed.py, VERDICT r4 item 5):
a window SPLIT across micro-batches emits exactly ONE verdict at watermark
close, equal to the batch operator over the window's full row set."""

from __future__ import annotations

import time

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

BASE = pd.Timestamp("2026-01-01 00:00:00")


def _write_batches(spark, inp, frames, schema=None):
    """Write each pandas frame as one parquet file (→ one micro-batch with
    maxFilesPerTrigger=1), with strictly increasing mtimes so file-discovery
    order matches write order. `schema` avoids inference on all-null
    fragments (an all-None pandas column would otherwise land as BOOLEAN)."""
    for i, pdf in enumerate(frames):
        df = spark.createDataFrame(pdf, schema) if schema else spark.createDataFrame(pdf)
        (
            df.withColumn("ts", F.col("ts").cast("timestamp"))
            .coalesce(1)
            .write.mode("append" if i else "overwrite")
            .parquet(inp)
        )
        time.sleep(0.05)


def _run_stream(out_df, name):
    q = (
        out_df.writeStream.outputMode("append")
        .format("memory")
        .queryName(name)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)


def test_closed_cat_drift_split_window_parity(spark, tmp_path_factory):
    """Window W1 (00:00-00:05) is split across TWO micro-batches with a
    shifted category mix in the second fragment; a third batch advances the
    watermark past W1's end. Exactly one verdict row appears for W1 and its
    (n, chi2_stat, p, verdict) equal drift.categorical_drift on W1's full
    row set."""
    from al_drift_detection_spark.drift import categorical_drift
    from al_drift_detection_spark.streaming.closed import cat_drift_spec, closed

    inp = str(tmp_path_factory.mktemp("ccd") / "in")
    rng = np.random.default_rng(23)
    ref_props = {"png": 0.5, "jpeg": 0.4, "bmp": 0.1}

    def frag(n, offset_s, probs):
        return pd.DataFrame({
            "ts": [BASE + pd.Timedelta(seconds=int(offset_s + s)) for s in
                   rng.integers(0, 120, n)],
            "fmt": rng.choice(["png", "jpeg", "bmp", "webp"], n, p=probs),
        })

    # fragment A (00:00-00:02): reference-like; fragment B (00:02-00:04):
    # heavy webp (a category the reference never listed → '(other)' mass)
    fa = frag(400, 0, [0.5, 0.4, 0.1, 0.0])
    fb = frag(400, 120, [0.1, 0.1, 0.1, 0.7])
    sentinel = pd.DataFrame({"ts": [BASE + pd.Timedelta(hours=1)], "fmt": ["png"]})

    _write_batches(spark, inp, [fa, fb, sentinel])
    stream = (
        spark.readStream.schema("ts timestamp, fmt string")
        .option("maxFilesPerTrigger", 1)
        .parquet(inp)
    )
    out = closed(
        stream, "ts", cat_drift_spec("fmt", ref_props),
        window="5 minutes", watermark="1 minute",
    )
    _run_stream(out, "ccd_out")
    got = spark.sql("SELECT * FROM ccd_out").toPandas()

    # ONE verdict, for W1 only (the sentinel's window never closes)
    assert len(got) == 1
    assert got.loc[0, "window_start"] == BASE
    assert got.loc[0, "n"] == 800

    # batch twin over the SAME full window rows
    full = pd.concat([fa, fb])
    batch = categorical_drift(
        spark.createDataFrame(full).withColumn("window_id", F.lit(0)),
        "fmt", ref_props, window_col="window_id",
    ).toPandas()
    assert got.loc[0, "verdict"] == batch.loc[0, "verdict"] == "fail"
    assert got.loc[0, "dof"] == batch.loc[0, "dof"]
    assert got.loc[0, "chi2_stat"] == pytest.approx(batch.loc[0, "chi2_stat"], rel=1e-9)
    assert got.loc[0, "p_value"] == pytest.approx(batch.loc[0, "p_value"], abs=1e-12)


def test_closed_window_health_split_window_parity(spark, tmp_path_factory):
    """Same split-window setup for volume + completeness: one close-time
    verdict per window, equal to the batch health operators with the same
    fixed references — including a fragment pattern where EACH fragment alone
    would verdict differently than the whole window (fragment A all-null,
    fragment B clean: per-fragment scoring fails A and passes B; the closed
    window sees the true 50% ratio)."""
    from al_drift_detection_spark.functions.health import (
        completeness_drift,
        volume_anomaly,
    )
    from al_drift_detection_spark.streaming.closed import closed, window_health_spec

    inp = str(tmp_path_factory.mktemp("cwh") / "in")
    rng = np.random.default_rng(31)

    def frag(n, offset_s, caption):
        return pd.DataFrame({
            "ts": [BASE + pd.Timedelta(seconds=int(offset_s + s)) for s in
                   rng.integers(0, 120, n)],
            "caption": [caption] * n,
        })

    fa = frag(300, 0, None)       # all-null fragment
    fb = frag(300, 120, "ok")     # clean fragment
    sentinel = pd.DataFrame({"ts": [BASE + pd.Timedelta(hours=1)], "caption": ["x"]})
    _write_batches(
        spark, inp, [fa, fb, sentinel], schema="ts timestamp, caption string"
    )

    stream = (
        spark.readStream.schema("ts timestamp, caption string")
        .option("maxFilesPerTrigger", 1)
        .parquet(inp)
    )
    out = closed(
        stream, "ts",
        window_health_spec(600.0, {"caption": 0.4}, threshold=0.05),
        window="5 minutes", watermark="1 minute",
    )
    _run_stream(out, "cwh_out")
    got = spark.sql("SELECT * FROM cwh_out").toPandas()

    assert len(got) == 2  # one volume + one completeness row, W1 only
    vol = got[got["check"] == "volume"].iloc[0]
    comp = got[got["check"] == "completeness"].iloc[0]
    assert vol["n_rows"] == 600 and comp["n_rows"] == 600
    assert comp["column"] == "caption"

    full = spark.createDataFrame(
        pd.concat([fa, fb]), "ts timestamp, caption string"
    ).withColumn("window_id", F.lit(0))
    bvol = volume_anomaly(full, "window_id", ref_mean=600.0).toPandas().iloc[0]
    assert vol["metric"] == pytest.approx(bvol["ratio"], abs=1e-9)
    assert vol["verdict"] == bvol["verdict"] == "pass"
    bcomp = completeness_drift(
        full, ["caption"], "window_id", ref_ratios={"caption": 0.4},
        threshold=0.05,
    ).toPandas().iloc[0]
    # whole-window ratio 0.5 vs ref 0.4 → within threshold-fail boundary:
    # 0.5 − 0.4 > 0.05 → fail in BOTH engines (a per-fragment scorer would
    # have said fail(1.0) then pass(0.0) — two irreconcilable verdicts)
    assert comp["metric"] == pytest.approx(bcomp["null_ratio"], abs=1e-9)
    assert comp["verdict"] == bcomp["verdict"] == "fail"


def test_closed_drift_scores_split_window_parity(spark, tmp_path_factory):
    """The KS/PSI/MMD trio + vote at window close: a window split across two
    micro-batches (clean first fragment, shifted second — each fragment alone
    would verdict differently) emits one verdict set equal to
    drift.drift_scores over the window's full rows."""
    from al_drift_detection_spark.drift import drift_scores
    from al_drift_detection_spark.streaming.closed import closed, drift_scores_spec

    inp = str(tmp_path_factory.mktemp("cds") / "in")
    rng = np.random.default_rng(41)
    ref = {"v": rng.standard_normal(1000)}

    def frag(n, offset_s, mu):
        return pd.DataFrame({
            "ts": [BASE + pd.Timedelta(seconds=int(offset_s + s)) for s in
                   rng.integers(0, 120, n)],
            "v": rng.normal(mu, 1.0, n),
        })

    fa = frag(500, 0, 0.0)     # clean fragment — alone it would PASS
    fb = frag(500, 120, 3.0)   # shifted fragment — whole window must FAIL
    sentinel = pd.DataFrame({"ts": [BASE + pd.Timedelta(hours=1)], "v": [0.0]})
    _write_batches(spark, inp, [fa, fb, sentinel], schema="ts timestamp, v double")

    stream = (
        spark.readStream.schema("ts timestamp, v double")
        .option("maxFilesPerTrigger", 1)
        .parquet(inp)
    )
    advisory = ("wasserstein", "js", "cvm", "ad")
    out = closed(
        stream, "ts", drift_scores_spec(["v"], ref, extra_kernels=advisory),
        window="5 minutes", watermark="1 minute",
    )
    _run_stream(out, "cds_out")
    got = spark.sql("SELECT * FROM cds_out").toPandas().set_index("kernel")

    assert len(got) == 8  # ks/psi/mmd/vote + the 4 advisory rows
    assert (got["n_rows"] == 1000).all()
    assert got.loc["vote", "verdict"] == "fail"

    batch = (
        drift_scores(
            spark.createDataFrame(pd.concat([fa, fb]), "ts timestamp, v double")
            .select(F.lit(0).alias("part"), F.lit(0).alias("window_id"), "v"),
            ["v"], ref, extra_kernels=advisory,
        )
        .toPandas()
        .set_index("kernel")
    )
    for k in ("ks", "psi", "vote", *advisory):
        assert got.loc[k, "verdict"] == batch.loc[k, "verdict"], k
        assert got.loc[k, "statistic"] == pytest.approx(
            batch.loc[k, "statistic"], rel=1e-9
        ), k
    # MMD subsamples per side — same multiset, FP order may differ slightly
    assert got.loc["mmd_rbf", "statistic"] == pytest.approx(
        batch.loc["mmd_rbf", "statistic"], rel=1e-6
    )
    assert got.loc["mmd_rbf", "verdict"] == batch.loc["mmd_rbf", "verdict"]


def test_closed_cat_drift_nonstring_category_parity(spark, tmp_path_factory):
    """A BOOLEAN categorical column must bucket identically in the closed
    and batch operators: Spark casts true→'true' while Python str() gives
    'True' — a Python-side stringification would dump every row into the
    eps catch-all and fail every window (review-caught divergence)."""
    from al_drift_detection_spark.drift import categorical_drift
    from al_drift_detection_spark.streaming.closed import cat_drift_spec, closed

    inp = str(tmp_path_factory.mktemp("ccb") / "in")
    rng = np.random.default_rng(53)
    ref_props = {"true": 0.7, "false": 0.3}  # Spark cast-to-string keys

    def frag(n, offset_s):
        return pd.DataFrame({
            "ts": [BASE + pd.Timedelta(seconds=int(offset_s + s)) for s in
                   rng.integers(0, 120, n)],
            "flag": rng.random(n) < 0.7,
        })

    fa, fb = frag(300, 0), frag(300, 120)
    sentinel = pd.DataFrame({"ts": [BASE + pd.Timedelta(hours=1)], "flag": [True]})
    _write_batches(spark, inp, [fa, fb, sentinel], schema="ts timestamp, flag boolean")

    stream = (
        spark.readStream.schema("ts timestamp, flag boolean")
        .option("maxFilesPerTrigger", 1)
        .parquet(inp)
    )
    out = closed(
        stream, "ts", cat_drift_spec("flag", ref_props),
        window="5 minutes", watermark="1 minute",
    )
    _run_stream(out, "ccb_out")
    got = spark.sql("SELECT * FROM ccb_out").toPandas()
    assert len(got) == 1

    batch = categorical_drift(
        spark.createDataFrame(pd.concat([fa, fb]), "ts timestamp, flag boolean")
        .withColumn("window_id", F.lit(0)),
        "flag", ref_props, window_col="window_id",
    ).toPandas()
    # parity on the statistic proves the rows bucketed into the SAME
    # reference categories (all-'(other)' bucketing would give a huge stat)
    assert got.loc[0, "verdict"] == batch.loc[0, "verdict"] == "pass"
    assert got.loc[0, "chi2_stat"] == pytest.approx(batch.loc[0, "chi2_stat"], rel=1e-9)


def test_closed_window_uniqueness_split_window_parity(spark, tmp_path_factory):
    """KMV uniqueness at window close: a duplicate SURGE arriving in the
    second fragment of a split window is judged on the window's whole key
    set — under-k windows report the EXACT distinct count, matching
    health.uniqueness_drift(approx=False) on the same rows."""
    from al_drift_detection_spark.functions.health import uniqueness_drift
    from al_drift_detection_spark.persist import persist_scope
    from al_drift_detection_spark.streaming.closed import (
        closed,
        window_uniqueness_spec,
    )

    inp = str(tmp_path_factory.mktemp("cwu") / "in")
    rng = np.random.default_rng(59)

    def frag(keys, offset_s):
        return pd.DataFrame({
            "ts": [BASE + pd.Timedelta(seconds=int(offset_s + s)) for s in
                   rng.integers(0, 120, len(keys))],
            "image_id": keys,
        })

    fa = frag([f"img{i}" for i in range(400)], 0)            # all unique
    fb = frag(["dup"] * 400, 120)                            # re-ingested shard
    sentinel = pd.DataFrame({"ts": [BASE + pd.Timedelta(hours=1)], "image_id": ["x"]})
    _write_batches(spark, inp, [fa, fb, sentinel], schema="ts timestamp, image_id string")

    stream = (
        spark.readStream.schema("ts timestamp, image_id string")
        .option("maxFilesPerTrigger", 1)
        .parquet(inp)
    )
    out = closed(
        stream, "ts",
        window_uniqueness_spec("image_id", ref_ratio=0.99, threshold=0.1),
        window="5 minutes", watermark="1 minute",
    )
    _run_stream(out, "cwu_out")
    got = spark.sql("SELECT * FROM cwu_out").toPandas()

    assert len(got) == 1
    assert got.loc[0, "n_rows"] == 800
    assert got.loc[0, "n_distinct"] == 401  # EXACT under k
    assert got.loc[0, "verdict"] == "fail"  # ratio ~0.5 vs ref 0.99

    full = spark.createDataFrame(
        pd.concat([fa, fb]), "ts timestamp, image_id string"
    ).withColumn("window_id", F.lit(0))
    with persist_scope():
        bframe = uniqueness_drift(
            full, "image_id", "window_id", ref_ratio=0.99, threshold=0.1,
            approx=False,
        )
        batch = bframe.toPandas().iloc[0]
    assert got.loc[0, "n_distinct"] == batch["n_distinct"]
    assert got.loc[0, "ratio"] == pytest.approx(batch["ratio"], abs=1e-9)
    assert got.loc[0, "verdict"] == batch["verdict"]


def test_closed_window_uniqueness_over_k_estimator(spark, tmp_path_factory):
    """Above k distinct keys the KMV estimator kicks in: estimate within the
    documented ~1/√(k−2) band (generous 5σ bound here) and the noise-band
    threshold guard rejects too-tight thresholds."""
    import pytest as _pytest

    from al_drift_detection_spark.streaming.closed import (
        closed,
        window_uniqueness_spec,
    )

    with _pytest.raises(ValueError, match="noise band"):
        window_uniqueness_spec("k", ref_ratio=0.9, k=256, threshold=0.01)

    inp = str(tmp_path_factory.mktemp("cwk") / "in")
    rng = np.random.default_rng(61)
    n = 5000
    fa = pd.DataFrame({
        "ts": [BASE + pd.Timedelta(seconds=int(s)) for s in rng.integers(0, 240, n)],
        "image_id": [f"k{i}" for i in range(n)],  # all distinct, n >> k
    })
    sentinel = pd.DataFrame({"ts": [BASE + pd.Timedelta(hours=1)], "image_id": ["x"]})
    _write_batches(spark, inp, [fa, sentinel], schema="ts timestamp, image_id string")

    stream = (
        spark.readStream.schema("ts timestamp, image_id string")
        .option("maxFilesPerTrigger", 1)
        .parquet(inp)
    )
    out = closed(
        stream, "ts",
        window_uniqueness_spec("image_id", ref_ratio=0.9, threshold=0.35, k=256),
        window="5 minutes", watermark="1 minute",
    )
    _run_stream(out, "cwk_out")
    got = spark.sql("SELECT * FROM cwk_out").toPandas()
    assert len(got) == 1
    est = got.loc[0, "n_distinct"]
    assert abs(est - n) / n < 5.0 / (254 ** 0.5)  # ~31% worst-case band
    assert got.loc[0, "verdict"] == "pass"


def test_closed_window_uniqueness_null_keys_match_batch(spark, tmp_path_factory):
    """NULL keys: counted in n_rows, excluded from n_distinct — exactly the
    batch count(1)/count_distinct semantics (xxhash64(NULL) returns the
    SEED, so without the explicit NULL guard every null-key row would fold
    into one phantom distinct key; review-caught parity break)."""
    from al_drift_detection_spark.functions.health import uniqueness_drift
    from al_drift_detection_spark.streaming.closed import (
        closed,
        window_uniqueness_spec,
    )

    inp = str(tmp_path_factory.mktemp("cwn") / "in")
    rng = np.random.default_rng(67)
    keys = [f"img{i}" for i in range(10)] + [None] * 10
    fa = pd.DataFrame({
        "ts": [BASE + pd.Timedelta(seconds=int(s)) for s in rng.integers(0, 240, 20)],
        "image_id": keys,
    })
    sentinel = pd.DataFrame({"ts": [BASE + pd.Timedelta(hours=1)], "image_id": ["x"]})
    _write_batches(spark, inp, [fa, sentinel], schema="ts timestamp, image_id string")

    stream = (
        spark.readStream.schema("ts timestamp, image_id string")
        .option("maxFilesPerTrigger", 1)
        .parquet(inp)
    )
    out = closed(
        stream, "ts",
        window_uniqueness_spec("image_id", ref_ratio=0.6, threshold=0.05),
        window="5 minutes", watermark="1 minute",
    )
    _run_stream(out, "cwn_out")
    got = spark.sql("SELECT * FROM cwn_out").toPandas()
    assert len(got) == 1
    assert got.loc[0, "n_rows"] == 20
    assert got.loc[0, "n_distinct"] == 10  # NULLs excluded, not one phantom key

    full = spark.createDataFrame(fa, "ts timestamp, image_id string").withColumn(
        "window_id", F.lit(0)
    )
    batch = uniqueness_drift(
        full, "image_id", "window_id", ref_ratio=0.6, threshold=0.05,
        approx=False,
    ).toPandas().iloc[0]
    assert got.loc[0, "n_distinct"] == batch["n_distinct"]
    assert got.loc[0, "ratio"] == pytest.approx(batch["ratio"], abs=1e-9)
    # 0.6 - 0.5 = 0.1 > 0.05 → both fail (the phantom-key bug said 'pass')
    assert got.loc[0, "verdict"] == batch["verdict"] == "fail"


def test_closed_drift_scores_over_cap_fragment_volume(spark, tmp_path_factory):
    """Fragment-volume stress (VERDICT r5 item 1): a window far above the
    2·max_n state cap, split across two fat micro-batches. The pre-reducer
    bounds what reaches the state task (plan-pinned in test_plans.py); here
    we pin that the over-cap merge path still reports the TRUE n_rows and
    agrees with the batch twin's verdicts on an unambiguous shift."""
    from al_drift_detection_spark.drift import drift_scores
    from al_drift_detection_spark.streaming.closed import closed, drift_scores_spec

    inp = str(tmp_path_factory.mktemp("cds_big") / "in")
    rng = np.random.default_rng(71)
    ref = {"v": rng.standard_normal(2000)}
    n_half = 15000  # window total 30k >> state cap 4096

    def frag(n, offset_s, mu):
        return pd.DataFrame({
            "ts": [BASE + pd.Timedelta(seconds=int(offset_s + s)) for s in
                   rng.integers(0, 120, n)],
            "v": rng.normal(mu, 1.0, n),
        })

    fa = frag(n_half, 0, 2.0)
    fb = frag(n_half, 120, 2.0)  # whole window shifted +2σ → must FAIL
    sentinel = pd.DataFrame({"ts": [BASE + pd.Timedelta(hours=1)], "v": [0.0]})
    _write_batches(spark, inp, [fa, fb, sentinel], schema="ts timestamp, v double")

    stream = (
        spark.readStream.schema("ts timestamp, v double")
        .option("maxFilesPerTrigger", 1)
        .parquet(inp)
    )
    out = closed(
        stream, "ts", drift_scores_spec(["v"], ref),
        window="5 minutes", watermark="1 minute",
    )
    _run_stream(out, "cds_big_out")
    got = spark.sql("SELECT * FROM cds_big_out").toPandas().set_index("kernel")

    assert len(got) == 4
    assert (got["n_rows"] == 2 * n_half).all()  # TRUE size, not the bounded sample

    batch = (
        drift_scores(
            spark.createDataFrame(pd.concat([fa, fb]), "ts timestamp, v double")
            .select(F.lit(0).alias("part"), F.lit(0).alias("window_id"), "v"),
            ["v"], ref,
        )
        .toPandas()
        .set_index("kernel")
    )
    # over-cap: the closed path scores an even-stride bounded sample, the
    # batch path its own bounded sample — verdicts must agree on a clear
    # +2σ shift, statistics within sampling tolerance
    for k in ("ks", "psi", "mmd_rbf", "vote"):
        assert got.loc[k, "verdict"] == batch.loc[k, "verdict"], k
    assert got.loc["vote", "verdict"] == "fail"
    assert got.loc["ks", "statistic"] == pytest.approx(
        batch.loc["ks", "statistic"], abs=0.05
    )


def test_closed_sliding_windows_health(spark, tmp_path_factory):
    """slide < window makes the closed family SLIDING (streaming twin of
    the batch W8 sliding shape): every overlapping window instance closes
    independently with exact counts over ITS full row set — rows planted in
    three 2-minute lanes must appear in both 4-minute windows covering each
    lane."""
    from al_drift_detection_spark.streaming.closed import closed, window_health_spec

    inp = str(tmp_path_factory.mktemp("slide") / "in")

    def lane(offset_s, n, n_null):
        return pd.DataFrame({
            "ts": [BASE + pd.Timedelta(seconds=offset_s + 2 * i) for i in range(n)],
            "caption": [None if i < n_null else f"c{i}" for i in range(n)],
        })

    frames = [lane(0, 10, 2), lane(120, 20, 5), lane(240, 30, 0)]
    sentinel = pd.DataFrame({"ts": [BASE + pd.Timedelta(hours=1)], "caption": ["x"]})
    _write_batches(
        spark, inp, frames + [sentinel], schema="ts timestamp, caption string"
    )
    stream = (
        spark.readStream.schema("ts timestamp, caption string")
        .option("maxFilesPerTrigger", 1)
        .parquet(inp)
    )
    out = closed(
        stream, "ts", window_health_spec(30.0, {"caption": 0.0}),
        window="4 minutes", watermark="1 minute", slide="2 minutes",
    )
    _run_stream(out, "slide_out")
    got = spark.sql("SELECT * FROM slide_out").toPandas()

    vol = got[got["check"] == "volume"].set_index("window_start")
    # four closed window instances, each the union of its two 2-min lanes
    want_n = {
        BASE - pd.Timedelta(minutes=2): 10,
        BASE: 30,
        BASE + pd.Timedelta(minutes=2): 50,
        BASE + pd.Timedelta(minutes=4): 30,
    }
    assert {k: int(v) for k, v in vol["n_rows"].items()} == want_n
    assert vol.loc[BASE - pd.Timedelta(minutes=2), "verdict"] == "fail"  # 10/30
    assert (vol.loc[list(want_n)[1:], "verdict"] == "pass").all()

    comp = got[got["check"] == "completeness"].set_index("window_start")
    want_ratio = {
        BASE - pd.Timedelta(minutes=2): 0.2,
        BASE: round(7 / 30, 6),
        BASE + pd.Timedelta(minutes=2): 0.1,
        BASE + pd.Timedelta(minutes=4): 0.0,
    }
    assert {k: float(v) for k, v in comp["metric"].items()} == want_ratio
    assert comp.loc[BASE + pd.Timedelta(minutes=4), "verdict"] == "pass"
    assert (comp.drop(BASE + pd.Timedelta(minutes=4))["verdict"] == "fail").all()


def test_closed_window_quantiles_split_window_parity(spark, tmp_path_factory):
    """Window W1's rows are split across two micro-batches (with NULLs and
    out-of-grid values planted); one quantile row set appears at close and
    equals histograms.histogram_quantiles over W1's full row set."""
    from al_drift_detection_spark.functions.histograms import (
        histogram_quantiles,
        window_histograms,
    )
    from al_drift_detection_spark.streaming.closed import (
        closed,
        window_quantiles_spec,
    )

    inp = str(tmp_path_factory.mktemp("cwq") / "in")
    rng = np.random.default_rng(31)
    LO, HI, NB = 0.0, 100.0, 50
    QS = [0.25, 0.5, 0.9]

    def frag(n, offset_s, shift=0.0):
        vals = rng.uniform(0, 100, n) + shift
        vals[:: max(1, n // 20)] = np.nan  # planted NULLs (excluded)
        vals[5] = -3.0  # underflow
        vals[6] = 500.0  # overflow
        return pd.DataFrame({
            "ts": [BASE + pd.Timedelta(seconds=int(offset_s + s)) for s in
                   rng.integers(0, 120, n)],
            "x": vals,
        })

    fa, fb = frag(600, 0), frag(600, 120, shift=20.0)
    sentinel = pd.DataFrame({"ts": [BASE + pd.Timedelta(hours=1)], "x": [1.0]})
    _write_batches(spark, inp, [fa, fb, sentinel], "ts timestamp, x double")

    stream = (
        spark.readStream.schema("ts timestamp, x double")
        .option("maxFilesPerTrigger", 1)
        .parquet(inp)
    )
    out = closed(
        stream, "ts", window_quantiles_spec("x", LO, HI, QS, n_bins=NB),
        window="5 minutes", watermark="1 minute",
    )
    _run_stream(out, "cwq_out")
    got = (
        spark.sql("SELECT * FROM cwq_out")
        .toPandas()
        .sort_values("q")
        .reset_index(drop=True)
    )
    assert len(got) == len(QS)  # ONE emission per q for the closed window
    assert (got["window_start"] == BASE).all()

    full = spark.createDataFrame(pd.concat([fa, fb])).select(
        F.lit(0).cast("long").alias("w"), F.col("x")
    )
    exp = (
        histogram_quantiles(
            window_histograms(full, "x", "w", LO, HI, NB), QS, LO, HI, NB
        )
        .toPandas()
        .sort_values("q")
        .reset_index(drop=True)
    )
    assert got["n_total"].tolist() == exp["n_total"].tolist()
    for g, e in zip(got["quantile"], exp["quantile"]):
        assert abs(g - e) < 1e-9, (g, e)


def test_closed_association_drift_split_window_parity(spark, tmp_path_factory):
    """Window W1 is split across TWO micro-batches whose fragments have
    DIFFERENT pairings (dependent then independent); one closed verdict must
    appear for W1 with (n, mi, cramers_v) equal to health.association_drift
    over W1's full row set and the same ref_mi."""
    from al_drift_detection_spark.functions.health import association_drift
    from al_drift_detection_spark.streaming.closed import (
        association_drift_spec,
        closed,
    )

    inp = str(tmp_path_factory.mktemp("cad") / "in")
    rng = np.random.default_rng(31)
    cats_a = ["a0", "a1", "a2"]
    cats_b = ["b0", "b1", "b2"]

    def frag(n, offset_s, dependent):
        a = rng.integers(0, 3, n)
        b = a if dependent else rng.integers(0, 3, n)
        return pd.DataFrame({
            "ts": [BASE + pd.Timedelta(seconds=int(offset_s + s)) for s in
                   rng.integers(0, 120, n)],
            "x": [f"a{v}" for v in a],
            "y": [f"b{v}" for v in b],
        })

    fa = frag(300, 0, dependent=True)
    fb = frag(300, 120, dependent=False)
    sentinel = pd.DataFrame(
        {"ts": [BASE + pd.Timedelta(hours=1)], "x": ["a0"], "y": ["b0"]}
    )
    _write_batches(spark, inp, [fa, fb, sentinel])

    # reference MI from the batch operator over the full window (window 0 is
    # its own reference here — the parity target is the per-window fold)
    full = pd.concat([fa, fb])
    batch = association_drift(
        spark.createDataFrame(full).withColumn("window_id", F.lit(0)),
        "x", "y", cats_a, cats_b, max_abs_diff=0.05,
    ).toPandas()
    ref_mi = float(batch.loc[0, "ref_mi"])

    stream = (
        spark.readStream.schema("ts timestamp, x string, y string")
        .option("maxFilesPerTrigger", 1)
        .parquet(inp)
    )
    out = closed(
        stream, "ts",
        association_drift_spec("x", "y", cats_a, cats_b, ref_mi,
                               max_abs_diff=0.05),
        window="5 minutes", watermark="1 minute",
    )
    _run_stream(out, "cad_out")
    got = spark.sql("SELECT * FROM cad_out").toPandas()

    assert len(got) == 1 and got.loc[0, "window_start"] == BASE
    assert got.loc[0, "n"] == 600
    assert got.loc[0, "mi"] == pytest.approx(batch.loc[0, "mi"], abs=1e-9)
    assert got.loc[0, "cramers_v"] == pytest.approx(
        batch.loc[0, "cramers_v"], abs=1e-9
    )
    assert got.loc[0, "ref_mi"] == pytest.approx(ref_mi, abs=1e-12)
    # half-dependent half-independent window vs its own full-window
    # reference: abs_diff is 0 by construction of ref_mi → pass
    assert got.loc[0, "verdict"] == "pass"

    # and against a DEPENDENT-era reference the same window must fail: the
    # dependent fragment alone has MI ≈ ln 3, the mixed window far less
    dep_ref = association_drift(
        spark.createDataFrame(fa).withColumn("window_id", F.lit(0)),
        "x", "y", cats_a, cats_b,
    ).toPandas()
    strong_ref_mi = float(dep_ref.loc[0, "mi"])
    assert abs(float(batch.loc[0, "mi"]) - strong_ref_mi) > 0.05


def test_closed_referential_drift_split_window_parity(spark, tmp_path_factory):
    """Window W1 split across two micro-batches: fragment A has only known
    dimension keys, fragment B introduces 25% unknown keys; one closed
    verdict for W1 with (n, orphans, rate) equal to health.referential_drift
    on the full row set, and the verdict flips with the reference rate."""
    from al_drift_detection_spark.functions.health import referential_drift
    from al_drift_detection_spark.persist import persist_scope
    from al_drift_detection_spark.streaming.closed import (
        closed,
        referential_drift_spec,
    )

    inp = str(tmp_path_factory.mktemp("crd") / "in")
    rng = np.random.default_rng(41)
    dim = spark.createDataFrame([(i,) for i in range(50)], "k long")

    def frag(n, offset_s, orphan_every):
        keys = [
            (9000 + i) if (orphan_every and i % orphan_every == 0) else int(i % 50)
            for i in range(n)
        ]
        return pd.DataFrame({
            "ts": [BASE + pd.Timedelta(seconds=int(offset_s + s)) for s in
                   rng.integers(0, 120, n)],
            "fk": keys,
        })

    fa = frag(200, 0, orphan_every=0)
    fb = frag(200, 120, orphan_every=4)  # 50 orphans
    sentinel = pd.DataFrame({"ts": [BASE + pd.Timedelta(hours=1)], "fk": [0]})
    _write_batches(spark, inp, [fa, fb, sentinel])

    full = pd.concat([fa, fb])
    # batch twin (ref = the window itself, so rate == ref_rate -> pass)
    with persist_scope():
        out_b = referential_drift(
            spark.createDataFrame(full).withColumn("window_id", F.lit(0)),
            "fk", dim, "k",
        )
        brow = out_b.collect()[0]

    stream = (
        spark.readStream.schema("ts timestamp, fk long")
        .option("maxFilesPerTrigger", 1)
        .parquet(inp)
    )
    out = closed(
        stream, "ts",
        referential_drift_spec("fk", dim, ref_rate=0.0, max_abs_jump=0.05),
        window="5 minutes", watermark="1 minute",
    )
    _run_stream(out, "crd_out")
    got = spark.sql("SELECT * FROM crd_out").toPandas()

    assert len(got) == 1 and got.loc[0, "window_start"] == BASE
    assert got.loc[0, "n"] == brow["n"] == 400
    assert got.loc[0, "orphans"] == brow["orphans"] == 50
    assert got.loc[0, "rate"] == pytest.approx(brow["rate"], abs=1e-12)
    # vs a clean reference (rate 0) the 12.5% orphan window fails; the batch
    # self-reference run necessarily passes (rate == ref_rate)
    assert got.loc[0, "verdict"] == "fail" and brow["verdict"] == "pass"


def test_late_data_contract_single_verdict_and_sink_dedupe(spark, tmp_path_factory):
    """The LATE-DATA CONTRACT (closed.py module docstring, VERDICT r6 Next
    #6): (a) a row later than the watermark is DROPPED before the stateful
    fold — it cannot re-open a closed window, so the sink carries exactly
    ONE verdict per window and its n excludes the dropped row; (b) a row
    late relative to its WINDOW END but inside the watermark delay still
    folds into that single verdict; (c) the remaining consumer-side dupe
    source — orphan trigger files read past the sink's _spark_metadata
    manifest — is removed by the dedupe_verdicts first-emission-wins read
    path."""
    import glob
    import shutil

    from al_drift_detection_spark.streaming.closed import (
        closed,
        dedupe_verdicts,
        window_health_spec,
    )

    root = tmp_path_factory.mktemp("late")
    inp, sink, ckpt = str(root / "in"), str(root / "sink"), str(root / "ckpt")

    def rows(ts_list):
        return pd.DataFrame({"ts": ts_list, "caption": ["c"] * len(ts_list)})

    w1 = [BASE + pd.Timedelta(seconds=int(s)) for s in range(0, 300, 2)]  # 150 rows
    frames = [
        rows(w1),                                        # W1 fragment A
        # 10 more W1 rows arriving in a LATER file while the watermark is
        # still below W1's end — late relative to nothing yet: must fold
        rows([BASE + pd.Timedelta(seconds=299)] * 10),   # in-delay late: folds
        rows([BASE + pd.Timedelta(hours=1)]),            # advance watermark
        rows([BASE + pd.Timedelta(hours=1, minutes=6)]),  # trigger: W1 closes
        rows([BASE + pd.Timedelta(seconds=10)] * 25),    # PAST-watermark late: dropped
        rows([BASE + pd.Timedelta(hours=3)]),            # more triggers — W1 must
        rows([BASE + pd.Timedelta(hours=5)]),            # never emit again
    ]
    _write_batches(spark, inp, frames, schema="ts timestamp, caption string")

    stream = (
        spark.readStream.schema("ts timestamp, caption string")
        .option("maxFilesPerTrigger", 1)
        .parquet(inp)
    )
    out = closed(
        stream, "ts", window_health_spec(160.0, {"caption": 0.0}),
        window="5 minutes", watermark="1 minute",
    )
    q = (
        out.writeStream.outputMode("append")
        .format("parquet")
        .option("path", sink)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)

    raw = spark.read.parquet(sink)
    vol = raw.filter(F.col("check") == "volume").toPandas()
    w1_vol = vol[vol["window_start"] == BASE]
    # (a)+(b): exactly ONE W1 verdict; n = 150 + 10 in-delay late rows,
    # the 25 past-watermark rows silently excluded — never a re-open row
    assert len(w1_vol) == 1
    assert w1_vol.iloc[0]["n_rows"] == 160

    # (c) fabricate the manifest-less consumer scenario: the sink's data
    # files get synced to another location WITHOUT _spark_metadata (the
    # exactly-once manifest), carrying an orphan file a failed trigger left
    # behind — duplicates are now visible, and the dedupe read path removes
    # them keeping the first emission
    synced = str(root / "synced")
    import os

    os.makedirs(synced)
    for f in sorted(glob.glob(f"{sink}/part-*.parquet")):
        shutil.copy(f, synced)
    time.sleep(0.05)
    biggest = max(glob.glob(f"{sink}/part-*.parquet"), key=os.path.getsize)
    shutil.copy(biggest, f"{synced}/part-99999-orphan.c000.snappy.parquet")
    dirty = spark.read.parquet(synced)
    assert dirty.count() > raw.count()  # the orphan IS visible without the manifest
    clean = dedupe_verdicts(dirty, ["check", "column"]).toPandas()
    assert not clean.duplicated(
        ["window_start", "window_end", "check", "column"]).any()
    cw1 = clean[(clean["window_start"] == BASE) & (clean["check"] == "volume")]
    assert len(cw1) == 1 and cw1.iloc[0]["n_rows"] == 160


def test_closed_frequent_items_invariants_across_batches(spark, tmp_path_factory):
    """Closed-window Misra-Gries frequent items: a window split across THREE
    micro-batches with a planted 50%-hot item plus a 30-item tail emits one
    top-list at close obeying the MG invariants against the exact counts —
    est ≤ true, deficit ≤ n/(k+1), the hot item present and ranked first.
    (Estimates are chunking-dependent, so batch ≡ streaming is pinned at the
    invariant level — frequent_items_spec docstring.)"""
    from al_drift_detection_spark.streaming.closed import closed, frequent_items_spec

    inp = str(tmp_path_factory.mktemp("cfi") / "in")
    rng = np.random.default_rng(47)
    items = ["hot"] * 50 + [f"c{i}" for i in range(30)]

    def frag(n, offset_s):
        return pd.DataFrame({
            "ts": [BASE + pd.Timedelta(seconds=int(offset_s + s)) for s in
                   rng.integers(0, 90, n)],
            "item": rng.choice(items, n),
        })

    frags = [frag(400, 0), frag(400, 90), frag(400, 180)]
    sentinel = pd.DataFrame({"ts": [BASE + pd.Timedelta(hours=1)], "item": ["x"]})
    _write_batches(spark, inp, frags + [sentinel],
                   schema="ts timestamp, item string")

    stream = (
        spark.readStream.schema("ts timestamp, item string")
        .option("maxFilesPerTrigger", 1)
        .parquet(inp)
    )
    K = 6
    out = closed(
        stream, "ts", frequent_items_spec("item", k=K, top=5),
        window="5 minutes", watermark="1 minute",
    )
    _run_stream(out, "cfi_out")
    got = spark.sql("SELECT * FROM cfi_out").toPandas()

    assert (got["window_start"] == BASE).all()
    assert len(got) == 5 and sorted(got["rank"]) == [1, 2, 3, 4, 5]
    assert (got["n_rows"] == 1200).all()

    full = pd.concat(frags)
    exact = full["item"].value_counts()
    for _, r in got.iterrows():
        true = int(exact.get(r["item"], 0))
        assert r["est"] <= true
        assert true - r["est"] <= 1200 / (K + 1)
    assert got.sort_values("rank").iloc[0]["item"] == "hot"


def test_closed_sliced_drift_split_window_parity(spark, tmp_path_factory):
    """Per-slice drill-down twin (streaming/closed.sliced_drift_spec):
    window W1 is split across two micro-batches with slice 'b' shifted,
    slice 'z' brand-new (-> '(other)'), and slice 'c' absent (-> no_data);
    the single close-time row set equals functions/slices.sliced_psi_drift
    over W1's full rows scored against the same reference windows —
    slice-for-slice (n_cur, psi at 1e-9, rank, verdict)."""
    from al_drift_detection_spark.functions.slices import (
        build_sliced_reference,
        sliced_psi_drift,
    )
    from al_drift_detection_spark.streaming.closed import closed, sliced_drift_spec

    inp = str(tmp_path_factory.mktemp("csd") / "in")
    rng = np.random.default_rng(31)

    def rows(slices, n_each, shift=None, offset_s=0):
        out = []
        for s in slices:
            v = rng.uniform(0, 100, n_each) + (shift or {}).get(s, 0.0)
            out.append(pd.DataFrame({
                "ts": [BASE + pd.Timedelta(seconds=int(offset_s + x))
                       for x in rng.integers(0, 120, n_each)],
                "s": s,
                "v": v,
            }))
        return pd.concat(out, ignore_index=True)

    ref_pdf = rows(["a", "b", "c"], 600)
    fa = rows(["a", "z"], 250, offset_s=0)
    fb = rows(["b"], 250, shift={"b": 55.0}, offset_s=120)
    sentinel = pd.DataFrame(
        {"ts": [BASE + pd.Timedelta(hours=1)], "s": ["a"], "v": [1.0]}
    )

    ref_df = spark.createDataFrame(ref_pdf)
    cfg = build_sliced_reference(ref_df, "v", "s", bins=10, max_slices=3)
    assert cfg["universe"] == ["a", "b", "c", "(other)"]

    # batch twin over the same rows: ref as window 0, W1's fragments as 1
    cur_pdf = pd.concat([fa, fb], ignore_index=True)
    batch_df = spark.createDataFrame(
        pd.concat(
            [ref_pdf.assign(w=0), cur_pdf.assign(w=1)], ignore_index=True
        )[["w", "s", "v"]]
    )
    want = {
        r["slice"]: r
        for r in sliced_psi_drift(
            batch_df, "v", "s", "w", ref_filter=F.col("w") < 1,
            bins=10, max_slices=3,
        ).collect()
    }

    _write_batches(spark, inp, [fa, fb, sentinel])
    stream = (
        spark.readStream.schema("ts timestamp, s string, v double")
        .option("maxFilesPerTrigger", 1)
        .parquet(inp)
    )
    out = closed(
        stream, "ts", sliced_drift_spec("v", "s", cfg),
        window="5 minutes", watermark="1 minute",
    )
    _run_stream(out, "csd_out")
    got = spark.sql(
        "SELECT * FROM csd_out WHERE window_start = timestamp'2026-01-01 00:00:00'"
    ).toPandas()
    assert len(got) == 4  # one row per universe slice, exactly once
    for _, r in got.iterrows():
        w = want[r["slice"]]
        assert r["n_cur"] == w["n_cur"], r["slice"]
        assert r["rank"] == w["rank"], (r["slice"], r["rank"], w["rank"])
        assert r["verdict"] == w["verdict"], r["slice"]
        if w["psi"] is None:
            assert pd.isna(r["psi"])
        else:
            assert abs(r["psi"] - w["psi"]) < 1e-9, (r["slice"], r["psi"], w["psi"])
    byslice = {r["slice"]: r for _, r in got.iterrows()}
    assert byslice["b"]["verdict"] == "fail"
    assert byslice["(other)"]["verdict"] == "fail"  # new slice z
    assert byslice["c"]["verdict"] == "no_data"


def test_closed_conditional_completeness_split_window_parity(
    spark, tmp_path_factory
):
    """Conditional-completeness twin (streaming/closed.
    conditional_completeness_spec): window W1 split across two
    micro-batches with category 'b' hit by a null burst, 'z' brand-new
    (-> '(other)'), 'c' absent (-> no_data); the close-time row set equals
    functions/health.conditional_completeness_drift over W1's full rows
    against the same reference config — category-for-category (n_cur,
    ratios at 1e-9, verdict)."""
    from al_drift_detection_spark.functions.health import (
        build_conditional_completeness_reference,
        conditional_completeness_drift,
    )
    from al_drift_detection_spark.streaming.closed import (
        closed,
        conditional_completeness_spec,
    )

    inp = str(tmp_path_factory.mktemp("ccc") / "in")
    rng = np.random.default_rng(17)

    def rows(cats, n_each, null_rate, offset_s=0):
        out = []
        for c in cats:
            nulls = rng.random(n_each) < null_rate.get(c, 0.05)
            out.append(pd.DataFrame({
                "ts": [BASE + pd.Timedelta(seconds=int(offset_s + x))
                       for x in rng.integers(0, 120, n_each)],
                "cat": c,
                "v": [None if z else 1.0 for z in nulls],
            }))
        return pd.concat(out, ignore_index=True)

    ref_pdf = rows(["a", "b", "c"], 400, {})
    fa = rows(["a", "z"], 150, {"z": 0.9}, offset_s=0)
    fb = rows(["b"], 150, {"b": 0.8}, offset_s=120)
    sentinel = pd.DataFrame(
        {"ts": [BASE + pd.Timedelta(hours=1)], "cat": ["a"], "v": [1.0]}
    )

    ref_df = spark.createDataFrame(ref_pdf)
    cfg = build_conditional_completeness_reference(
        ref_df, "cat", "v", max_categories=3
    )
    assert cfg["universe"] == ["a", "b", "c", "(other)"]

    cur_pdf = pd.concat([fa, fb], ignore_index=True)
    batch_df = spark.createDataFrame(
        pd.concat(
            [ref_pdf.assign(w=0), cur_pdf.assign(w=1)], ignore_index=True
        )[["w", "cat", "v"]]
    )
    want = {
        r["category"]: r
        for r in conditional_completeness_drift(
            batch_df, "cat", "v", "w", ref_filter=F.col("w") < 1,
            threshold=0.2, max_categories=3, min_rows=50,
        ).collect()
    }

    _write_batches(spark, inp, [fa, fb, sentinel])
    stream = (
        spark.readStream.schema("ts timestamp, cat string, v double")
        .option("maxFilesPerTrigger", 1)
        .parquet(inp)
    )
    out = closed(
        stream, "ts",
        conditional_completeness_spec("cat", "v", cfg, threshold=0.2,
                                      min_rows=50),
        window="5 minutes", watermark="1 minute",
    )
    _run_stream(out, "ccc_out")
    got = spark.sql(
        "SELECT * FROM ccc_out WHERE window_start = timestamp'2026-01-01 00:00:00'"
    ).toPandas()
    assert len(got) == 4  # one row per universe category, exactly once
    verdicts = dict(zip(got["category"], got["verdict"]))
    assert verdicts["b"] == "fail" and verdicts["(other)"] == "fail"
    assert verdicts["a"] == "pass" and verdicts["c"] == "no_data"
    for _, r in got.iterrows():
        w = want[r["category"]]
        assert r["n_cur"] == w["n_cur"], r["category"]
        assert r["verdict"] == w["verdict"], r["category"]
        for col in ("null_ratio", "ref_ratio", "delta"):
            if w[col] is None:
                assert pd.isna(r[col]), (r["category"], col)
            else:
                assert abs(r[col] - w[col]) < 1e-9, (r["category"], col)


def test_closed_embedding_outliers_split_window_parity(
    spark, tmp_path_factory
):
    """Embedding outlier twin (streaming/closed.embedding_outliers_spec):
    window W1 split across two micro-batches with 20% of its rows planted
    EXACTLY orthogonal to the trained centroid span; the close-time row
    equals functions/similarity.embedding_outlier_rates over W1's full
    rows against the same config threshold — counts exact, rate at 1e-9,
    verdict fail only in the planted window."""
    from al_drift_detection_spark.functions.similarity import (
        embedding_outlier_rates,
        embedding_outlier_threshold,
        orthogonal_direction,
        train_ivf_centroids,
    )
    from al_drift_detection_spark.streaming.closed import (
        closed,
        embedding_outliers_spec,
    )

    inp = str(tmp_path_factory.mktemp("ceo") / "in")
    rng = np.random.default_rng(23)
    dim = 12
    centers = rng.normal(size=(3, dim))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)

    def rows(n, offset_s, vid0):
        out = []
        for i in range(n):
            v = centers[i % 3] + 0.05 * rng.normal(size=dim)
            out.append({
                "ts": BASE + pd.Timedelta(seconds=int(offset_s + rng.integers(0, 120))),
                "vec_id": vid0 + i,
                "embedding": [float(x) for x in v],
            })
        return pd.DataFrame(out)

    ref_pdf = rows(300, 0, 0)  # used as reference only (not streamed)
    ref_df = spark.createDataFrame(ref_pdf)
    cents = train_ivf_centroids(ref_df, k=3, sample_n=128, seed=9, iters=8)
    thr = embedding_outlier_threshold(ref_df, cents, tail=0.05)
    ood = orthogonal_direction(cents, dim)

    fa = rows(60, 0, 1000)
    fb = rows(60, 120, 2000)
    # plant: every 5th row of fragment B replaced by the orthogonal dir
    fb.loc[fb.index % 5 == 0, "embedding"] = pd.Series(
        [[float(x) for x in ood]] * len(fb), index=fb.index
    )[fb.index % 5 == 0]
    sentinel = rows(1, 3600, 9000)

    # batch twin over the same rows (ref as window 0, W1 fragments as 1)
    cur = pd.concat([fa, fb], ignore_index=True)
    batch = spark.createDataFrame(
        pd.concat([ref_pdf.assign(w=0), cur.assign(w=1)], ignore_index=True)
        [["w", "vec_id", "embedding"]]
    )
    want = (
        embedding_outlier_rates(
            batch, cents, "w", ref_filter=F.col("w") < 1,
            tail=0.05, rate_factor=2.0, min_rows=20,
        ).collect()[0]
    )

    _write_batches(spark, inp, [fa, fb, sentinel])
    stream = (
        spark.readStream.schema("ts timestamp, vec_id long, embedding array<double>")
        .option("maxFilesPerTrigger", 1)
        .parquet(inp)
    )
    out = closed(
        stream, "ts",
        embedding_outliers_spec("embedding", cents, thr, tail=0.05,
                                rate_factor=2.0, min_rows=20),
        window="5 minutes", watermark="1 minute",
    )
    _run_stream(out, "ceo_out")
    got = spark.sql(
        "SELECT * FROM ceo_out WHERE window_start = timestamp'2026-01-01 00:00:00'"
    ).collect()
    assert len(got) == 1  # exactly one verdict row per closed window
    g = got[0]
    assert g["n"] == want["n"] == 120
    assert g["n_outliers"] == want["n_outliers"] >= 12
    assert abs(g["rate"] - want["rate"]) < 1e-9
    assert abs(g["threshold"] - want["threshold"]) < 1e-9
    assert g["verdict"] == want["verdict"] == "fail"
