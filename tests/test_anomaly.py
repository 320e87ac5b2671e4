"""Metric-history anomaly validation (functions/anomaly): planted-shift
kernel verdicts, the persisted metrics repository's replay contract, and the
`runner --metrics-store` CLI surface."""

from __future__ import annotations

import pandas as pd
from pyspark.sql import functions as F

from al_drift_detection_spark.functions.anomaly import (
    MetricsStore,
    anomaly_verdicts,
)

HIST_SCHEMA = "part int, column string, metric string, value double, run_ts long"
CUR_SCHEMA = "part int, column string, metric string, value double"


def _verdict_map(df, strategy):
    pdf = df.filter(F.col("strategy") == strategy).toPandas()
    return {r["metric"]: r["verdict"] for _, r in pdf.iterrows()}


def test_anomaly_kernel_planted(spark):
    hist_rows = []
    for ts, (stable, shift, const, cshift, zero) in enumerate(
        [(10.0, 5.0, 7.0, 3.0, 0.0), (10.2, 5.1, 7.0, 3.0, 0.0), (9.8, 4.9, 7.0, 3.0, 0.0)]
    ):
        hist_rows += [
            (0, "c1", "m_stable", stable, ts),
            (0, "c1", "m_shift", shift, ts),
            (0, "c1", "m_const", const, ts),
            (0, "c1", "m_const_shift", cshift, ts),
            (0, "c1", "m_zero", zero, ts),
        ]
    hist_rows.append((0, "c1", "m_one", 2.0, 2))  # single-point history
    history = spark.createDataFrame(hist_rows, HIST_SCHEMA)
    current = spark.createDataFrame(
        [
            (0, "c1", "m_stable", 10.1),
            (0, "c1", "m_shift", 8.0),
            (0, "c1", "m_const", 7.0),
            (0, "c1", "m_const_shift", 3.5),
            (0, "c1", "m_zero", 1.0),
            (0, "c1", "m_one", 2.1),
            (0, "c1", "m_new", 1.0),
            (0, "c1", "m_gone", None),
        ],
        CUR_SCHEMA,
    )
    # m_gone: history exists, current metric is NULL → anomaly
    history = history.unionByName(
        spark.createDataFrame([(0, "c1", "m_gone", 4.0, 0), (0, "c1", "m_gone", 4.0, 1)], HIST_SCHEMA)
    )

    out = anomaly_verdicts(
        history,
        current,
        k_sigma=3.0,
        max_rel=0.5,
        bounds=[("c1", "m_stable", 0.0, 20.0), ("c1", "m_shift", 0.0, 6.0)],
    ).cache()

    z = _verdict_map(out, "zscore")
    assert z["m_stable"] == "pass"  # z = 0.5σ
    assert z["m_shift"] == "fail"  # z = 30σ
    assert z["m_const"] == "pass"  # σ=0, value unchanged
    assert z["m_const_shift"] == "fail"  # σ=0, value moved
    assert z["m_zero"] == "fail"
    assert z["m_one"] == "insufficient"  # 1 < min_history
    assert z["m_new"] == "insufficient"
    assert z["m_gone"] == "fail"  # metric vanished

    r = _verdict_map(out, "rel_change")
    assert r["m_stable"] == "pass"  # |10.1/9.8 − 1| ≈ 0.031
    assert r["m_shift"] == "fail"  # |8/4.9 − 1| ≈ 0.63 > 0.5
    assert r["m_zero"] == "fail"  # prev 0 → nonzero current undefined ratio
    assert r["m_one"] == "pass"  # rel-change needs only one prior point
    assert r["m_new"] == "insufficient"
    assert r["m_gone"] == "fail"

    b = _verdict_map(out, "abs_bounds")
    assert b == {"m_stable": "pass", "m_shift": "fail"}

    # stat values: baseline is the history mean / previous value
    row = (
        out.filter((F.col("strategy") == "zscore") & (F.col("metric") == "m_stable"))
        .collect()[0]
    )
    assert abs(row["baseline"] - 10.0) < 1e-9
    assert abs(row["stat"] - 0.5) < 1e-9
    assert row["n_hist"] == 3
    out.unpersist()


def test_metrics_store_roundtrip_and_replay(spark, tmp_path):
    store = MetricsStore(str(tmp_path / "mstore"))
    a = spark.createDataFrame(
        [(p, "c1", m, v) for p in (0, 1) for m, v in (("avg", 10.0), ("n_rows", 100.0))],
        CUR_SCHEMA,
    )
    assert store.resolve_run_ts(spark, "r1") == 0
    store.append(a, "r1", 0)
    assert store.resolve_run_ts(spark, "r2") == 1
    store.append(a, "r2", 1)
    # existing run keeps its slot; a new run goes after the max
    assert store.resolve_run_ts(spark, "r1") == 0
    assert store.resolve_run_ts(spark, "r3") == 2

    # identical third ingest → everything passes (σ=0, value unchanged)
    v3 = store.verdicts(a, "r3")
    pdf = v3.toPandas()
    assert (pdf["verdict"] == "pass").all()
    assert (pdf["n_hist"] == 2).all().all() or (
        pdf.groupby("strategy")["n_hist"].max() == 2
    ).all()

    # shifted third ingest → the shifted series fails, the stable one passes
    shifted = a.withColumn(
        "value", F.when(F.col("metric") == "avg", F.lit(25.0)).otherwise(F.col("value"))
    )
    pdf = store.verdicts(shifted, "r3").toPandas()
    byk = pdf.set_index(["strategy", "part", "metric"])["verdict"]
    assert (byk.xs(("zscore"), level="strategy").xs("avg", level="metric") == "fail").all()
    assert (byk.xs(("zscore"), level="strategy").xs("n_rows", level="metric") == "pass").all()
    assert (byk.xs(("rel_change"), level="strategy").xs("avg", level="metric") == "fail").all()

    # replay: re-appending the same run_id overwrites its own partition
    n_before = spark.read.parquet(store.path).count()
    store.append(a, "r2", store.resolve_run_ts(spark, "r2"))
    assert spark.read.parquet(store.path).count() == n_before
    # and verdicts exclude the run's own rows, so they are unchanged
    pdf2 = store.verdicts(a, "r2").toPandas()
    assert (pdf2["n_hist"] <= 1).all()  # only r1 remains as history for r2


def test_metrics_store_cli(spark, tmp_path):
    """`runner --metrics-store`: first ingest is all-insufficient, the third
    identical ingest is all-pass, and a replayed run_id converges (store rows
    unchanged, same verdicts)."""
    from al_drift_detection_spark import runner

    store = str(tmp_path / "mstore")
    args = ["--images", "synthetic:3000", "--master", "local[8]",
            "--metrics-store", store]

    assert runner.main(["--out", str(tmp_path / "o1"), "--run-id", "r1", *args]) == 0
    v1 = spark.read.parquet(f"{tmp_path}/o1/metric_anomalies").toPandas()
    assert len(v1) > 0
    assert (v1["verdict"] == "insufficient").all()  # no prior history

    assert runner.main(["--out", str(tmp_path / "o2"), "--run-id", "r2", *args]) == 0
    v2 = spark.read.parquet(f"{tmp_path}/o2/metric_anomalies").toPandas()
    # one prior run: rel-change evaluable (identical corpus → pass),
    # zscore still insufficient
    assert (v2[v2.strategy == "zscore"]["verdict"] == "insufficient").all()
    assert (v2[v2.strategy == "rel_change"]["verdict"] == "pass").all()

    assert runner.main(["--out", str(tmp_path / "o3"), "--run-id", "r3", *args]) == 0
    v3 = spark.read.parquet(f"{tmp_path}/o3/metric_anomalies").toPandas()
    assert (v3["verdict"] == "pass").all()  # deterministic corpus, σ=0 series

    # replay r3: store row count unchanged, verdicts reproduced
    n_store = spark.read.parquet(store).count()
    assert runner.main(["--out", str(tmp_path / "o4"), "--run-id", "r3", *args]) == 0
    assert spark.read.parquet(store).count() == n_store
    v4 = spark.read.parquet(f"{tmp_path}/o4/metric_anomalies").toPandas()
    key = ["strategy", "part", "column", "metric"]
    pd.testing.assert_frame_equal(
        v3.sort_values(key).reset_index(drop=True),
        v4.sort_values(key).reset_index(drop=True),
    )


def test_store_changepoint_planted_level_shift(spark):
    """Cross-run Page-Hinkley over a planted repository: series A holds a
    level for 8 runs then shifts +5σ for 6 — the alarm fires only after the
    shift and only on series A; a stationary sibling series never alarms;
    a constant series (std 0) and a short series (< min_runs) emit no
    alarms/rows respectively."""
    from al_drift_detection_spark.functions.anomaly import store_changepoint
    from al_drift_detection_spark.persist import persist_scope

    rows = []
    for t in range(14):
        a = 100.0 + 0.5 * ((t * 7) % 3 - 1) + (8.0 if t >= 8 else 0.0)
        b = 50.0 + 0.5 * ((t * 5) % 3 - 1)
        rows.append((0, "w", "mean", a, t, f"r{t:02d}"))
        rows.append((0, "h", "mean", b, t, f"r{t:02d}"))
        rows.append((0, "w", "n_rows", 1000.0, t, f"r{t:02d}"))  # constant
        if t < 3:
            rows.append((0, "w", "nulls", float(t), t, f"r{t:02d}"))  # short
    hist = spark.createDataFrame(
        rows, "part int, column string, metric string, value double, "
              "run_ts long, run_id string"
    )
    with persist_scope():
        out = store_changepoint(hist, delta=0.05, threshold=4.0, min_runs=5)
        pdf = out.toPandas()
    # the short series is excluded entirely
    assert not ((pdf["column"] == "w") & (pdf["metric"] == "nulls")).any()
    a = pdf[(pdf["column"] == "w") & (pdf["metric"] == "mean")].sort_values("run_ts")
    alarms = a[a["alarm"]]["run_ts"].tolist()
    assert alarms and min(alarms) >= 8, f"alarm outside the shift era: {alarms}"
    b = pdf[(pdf["column"] == "h") & (pdf["metric"] == "mean")]
    assert not b["alarm"].any(), "stationary series alarmed"
    const = pdf[(pdf["column"] == "w") & (pdf["metric"] == "n_rows")]
    assert len(const) == 14 and not const["alarm"].any()


def test_store_changepoint_cli_surface(spark, tmp_path):
    """--metrics-store + --changepoint also writes metric_changepoint/ (the
    cross-run sequential view; with a single run every series is under
    min_runs, so the table exists and is empty)."""
    from al_drift_detection_spark import runner

    store = str(tmp_path / "mstore")
    rc = runner.main([
        "--images", "synthetic:3000", "--master", "local[8]",
        "--out", str(tmp_path / "o1"), "--run-id", "r1",
        "--metrics-store", store, "--changepoint",
    ])
    assert rc == 0
    cp = spark.read.parquet(f"{tmp_path}/o1/metric_changepoint")
    assert cp.count() == 0
    assert {"part", "column", "metric", "run_id", "ph_inc", "ph_dec", "alarm"} <= set(
        cp.columns
    )


def test_seasonal_anomaly_planted(spark):
    """Seasonal strategy (functions/anomaly.seasonal_anomaly): a period-4
    series with a MODEST off-season shift fails seasonal but PASSES plain
    zscore (the reason the strategy exists — the shift hides inside the
    seasonal swing's global std); an in-slot value passes; a constant
    series keeps the sd=0 edge rule; a series too new for the current slot
    is insufficient."""
    from al_drift_detection_spark.functions.anomaly import seasonal_anomaly

    hist_rows = []
    season = [0.0, 10.0, 20.0, 30.0]
    noise = [0.05, -0.05, 0.1, -0.1, 0.0, 0.05, -0.05, 0.1, -0.1, 0.0, 0.05, -0.05]
    for ts in range(12):
        hist_rows += [
            (0, "c1", "m_inslot", season[ts % 4] + noise[ts], ts),
            (0, "c1", "m_offseason", season[ts % 4] + noise[ts], ts),
            (0, "c1", "m_const", 7.0, ts),
        ]
    hist_rows += [(0, "c1", "m_new", 5.0, 10), (0, "c1", "m_new", 5.0, 11)]
    hist = spark.createDataFrame(hist_rows, HIST_SCHEMA)
    # current run_ts 12 → slot 0 (baseline ≈ 0); slots 2,3 hold m_new's
    # only two points, so its slot-0 history is empty
    cur = spark.createDataFrame(
        [
            (0, "c1", "m_inslot", 0.08),     # within the slot-0 band
            (0, "c1", "m_offseason", 3.0),   # 3 ≫ resid_sd, ≪ global σ
            (0, "c1", "m_const", 7.0),
            (0, "c1", "m_new", 5.0),
        ],
        CUR_SCHEMA,
    )
    v = _verdict_map(
        seasonal_anomaly(hist, cur, run_ts=12, period=4), "seasonal"
    )
    assert v == {
        "m_inslot": "pass",
        "m_offseason": "fail",
        "m_const": "pass",
        "m_new": "insufficient",
    }
    # the contrast that motivates the strategy: plain zscore waves the same
    # off-season 3.0 through (|3 − 15| / σ_global ≈ 1 < 3)
    vz = _verdict_map(anomaly_verdicts(hist, cur), "zscore")
    assert vz["m_offseason"] == "pass"
    # changed constant series still fails (sd = 0 edge preserved)
    cur2 = spark.createDataFrame([(0, "c1", "m_const", 7.5)], CUR_SCHEMA)
    v2 = _verdict_map(
        seasonal_anomaly(hist, cur2, run_ts=12, period=4), "seasonal"
    )
    assert v2 == {"m_const": "fail"}


def test_seasonal_store_and_cli(spark, tmp_path):
    """MetricsStore.seasonal_verdicts follows the replay-safe store contract
    (exclude-own-rows; slots fill as runs accumulate), and `runner
    --metrics-store --seasonal-period` unions strategy='seasonal' rows into
    metric_anomalies/."""
    from al_drift_detection_spark import runner

    store = MetricsStore(str(tmp_path / "mstore"))
    a = spark.createDataFrame([(0, "c1", "avg", 10.0)], CUR_SCHEMA)
    b = spark.createDataFrame([(0, "c1", "avg", 20.0)], CUR_SCHEMA)
    # alternating 10/20 with period 2: runs 0..4 = [10, 20, 10, 20, 10]
    for i, frame in enumerate([a, b, a, b, a]):
        store.append(frame, f"r{i}", i)
    # run 5 (slot 1, history {20, 20}): in-pattern 20 passes, 10 fails —
    # and 10 would PASS a plain zscore (global mean 16, σ ≈ 5.5)
    ts5 = store.resolve_run_ts(spark, "r5")
    assert ts5 == 5
    ok = _verdict_map(
        store.seasonal_verdicts(b, "r5", ts5, period=2), "seasonal"
    )
    assert ok == {"avg": "pass"}
    bad = _verdict_map(
        store.seasonal_verdicts(a, "r5", ts5, period=2), "seasonal"
    )
    assert bad == {"avg": "fail"}
    assert _verdict_map(store.verdicts(a, "r5"), "zscore") == {"avg": "pass"}

    # CLI wiring: seasonal rows ride the metric_anomalies sink; with no
    # prior history every slot is empty → all insufficient (fail-open)
    args = ["--images", "synthetic:3000", "--master", "local[8]",
            "--metrics-store", str(tmp_path / "clistore"),
            "--seasonal-period", "2"]
    assert runner.main(["--out", str(tmp_path / "o1"), "--run-id", "s1", *args]) == 0
    v1 = spark.read.parquet(f"{tmp_path}/o1/metric_anomalies").toPandas()
    seas = v1[v1.strategy == "seasonal"]
    assert len(seas) > 0 and (seas["verdict"] == "insufficient").all()
    assert set(v1.strategy) == {"zscore", "rel_change", "seasonal"}


def test_trend_verdicts_planted(spark):
    """Monotone creep -> increasing/decreasing; noisy-but-flat ->
    no_trend; constant series (Var(S)=0 after the tie correction) ->
    no_trend with z=0; short series -> insufficient. A single outlier run
    neither fakes a trend on the flat series nor hides the real one, and
    Sen's slope stays near the true per-run rate (the rank-robustness
    reason MK beats least squares on monitoring series)."""
    from al_drift_detection_spark.functions.anomaly import trend_verdicts

    rows = []
    n = 20
    # deterministic zig-zag noise, zero mean, no accidental monotonicity
    noise = [(-1) ** i * (0.5 + (i % 3) * 0.25) for i in range(n)]
    for i in range(n):
        rows.append((0, "a", "up", 10.0 + 0.3 * i + 0.1 * noise[i], i))
        rows.append((0, "a", "down", 10.0 - 0.3 * i + 0.1 * noise[i], i))
        rows.append((0, "a", "flat", 10.0 + noise[i], i))
        rows.append((0, "a", "const", 7.0, i))
        # flat series with one huge outlier run
        rows.append((0, "a", "flat_outlier", (1000.0 if i == 10 else 10.0 + noise[i]), i))
        # real trend with one huge opposing outlier
        rows.append((0, "a", "up_outlier", (-1000.0 if i == 10 else 10.0 + 0.3 * i), i))
    for i in range(5):
        rows.append((0, "a", "short", 10.0 + i, i))
    hist = spark.createDataFrame(rows, HIST_SCHEMA)
    got = (
        trend_verdicts(hist, min_runs=8)
        .toPandas()
        .set_index("metric")
    )
    assert got.loc["up", "verdict"] == "increasing"
    assert got.loc["down", "verdict"] == "decreasing"
    assert got.loc["flat", "verdict"] == "no_trend"
    assert got.loc["const", "verdict"] == "no_trend"
    assert got.loc["const", "z"] == 0.0 and got.loc["const", "var_s"] == 0.0
    assert got.loc["flat_outlier", "verdict"] == "no_trend"
    assert got.loc["up_outlier", "verdict"] == "increasing"
    assert got.loc["short", "verdict"] == "insufficient"
    assert abs(got.loc["up", "sen_slope"] - 0.3) < 0.02
    assert abs(got.loc["down", "sen_slope"] + 0.3) < 0.02
    # hand-checked S and Var(S) on the strictly monotone series:
    # S = n(n-1)/2 = 190, Var = n(n-1)(2n+5)/18 (no ties)
    assert got.loc["up", "s_stat"] == 190
    assert abs(got.loc["up", "var_s"] - 20.0 * 19.0 * 45.0 / 18.0) < 1e-9


def test_trend_cli_surface(spark, tmp_path):
    """--metrics-store + --trend writes metric_trend/ (with a single run
    every series has n_runs=1 -> insufficient, never a crash)."""
    from al_drift_detection_spark import runner

    store = str(tmp_path / "mstore")
    rc = runner.main([
        "--images", "synthetic:3000", "--master", "local[8]",
        "--out", str(tmp_path / "o1"), "--run-id", "r1",
        "--metrics-store", store, "--trend",
    ])
    assert rc == 0
    tr = spark.read.parquet(f"{tmp_path}/o1/metric_trend")
    pdf = tr.toPandas()
    assert len(pdf) > 0
    assert (pdf["verdict"] == "insufficient").all()
    assert {"part", "column", "metric", "n_runs", "s_stat", "z",
            "sen_slope", "verdict"} <= set(tr.columns)


def test_stream_trend_surface(spark, tmp_path):
    """--stream --trend writes stream_trend/: the planted w drift in
    windows 4-5 is a LEVEL SHIFT late in a 6-window series — with min_runs
    =5 the ks:w series carries a positive Sen slope (monotone-ish rise
    into the drift era), and every series has n_runs=6 rows scored."""
    from al_drift_detection_spark import runner

    out = tmp_path / "st"
    rc = runner.main([
        "--images", "synthetic:12000", "--out", str(out),
        "--master", "local[8]", "--stream", "--trend",
    ])
    assert rc == 0
    tr = spark.read.parquet(f"{out}/stream_trend").toPandas()
    assert set(tr["column"]) == {"volume", "w", "h"}
    assert (tr["n_runs"] == 6).all()
    w_row = tr[tr["column"] == "w"].iloc[0]
    assert w_row["sen_slope"] > 0
    vol = tr[tr["column"] == "volume"].iloc[0]
    assert vol["verdict"] == "no_trend"


def test_trend_rank_invariance(spark):
    """Mann-Kendall is a RANK test: any strictly increasing transform of a
    series (affine 3x+7, exp(x/20)) leaves S, Var(S), z and the verdict
    identical — only Sen's slope changes (exactly 3x under the affine
    map). This is the property that makes it robust on contaminated
    monitoring series and distinguishes it from a least-squares slope."""
    import math

    from al_drift_detection_spark.functions.anomaly import trend_verdicts

    base = [10.0 + 0.4 * i + ((-1) ** i) * 0.7 for i in range(16)]
    rows = []
    for i, v in enumerate(base):
        rows.append((0, "a", "raw", v, i))
        rows.append((0, "a", "affine", 3.0 * v + 7.0, i))
        rows.append((0, "a", "exp", math.exp(v / 20.0), i))
    hist = spark.createDataFrame(rows, HIST_SCHEMA)
    got = trend_verdicts(hist, min_runs=8).toPandas().set_index("metric")
    for m in ("affine", "exp"):
        assert got.loc[m, "s_stat"] == got.loc["raw", "s_stat"], m
        assert got.loc[m, "var_s"] == got.loc["raw", "var_s"], m
        assert got.loc[m, "z"] == got.loc["raw", "z"], m
        assert got.loc[m, "verdict"] == got.loc["raw", "verdict"], m
    assert abs(got.loc["affine", "sen_slope"] - 3.0 * got.loc["raw", "sen_slope"]) < 1e-6


def test_bigram_scoring_is_per_doc_isolated(spark):
    """Given a FIXED reference, a document's score does not depend on what
    other documents are scored alongside it (the model trains only on
    ref_filter rows): scoring a subset reproduces the full run's rows."""
    from al_drift_detection_spark.functions.text import bigram_nll

    ref = [(i, "the cat sat on the mat", True) for i in range(6)]
    cur = [
        (100, "the cat sat", False),
        (101, "mat on sat", False),
        (102, "zq xv zq xv", False),
    ]
    schema = "doc_id long, text string, is_ref boolean"
    full = (
        bigram_nll(spark.createDataFrame(ref + cur, schema),
                   ref_filter=F.col("is_ref"), vocab_size=8)
        .toPandas().set_index("doc_id")
    )
    sub = (
        bigram_nll(spark.createDataFrame(ref + cur[:1], schema),
                   ref_filter=F.col("is_ref"), vocab_size=8)
        .toPandas().set_index("doc_id")
    )
    assert sub.loc[100].equals(full.loc[100])
