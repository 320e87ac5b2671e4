"""Mergeable histogram-quantile sketches (functions/histograms): answer
accuracy vs exact percentiles, the lossless merge identity, grid saturation,
and the persisted store's incremental + idempotent-replay contract."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from al_drift_detection_spark.functions.histograms import (
    histogram_quantiles,
    merge_histograms,
    store_quantiles,
    update_histogram_store,
    window_histograms,
)

LO, HI, NB = 0.0, 100.0, 200  # bin width 0.5
QS = [0.1, 0.25, 0.5, 0.75, 0.9]


def _data(spark, n=40_000, windows=4, seed_mult=2654435761):
    # deterministic pseudo-uniform values in [0, 100) + a heavy tail past HI.
    # x derives from floor(id / windows) so every window sees the SAME value
    # multiset — deriving it from id directly correlates window with the
    # value lattice (each window samples a disjoint residue class, a real
    # ~0.2-PSI distribution difference that poisons same-distribution tests)
    k = F.floor(F.col("id") / windows)
    return spark.range(n).select(
        (F.col("id") % windows).alias("w"),
        (
            F.when(k % 100 == 0, F.lit(250.0))  # 1% overflow mass
            .otherwise(((k * seed_mult) % 10_000) / 100.0)
        ).alias("x"),
    )


def test_quantiles_within_bin_width(spark):
    df = _data(spark).cache()
    h = window_histograms(df, "x", "w", LO, HI, NB)
    got = histogram_quantiles(h, QS, LO, HI, NB).toPandas().set_index(["window", "q"])
    exact = (
        df.groupBy("w")
        .agg(*[F.expr(f"percentile(x, {q})").alias(f"p{i}") for i, q in enumerate(QS)])
        .toPandas()
        .set_index("w")
    )
    for w in range(4):
        for i, q in enumerate(QS):
            est = got.loc[(w, q)]["quantile"]
            ex = exact.loc[w][f"p{i}"]
            assert abs(est - ex) <= (HI - LO) / NB + 1e-9, (w, q, est, ex)
    df.unpersist()


def test_merge_is_lossless(spark):
    df = _data(spark)
    halves = [df.filter(F.col("id") % 2 == i) for i in (0, 1)]
    merged = merge_histograms(
        window_histograms(halves[0], "x", "w", LO, HI, NB).unionByName(
            window_histograms(halves[1], "x", "w", LO, HI, NB)
        ),
        by_window=True,
    )
    one_shot = window_histograms(df, "x", "w", LO, HI, NB)
    diff = merged.join(one_shot.withColumnRenamed("n", "n2"), ["window", "bin"], "full")
    assert diff.filter(
        F.coalesce("n", F.lit(-1)) != F.coalesce("n2", F.lit(-1))
    ).count() == 0


def test_grid_saturation_and_validation(spark):
    df = spark.createDataFrame(
        [(0, -5.0), (0, 50.0), (0, 100.0), (0, 999.0), (0, None)],
        "w int, x double",
    )
    h = window_histograms(df, "x", "w", LO, HI, NB).toPandas().set_index("bin")
    assert h.loc[-1]["n"] == 1  # underflow
    assert h.loc[NB]["n"] == 2  # x == hi and x > hi both overflow
    assert h["n"].sum() == 4  # NULL excluded
    # a quantile that lands in the overflow bin saturates to the grid edge
    out = histogram_quantiles(
        window_histograms(df, "x", "w", LO, HI, NB), [0.99], LO, HI, NB
    ).collect()[0]
    assert out["quantile"] == HI
    with pytest.raises(ValueError):
        window_histograms(df, "x", "w", 10.0, 10.0, NB)


def test_histogram_drift_planted_shift(spark):
    """PSI/hist-KS from sketch rows: a window matching the reference passes,
    a shifted window fails both kernels; statistics track the raw-scan PSI."""
    from al_drift_detection_spark.functions.histograms import histogram_drift
    from al_drift_detection_spark.persist import persist_scope

    n = 8000
    k = F.floor(F.col("id") / 4)  # window-decorrelated value stream (see _data)
    base = ((k * 2654435761) % 5_000) / 100.0
    df = spark.range(n).select(
        (F.col("id") % 4).alias("w"),
        F.when(F.col("id") % 4 == 3, base + 40.0)  # window 3: shifted +40
        .otherwise(base)
        .alias("x"),
    )
    h = window_histograms(df, "x", "w", LO, HI, NB)
    with persist_scope():
        out = histogram_drift(h, ref_windows=2, n_bins=NB).toPandas()
    v = out.set_index(["window", "kernel"])["verdict"]
    assert v.loc[(2, "psi")] == "pass" and v.loc[(2, "hist_ks")] == "pass"
    assert v.loc[(3, "psi")] == "fail" and v.loc[(3, "hist_ks")] == "fail"
    s = out.set_index(["window", "kernel"])["statistic"]
    assert s.loc[(3, "psi")] > 10 * s.loc[(2, "psi")]


def test_histogram_drift_from_store(spark, tmp_path):
    """Drift answered from the persisted store alone: two snapshots merge,
    then histogram_drift runs over merged sketch rows with zero raw reads."""
    from al_drift_detection_spark.functions.histograms import histogram_drift

    store = str(tmp_path / "dstore")
    df = _data(spark, n=20_000)
    update_histogram_store(
        df.filter(F.col("id") % 2 == 0), store, "x", "w", LO, HI, 1, n_bins=NB
    )
    update_histogram_store(
        df.filter(F.col("id") % 2 == 1), store, "x", "w", LO, HI, 2, n_bins=NB
    )
    st = spark.read.schema(
        "window long, bin int, n long, _snapshot int"
    ).parquet(store)
    out = histogram_drift(
        merge_histograms(st, by_window=True), ref_windows=2, n_bins=NB
    ).toPandas()
    # all windows draw the same distribution → everything passes
    assert (out["verdict"] == "pass").all()
    assert set(out["window"]) == {2, 3}


def test_quantile_store_cli(spark, tmp_path):
    """`runner --quantile-store`: per-window + lifetime w quantiles from the
    store; same run-id replay reproduces identical answers. The planted
    drift (windows 4,5 shift w upward) must show in the store's medians."""
    from al_drift_detection_spark import runner

    store = str(tmp_path / "qstore")
    args = ["--images", "synthetic:12000", "--master", "local[8]",
            "--quantile-store", store]
    assert runner.main(["--out", str(tmp_path / "o1"), "--run-id", "r1", *args]) == 0
    q1 = spark.read.parquet(f"{tmp_path}/o1/hist_quantiles").toPandas()
    med = q1[(q1["q"] == 0.5) & q1["window"].notnull()].set_index("window")["quantile"]
    assert med.loc[4] > med.loc[[0, 1, 2, 3]].max()  # planted w drift
    life = q1[q1["window"].isnull()].iloc[0]
    assert life["n_total"] == 12000

    assert runner.main(["--out", str(tmp_path / "o2"), "--run-id", "r1", *args]) == 0
    q2 = spark.read.parquet(f"{tmp_path}/o2/hist_quantiles").toPandas()
    key = ["window", "q"]
    assert q1.sort_values(key, na_position="last").reset_index(drop=True).equals(
        q2.sort_values(key, na_position="last").reset_index(drop=True)
    )


def test_histogram_store_incremental_and_idempotent(spark, tmp_path):
    store = str(tmp_path / "hstore")
    df = _data(spark, n=20_000).cache()
    snap1 = df.filter(F.col("id") < 10_000)
    snap2 = df.filter(F.col("id") >= 10_000)

    update_histogram_store(snap1, store, "x", "w", LO, HI, snapshot_id=1, n_bins=NB)
    update_histogram_store(snap2, store, "x", "w", LO, HI, snapshot_id=2, n_bins=NB)
    ans = store_quantiles(spark, store, [0.5], LO, HI, NB).toPandas()

    # lifetime row == quantile of the full union, within bin width
    life = ans[ans["window"].isnull()].iloc[0]
    exact = df.agg(F.expr("percentile(x, 0.5)")).collect()[0][0]
    assert abs(life["quantile"] - exact) <= (HI - LO) / NB + 1e-9
    assert life["n_total"] == 20_000

    # replaying a snapshot is a no-op (dynamic-partition overwrite)
    update_histogram_store(snap2, store, "x", "w", LO, HI, snapshot_id=2, n_bins=NB)
    again = store_quantiles(spark, store, [0.5], LO, HI, NB).toPandas()
    key = ["window", "q"]
    a = ans.sort_values(key, na_position="last").reset_index(drop=True)
    b = again.sort_values(key, na_position="last").reset_index(drop=True)
    assert a.equals(b)
    df.unpersist()
