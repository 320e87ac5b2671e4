"""Windowed data-health checks (functions/health.py): planted volume drop,
planted null burst, planted ingestion stall, schema-contract golden."""

from __future__ import annotations

import datetime as dt

import numpy as np
import pytest
from pyspark.sql import functions as F


def test_volume_anomaly_planted(spark):
    """A half-empty window fails, a doubled window fails, normal windows
    pass; the reference mean comes only from the ref_filter windows."""
    from al_drift_detection_spark.functions.health import volume_anomaly

    rows = []
    for w, n in [(0, 1000), (1, 1000), (2, 1000), (3, 400), (4, 2500)]:
        rows += [(w,)] * n
    df = spark.createDataFrame(rows, "window_id int")
    got = (
        volume_anomaly(df, ref_filter=F.col("window_id") < 3)
        .toPandas()
        .set_index("window_id")
        .sort_index()
    )
    assert (got.loc[:2, "verdict"] == "pass").all()
    assert got.loc[3, "verdict"] == "fail" and got.loc[3, "ratio"] == 0.4
    assert got.loc[4, "verdict"] == "fail" and got.loc[4, "ratio"] == 2.5
    assert (got["ref_mean"] == 1000.0).all()


def test_health_empty_reference_raises_not_all_pass(spark):
    """A reference that selects NO windows must raise loudly — a NULL
    reference aggregate would otherwise make every comparison NULL and fall
    through to 'pass' (review-caught silent-all-pass)."""
    import pytest

    from al_drift_detection_spark.functions.health import (
        completeness_drift,
        volume_anomaly,
    )

    df = spark.createDataFrame([(19000, 1.0)] * 10, "window_id int, a double")
    with pytest.raises(ValueError, match="selects no windows"):
        volume_anomaly(df, ref_filter=F.col("window_id") < 4)
    with pytest.raises(ValueError, match="selects no windows"):
        completeness_drift(df, ["a"], ref_filter=F.col("window_id") < 4)


def test_volume_ref_first_n_sparse_windows(spark):
    """ref_first_n means the first N windows IN WINDOW ORDER, not an id
    range: sparse epoch-day ids (100, 103, 110) must all three count as the
    reference for n=3 (an id-range filter would admit only one)."""
    from al_drift_detection_spark.functions.health import volume_anomaly

    rows = [(100,)] * 50 + [(103,)] * 100 + [(110,)] * 150 + [(200,)] * 500
    df = spark.createDataFrame(rows, "window_id int")
    got = (
        volume_anomaly(df, ref_first_n=3)
        .toPandas()
        .set_index("window_id")
        .sort_index()
    )
    assert (got["ref_mean"] == 100.0).all()  # mean of 50/100/150
    assert got.loc[200, "verdict"] == "fail" and got.loc[200, "ratio"] == 5.0
    assert got.loc[103, "verdict"] == "pass"


def test_completeness_handles_hostile_column_names(spark):
    """Column names with spaces and quotes must not break (or inject into)
    the stack() expression — aliases are positional, labels escaped."""
    from al_drift_detection_spark.functions.health import completeness_drift

    df = spark.createDataFrame(
        [(0, 1.0, "x"), (0, None, "y"), (1, 2.0, None), (1, 3.0, "z")],
        ["window_id", "event count", "weird'col"],
    )
    got = completeness_drift(
        df, ["event count", "weird'col"], ref_filter=F.col("window_id") >= 0
    ).toPandas()
    assert set(got["column"]) == {"event count", "weird'col"}
    assert len(got) == 4  # 2 windows × 2 columns


def test_completeness_drift_planted(spark):
    """A column going 30% null in one window fails exactly there; columns
    and windows matching the reference ratio pass."""
    from al_drift_detection_spark.functions.health import completeness_drift

    rows = []
    for w in range(3):
        for i in range(100):
            a = None if (w == 2 and i < 30) else float(i)
            b = "x" if i % 10 else None  # steady 10% nulls everywhere
            rows.append((w, a, b))
    df = spark.createDataFrame(rows, "window_id int, a double, b string")
    got = completeness_drift(df, ["a", "b"], ref_filter=F.col("window_id") < 2)
    pdf = got.toPandas().set_index(["window_id", "column"]).sort_index()
    assert pdf.loc[(2, "a"), "verdict"] == "fail"
    assert pdf.loc[(2, "a"), "delta"] == 0.3
    assert pdf.loc[(0, "a"), "verdict"] == "pass"
    assert pdf.loc[(1, "a"), "verdict"] == "pass"
    # the steady-null column never drifts
    assert (pdf.xs("b", level="column")["verdict"] == "pass").all()


def test_uniqueness_drift_planted_dup_surge(spark):
    """A window where a third of the rows collapse onto one key fails the
    distinct-ratio check; clean windows pass; the approx (HLL) scale path
    agrees with exact within its rsd on which windows fail."""
    from al_drift_detection_spark.functions.health import uniqueness_drift

    rows = []
    for w in range(3):
        for i in range(300):
            k = "dup" if (w == 2 and i % 3 == 0) else f"{w}_{i}"
            rows.append((w, k))
    df = spark.createDataFrame(rows, "window_id int, k string")
    exact = (
        uniqueness_drift(df, "k", ref_filter=F.col("window_id") < 2, approx=False)
        .toPandas()
        .set_index("window_id")
        .sort_index()
    )
    assert exact.loc[0, "verdict"] == "pass" and exact.loc[0, "ratio"] == 1.0
    assert exact.loc[2, "verdict"] == "fail"
    # 100 dup rows → 201 distinct of 300
    assert exact.loc[2, "n_distinct"] == 201

    hll = (
        uniqueness_drift(df, "k", ref_filter=F.col("window_id") < 2, approx=True)
        .toPandas()
        .set_index("window_id")
        .sort_index()
    )
    assert hll["verdict"].tolist() == exact["verdict"].tolist()
    assert abs(hll.loc[2, "n_distinct"] - 201) / 201 < 0.15  # within HLL rsd slack

    import pytest

    with pytest.raises(ValueError, match="selects no windows"):
        uniqueness_drift(df, "k", ref_filter=F.col("window_id") > 99)


def test_ingestion_gaps_planted_stall(spark):
    """A 2-hour hole in one window's timestamps trips the max-gap verdict;
    a steadily-fed window passes."""
    from al_drift_detection_spark.functions.health import ingestion_gaps

    t0 = dt.datetime(2024, 1, 1)
    rows = []
    # window 0: one event per minute for 100 minutes
    for i in range(100):
        rows.append((0, t0 + dt.timedelta(minutes=i), i))
    # window 1: same cadence but a 2 h stall in the middle
    for i in range(100):
        stall = dt.timedelta(hours=2) if i >= 50 else dt.timedelta()
        rows.append((1, t0 + dt.timedelta(minutes=i) + stall, 1000 + i))
    df = spark.createDataFrame(rows, "window_id int, ts timestamp, event_id long")
    got = (
        ingestion_gaps(df, "ts", "window_id", id_col="event_id", max_gap_seconds=3600.0)
        .toPandas()
        .set_index("window_id")
        .sort_index()
    )
    assert got.loc[0, "verdict"] == "pass" and got.loc[0, "max_gap_sec"] == 60.0
    assert got.loc[1, "verdict"] == "fail"
    assert got.loc[1, "max_gap_sec"] == 2 * 3600 + 60.0
    assert (got["n_rows"] == 100).all()


def test_runner_health_surfaces(spark, tmp_path_factory):
    """--health writes the volume + completeness tables (synthetic corpus is
    uniform per window → all-pass no-false-positive check) and
    --expect-schema writes the schema verdict table with a planted
    mismatch."""
    from al_drift_detection_spark import runner

    out = str(tmp_path_factory.mktemp("health_cli") / "out")
    args = [
        "--images", "synthetic:8000", "--out", out, "--master", "local[8]",
        "--health",
        "--expect-schema",
        "image_id string, bytes binary, w int, h int, fmt string, "
        "caption string, phash string, part int, window_id int",
    ]
    assert runner.main(args) == 0

    vol = spark.read.parquet(f"{out}/health_volume").toPandas()
    assert (vol["verdict"] == "pass").all() and len(vol) == 4  # 8000/2000
    comp = spark.read.parquet(f"{out}/health_completeness").toPandas()
    assert (comp["verdict"] == "pass").all()
    assert set(comp["column"]) == {"caption", "phash", "w", "h", "fmt"}

    sc = spark.read.parquet(f"{out}/schema_check").toPandas().set_index("column")
    assert sc.loc["phash", "status"] == "type_mismatch"  # bigint, not string
    assert sc.loc["image_id", "status"] == "ok"
    assert (sc.drop(index="phash")["status"] == "ok").all()


def test_schema_check_golden(spark):
    """Missing / mismatched / unexpected columns come back as exactly the
    right status rows; a fully-matching contract is all-ok."""
    from al_drift_detection_spark.functions.health import schema_check

    df = spark.createDataFrame(
        [(1, "t", 2.0)], "doc_id bigint, text string, extra double"
    )
    got = (
        schema_check(df, "doc_id bigint, text string, lang string, doc_id2 int")
        .toPandas()
        .set_index("column")
    )
    assert got.loc["doc_id", "status"] == "ok"
    assert got.loc["text", "status"] == "ok"
    assert got.loc["lang", "status"] == "missing"
    assert got.loc["doc_id2", "status"] == "missing"
    assert got.loc["extra", "status"] == "unexpected"

    mism = schema_check(df, "doc_id string, text string, extra double").toPandas()
    row = mism.set_index("column").loc["doc_id"]
    assert row["status"] == "type_mismatch"
    assert row["expected_type"] == "string" and row["actual_type"] == "bigint"

    ok = schema_check(df, "doc_id bigint, text string, extra double").toPandas()
    assert (ok["status"] == "ok").all() and len(ok) == 3


def test_volume_anomaly_rejects_nonpositive_ref_mean(spark):
    """A zero/negative literal reference volume would NULL every ratio and
    silently pass every window — rejected loudly instead (review-caught;
    the closed-window streaming twin applies the same guard)."""
    import pytest
    from pyspark.sql import functions as F

    from al_drift_detection_spark.functions.health import volume_anomaly

    df = spark.range(10).select(F.lit(0).alias("window_id"))
    with pytest.raises(ValueError, match="ref_mean must be positive"):
        volume_anomaly(df, "window_id", ref_mean=0.0)


def test_correlation_drift_joint_break(spark):
    """Windows whose MARGINALS are identical but whose joint structure broke
    (b re-paired against a) must fail corr drift — the per-column kernels
    are provably blind to this construction (same value multisets)."""
    import pytest
    from pyspark.sql import functions as F

    from al_drift_detection_spark.functions.health import correlation_drift
    from al_drift_detection_spark.persist import persist_scope

    n_per, wins = 2000, 4
    k = F.floor(F.col("id") / wins)
    df = spark.range(n_per * wins).select(
        (F.col("id") % wins).alias("window_id"),
        k.cast("double").alias("a"),
        # windows 0-2: b tracks a (corr ≈ +1); window 3: b = max−a — the
        # SAME value multiset, perfectly anti-correlated (corr = −1)
        F.when(F.col("id") % wins == 3, (F.lit(n_per - 1) - k).cast("double"))
        .otherwise(k.cast("double"))
        .alias("b"),
    )
    with persist_scope():
        out = correlation_drift(
            df, "a", "b", ref_filter=F.col("window_id") < 2, max_abs_diff=0.2
        )
        pdf = out.toPandas().set_index("window_id")
    assert pdf.loc[2, "verdict"] == "pass" and abs(pdf.loc[2, "corr"] - 1) < 1e-9
    assert pdf.loc[3, "verdict"] == "fail" and abs(pdf.loc[3, "corr"] + 1) < 1e-9
    # marginal blindness: per-window value multisets of b are identical
    ms = (
        df.groupBy("window_id")
        .agg(F.sum("b").alias("s"), F.sum(F.col("b") * F.col("b")).alias("ss"))
        .toPandas().set_index("window_id")
    )
    assert ms.loc[3].equals(ms.loc[0])

    # degenerate window: constant column → NULL corr → fail
    dg = df.withColumn(
        "b", F.when(F.col("window_id") == 3, F.lit(7.0)).otherwise(F.col("b"))
    )
    with persist_scope():
        out2 = correlation_drift(
            dg, "a", "b", ref_filter=F.col("window_id") < 2, max_abs_diff=0.2
        )
        pdf2 = out2.toPandas().set_index("window_id")
    assert pdf2.loc[3, "verdict"] == "fail" and pdf2.loc[3].isna()["corr"]

    # degenerate REFERENCE raises loudly
    with pytest.raises(ValueError, match="degenerate"):
        correlation_drift(
            df.withColumn("b", F.lit(1.0)), "a", "b",
            ref_filter=F.col("window_id") < 2,
        )


# ---- categorical association (MI + Cramér's V) -------------------------------
def test_categorical_association_perfect_dependence(spark):
    """b is a function of a (and vice versa): MI = H(a) and V = 1."""
    from al_drift_detection_spark.functions.health import categorical_association
    from al_drift_detection_spark.persist import persist_scope

    rows = [(f"a{i % 4}", f"b{i % 4}") for i in range(400)]
    with persist_scope():
        out = categorical_association(
            spark.createDataFrame(rows, "x string, y string"), "x", "y"
        )
        r = out.collect()[0]
    assert r["n"] == 400 and r["ka"] == 4 and r["kb"] == 4
    assert r["mi"] == pytest.approx(np.log(4), abs=1e-9)  # H(uniform over 4)
    assert r["cramers_v"] == pytest.approx(1.0, abs=1e-9)


def test_categorical_association_independence_and_degenerate(spark):
    from al_drift_detection_spark.functions.health import categorical_association
    from al_drift_detection_spark.persist import persist_scope

    # exact independence by construction: every (a, b) combo equally frequent
    rows = [(f"a{i % 3}", f"b{(i // 3) % 5}") for i in range(300)]
    with persist_scope():
        out = categorical_association(
            spark.createDataFrame(rows, "x string, y string"), "x", "y"
        )
        r = out.collect()[0]
    assert r["mi"] == pytest.approx(0.0, abs=1e-9)
    assert r["cramers_v"] == pytest.approx(0.0, abs=1e-9)
    # constant column: V undefined (NULL), MI exactly 0; nulls excluded
    rows2 = [("only", f"b{i % 3}") for i in range(30)] + [(None, "b0")] * 5
    with persist_scope():
        out2 = categorical_association(
            spark.createDataFrame(rows2, "x string, y string"), "x", "y"
        )
        r2 = out2.collect()[0]
    assert r2["n"] == 30 and r2["ka"] == 1
    assert r2["mi"] == pytest.approx(0.0, abs=1e-12)
    assert r2["cramers_v"] is None


def test_association_drift_catches_pairing_break_marginals_identical(spark):
    """Two planted scenarios with IDENTICAL per-window marginals (so every
    per-column check passes everywhere): (1) a cyclic relabel of b against
    a — a bijection, MI stays ln(3), documented invariance → all pass;
    (2) b becomes INDEPENDENT of a in the drift era — MI collapses to ~0
    vs the dependent reference → exactly windows 4-5 fail."""
    from al_drift_detection_spark.functions.health import association_drift
    from al_drift_detection_spark.persist import persist_scope

    rows = []
    for w in range(6):
        for i in range(300):
            a = i % 3
            b = a if w < 4 else (a + 1) % 3  # same marginals, broken pairing
            rows.append((w, f"a{a}", f"b{b}"))
    df = spark.createDataFrame(rows, "window_id long, x string, y string")
    with persist_scope():
        out = association_drift(
            df, "x", "y",
            cats_a=["a0", "a1", "a2"], cats_b=["b0", "b1", "b2"],
            ref_filter=F.col("window_id") < 4, max_abs_diff=0.1,
        )
        got = {r["window_id"]: r for r in out.collect()}
    # a cyclic shift is a bijection, so MI stays ln(3) in every window —
    # MI-based drift is invariant to relabeling by design; all pass, and
    # per-window MI equals the reference fold exactly
    assert all(got[w]["verdict"] == "pass" for w in range(6))
    assert got[0]["mi"] == pytest.approx(np.log(3), abs=1e-9)

    rows2 = []
    for w in range(6):
        for i in range(300):
            a = i % 3
            b = a if w < 4 else (i // 100)  # drift era: b independent of a
            rows2.append((w, f"a{a}", f"b{b}"))
    df2 = spark.createDataFrame(rows2, "window_id long, x string, y string")
    with persist_scope():
        out2 = association_drift(
            df2, "x", "y",
            cats_a=["a0", "a1", "a2"], cats_b=["0", "1", "2", "b0", "b1", "b2"],
            ref_filter=F.col("window_id") < 4, max_abs_diff=0.1,
        )
        got2 = {r["window_id"]: r["verdict"] for r in out2.collect()}
    assert [got2[w] for w in range(6)] == ["pass"] * 4 + ["fail"] * 2


def test_association_drift_reference_guards(spark):
    import pytest as _pytest

    from al_drift_detection_spark.functions.health import association_drift

    df = spark.createDataFrame(
        [(0, "a0", "b0"), (0, "a1", "b1")], "window_id long, x string, y string"
    )
    with _pytest.raises(ValueError, match="selects no windows"):
        association_drift(df, "x", "y", ["a0", "a1"], ["b0", "b1"],
                          ref_filter=F.col("window_id") < 0)
    const = spark.createDataFrame(
        [(0, "only", "b0"), (0, "only", "b1")], "window_id long, x string, y string"
    )
    with _pytest.raises(ValueError, match="constant"):
        association_drift(const, "x", "y", ["only"], ["b0", "b1"])


# ---- Benford first-digit shape constraint ------------------------------------
def test_benford_log_uniform_passes_uniform_fails(spark):
    """A log-uniform sample (the canonical Benford-conforming generator)
    must NOT reject at alpha=0.01; a uniform sample must reject hard. The
    verdict applies kernels.chi2_sf to the summed per-digit terms (dof=8)."""
    import numpy as np

    from al_drift_detection_spark.functions.health import benford_digit_counts
    from al_drift_detection_spark.kernels import chi2_sf

    rng = np.random.default_rng(5)
    conform = np.power(10.0, rng.uniform(0.0, 5.0, 20000))
    rows = [(float(v),) for v in conform]
    out = benford_digit_counts(
        spark.createDataFrame(rows, "x double"), "x"
    ).collect()
    assert sorted(r["digit"] for r in out) == list(range(1, 10))
    assert sum(r["observed"] for r in out) == 20000
    stat = sum(r["chi2_term"] for r in out)
    assert chi2_sf(stat, 8) > 0.01, f"log-uniform rejected (chi2={stat:.1f})"
    # observed proportions track Benford to the sampling noise floor
    for r in out:
        assert r["observed_p"] == pytest.approx(r["benford_p"], abs=0.02)

    uniform = rng.uniform(1.0, 10000.0, 20000)
    out_u = benford_digit_counts(
        spark.createDataFrame([(float(v),) for v in uniform], "x double"), "x"
    ).collect()
    stat_u = sum(r["chi2_term"] for r in out_u)
    assert chi2_sf(stat_u, 8) < 1e-6, "uniform data must reject Benford"


def test_benford_domain_and_zero_digit_cells(spark):
    from al_drift_detection_spark.functions.health import benford_digit_counts

    # values outside [1, 1e9) and NULLs are excluded; a digit with zero
    # observations still appears with its expected-mass chi2 term
    rows = [(0.5,), (None,), (2e9,), (1.0,), (19.0,), (100.0,), (9999.0,)]
    out = {r["digit"]: r for r in benford_digit_counts(
        spark.createDataFrame(rows, "x double"), "x").collect()}
    assert sum(r["observed"] for r in out.values()) == 4
    assert out[1]["observed"] == 3 and out[9]["observed"] == 1
    assert out[5]["observed"] == 0 and out[5]["chi2_term"] > 0


def test_runner_assoc_drift_surface(spark, tmp_path_factory):
    """--assoc-drift writes the per-window fmt × w-bucket MI verdict table;
    fmt is generated independently of w in the synthetic corpus and the
    planted w drift moves only the marginal, so all 6 windows pass — and
    the reference-derived buckets must actually split the data (defined
    Cramér's V), or the check would be vacuous."""
    from al_drift_detection_spark import runner

    out = str(tmp_path_factory.mktemp("assoc_cli") / "out")
    rc = runner.main([
        "--images", "synthetic:12000", "--out", out, "--master", "local[8]",
        "--assoc-drift",
    ])
    assert rc == 0
    a = spark.read.parquet(f"{out}/assoc_drift").toPandas().sort_values("window_id")
    assert a["window_id"].tolist() == [0, 1, 2, 3, 4, 5]
    assert (a["verdict"] == "pass").all()
    assert a["cramers_v"].notna().all()
    assert (a["mi"] > 0).any()


def test_referential_drift_planted_orphan_surge(spark):
    """Windows 0-2 reference only known dim keys; window 3's producer starts
    emitting 20% unknown keys — exactly window 3 fails. NULL keys are
    excluded from the rate (FK semantics), and an empty reference raises."""
    from al_drift_detection_spark.functions.health import referential_drift
    from al_drift_detection_spark.persist import persist_scope

    dim = spark.createDataFrame([(i,) for i in range(100)], "k long")
    rows = []
    for w in range(4):
        for i in range(200):
            if w == 3 and i % 5 == 0:
                key = 1000 + i  # unknown to the dimension
            else:
                key = i % 100
            rows.append((w, key))
    rows += [(0, None)] * 10  # excluded, not orphans
    df = spark.createDataFrame(rows, "window_id long, fk long")
    with persist_scope():
        out = referential_drift(
            df, "fk", dim, "k", ref_filter=F.col("window_id") < 3, max_abs_jump=0.05
        )
        got = {r["window_id"]: r for r in out.collect()}
    assert got[0]["n"] == 200  # nulls excluded from the denominator
    assert all(got[w]["verdict"] == "pass" and got[w]["orphans"] == 0 for w in range(3))
    assert got[3]["verdict"] == "fail" and got[3]["orphans"] == 40
    assert got[3]["rate"] == pytest.approx(0.2)

    with pytest.raises(ValueError, match="selects no windows"):
        referential_drift(df, "fk", dim, "k", ref_filter=F.col("window_id") > 99)


def test_conditional_completeness_planted(spark):
    """One category's null burst fails ONLY that (category, window); the
    global ratio barely moves (the drill-down's reason to exist). Edge
    verdicts: a brand-new current-only category lands in '(other)' and
    scores vs the ref tail; a category absent from a window is 'no_data';
    a thin slice is 'insufficient'."""
    from al_drift_detection_spark.functions.health import (
        conditional_completeness_drift,
    )

    rows = []
    # ref windows 0-1: cats a(60/w), b(30/w), c(10/w); ~10% nulls in a only
    for w in (0, 1):
        rows += [(w, "a", None if i % 10 == 0 else 1.0) for i in range(60)]
        rows += [(w, "b", 1.0)] * 30
        rows += [(w, "c", 1.0)] * 10
    # window 2 (clean): same shape
    rows += [(2, "a", None if i % 10 == 0 else 1.0) for i in range(60)]
    rows += [(2, "b", 1.0)] * 30
    rows += [(2, "c", 1.0)] * 10
    # window 3: b goes 80% null; a stays clean; c MISSING (no_data);
    # brand-new cat z arrives all-null (flows to '(other)' with ref tail=c)
    rows += [(3, "a", None if i % 10 == 0 else 1.0) for i in range(60)]
    rows += [(3, "b", None if i % 5 != 4 else 1.0) for i in range(30)]
    rows += [(3, "z", None)] * 20
    # window 4: only 3 'a' rows -> insufficient
    rows += [(4, "a", 1.0)] * 3
    df = spark.createDataFrame(rows, "w int, cat string, v double")
    got = (
        conditional_completeness_drift(
            df, "cat", "v", "w",
            ref_filter=F.col("w") < 2,
            threshold=0.2, max_categories=2, min_rows=5,
        )
        .toPandas()
        .set_index(["w", "category"])
        .sort_index()
    )
    # universe = ref top-2 {a, b} + (other); c folds into the tail
    assert set(got.index.get_level_values("category")) == {"a", "b", "(other)"}
    assert got.loc[(2, "a"), "verdict"] == "pass"
    assert got.loc[(2, "b"), "verdict"] == "pass"
    assert got.loc[(3, "a"), "verdict"] == "pass"          # clean cat untouched
    assert got.loc[(3, "b"), "verdict"] == "fail"          # the planted burst
    assert got.loc[(3, "b"), "null_ratio"] == 0.8
    assert got.loc[(3, "b"), "ref_ratio"] == 0.0
    # new cat z (all-null) scored in (other) vs the ref tail (c: 0 nulls)
    assert got.loc[(3, "(other)"), "verdict"] == "fail"
    assert got.loc[(3, "(other)"), "ref_ratio"] == 0.0
    # c absent from window 2's (other)? c IS present in w2 -> pass there
    assert got.loc[(2, "(other)"), "verdict"] == "pass"
    # window 4: b and (other) have no rows at all; a is thin
    assert got.loc[(4, "a"), "verdict"] == "insufficient"
    assert got.loc[(4, "b"), "verdict"] == "no_data"
    assert got.loc[(4, "(other)"), "verdict"] == "no_data"
    import pandas as pd
    assert pd.isna(got.loc[(4, "b"), "null_ratio"])


def test_conditional_completeness_empty_reference_raises(spark):
    from al_drift_detection_spark.functions.health import (
        conditional_completeness_drift,
    )

    df = spark.createDataFrame([(1, "a", 1.0)], "w int, cat string, v double")
    with pytest.raises(ValueError, match="reference selects no rows"):
        conditional_completeness_drift(
            df, "cat", "v", "w", ref_filter=F.col("w") < 0
        )


def test_runner_cond_completeness_surface(spark, tmp_path):
    """`runner --cond-completeness fmt:caption` writes cond_completeness/:
    caption nulls in the synthetic corpus are uniform across fmt, so every
    scored (category, window) passes — the no-false-positive check (the
    planted-burst behavior is pinned in
    test_conditional_completeness_planted and the streaming parity test).
    A bad spec fails loudly."""
    from al_drift_detection_spark import runner

    out = tmp_path / "o"
    assert runner.main([
        "--images", "synthetic:12000", "--out", str(out),
        "--master", "local[8]", "--cond-completeness", "fmt:caption",
    ]) == 0
    rows = spark.read.parquet(f"{out}/cond_completeness").collect()
    assert {r["window_id"] for r in rows} == {4, 5}
    assert {r["cond_col"] for r in rows} == {"fmt"}
    scored = [r for r in rows if r["n_cur"] >= 50]
    assert scored and all(r["verdict"] == "pass" for r in scored)
    assert all(
        r["verdict"] in ("no_data", "insufficient")
        for r in rows
        if r["n_cur"] < 50
    )
    assert runner.main([
        "--images", "synthetic:3000", "--out", str(tmp_path / "o2"),
        "--master", "local[8]", "--cond-completeness", "nocolon",
    ]) == 2


def test_stream_cond_completeness_surface(spark, tmp_path):
    """`--stream --cond-completeness fmt:caption` rides the closed-window
    family: stream_cond_completeness_fmt_caption/ has one row per
    (window × universe category), all scored categories pass (uniform
    caption nulls — the batch surface's no-false-positive twin)."""
    from al_drift_detection_spark import runner

    out = tmp_path / "so"
    assert runner.main([
        "--images", "synthetic:12000", "--out", str(out),
        "--master", "local[8]", "--stream",
        "--cond-completeness", "fmt:caption",
    ]) == 0
    rows = spark.read.parquet(
        f"{out}/stream_cond_completeness_fmt_caption"
    ).collect()
    assert len({r["window_start"] for r in rows}) == 6
    scored = [r for r in rows if r["n_cur"] >= 50]
    assert scored and all(r["verdict"] == "pass" for r in scored)
