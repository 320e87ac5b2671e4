"""Per-slice drift drill-down (functions/slices): planted attribution, the
pool-hides-slice contrast that motivates the operator, new-slice and
missing-slice semantics, and the bounded deterministic universe."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from al_drift_detection_spark.functions.slices import sliced_psi_drift


def _frame(spark, n=12_000, windows=6, slices=("a", "b", "c")):
    """Uniform-ish values per slice; deterministic pseudo-noise from id."""
    k = len(slices)
    return spark.range(n).select(
        (F.col("id") % windows).alias("w"),
        F.element_at(
            F.array(*[F.lit(s) for s in slices]),
            ((F.col("id") / windows).cast("long") % k + 1).cast("int"),
        ).alias("s"),
        ((F.col("id") * 48271) % 1000 / 10.0).alias("v"),
    )


def _verdicts(out):
    return {
        (r["w"], r["slice"]): (r["verdict"], r["rank"]) for r in out.collect()
    }


def test_planted_slice_shift_attributed(spark):
    """+40 on slice 'b' in cur windows only: b fails at rank 1 in every cur
    window, a/c pass — and the SAME shift diluted into the pool stays under
    the global PSI threshold (the drill-down catches what the pool hides;
    'b' is 1/3 of rows and the shift moves ~4 of 10 global bins)."""
    df = _frame(spark).withColumn(
        "v",
        F.col("v")
        + F.when((F.col("s") == "b") & (F.col("w") >= 3), 40.0).otherwise(0.0),
    )
    out = sliced_psi_drift(
        df, "v", "s", "w", ref_filter=F.col("w") < 3, bins=10, threshold=0.2
    )
    v = _verdicts(out)
    for w in (3, 4, 5):
        assert v[(w, "b")] == ("fail", 1), v
        assert v[(w, "a")][0] == "pass" and v[(w, "c")][0] == "pass"
        assert v[(w, "(other)")][0] == "no_data"
    # pool contrast: global PSI over the same rows, same grid discipline
    ref = df.filter("w < 3").select("v")
    lo, hi = ref.agg(F.min("v"), F.max("v")).first()
    def shares(d):
        b = d.select(
            F.least(
                F.greatest(F.floor((F.col("v") - lo) / ((hi - lo) / 10)), F.lit(0)),
                F.lit(9),
            ).alias("b")
        ).groupBy("b").count()
        tot = sum(r["count"] for r in b.collect())
        return {r["b"]: r["count"] / tot for r in b.collect()}
    import math
    pr, pc = shares(ref), shares(df.filter("w >= 3").select("v"))
    g = sum(
        (pc.get(i, 1e-4) - pr.get(i, 1e-4))
        * math.log(max(pc.get(i, 1e-4), 1e-4) / max(pr.get(i, 1e-4), 1e-4))
        for i in range(10)
    )
    assert g < 0.2, f"global psi {g} should stay under threshold"


def test_new_slice_lands_in_other_and_spikes(spark):
    """A slice the reference never saw appears in cur: it maps to '(other)'
    whose reference is empty (all-eps), so it fails loudly instead of
    crashing or silently widening the universe."""
    df = _frame(spark)
    extra = spark.range(600).select(
        (F.col("id") % 3 + 3).alias("w"),
        F.lit("zz_new").alias("s"),
        ((F.col("id") * 7919) % 1000 / 10.0).alias("v"),
    )
    out = sliced_psi_drift(
        df.unionByName(extra), "v", "s", "w", ref_filter=F.col("w") < 3
    )
    v = _verdicts(out)
    for w in (3, 4, 5):
        assert v[(w, "(other)")][0] == "fail"
    assert {s for (_, s) in v} == {"a", "b", "c", "(other)"}


def test_universe_bounded_by_max_slices(spark):
    """A corrupted high-cardinality slice column cannot blow up the grid:
    the universe is exactly ref-top-max_slices + '(other)', and every
    window emits exactly that row set (data-independent shape)."""
    junk = spark.range(3000).select(
        (F.col("id") % 6).alias("w"),
        F.concat(F.lit("j"), (F.col("id") % 500).cast("string")).alias("s"),
        (F.col("id") % 97 * 1.0).alias("v"),
    )
    df = _frame(spark).unionByName(junk)
    out = sliced_psi_drift(
        df, "v", "s", "w", ref_filter=F.col("w") < 3, max_slices=3
    )
    rows = out.collect()
    assert len(rows) == 3 * 4  # 3 cur windows x (3 named + other)
    assert {r["slice"] for r in rows} == {"a", "b", "c", "(other)"}


def test_stable_offbeat_slice_passes(spark):
    """A slice whose distribution always differed from the pool but did NOT
    change between ref and cur must pass — the per-slice baseline is the
    slice's own reference, never the pool (the per-cohort discipline)."""
    df = _frame(spark).withColumn(
        "v", F.col("v") + F.when(F.col("s") == "c", 200.0).otherwise(0.0)
    )
    out = sliced_psi_drift(df, "v", "s", "w", ref_filter=F.col("w") < 3)
    v = _verdicts(out)
    assert all(v[(w, "c")][0] == "pass" for w in (3, 4, 5)), v


def test_bad_bins_rejected(spark):
    with pytest.raises(ValueError):
        sliced_psi_drift(_frame(spark), "v", "s", "w", F.col("w") < 3, bins=1)


def test_small_slice_gate(spark):
    """A slice with fewer than min_rows current rows reads 'insufficient'
    (psi NULL, ranked past the scored slices): 4 rows in 10 bins score ~4
    whatever the truth — the observed tiny-fmt-slice false-alarm class."""
    df = _frame(spark)
    tiny = spark.range(12).select(
        (F.col("id") % 6).alias("w"), F.lit("t").alias("s"),
        (F.col("id") * 7.0).alias("v"),
    )
    out = sliced_psi_drift(
        df.unionByName(tiny), "v", "s", "w", ref_filter=F.col("w") < 3
    )
    v = _verdicts(out)
    for w in (3, 4, 5):
        assert v[(w, "t")][0] == "insufficient", v
        assert v[(w, "t")][1] > 3  # ranked past every scored slice
    rows = {(r["w"], r["slice"]): r for r in out.collect()}
    assert all(rows[(w, "t")]["psi"] is None for w in (3, 4, 5))


def test_runner_slice_drift_surface(spark, tmp_path):
    """`runner --slice-drift fmt:w` writes slice_drift/: the planted w
    drift is GLOBAL, so every fmt slice with enough rows fails in the
    drift windows (4, 5) — the drill-down's "not slice-specific" signature
    — tiny fmt slices read insufficient (the noise gate), and the empty
    '(other)' reads no_data."""
    from al_drift_detection_spark import runner

    out = tmp_path / "o"
    assert runner.main([
        "--images", "synthetic:12000", "--out", str(out),
        "--master", "local[8]", "--slice-drift", "fmt:w",
    ]) == 0
    rows = spark.read.parquet(f"{out}/slice_drift").collect()
    assert {r["window_id"] for r in rows} == {4, 5}
    scored = [r for r in rows if r["n_cur"] >= 50]
    assert len(scored) >= 4 and all(r["verdict"] == "fail" for r in scored)
    small = [r for r in rows if 0 < r["n_cur"] < 50]
    assert small and all(r["verdict"] == "insufficient" for r in small)
    assert all(
        r["verdict"] == "no_data" for r in rows if r["slice"] == "(other)"
    )
    # a bad spec is an argparse error: exit 2 before any work or write
    with pytest.raises(SystemExit) as exc:
        runner.main([
            "--images", "synthetic:3000", "--out", str(tmp_path / "o2"),
            "--master", "local[8]", "--slice-drift", "nocolon",
        ])
    assert exc.value.code == 2
    assert not (tmp_path / "o2").exists()
