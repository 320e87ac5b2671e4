"""Single-scan combined streaming pass (streaming/closed.closed_multi,
VERDICT r6 Next #1): every closed-window verdict family in ONE streaming
query over ONE read of the feed. Parity contract: the split per-family
outputs are row-identical to the share-nothing per-family queries on the
same staged feed — same rows, same schemas, same emission semantics."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

BASE = pd.Timestamp("2026-01-01 00:00:00")
N_WINDOWS = 4
ROWS_PER_WINDOW = 500


def _meta(spark):
    """Small images-meta frame (the runner --stream input shape): 4
    positional windows, reference-like in 0-1, drifted w + caption nulls +
    planted duplicates in window 3."""
    rng = np.random.default_rng(7)
    rows = []
    for wid in range(N_WINDOWS):
        drifted = wid == 3
        for i in range(ROWS_PER_WINDOW):
            dup = drifted and i % 3 == 0  # uniqueness drop in window 3
            rows.append({
                "image_id": f"img_{wid}_{0 if dup else i}",
                "fmt": ["png", "jpeg", "bmp"][i % 3] if not drifted
                else ["png", "webp"][i % 2],
                "caption": None if (drifted and i % 4 == 0) or i % 50 == 0
                else f"cap {i}",
                "w": float(rng.normal(512 if not drifted else 700, 30)),
                "h": float(rng.normal(384, 20)),
                "window_id": wid,
            })
    pdf = pd.DataFrame(rows)
    return spark.createDataFrame(pdf).withColumn(
        "w", F.col("w").cast("int")
    ).withColumn("h", F.col("h").cast("int"))


@pytest.fixture(scope="module")
def staged(spark, tmp_path_factory):
    from al_drift_detection_spark.streaming.driver import (
        build_references,
        stage_bounded_stream,
    )

    root = tmp_path_factory.mktemp("combined")
    stage = str(root / "stage")
    meta = _meta(spark)
    stage_bounded_stream(meta, stage, 300, 60)
    refs = build_references(
        meta, ref_windows=2, cat_cols=["fmt"], slice_pairs=[("fmt", "w")],
        cond_pairs=[("fmt", "caption")],
    )
    return stage, refs


@pytest.fixture(scope="module")
def both_outputs(spark, staged, tmp_path_factory):
    from tools.check_oracles import persistent_ids
    from al_drift_detection_spark.streaming.driver import (
        run_closed_streams,
        run_closed_streams_combined,
    )

    stage, refs = staged
    out_sep = str(tmp_path_factory.mktemp("sep"))
    out_comb = str(tmp_path_factory.mktemp("comb"))
    c_sep = run_closed_streams(spark, stage, out_sep, refs, ["fmt"])
    rdds_before = persistent_ids(spark)
    c_comb = run_closed_streams_combined(spark, stage, out_comb, refs, ["fmt"])
    rdds_after = persistent_ids(spark)
    return out_sep, c_sep, out_comb, c_comb, (rdds_before, rdds_after)


def test_combined_counts_match_share_nothing(spark, both_outputs):
    _, c_sep, out_comb, c_comb, (rdds_before, rdds_after) = both_outputs
    assert c_sep == c_comb
    # non-vacuous: every family emitted its windows
    assert all(v > 0 for v in c_sep.values())
    # the counts come from one groupBy over the generic sink, not from
    # re-reading each family directory: they must still equal what each
    # directory holds
    for name, n in c_comb.items():
        assert spark.read.parquet(f"{out_comb}/{name}").count() == n, name
    # the split leaves nothing persisted behind (an id difference: the
    # ContextCleaner may free earlier tests' RDDs while the query runs)
    assert rdds_after - rdds_before == set()


def test_combined_rows_match_share_nothing_per_family(spark, both_outputs):
    """The split per-family sinks of the combined pass equal the
    share-nothing sinks row-for-row: identical schemas, identical values
    (exact for counts/strings/verdicts; 1e-9 for the float statistics whose
    pairwise-sum order can differ across merge orders)."""
    out_sep, c_sep, out_comb, *_ = both_outputs
    for name in c_sep:
        a = spark.read.parquet(f"{out_sep}/{name}")
        b = spark.read.parquet(f"{out_comb}/{name}")
        assert a.schema == b.schema, name
        sort_cols = [c for c in a.columns]
        pa = a.orderBy(*sort_cols).toPandas().reset_index(drop=True)
        pb = b.orderBy(*sort_cols).toPandas().reset_index(drop=True)
        assert len(pa) == len(pb), name
        for col, dtype in a.dtypes:
            if dtype == "double":
                assert np.allclose(
                    pa[col].astype(float), pb[col].astype(float),
                    rtol=1e-9, atol=1e-12, equal_nan=True,
                ), f"{name}.{col}"
            else:
                assert pa[col].where(pa[col].notna(), None).tolist() == \
                    pb[col].where(pb[col].notna(), None).tolist(), f"{name}.{col}"


def test_combined_verdicts_see_planted_drift(spark, both_outputs):
    """Non-vacuous parity: the planted window-3 drift actually fails in the
    combined output (w shift → drift vote; dup surge → uniqueness;
    caption nulls → completeness; webp mix → cat drift)."""
    _, _, out_comb, *_ = both_outputs

    def wid(pdf):
        return ((pdf["window_start"] - BASE).dt.total_seconds() // 300).astype(int)

    drift = spark.read.parquet(f"{out_comb}/stream_drift").toPandas()
    drift["wid"] = wid(drift)
    votes = drift[(drift["kernel"] == "vote") & (drift["column"] == "w")]
    assert votes.set_index("wid")["verdict"].loc[3] == "fail"
    assert (votes.set_index("wid")["verdict"].loc[[0, 1, 2]] == "pass").all()

    uniq = spark.read.parquet(f"{out_comb}/stream_uniqueness").toPandas()
    uniq["wid"] = wid(uniq)
    assert uniq.set_index("wid")["verdict"].loc[3] == "fail"

    cat = spark.read.parquet(f"{out_comb}/stream_cat_drift_fmt").toPandas()
    cat["wid"] = wid(cat)
    assert cat.set_index("wid")["verdict"].loc[3] == "fail"

    # caption nulls hit window 3's png slice only: webp rows sit on odd i
    # (i % 2 == 1) so the i % 4 == 0 null plant never touches them —
    # brand-new webp lands in '(other)' with ZERO nulls and passes against
    # the empty-tail 0.0 baseline; jpeg/bmp are absent from the drifted mix
    cc = spark.read.parquet(
        f"{out_comb}/stream_cond_completeness_fmt_caption"
    ).toPandas()
    cc["wid"] = wid(cc)
    w3 = cc[cc["wid"] == 3].set_index("category")
    assert w3.loc["png", "verdict"] == "fail"
    assert w3.loc["(other)", "verdict"] == "pass"
    assert w3.loc["(other)", "null_ratio"] == 0.0
    assert w3.loc["jpeg", "verdict"] == "no_data"
    assert (cc[cc["wid"] < 3].query("n_cur >= 50")["verdict"] == "pass").all()


def test_combined_is_one_scan_one_stateful_op(spark, staged):
    """The whole point: the combined query's plan has exactly ONE streaming
    source and ONE stateful operator for all families, and it passes the
    streaming pre-reduction audit (the `_pre_ts` mapInPandas sits under the
    dispatcher)."""
    from al_drift_detection_spark.streaming.closed import closed_multi
    from al_drift_detection_spark.streaming.driver import (
        STAGE_DDL,
        _with_bucket,
        stream_specs,
    )
    from tests.test_plans import analyzed_of, audit_streaming_stateful

    stage, refs = staged
    src = _with_bucket(
        spark.readStream.schema(STAGE_DDL).parquet(stage), refs
    )
    generic = closed_multi(src, "ts", stream_specs(refs, ["fmt"]))
    plan = analyzed_of(generic)
    assert plan.count("StreamingRelation") == 1
    assert plan.count("FlatMapGroupsInPandasWithState") == 1
    assert plan.count("MapInPandas") == 1  # ONE pre-reducer for all families
    assert not audit_streaming_stateful(plan), audit_streaming_stateful(plan)


# ---- per-family fault isolation (closed_multi) ----------------------------
# One closed_multi query runs a clean family next to three families planted
# to raise on window 1 — in reduce, fold and close respectively — and is
# compared with the same query where nothing raises. Window 1 arrives as TWO
# micro-batches (the first carries the poison), so a failed state must also
# ignore a later partial.

POISON_WINDOW = BASE + pd.Timedelta(minutes=5)
POISON_REF = {"png": 0.5, "jpeg": 0.4, "bmp": 0.1}
STAGES = ("reduce", "fold", "close")


@pytest.fixture(scope="module")
def poison_feed(spark, tmp_path_factory):
    from tests.test_closed_windows import _write_batches

    rng = np.random.default_rng(11)

    def frag(n, start_s, span_s, poison):
        return pd.DataFrame({
            "ts": [BASE + pd.Timedelta(seconds=int(start_s + s))
                   for s in rng.integers(0, span_s, n)],
            "fmt": rng.choice(["png", "jpeg", "bmp", "webp"], n,
                              p=[0.45, 0.35, 0.1, 0.1]),
            "poison": [poison] * n,
        })

    feed = str(tmp_path_factory.mktemp("poison") / "in")
    _write_batches(spark, feed, [
        frag(300, 0, 290, False),     # window 0
        frag(150, 300, 140, True),    # window 1, first micro-batch
        frag(150, 450, 140, False),   # window 1, second micro-batch
        frag(300, 600, 290, False),   # window 2
        frag(1, 3600, 1, False),      # sentinel: closes windows 0-2
    ], schema="ts timestamp, fmt string, poison boolean")
    return feed


def _poisoned_spec(stage, armed):
    """cat_drift named `poisoned_{stage}` that raises ZeroDivisionError in
    `stage` on window 1 when `armed`. Closures only — they ship to the
    Python workers by value."""
    import dataclasses

    from al_drift_detection_spark.streaming.closed import cat_drift_spec

    base = cat_drift_spec("fmt", POISON_REF, name=f"poisoned_{stage}")
    reduce_, fold_, close_ = base.reduce, base.fold, base.close

    def reduce(g):
        if armed and stage == "reduce" and g["_poison"].any():
            raise ZeroDivisionError("planted")
        n, longs, dbls, dblss = reduce_(g)
        return n, longs, dbls, dblss, ["poison"] if g["_poison"].any() else []

    def fold(st, pdf):
        if armed and stage == "fold" and any("poison" in list(t) for t in pdf["_strs"]):
            raise ZeroDivisionError("planted")
        return fold_(st, pdf)

    def close(st, w_start, w_end):
        if (armed and stage == "close"
                and pd.Timestamp(w_start).replace(tzinfo=None) == POISON_WINDOW):
            raise ZeroDivisionError("planted")
        return close_(st, w_start, w_end)

    return dataclasses.replace(
        base, cols={**base.cols, "_poison": F.col("poison")},
        reduce=reduce, fold=fold, close=close,
    )


def _run_poison(spark, feed, armed, query_name):
    from al_drift_detection_spark.streaming.closed import cat_drift_spec, closed_multi

    stream = (
        spark.readStream.schema("ts timestamp, fmt string, poison boolean")
        .option("maxFilesPerTrigger", 1)
        .parquet(feed)
    )
    specs = [cat_drift_spec("fmt", POISON_REF, name="clean")] + [
        _poisoned_spec(stage, armed) for stage in STAGES
    ]
    q = (
        closed_multi(stream, "ts", specs, window="5 minutes", watermark="1 minute")
        .writeStream.outputMode("append").format("memory")
        .queryName(query_name).trigger(availableNow=True).start()
    )
    q.awaitTermination(180)
    return spark.table(query_name), specs


@pytest.fixture(scope="module")
def poison_runs(spark, poison_feed):
    """(clean generic rows, poisoned generic rows, the poisoned run's specs)"""
    clean, _ = _run_poison(spark, poison_feed, False, "poison_clean")
    poisoned, specs = _run_poison(spark, poison_feed, True, "poison_armed")
    return clean, poisoned, specs


def _rows(gen, check, window=None, skip_window=None):
    """One family's generic rows as pandas, in window order (filtered in
    Spark, so an error row elsewhere cannot change the dtypes)."""
    sel = gen.filter(F.col("check") == check)
    if window is not None:
        sel = sel.filter(F.col("window_start") == window)
    if skip_window is not None:
        sel = sel.filter(F.col("window_start") != skip_window)
    return sel.orderBy("window_start").toPandas()


@pytest.mark.parametrize("stage", STAGES)
def test_poisoned_family_fails_only_its_window(poison_runs, stage):
    """A family raising in `stage` on window 1 does not halt the query: the
    clean family's rows equal a clean run row for row, the poisoned family
    emits exactly one 'error' row (naming the exception class) for window 1
    and its other windows are unchanged, and every (family, window) emits
    exactly once."""
    from al_drift_detection_spark.streaming.closed import split_closed

    ref, gen, specs = poison_runs
    check = f"poisoned_{stage}"
    windows = [BASE + pd.Timedelta(minutes=5 * i) for i in range(3)]

    for name in ("clean", check):
        assert _rows(gen, name)["window_start"].tolist() == windows, name
    pd.testing.assert_frame_equal(_rows(gen, "clean"), _rows(ref, "clean"))
    bad = _rows(gen, check, window=POISON_WINDOW)
    assert bad["verdict"].tolist() == ["error"]
    assert bad["s1"].tolist() == ["ZeroDivisionError"]
    rest = bad.drop(columns=["window_start", "window_end", "check", "s1", "verdict"])
    assert rest.isna().all(axis=None)
    pd.testing.assert_frame_equal(
        _rows(gen, check, skip_window=POISON_WINDOW),
        _rows(ref, check, skip_window=POISON_WINDOW),
    )
    # non-vacuous: the unarmed twin scores window 1
    assert _rows(ref, check, window=POISON_WINDOW)["verdict"].tolist() != ["error"]

    # the family's own sink shows the failed window with NULL metrics
    spec = next(s for s in specs if s.name == check)
    fam = split_closed(gen, spec).toPandas()
    row = fam[fam["window_start"] == POISON_WINDOW]
    assert row["verdict"].tolist() == ["error"]
    assert row[["n", "chi2_stat", "dof", "p_value"]].isna().all(axis=None)
