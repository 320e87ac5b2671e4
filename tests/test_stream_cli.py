"""`runner --stream` end-to-end: the closed-window verdict family as a real
Structured Streaming job over the staged event-time feed, with parquet
sinks — the streaming twin of the batch validation CLI. The event-time
windows are keyed by the same row sets as the positional windows (driver.py
mints ts from window_id), so the planted-drift golden of the batch pass
(synthetic:12000 → drift vote fails exactly windows 4,5 on 'w') must hold
verbatim in the streaming output."""

from __future__ import annotations

import pandas as pd
import pytest

BASE = pd.Timestamp("2026-01-01 00:00:00")
W = 300  # --stream-window default


def _wid(pdf):
    """window_start → positional window_id (driver.py's 1:1 mapping)."""
    return ((pdf["window_start"] - BASE).dt.total_seconds() // W).astype(int)


@pytest.fixture(scope="module")
def stream_out(spark, tmp_path_factory):
    from al_drift_detection_spark import runner

    out = str(tmp_path_factory.mktemp("stream") / "out")
    rc = runner.main([
        "--images", "synthetic:12000", "--out", out, "--stream",
        "--cat-drift", "fmt", "--changepoint", "--master", "local[8]",
    ])
    assert rc == 0
    return out


def test_stream_runs_one_combined_query(spark, stream_out):
    """`runner --stream` runs every family in ONE streaming query (one
    checkpoint): the generic stream_combined/ sink holds every family's
    check tag and, on a clean run, no 'error' row."""
    import os

    assert os.listdir(f"{stream_out}/stream_ckpt") == ["stream_combined"]
    gen = spark.read.parquet(f"{stream_out}/stream_combined").toPandas()
    assert set(gen["check"]) == {
        "stream_drift", "stream_health", "stream_uniqueness",
        "stream_quantiles", "stream_association", "stream_frequent",
        "stream_cat_drift_fmt",
    }
    assert not (gen["verdict"] == "error").any()


def test_stream_poisoned_family_exits_1_and_writes_every_sink(
    spark, tmp_path_factory, monkeypatch, capsys
):
    """A verdict family that raises fails only its own windows: the run
    still writes every sink (the other families' verdicts intact), reports
    one error row per failed window, and exits 1."""
    import dataclasses
    import json
    import os

    from al_drift_detection_spark import runner
    from al_drift_detection_spark.streaming import driver

    specs_of = driver.stream_specs

    def poisoned_specs(refs, cat_cols):
        def close(st, w_start, w_end):
            raise ZeroDivisionError("planted")

        return [
            dataclasses.replace(s, close=close) if s.name == "stream_drift" else s
            for s in specs_of(refs, cat_cols)
        ]

    monkeypatch.setattr(driver, "stream_specs", poisoned_specs)
    out = str(tmp_path_factory.mktemp("poison_cli") / "out")
    rc = runner.main([
        "--images", "synthetic:4000", "--out", out, "--stream",
        "--changepoint", "--trend", "--master", "local[8]",
    ])
    assert rc == 1
    summary = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert summary["windows"] == 2
    assert summary["error_rows"] == 2  # stream_drift's two windows
    for name in [*summary["tables"], "stream_combined", "stream_changepoint",
                 "stream_trend"]:
        assert os.path.isdir(f"{out}/{name}"), name
    drift = spark.read.parquet(f"{out}/stream_drift").toPandas()
    assert len(drift) == 2 and (drift["verdict"] == "error").all()
    health = spark.read.parquet(f"{out}/stream_health").toPandas()
    assert (health["verdict"] == "pass").all()
    assert len(health[health["check"] == "volume"]) == 2


@pytest.mark.parametrize("bad", [
    ["--stream", "--slice-drift", "fmt:w", "--slice-drift", "fmt:"],
    ["--stream", "--stream-combined"],
])
def test_malformed_args_exit_2_before_any_work(tmp_path, bad):
    """A malformed option value (an empty column; the no-colon case is in
    the batch surface tests) or the removed --stream-combined flag is an
    argparse error: exit 2 before any Spark work, --out never created."""
    from al_drift_detection_spark import runner

    out = tmp_path / "out"
    with pytest.raises(SystemExit) as exc:
        runner.main(["--images", "synthetic:4000", "--out", str(out), *bad])
    assert exc.value.code == 2
    assert not out.exists()


def test_stream_changepoint_alarms_on_planted_windows(spark, stream_out):
    """--stream --changepoint: the sequential Page-Hinkley over the
    STREAMING verdict series (closed-window sinks) alarms exactly where the
    planted shift lands — ks:w / ks:h fire on windows 4,5 and nowhere
    earlier; the uniform volume series stays quiet (its degenerate
    reference std falls back to unscaled zero deviations)."""
    cp = spark.read.parquet(f"{stream_out}/stream_changepoint").toPandas()
    assert set(cp["signal"]) == {"volume", "ks:w", "ks:h"}
    for sig in ("ks:w", "ks:h"):
        alarms = sorted(cp[(cp["signal"] == sig) & cp["alarm"]]["window_id"])
        assert alarms == [4, 5], sig
    assert not cp[(cp["signal"] == "volume") & cp["alarm"]].shape[0]


def test_stream_drift_matches_batch_planted_golden(spark, stream_out):
    """All 6 windows emit exactly once; the 2-of-3 vote fails windows 4,5 on
    'w' (the planted shift) and passes the reference-era windows — the
    batch CLI's verify golden, reproduced by the streaming path."""
    got = spark.read.parquet(f"{stream_out}/stream_drift").toPandas()
    got["wid"] = _wid(got)
    votes = got[(got["kernel"] == "vote") & (got["column"] == "w")]
    assert sorted(votes["wid"]) == [0, 1, 2, 3, 4, 5]
    verdicts = votes.set_index("wid")["verdict"]
    assert set(verdicts.loc[[4, 5]]) == {"fail"}
    assert set(verdicts.loc[[0, 1, 2, 3]]) == {"pass"}
    # one emission per (window, column, kernel) — no per-fragment dupes
    assert not got.duplicated(["wid", "column", "kernel"]).any()
    assert (got.groupby("wid")["n_rows"].max() == 2000).all()


def test_stream_health_and_uniqueness_all_windows_pass(spark, stream_out):
    """Uniform synthetic corpus: volume/completeness and KMV-uniqueness
    verdicts emit once per window and pass everywhere (the ~24 planted dup
    ids sit far under the 5% threshold — the batch --health golden)."""
    health = spark.read.parquet(f"{stream_out}/stream_health").toPandas()
    health["wid"] = _wid(health)
    assert sorted(health[health["check"] == "volume"]["wid"]) == [0, 1, 2, 3, 4, 5]
    assert (health["verdict"] == "pass").all()

    uniq = spark.read.parquet(f"{stream_out}/stream_uniqueness").toPandas()
    uniq["wid"] = _wid(uniq)
    assert sorted(uniq["wid"]) == [0, 1, 2, 3, 4, 5]
    assert (uniq["verdict"] == "pass").all()
    assert (uniq["n_rows"] == 2000).all()


def test_stream_cat_drift_no_false_positive(spark, stream_out):
    """fmt is NOT planted to drift: all 6 closed windows pass with the
    deterministic ref-universe dof (the batch --cat-drift golden)."""
    cat = spark.read.parquet(f"{stream_out}/stream_cat_drift_fmt").toPandas()
    cat["wid"] = _wid(cat)
    assert sorted(cat["wid"]) == [0, 1, 2, 3, 4, 5]
    assert (cat["verdict"] == "pass").all()
    assert cat["dof"].nunique() == 1


def test_stream_feed_is_replayable_per_window(spark, stream_out):
    """The staged feed is one file per positional window + the sentinel —
    maxFilesPerTrigger=1 replays the corpus window-by-window."""
    import os

    files = [
        f for f in os.listdir(f"{stream_out}/_stream_input")
        if f.endswith(".parquet")
    ]
    batch_files = [f for f in files if f.startswith("batch_")]
    assert len(batch_files) == 6
    assert len(files) - len(batch_files) == 1  # the sentinel


def test_stream_slide_cli(spark, tmp_path_factory):
    """--stream-slide S: overlapping window instances, each closing
    independently. With 3 positional windows (900 s of events) and
    slide = W/2, the closed instances are the 7 starts spaced 150 s from
    -150 s to +750 s, and every row lands in exactly TWO instances — so
    volume n_rows sums to 2 x corpus size."""
    from al_drift_detection_spark import runner

    out = str(tmp_path_factory.mktemp("slide_cli") / "out")
    rc = runner.main([
        "--images", "synthetic:6000", "--out", out, "--stream",
        "--stream-slide", "150", "--master", "local[8]",
    ])
    assert rc == 0
    health = spark.read.parquet(f"{out}/stream_health").toPandas()
    vol = health[health["check"] == "volume"].sort_values("window_start")
    starts = ((vol["window_start"] - BASE).dt.total_seconds()).astype(int).tolist()
    assert starts == list(range(-150, 751, 150))
    assert ((vol["window_end"] - vol["window_start"]).dt.total_seconds() == W).all()
    assert vol["n_rows"].sum() == 2 * 6000


def test_stage_empty_corpus_raises_clearly(spark, tmp_path):
    """An empty input table must fail staging with a clear error, not a bare
    max()-of-empty ValueError deep in the wid scan (review finding)."""
    import pytest as _pytest

    from al_drift_detection_spark.streaming.driver import stage_bounded_stream

    empty = spark.createDataFrame(
        [], "image_id string, fmt string, caption string, w int, h int, "
        "window_id long, part int",
    )
    with _pytest.raises(ValueError, match="no windows"):
        stage_bounded_stream(empty, str(tmp_path / "stage"), 300, 60)


def test_stream_quantiles_show_planted_drift(spark, stream_out):
    """stream_quantiles/ (closed-window histogram sketches on the constraint
    grid): 6 windows x 4 quantiles, and the planted w shift lifts windows
    4,5's medians above every reference window's."""
    import pandas as pd

    q = spark.read.parquet(f"{stream_out}/stream_quantiles").toPandas()
    base = pd.Timestamp("2026-01-01 00:00:00")
    q["window_id"] = ((q["window_start"] - base).dt.total_seconds() // 300).astype(int)
    assert sorted(q["window_id"].unique()) == [0, 1, 2, 3, 4, 5]
    assert q.groupby("window_id")["q"].count().eq(4).all()
    med = q[q["q"] == 0.5].set_index("window_id")["quantile"]
    assert med.loc[4] > med.loc[[0, 1, 2, 3]].max()
    assert med.loc[5] > med.loc[[0, 1, 2, 3]].max()
    assert (q[q["q"] == 0.5].set_index("window_id")["n_total"] == 2000).all()


def test_stream_association_no_false_positive(spark, stream_out):
    """stream_association/ (closed-window fmt × w-bucket MI verdicts vs the
    reference-window MI): fmt is generated independently of w, and the
    planted w drift shifts only w's MARGINAL (bucket occupancy), not the
    pairing — MI stays near zero in every window, all 6 pass."""
    a = spark.read.parquet(f"{stream_out}/stream_association").toPandas()
    a["window_id"] = _wid(a)
    assert sorted(a["window_id"].unique()) == [0, 1, 2, 3, 4, 5]
    assert (a["verdict"] == "pass").all()
    assert (a["n"] == 2000).all()
    assert (a["mi"].abs() < 0.05).all()
    # non-vacuous: the reference-derived w buckets must actually split the
    # data (a one-bucket grid would make MI identically 0 and V NULL)
    assert a["cramers_v"].notna().all()
    assert (a["mi"] > 0).any()
