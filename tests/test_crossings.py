"""Crossing-evaluation end-to-end (crossings.py — the cnn.py surface):
planted-corpus golden vs plain-python reimplementations of the reference's
rules (cnn.py:503-560 splits, cnn.py:579-667 per-scope metrics), smoothing
composition, and the CLI mode."""

from __future__ import annotations

import json
import math

import numpy as np
import pytest
from pyspark.sql import functions as F


def _weights(n_classes: int, dim: int):
    """Independent restatement of the frozen linear model's weight formula
    (inference.linear_model): W[c,d] = ((c·61 + d·17) mod 7 − 3)/3,
    b[c] = ((c·13) mod 9 − 4)/10."""
    W = [[(((c * 61 + d * 17) % 7) - 3) / 3.0 for d in range(dim)] for c in range(n_classes)]
    b = [(((c * 13) % 9) - 4) / 10.0 for c in range(n_classes)]
    return W, b


def _expected_splits(orbit_labels: dict, drift_of: dict, max_orbits: int = 8) -> dict:
    """Plain-python split rules (ref cnn.py:503-560, deterministic variant):
    per drift in orbit order — test = first max(n//5,1), valid = next block,
    train = top-entropy of the rest (ties by orbit asc), else unused."""
    ent = {}
    for o, labs in orbit_labels.items():
        n = len(labs)
        ps = [labs.count(v) / n for v in set(labs)]
        ent[o] = -sum(p * math.log(p) for p in ps)
    split = {}
    for d in sorted(set(drift_of.values())):
        orbs = sorted(o for o in orbit_labels if drift_of[o] == d)
        take = max(len(orbs) // 5, 1)
        test, valid, rest = orbs[:take], orbs[take : 2 * take], orbs[2 * take :]
        rest_sorted = sorted(rest, key=lambda o: (-round(ent[o], 9), o))
        for o in test:
            split[o] = "test"
        for o in valid:
            split[o] = "valid"
        for o in rest_sorted[:max_orbits]:
            split[o] = "train"
        for o in rest_sorted[max_orbits:]:
            split[o] = "unused"
    return split


def _expected_metrics(rows):
    """rows: list of (scope_type, scope, true, pred) — per-scope confusion →
    prf / accuracy / sdi with the reference's formulas (cnn.py:86-146,
    238-242, 620; classes = unique TRUE labels in scope)."""
    from collections import defaultdict

    by_scope = defaultdict(list)
    for st, sc, t, p in rows:
        by_scope[(st, sc)].append((t, p))
    prf, acc, sdi = {}, {}, {}
    for key, pairs in by_scope.items():
        total = len(pairs)
        acc[key] = round(sum(1 for t, p in pairs if t == p) / total, 6)
        for c in sorted({t for t, _ in pairs}):
            tp = sum(1 for t, p in pairs if t == c and p == c)
            rowsum = sum(1 for t, _ in pairs if t == c)
            colsum = sum(1 for _, p in pairs if p == c)
            prec = tp / colsum if colsum else 0.0
            rec = tp / rowsum if rowsum else 0.0
            f1 = 2 * prec * rec / (prec + rec) if tp else 0.0
            prf[(*key, c)] = (round(prec, 6), round(rec, 6), round(f1, 6), rowsum)
            fn, fp = rowsum - tp, colsum - tp
            s, d, i = min(fn, fp), max(fn - fp, 0), max(fp - fn, 0)
            sdi[(*key, c)] = (s, d, i, round((s + d + i) / total, 6))
    return prf, acc, sdi


@pytest.fixture(scope="module")
def planted(spark):
    """5 orbits × 30 rows, labels 0..3, dim-4 embeddings, drifts {1,2}."""
    rng = np.random.default_rng(17)
    n_classes, dim = 4, 4
    drift_of = {1: 1, 2: 1, 3: 2, 4: 2, 5: 2}
    rows, py = [], []
    W, b = _weights(n_classes, dim)
    for orbit in range(1, 6):
        for i in range(30):
            label = int(rng.integers(0, n_classes))
            vec = np.float32(rng.standard_normal(dim))  # float32 = array<float>
            scores = [
                sum(float(vec[d]) * W[c][d] for d in range(dim)) + b[c]
                for c in range(n_classes)
            ]
            pred = int(np.argmax(scores))  # ties → lowest class index
            rows.append((orbit, i, label, [float(x) for x in vec]))
            py.append((orbit, i, label, pred))
    df = spark.createDataFrame(
        rows, "ORBIT long, IDX long, LABEL int, emb array<float>"
    )
    dm = spark.createDataFrame(list(drift_of.items()), "ORBIT long, drift long")
    return df, dm, py, drift_of


def test_crossing_report_golden(spark, planted):
    """Unsmoothed report matches the plain-python reference formulas for
    every scope (per-split, per-drift TEST rows, per-orbit) and table."""
    from al_drift_detection_spark.crossings import crossing_report
    from al_drift_detection_spark.persist import persist_scope

    df, dm, py, drift_of = planted
    with persist_scope():
        rep = crossing_report(
            df, dm, vec_col="emb", orbit_col="ORBIT", order_col="IDX",
            label_col="LABEL", n_classes=4, smoothing=False,
        )
        # expected splits
        orbit_labels = {}
        for orbit, _, label, _p in py:
            orbit_labels.setdefault(orbit, []).append(label)
        exp_split = _expected_splits(orbit_labels, drift_of)
        got_splits = {r["orbit"]: r["split"] for r in rep["splits"].collect()}
        assert got_splits == exp_split

        # expected per-scope rows
        scoped = []
        for orbit, _, t, p in py:
            sp = exp_split[orbit]
            scoped.append(("split", sp, t, p))
            scoped.append(("orbit", str(orbit), t, p))
            if sp == "test":
                scoped.append(("drift", str(drift_of[orbit]), t, p))
        exp_prf, exp_acc, exp_sdi = _expected_metrics(scoped)

        got_prf = {
            (r["scope_type"], r["scope"], r["label"]):
                (r["prec"], r["rec"], r["f1"], r["support"])
            for r in rep["prf"].collect()
        }
        assert set(got_prf) == set(exp_prf)
        for k, v in exp_prf.items():
            assert got_prf[k] == pytest.approx(v, abs=1e-9), k

        got_acc = {
            (r["scope_type"], r["scope"]): r["accuracy"] for r in rep["accuracy"].collect()
        }
        assert set(got_acc) == set(exp_acc)
        for k, v in exp_acc.items():
            assert got_acc[k] == pytest.approx(v, abs=1e-9), k

        got_sdi = {
            (r["scope_type"], r["scope"], r["label"]): (r["s"], r["d"], r["i"], r["err_contrib"])
            for r in rep["sdi"].collect()
        }
        assert set(got_sdi) == set(exp_sdi)
        for k, v in exp_sdi.items():
            assert got_sdi[k][:3] == v[:3], k
            assert got_sdi[k][3] == pytest.approx(v[3], abs=1e-9), k

        # predictions carry the raw model output too
        preds = rep["predictions"].toPandas()
        assert (preds["pred"] == preds["label_pred"]).all()  # smoothing off
        assert len(preds) == len(py)


def test_crossing_report_smoothing_composition(spark, planted):
    """With smoothing on, every orbit's pred sequence equals smooth_sequence
    applied to that orbit's label_pred in IDX order — the distributed
    composition (grouping, ordering, joins) reproduces the sequential
    reference stencil (ref cnn.py:149-172)."""
    from al_drift_detection_spark.crossings import crossing_report
    from al_drift_detection_spark.persist import persist_scope
    from al_drift_detection_spark.operators.smoothing import smooth_sequence

    with persist_scope():
        df, dm, py, _ = planted
        rep = crossing_report(
            df, dm, vec_col="emb", orbit_col="ORBIT", order_col="IDX",
            label_col="LABEL", n_classes=4, smoothing=True,
            crossing_classes=(1, 3), run=12, gap=6,
        )
        preds = rep["predictions"].toPandas().sort_values(["orbit", "order"])
        for orbit, grp in preds.groupby("orbit"):
            exp = smooth_sequence(
                grp["label_pred"].to_numpy(), crossing_classes=(1, 3), run=12, gap=6
            )
            assert (grp["pred"].to_numpy() == exp).all(), orbit


def test_runner_crossings_cli(spark, tmp_path_factory):
    """`runner --crossings` writes all six crossing_* tables and a summary
    JSON line (the cnn.py CLI surface, VERDICT r4 item 4)."""
    from al_drift_detection_spark import runner

    base = tmp_path_factory.mktemp("crossings")
    corpus_dir, out = base / "orbits", str(base / "out")
    corpus_dir.mkdir()
    rng = np.random.default_rng(5)
    for orbit in (233, 234, 380, 381):
        with open(corpus_dir / f"df_{orbit}.csv", "w") as fh:
            fh.write("DATE,LABEL,f1,f2\n")
            shift = 3.0 if orbit >= 380 else 0.0
            for i in range(50):
                fh.write(
                    f"{i},{int(rng.integers(0, 3))},"
                    f"{rng.standard_normal() + shift:.6f},{rng.standard_normal():.6f}\n"
                )
    drifts = base / "drifts.txt"
    drifts.write_text("233 1\n234 1\n380 2\n381 2\n")

    import contextlib
    import io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        rc = runner.main([
            "--crossings", "--orbits", str(corpus_dir / "df_*.csv"),
            "--drifts", str(drifts), "--out", out, "--master", "local[8]",
            "--smooth-run", "6", "--smooth-gap", "4",
        ])
    assert rc == 0
    summary = json.loads(buf.getvalue().strip().splitlines()[-1])
    assert summary["rows"] == 200 and summary["orbits"] == 4
    assert summary["test_accuracy"] is not None

    for t in ("splits", "predictions", "confusion", "prf", "accuracy", "sdi"):
        got = spark.read.parquet(f"{out}/crossing_{t}")
        assert got.count() > 0, t
    sp = spark.read.parquet(f"{out}/crossing_splits").toPandas()
    # 2 orbits per drift → test = first orbit of each drift (20%-or-1 rule)
    assert set(sp[sp["split"] == "test"]["orbit"]) == {233, 380}


def test_crossing_report_empty_features_loud(spark, planted):
    """An empty feature list (e.g. every numeric column excluded) fails with
    a clear error naming the corpus columns, not a deep Spark assertion."""
    from al_drift_detection_spark.crossings import crossing_report

    df, dm, _, _ = planted
    with pytest.raises(ValueError, match="feature_cols is empty"):
        crossing_report(
            df, dm, feature_cols=[], orbit_col="ORBIT", order_col="IDX",
            label_col="LABEL",
        )


def test_runner_crossings_multi_set_loop(spark, tmp_path_factory):
    """`--crossings --sets 2` (VERDICT r5 item 6, run-cnn.sh:1-7): each set
    evaluates against its own drifts_set{i}.txt — the per-set corpus is
    whatever orbits that file lists (cnn.py:470-485) — and writes suffixed
    crossing_* tables with distinct contents."""
    import contextlib
    import io
    import json

    import numpy as np

    from al_drift_detection_spark import runner

    base = tmp_path_factory.mktemp("crossings_sets")
    corpus_dir, out = base / "orbits", str(base / "out")
    corpus_dir.mkdir()
    rng = np.random.default_rng(5)
    for orbit in (233, 234, 380, 381):
        with open(corpus_dir / f"df_{orbit}.csv", "w") as fh:
            fh.write("DATE,LABEL,f1,f2\n")
            shift = 3.0 if orbit >= 380 else 0.0
            for i in range(50):
                fh.write(
                    f"{i},{int(rng.integers(0, 3))},"
                    f"{rng.standard_normal() + shift:.6f},{rng.standard_normal():.6f}\n"
                )
    (base / "drifts_set1.txt").write_text("233 1\n234 1\n380 2\n381 2\n")
    (base / "drifts_set2.txt").write_text("233 1\n234 1\n")  # the set-2 slice

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        rc = runner.main([
            "--crossings", "--orbits", str(corpus_dir / "df_*.csv"),
            "--drifts", str(base / "drifts_set{set}.txt"),
            "--out", out, "--master", "local[8]",
            "--smooth-run", "6", "--smooth-gap", "4", "--sets", "2",
        ])
    assert rc == 0
    summary = json.loads(buf.getvalue().strip().splitlines()[-1])
    assert [s["set"] for s in summary["sets"]] == [1, 2]
    assert summary["sets"][0]["orbits"] == 4
    assert summary["sets"][1]["orbits"] == 2
    assert summary["sets"][0]["rows"] == 200
    assert summary["sets"][1]["rows"] == 100  # set-2 corpus restricted

    import pytest as _pytest

    # missing placeholder fails loudly, not with N identical runs
    with _pytest.raises(SystemExit):
        runner.main([
            "--crossings", "--orbits", str(corpus_dir / "df_*.csv"),
            "--drifts", str(base / "drifts_set1.txt"),
            "--out", out, "--sets", "2",
        ])
