"""TF-IDF top-terms and embedding-space MMD drift (round-3 additions to the
training-data-pipeline operator set)."""

from __future__ import annotations

import math

import numpy as np
import pytest
from pyspark.sql import functions as F


def test_tfidf_top_terms_matches_direct(spark):
    """Exact parity with a direct python computation on a small corpus,
    including the smooth-idf formula and the term tie-break."""
    from al_drift_detection_spark.functions.text import tfidf_top_terms

    corpus = {
        "a": "spark spark hadoop data",
        "b": "hadoop data data lake",
        "c": "spark lake unique",
    }
    df = spark.createDataFrame(list(corpus.items()), "doc_id string, text string")
    got = tfidf_top_terms(df, k=2).toPandas()

    n = len(corpus)
    tf: dict[tuple[str, str], int] = {}
    for d, text in corpus.items():
        for t in text.split():
            tf[(d, t)] = tf.get((d, t), 0) + 1
    dfreq: dict[str, int] = {}
    for (_d, t) in tf:
        dfreq[t] = dfreq.get(t, 0) + 1
    scored = [
        (d, t, round(c * (math.log((1.0 + n) / (1.0 + dfreq[t])) + 1.0), 4))
        for (d, t), c in tf.items()
    ]
    for d in corpus:
        mine = sorted(
            [(s, t) for (dd, t, s) in scored if dd == d], key=lambda x: (-x[0], x[1])
        )[:2]
        rows = got[got["doc_id"] == d].sort_values("rk")
        assert [(r.tfidf, r.term) for r in rows.itertuples()] == mine, d


def test_tfidf_idf_downweights_ubiquitous_terms(spark):
    """A term present in every doc never outranks an equally-frequent rare
    term (the property that makes TF-IDF a quality/keyword signal)."""
    from al_drift_detection_spark.functions.text import tfidf_top_terms

    rows = [(f"d{i}", f"common rare{i} filler") for i in range(10)]
    df = spark.createDataFrame(rows, "doc_id string, text string")
    got = tfidf_top_terms(df, k=1).toPandas()
    assert (got["term"] != "common").all()


def test_embedding_drift_planted_shift(spark):
    """A shifted-cluster window fails, unshifted windows pass, and the MMD
    values match a direct numpy mmd_rbf call on the same groups."""
    from al_drift_detection_spark.drift import embedding_drift
    from al_drift_detection_spark.kernels import mmd_rbf

    rng = np.random.default_rng(7)
    d = 8
    ref = rng.standard_normal((200, d))
    win0 = rng.standard_normal((150, d))          # same distribution → pass
    win1 = rng.standard_normal((150, d)) + 3.0    # planted shift → fail
    rows = [(0, [float(x) for x in v]) for v in win0]
    rows += [(1, [float(x) for x in v]) for v in win1]
    df = spark.createDataFrame(rows, "window_id int, embedding array<float>")
    got = embedding_drift(df, ref).toPandas().set_index("window_id").sort_index()
    assert got.loc[0, "verdict"] == "pass"
    assert got.loc[1, "verdict"] == "fail"
    # value parity vs direct numpy (float32 round-trip through the array<float>
    # column is the only difference → loose tolerance)
    direct1 = mmd_rbf(ref, win1.astype(np.float32).astype(np.float64), max_n=512)
    assert got.loc[1, "mmd"] == pytest.approx(direct1, rel=1e-6)
    assert got.loc[0, "n_vectors"] == 150


def test_embedding_drift_empty_window_passes(spark):
    """A window whose vectors are all NULL scores 0.0/'pass' (consistent with
    the scalar drift pass on all-null windows)."""
    from al_drift_detection_spark.drift import embedding_drift

    rng = np.random.default_rng(3)
    ref = rng.standard_normal((50, 4))
    rows = [(0, [float(x) for x in v]) for v in rng.standard_normal((40, 4))]
    rows += [(1, None)] * 10
    df = spark.createDataFrame(rows, "window_id int, embedding array<float>")
    got = embedding_drift(df, ref).toPandas().set_index("window_id").sort_index()
    assert got.loc[1, "verdict"] == "pass" and got.loc[1, "n_vectors"] == 0


def test_embedding_drift_big_window_bounded(spark):
    """A window far larger than sample_cap, spread over many partitions, is
    bounded JVM-side BEFORE the group (VERDICT r3 #1): the scored row count
    stays O(sample_cap) — never the full window — verdicts are unchanged
    (clean big window passes, shifted big window fails), and an
    under-cap window still keeps every row (rate-1 path byte-identical)."""
    import pandas as pd

    from al_drift_detection_spark.drift import embedding_drift

    rng = np.random.default_rng(11)
    d, cap = 4, 512
    ref = rng.standard_normal((200, d))
    n_big = 20_000
    clean = rng.standard_normal((n_big, d)).astype(np.float32)
    shifted = (rng.standard_normal((n_big, d)) + 3.0).astype(np.float32)
    small = rng.standard_normal((100, d)).astype(np.float32)
    pdf = pd.DataFrame(
        {
            "window_id": [0] * n_big + [1] * n_big + [2] * 100,
            "embedding": [list(map(float, v)) for v in clean]
            + [list(map(float, v)) for v in shifted]
            + [list(map(float, v)) for v in small],
        }
    )
    df = spark.createDataFrame(pdf).repartition(16)  # window spread over many parts
    got = (
        embedding_drift(df, ref, mmd_max_n=64, sample_cap=cap)
        .toPandas()
        .set_index("window_id")
        .sort_index()
    )
    # bounded: expected kept ≈ 2·cap = 1024 per big window (binomial σ ≈ 32)
    for w in (0, 1):
        assert 700 <= got.loc[w, "n_vectors"] <= 1500, got.loc[w, "n_vectors"]
        # ADVICE r4: n_rows reports the TRUE window size, not the sampled one
        assert got.loc[w, "n_rows"] == n_big
    assert got.loc[0, "verdict"] == "pass"
    assert got.loc[1, "verdict"] == "fail"
    # under-cap window: rate = 1, every row kept
    assert got.loc[2, "n_vectors"] == 100
    assert got.loc[2, "verdict"] == "pass"


def test_embedding_drift_duplicate_vectors_still_bounded(spark):
    """A duplicate-dominated oversize window (stuck encoder emitting ONE
    constant vector) must still produce exactly one verdict row with an
    O(sample_cap) scored count — hashing only the content would give every
    copy the same coin flip (window vanishes or all copies hit one worker)."""
    import pandas as pd

    from al_drift_detection_spark.drift import embedding_drift

    rng = np.random.default_rng(29)
    d, cap, n_big = 4, 256, 30_000
    ref = rng.standard_normal((100, d))
    stuck = [1.0, 2.0, 3.0, 4.0]
    pdf = pd.DataFrame(
        {"window_id": [0] * n_big, "embedding": [stuck] * n_big}
    )
    df = spark.createDataFrame(pdf).repartition(8)
    got = (
        embedding_drift(df, ref, mmd_max_n=64, sample_cap=cap)
        .toPandas()
        .set_index("window_id")
    )
    assert len(got) == 1  # the window is reported, not dropped
    # bounded: expected kept ≈ 2·cap = 512, never 0 and never 30k
    assert 300 <= got.loc[0, "n_vectors"] <= 800, got.loc[0, "n_vectors"]
    assert got.loc[0, "verdict"] == "fail"  # constant far-off cluster drifts


def test_near_dup_rate_planted(spark):
    """Windows with planted duplicate docs show the expected dup counts; a
    clean window shows rate 0."""
    from al_drift_detection_spark.functions.dedup import near_dup_rate

    uniq = [
        "alpha beta gamma delta epsilon zeta eta theta iota kappa {i} {j}".format(i=i, j=i * 7)
        for i in range(40)
    ]
    rows = []
    # window 0: 10 unique docs; window 1: 5 duplicated pairs (10 docs)
    for i in range(10):
        rows.append((0, f"w0_{i}", uniq[i]))
    for i in range(5):
        rows.append((1, f"w1a_{i}", uniq[20 + i]))
        rows.append((1, f"w1b_{i}", uniq[20 + i]))
    df = spark.createDataFrame(rows, "window_id int, doc_id string, text string")
    got = near_dup_rate(df, threshold=0.9).toPandas().set_index("window_id").sort_index()
    assert got.loc[0, "n_near_dup"] == 0 and got.loc[0, "dup_rate"] == 0.0
    assert got.loc[1, "n_near_dup"] == 10 and got.loc[1, "dup_rate"] == 1.0
    assert got.loc[1, "n_docs"] == 10

    # the exact-Jaccard twin (q_near_dup_rate_exact's engine path) agrees on
    # the same planted fixture — identical output contract, no LSH hashes
    from al_drift_detection_spark.functions.dedup import near_dup_rate_exact

    ex = near_dup_rate_exact(df, threshold=0.9).toPandas().set_index("window_id").sort_index()
    assert ex.loc[0, "n_near_dup"] == 0 and ex.loc[0, "dup_rate"] == 0.0
    assert ex.loc[1, "n_near_dup"] == 10 and ex.loc[1, "dup_rate"] == 1.0
    assert ex.loc[1, "n_docs"] == 10


def test_drift_null_group_keys_reported_not_crashed(spark):
    """NULL part/window grouping keys form their own reported group (NULL
    columns in the verdict rows) instead of failing the executor task on
    int(None) — malformed window assignment must not abort a 100 TB job."""
    import pandas as pd

    from al_drift_detection_spark.drift import drift_scores, embedding_drift

    rows = [(0, 0, float(v)) for v in np.arange(50.0)]
    rows += [(None, None, 1.0)] * 5  # rows that never got a window assigned
    df = spark.createDataFrame(rows, "part int, window_id int, v double")
    out = drift_scores(df, ["v"], {"v": np.arange(50.0)}).toPandas()
    null_rows = out[out["window_id"].isna()]
    assert len(null_rows) == 4  # ks/psi/mmd/vote for the null group
    assert not out.empty

    rng = np.random.default_rng(5)
    ref = rng.standard_normal((30, 4))
    erows = [(0, [float(x) for x in v]) for v in rng.standard_normal((20, 4))]
    erows += [(None, [float(x) for x in v]) for v in rng.standard_normal((5, 4))]
    edf = spark.createDataFrame(erows, "window_id int, embedding array<float>")
    eout = embedding_drift(edf, ref).toPandas()
    assert len(eout) == 2
    assert eout["window_id"].isna().sum() == 1
    assert pd.notna(eout["mmd"]).all()


def test_assign_drift_regimes_null_window_key_excluded(spark):
    """Rows whose window/part key is NULL have no position in the window
    order → excluded from regime assignment (not a crash, not a bogus
    regime); assigned windows are unaffected."""
    from al_drift_detection_spark.regimes import assign_drift_regimes

    rows = [(0, 0, float(v)) for v in np.arange(80.0)]
    rows += [(None, None, 1.0)] * 7
    df = spark.createDataFrame(rows, "part int, window_id int, v double")
    out = assign_drift_regimes(df, ["v"], {"v": np.arange(80.0)}).toPandas()
    assert out["window_id"].tolist() == [0]
    assert out["regime_id"].tolist() == [1]


def test_tfidf_releases_persisted_tf(spark):
    """tfidf_top_terms persists the shared tf aggregate (broadcast build +
    probe sides cannot reuse an exchange); the caller's persist scope must
    free it on exit."""
    from al_drift_detection_spark.functions.text import tfidf_top_terms
    from al_drift_detection_spark.persist import persist_scope

    df = spark.createDataFrame(
        [(f"d{i}", f"alpha beta gamma {i}") for i in range(20)],
        "doc_id string, text string",
    )

    def ids():
        # id SET, not size: Spark's ContextCleaner unpersists other tests'
        # GC'd frames on a background thread, so a count comparison flakes
        # under the full suite (observed r6) — only the ids tfidf itself
        # created are this test's business
        return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())

    before = ids()
    with persist_scope():
        out = tfidf_top_terms(df, k=2)
        out.count()
        created = ids() - before
        assert created
    assert not (ids() & created)


def test_embedding_drift_ragged_vectors_skipped(spark):
    """A truncated/wrong-dimension embedding row is skipped, not a job
    abort; n_vectors counts only scored vectors."""
    from al_drift_detection_spark.drift import embedding_drift

    rng = np.random.default_rng(11)
    ref = rng.standard_normal((30, 4))
    rows = [(0, [float(x) for x in v]) for v in rng.standard_normal((25, 4))]
    rows += [(0, [1.0, 2.0])]          # ragged: wrong dimension
    rows += [(0, [float(x) for x in rng.standard_normal(5)])]  # too long
    df = spark.createDataFrame(rows, "window_id int, embedding array<float>")
    got = embedding_drift(df, ref).toPandas()
    assert len(got) == 1 and got.loc[0, "n_vectors"] == 25


def test_embedding_drift_energy_kernel(spark):
    """kernel='energy': same sampling/verdict contract with the statistic
    column named `energy`, values matching a direct kernels.energy_distance
    call; planted shift fails, clean window passes; bad kernel rejected."""
    import pytest as _pytest

    from al_drift_detection_spark.drift import embedding_drift
    from al_drift_detection_spark.kernels import energy_distance

    rng = np.random.default_rng(17)
    d = 8
    ref = rng.standard_normal((200, d))
    win0 = rng.standard_normal((150, d))
    win1 = rng.standard_normal((150, d)) + 3.0
    rows = [(0, [float(x) for x in v]) for v in win0]
    rows += [(1, [float(x) for x in v]) for v in win1]
    df = spark.createDataFrame(rows, "window_id int, embedding array<float>")
    got = (
        embedding_drift(df, ref, kernel="energy", mmd_threshold=0.5)
        .toPandas()
        .set_index("window_id")
        .sort_index()
    )
    assert list(got.columns) == [
        "n_rows", "n_vectors", "energy", "threshold", "verdict"
    ]
    assert got.loc[0, "verdict"] == "pass"
    assert got.loc[1, "verdict"] == "fail"
    direct1 = energy_distance(ref, win1.astype(np.float32).astype(np.float64))
    assert got.loc[1, "energy"] == pytest.approx(direct1, rel=1e-6)

    with _pytest.raises(ValueError, match="kernel"):
        embedding_drift(df, ref, kernel="wasserstein")
