"""Frequent-items analyzers (functions/frequent.py): Misra-Gries invariants
under every chunking, exact-twin parity, and the lossless snapshot store."""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F

K = 4


def _zipf(spark, n=6000, windows=3, seed=5):
    """Planted heavy hitters: per window, 'h0' ~45%, 'h1' ~25% (both above
    the 1/(K+1)=20% guarantee line), tail over 40 cold items."""
    import numpy as np

    rng = np.random.default_rng(seed)
    items = (
        ["h0"] * 45 + ["h1"] * 25 + [f"c{i}" for i in range(40)] * 1
    )  # per-110 draw frame ≈ the target mix
    return spark.createDataFrame(
        pd.DataFrame({
            "w": [i % windows for i in range(n)],
            "item": rng.choice(items, n),
        })
    )


def _exact(df):
    return {
        (r["w"], r["item"]): r["n"]
        for r in df.groupBy("w", "item").agg(F.count(F.lit(1)).alias("n")).collect()
    }


@pytest.mark.parametrize("parts", [1, 7, 32])
def test_mg_invariants_under_every_chunking(spark, parts):
    """For ANY partitioning/chunking: estimates never exceed the truth, the
    deficit stays within n/(k+1), and every item with share > 1/(k+1) is
    present in the summary — the three MG guarantees the registry oracle
    also enforces."""
    from al_drift_detection_spark.functions.frequent import mg_frequent_items

    df = _zipf(spark).repartition(parts)
    exact = _exact(df)
    n_per_w: dict = {}
    for (w, _), n in exact.items():
        n_per_w[w] = n_per_w.get(w, 0) + n

    got = mg_frequent_items(df, "item", "w", k=K).collect()
    est = {(r["window"], r["item"]): r["est"] for r in got}
    for (w, item), e in est.items():
        true = exact[(w, item)]
        assert e <= true, (w, item)
        assert true - e <= n_per_w[w] / (K + 1), (w, item)
    for r in got:
        assert r["n_total"] == n_per_w[r["window"]]
    for (w, item), true in exact.items():
        if true > n_per_w[w] / (K + 1):
            assert (w, item) in est, f"guaranteed heavy hitter missing: {item}"


def test_exact_twin_matches_pandas(spark):
    from al_drift_detection_spark.functions.frequent import window_frequent_items

    df = _zipf(spark, n=2000, windows=2)
    got = window_frequent_items(df, "item", "w", top=3).toPandas()
    pdf = df.toPandas()
    for w, g in pdf.groupby("w"):
        vc = g["item"].value_counts()
        # deterministic tie-break: count desc, item asc
        order = sorted(vc.items(), key=lambda t: (-t[1], t[0]))[:3]
        gw = got[got["window"] == w].sort_values("rank")
        assert list(gw["item"]) == [i for i, _ in order]
        assert list(gw["n"]) == [int(c) for _, c in order]
        assert (gw["n_total"] == len(g)).all()


def test_mg_verified_ok_everywhere(spark):
    from al_drift_detection_spark.functions.frequent import mg_verified

    df = _zipf(spark).repartition(13)
    got = mg_verified(df, "item", "w", k=K, top=5).toPandas()
    assert got["ok"].all()
    assert got[got["item"] == "h0"]["guaranteed"].all()


def test_frequent_store_ingests_merge_and_compact_losslessly(spark, tmp_path):
    """Three ingests → store answers obey the MG invariants against the
    exact counts of the UNION; replaying a snapshot_id is a no-op; and
    compaction (sum-only merge) leaves the answer frame IDENTICAL while
    bounding the store to one merged dir + keep_last snapshots."""
    import os

    from al_drift_detection_spark.functions.frequent import (
        compact_frequent_store,
        store_frequent_items,
        update_frequent_store,
    )
    from al_drift_detection_spark.functions.stores import allocate_snapshot_id

    store = str(tmp_path / "freq")
    batches = [_zipf(spark, n=2000, seed=s) for s in (1, 2, 3)]
    for i, b in enumerate(batches):
        update_frequent_store(
            b, store, "item", "w", allocate_snapshot_id(store, f"run{i}"), k=K
        )

    def ans():
        return (
            store_frequent_items(spark, store, k=K)
            .orderBy("window", "item")
            .toPandas()
            .reset_index(drop=True)
        )

    before = ans()
    # invariants vs the exact union
    union = batches[0]
    for b in batches[1:]:
        union = union.unionByName(b)
    exact = _exact(union)
    n_per_w: dict = {}
    for (w, _), n in exact.items():
        n_per_w[w] = n_per_w.get(w, 0) + n
    for _, r in before.iterrows():
        true = exact[(r["window"], r["item"])]
        assert r["est"] <= true
        assert true - r["est"] <= n_per_w[r["window"]] / (K + 1)
        assert r["n_total"] == n_per_w[r["window"]]

    # replay: same run key → same snapshot → dynamic overwrite, no change
    update_frequent_store(
        batches[1], store, "item", "w", allocate_snapshot_id(store, "run1"), k=K
    )
    pd.testing.assert_frame_equal(before, ans())

    # compaction: lossless (sum-only merge), answers identical, store bounded
    cut = compact_frequent_store(spark, store, keep_last=1)
    assert cut is not None
    pd.testing.assert_frame_equal(before, ans())
    snaps = [d for d in os.listdir(store) if d.startswith("_snapshot=")]
    assert len(snaps) == 1


def test_mg_summary_drops_window_without_count_row(spark):
    """A window whose partials lack the `(n)` row has no n_total: it is
    dropped, never emitted with a NULL n_total."""
    from al_drift_detection_spark.functions.frequent import mg_summary

    partials = spark.createDataFrame(
        [(0, "(n)", 3), (0, "a", 2), (0, "b", 1), (1, "a", 5)],
        "window long, item string, cnt long",
    )
    got = mg_summary(partials, k=4).toPandas()
    assert set(got["window"]) == {0}
    assert got["n_total"].notna().all()
