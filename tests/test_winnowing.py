"""Winnowing fingerprints (text.winnow_fingerprints — the MOSS scheme) and
containment overlap pairs (dedup.winnow_overlap_pairs): selection parity
against a brute-force reference, the shared-run detection guarantee,
rightmost tie-breaking, short-doc degeneration, and the containment score."""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

K, W = 3, 4


def _brute(tokens: list[str], k: int = K, w: int = W) -> set[tuple[int, str]]:
    """Reference robust winnowing: md5 each k-gram, every FULL w-window
    selects its min hash at the rightmost position holding it; a doc with
    fewer than w shingles selects its global min."""
    hs = [
        hashlib.md5(" ".join(tokens[i:i + k]).encode()).hexdigest()
        for i in range(len(tokens) - k + 1)
    ]
    s = len(hs)
    if s == 0:
        return set()
    sel: set[tuple[int, str]] = set()
    if s < w:
        m = min(hs)
        p = max(i for i in range(s) if hs[i] == m)
        return {(p, m)}
    for s0 in range(s - w + 1):
        m = min(hs[s0:s0 + w])
        p = max(i for i in range(s0, s0 + w) if hs[i] == m)
        sel.add((p, hs[p]))
    return sel


def _run(spark, docs: dict[int, str], k: int = K, w: int = W):
    from al_drift_detection_spark.functions.text import winnow_fingerprints

    df = spark.createDataFrame(
        pd.DataFrame({"doc_id": list(docs), "text": list(docs.values())})
    )
    out = winnow_fingerprints(df, k=k, w=w).toPandas()
    return {
        d: {(int(r["pos"]), r["fp"]) for _, r in g.iterrows()}
        for d, g in out.groupby("doc_id")
    }


def test_matches_brute_force_reference(spark):
    """Random token docs of varied lengths (including repeated tokens that
    force hash TIES inside windows): selection equals the brute-force
    robust-winnowing reference exactly — positions and hashes."""
    rng = np.random.default_rng(11)
    vocab = [f"t{i}" for i in range(12)]  # small vocab → frequent ties
    docs = {
        d: " ".join(rng.choice(vocab, int(n)))
        for d, n in enumerate(rng.integers(3, 60, 25))
    }
    got = _run(spark, docs)
    for d, text in docs.items():
        want = _brute(text.split())
        assert got.get(d, set()) == want, f"doc {d}"


def test_shared_run_guarantee_and_reorder_robustness(spark):
    """Two documents sharing a run of w + k - 1 = 6 tokens — embedded at
    different positions, surrounded by disjoint text — MUST share >= 1
    fingerprint (the winnowing guarantee). fingerprint()'s single min-hash
    digest has no such guarantee; this is the scheme's point."""
    run = "alpha beta gamma delta epsilon zeta"
    docs = {
        0: "one two three four five " + run + " six seven eight nine",
        1: "red blue green yellow purple orange " + run + " pink brown",
        2: "totally unrelated words everywhere nothing shared at all here now",
    }
    got = _run(spark, docs)
    assert got[0] & got[1] == set()  # positions differ...
    assert {h for _, h in got[0]} & {h for _, h in got[1]}  # ...hashes shared
    assert not {h for _, h in got[0]} & {h for _, h in got[2]}


def test_short_doc_degenerates_to_global_min(spark):
    """A doc with >= 1 but < w shingles keeps exactly one fingerprint (its
    global min) — no tokenizable doc is left unfingerprintable."""
    got = _run(spark, {0: "a b c d"})  # 2 shingles < w=4
    assert len(got[0]) == 1
    assert got[0] == _brute("a b c d".split())


def test_overlap_pairs_containment_score(spark):
    """A small doc pasted verbatim inside a large one scores overlap 1.0
    (every fingerprint of the small doc's shingle stream also arises in the
    large one's — containment normalization); the unrelated doc pairs with
    neither."""
    from al_drift_detection_spark.functions.dedup import winnow_overlap_pairs
    from al_drift_detection_spark.persist import persist_scope

    small = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    big = (
        "intro words before the paste " + small + " and trailing text after "
        "the pasted region continues here with more unrelated filler words"
    )
    df = spark.createDataFrame(
        pd.DataFrame({
            "doc_id": [0, 1, 2],
            "text": [small, big,
                     "completely different content with zero common runs ok"],
        })
    )
    with persist_scope():
        pairs = winnow_overlap_pairs(df, threshold=0.1)
        got = pairs.toPandas()
    assert set(map(tuple, got[["a_id", "b_id"]].values)) == {(0, 1)}
    # containment: most of the small doc's fingerprints re-occur in big —
    # boundary windows at the paste seam may select differently, so the
    # score is near-1, and far above any Jaccard-style dilution
    assert got.iloc[0]["overlap"] >= 0.6


def test_density_bound(spark):
    """Fingerprint count per doc is ≤ the full-window start count and ≥ 1 —
    and empirically near the ~2/(w+1) density the scheme promises."""
    rng = np.random.default_rng(29)
    text = " ".join(rng.choice([f"w{i}" for i in range(5000)], 2000))
    got = _run(spark, {0: text})
    n_shingles = 2000 - K + 1
    n_fp = len(got[0])
    assert 1 <= n_fp <= n_shingles - W + 1
    density = n_fp / n_shingles
    assert 0.25 <= density <= 0.55  # 2/(w+1) = 0.4 ± sampling noise
