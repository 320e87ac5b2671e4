"""Duplicate-cluster resolution + SimHash pair generation: planted dup
chains collapse to one canonical doc; near-identical docs pair, disjoint
docs don't."""

from __future__ import annotations

from al_drift_detection_spark.functions.dedup import dedup_clusters, simhash_pairs
from al_drift_detection_spark.persist import persist_scope


def persistent_ids(spark):
    # compare RDD ids, not the map's size: the ContextCleaner may free RDDs
    # that earlier tests left behind while a test runs
    return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())


def test_clusters_collapse_planted_chains(spark):
    nodes = spark.createDataFrame(
        [(x,) for x in "abcdefg"], "doc_id string"
    )
    # chain a-b-c (a~b, b~c but NOT a~c directly), pair d-e, singletons f, g
    pairs = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("d", "e")], "a_id string, b_id string"
    )
    out = {r["doc_id"]: (r["canonical_id"], r["keep"])
           for r in dedup_clusters(nodes, pairs).collect()}
    assert out == {
        "a": ("a", True), "b": ("a", False), "c": ("a", False),
        "d": ("d", True), "e": ("d", False),
        "f": ("f", True), "g": ("g", True),
    }


def test_clusters_release_edge_cache(spark):
    """dedup_clusters materializes the pair list once and must release it:
    no persistent RDD is left behind on the driver union-find path (a
    localCheckpoint here leaked one RDD per call)."""
    nodes = spark.createDataFrame([(x,) for x in "abcde"], "doc_id string")
    pairs = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("d", "e")], "a_id string, b_id string"
    )
    before = persistent_ids(spark)
    for _ in range(2):
        assert dedup_clusters(nodes, pairs).count() == 5
    assert persistent_ids(spark) - before == set()


def test_clusters_long_chain_converges(spark):
    # a 12-node path graph needs multiple propagation rounds — exercises the
    # DISTRIBUTED fixpoint loop (driver_edge_limit=0 forces it), not just the
    # driver union-find fast path
    ids = [f"n{i:02d}" for i in range(12)]
    nodes = spark.createDataFrame([(x,) for x in ids], "doc_id string")
    pairs = spark.createDataFrame(
        [(ids[i], ids[i + 1]) for i in range(11)], "a_id string, b_id string"
    )
    out = dedup_clusters(nodes, pairs, driver_edge_limit=0).toPandas()
    assert (out["canonical_id"] == "n00").all()
    assert out[out["keep"]]["doc_id"].tolist() == ["n00"]
    # both paths agree exactly
    fast = dedup_clusters(nodes, pairs).toPandas()
    assert fast.sort_values("doc_id").values.tolist() == out.sort_values("doc_id").values.tolist()


def test_clusters_fallback_frees_round_checkpoints(spark):
    """The distributed fallback localCheckpoints a new labels frame every
    round. Each round frees the previous round's checkpoint once its change
    count is done, and the caller's persist scope frees the last one: no
    persistent RDD is left after the scope (a 12-node chain left 12 when
    no round was freed). The labels equal the driver union-find path's."""
    ids = [f"n{i:02d}" for i in range(12)]
    nodes = spark.createDataFrame([(x,) for x in ids], "doc_id string")
    pairs = spark.createDataFrame(
        [(ids[i], ids[i + 1]) for i in range(11)], "a_id string, b_id string"
    )
    before = persistent_ids(spark)
    with persist_scope():
        out = dedup_clusters(nodes, pairs, driver_edge_limit=0).toPandas()
        assert len(persistent_ids(spark) - before) == 1  # the final round
    assert persistent_ids(spark) - before == set()
    fast = dedup_clusters(nodes, pairs).toPandas()
    assert fast.sort_values("doc_id").values.tolist() == out.sort_values("doc_id").values.tolist()


def test_simhash_pairs_planted(spark):
    base = ("the quick brown fox jumps over the lazy dog while the cat "
            "sleeps on the warm mat near the old wooden door of the house")
    near = base.replace("lazy", "sleepy")  # one-token edit → tiny hamming gap
    disjoint = ("completely different words about spacecraft telemetry "
                "magnetometer orbits plasma instruments calibration data "
                "downlink schedules and archive formats for the mission")
    df = spark.createDataFrame(
        [("d1", base), ("d2", near), ("d3", disjoint)], "doc_id string, text string"
    )
    got = {(r["a_id"], r["b_id"]) for r in
           simhash_pairs(df, max_distance=16, bands=32).collect()}
    assert ("d1", "d2") in got
    assert ("d1", "d3") not in got and ("d2", "d3") not in got


def test_simhash_pairs_hamming_exact(spark):
    # identical docs → hamming 0, always found regardless of banding
    df = spark.createDataFrame(
        [("x", "alpha beta gamma delta"), ("y", "alpha beta gamma delta")],
        "doc_id string, text string",
    )
    rows = simhash_pairs(df, max_distance=3, bands=4).collect()
    assert len(rows) == 1 and rows[0]["hamming"] == 0


def test_ngram_doc_freq_cap_drops_boilerplate(spark):
    from al_drift_detection_spark.functions.dedup import ngram_jaccard_pairs

    boiler = "terms of service apply to this document"
    rows = [
        ("a", f"{boiler} alpha beta gamma delta epsilon zeta"),
        ("b", f"{boiler} alpha beta gamma delta epsilon eta"),   # near-dup of a
        ("c", f"{boiler} completely unrelated words here now ok"),
        ("d", f"{boiler} another totally different body of text"),
    ]
    df = spark.createDataFrame(rows, "doc_id string, text string")
    # exact: boilerplate shingles connect everything
    exact = {(r["a_id"], r["b_id"])
             for r in ngram_jaccard_pairs(df, threshold=0.1).collect()}
    assert ("a", "c") in exact or ("a", "d") in exact  # boilerplate noise
    # capped: shingles in >2 docs (the boilerplate) are dropped pre-join —
    # the true near-dup pair survives, boilerplate-only pairs vanish
    capped = {(r["a_id"], r["b_id"])
              for r in ngram_jaccard_pairs(df, threshold=0.1, max_doc_freq=2).collect()}
    assert ("a", "b") in capped
    assert ("a", "c") not in capped and ("c", "d") not in capped
