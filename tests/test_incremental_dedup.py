"""Incremental MinHash-LSH dedup (VERDICT r5 "What's missing" #1): a second
ingest batch signs only its new docs, probes the persisted signature/band
store, and the union of per-batch pair outputs equals the one-shot full
recompute. Reference analog: incremental-vs-full retrain
(/root/reference/gan.py:161-170)."""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F


def _docs(spark, ids_texts):
    return spark.createDataFrame(
        pd.DataFrame(ids_texts, columns=["doc_id", "text"]),
        "doc_id long, text string",
    )


BASE_TEXT = "the quick brown fox jumps over the lazy dog again and again today"


@pytest.fixture()
def corpus(spark):
    """Two batches with planted near-dups WITHIN and ACROSS batches:
    0/1 near-identical (batch 1), 10 a copy of 0 (cross-batch), 11/12
    near-identical (batch 2), rest distinct."""
    b1 = _docs(spark, [
        (0, BASE_TEXT),
        (1, BASE_TEXT + " extra"),
        (2, "completely different words about spark and parquet tables"),
        (3, "yet another unrelated document mentioning drift detection"),
    ])
    b2 = _docs(spark, [
        (10, BASE_TEXT),                       # cross-batch dup of 0
        (11, "some brand new ingest text with shared shingle content ok"),
        (12, "some brand new ingest text with shared shingle content yes"),
        (13, "fully unique second batch document with no duplicate twin"),
    ])
    return b1, b2


def test_incremental_union_equals_full_recompute(spark, corpus, tmp_path):
    from al_drift_detection_spark.functions.dedup import (
        incremental_minhash_pairs,
        minhash_lsh_pairs,
    )
    from al_drift_detection_spark.persist import persist_scope

    b1, b2 = corpus
    store = str(tmp_path / "banded")
    p1 = incremental_minhash_pairs(b1, store, k=16, bands=4)
    p2 = incremental_minhash_pairs(b2, store, k=16, bands=4)
    inc = (
        p1.unionByName(p2)
        .select("a_id", "b_id", "est_jaccard")
        .toPandas()
        .sort_values(["a_id", "b_id"])
        .reset_index(drop=True)
    )
    with persist_scope():
        fullf = minhash_lsh_pairs(b1.unionByName(b2), k=16, bands=4)
        full = (
            fullf.toPandas().sort_values(["a_id", "b_id"]).reset_index(drop=True)
        )
    pd.testing.assert_frame_equal(inc, full)
    # the planted dups actually surface (non-vacuous parity)
    got_pairs = set(zip(inc["a_id"], inc["b_id"]))
    assert (0, 10) in got_pairs      # cross-batch exact dup
    assert (0, 1) in got_pairs       # in-batch-1 near dup
    assert (11, 12) in got_pairs     # in-batch-2 near dup


def test_second_batch_signs_only_new_docs(spark, corpus, tmp_path):
    """Metric check (VERDICT r5 item 4): with overlapping ids re-ingested,
    batch 2 signs exactly its truly-new docs — visible in n_new_signed AND
    in the store's row delta (new_docs × bands)."""
    from al_drift_detection_spark.functions.dedup import incremental_minhash_pairs

    b1, b2 = corpus
    store = str(tmp_path / "banded")
    incremental_minhash_pairs(b1, store, k=16, bands=4)
    rows_after_b1 = spark.read.parquet(store).count()
    assert rows_after_b1 == 4 * 4  # 4 docs × 4 bands

    # re-ingest: batch 2 plus two ALREADY-SIGNED docs (a re-crawled shard)
    reingest = b2.unionByName(b1.filter(F.col("doc_id").isin(0, 1)))
    p2 = incremental_minhash_pairs(reingest, store, k=16, bands=4)
    assert p2.select("n_new_signed").head()[0] == 4  # only 10-13 signed
    assert spark.read.parquet(store).count() == rows_after_b1 + 4 * 4


def test_rerun_is_idempotent(spark, corpus, tmp_path):
    """Re-running an already-ingested batch signs nothing, emits nothing,
    and leaves the store untouched (crash-retry safety: pairs were already
    emitted by the run that appended the signatures)."""
    from al_drift_detection_spark.functions.dedup import incremental_minhash_pairs

    b1, _ = corpus
    store = str(tmp_path / "banded")
    p1 = incremental_minhash_pairs(b1, store, k=16, bands=4)
    assert p1.count() > 0
    before = spark.read.parquet(store).count()
    p1_again = incremental_minhash_pairs(b1, store, k=16, bands=4)
    assert p1_again.count() == 0
    assert spark.read.parquet(store).count() == before


def test_registry_entry_parity_column(spark):
    """q_incremental_dedup_pairs on the real documents table: every row
    carries parity_with_full == True (the self-verifying gate column)."""
    from al_drift_detection_spark.operators import REGISTRY

    out = REGISTRY["q_incremental_dedup_pairs"].fn(
        spark, "/root/testdata/sf0.001"
    ).toPandas()
    assert len(out) > 0
    assert out["parity_with_full"].all()

# ---- incremental Hamming/SimHash (fingerprint twin) ----------------------


def _fps(spark, rows):
    return spark.createDataFrame(
        pd.DataFrame(rows, columns=["image_id", "phash"]),
        "image_id string, phash long",
    )


@pytest.fixture()
def fp_corpus(spark):
    """Fingerprint batches with planted near-dups WITHIN and ACROSS batches:
    a/b differ by 2 bits (batch 1), k a 1-bit twin of a (cross-batch), m/n
    differ by 3 bits (batch 2); the rest differ in every band."""
    base = 0x1234_5678_9ABC_DEF0
    far1 = 0x0F0F_0F0F_0F0F_0F0F
    far2 = -0x7071_2345_6789_ABCD
    b1 = _fps(spark, [("a", base), ("b", base ^ 0b101), ("c", far1)])
    b2 = _fps(spark, [("k", base ^ (1 << 40)), ("m", far2),
                      ("n", far2 ^ 0b10101), ("z", 42)])
    return b1, b2


def test_incremental_hamming_union_equals_full(spark, fp_corpus, tmp_path):
    from al_drift_detection_spark.functions.dedup import (
        hamming_pairs,
        incremental_hamming_pairs,
    )
    from al_drift_detection_spark.persist import persist_scope

    b1, b2 = fp_corpus
    store = str(tmp_path / "fp_banded")
    p1 = incremental_hamming_pairs(b1, store, "phash", "image_id", 3, 4)
    p2 = incremental_hamming_pairs(b2, store, "phash", "image_id", 3, 4)
    inc = (
        p1.unionByName(p2).select("a_id", "b_id", "hamming")
        .toPandas().sort_values(["a_id", "b_id"]).reset_index(drop=True)
    )
    with persist_scope():
        fullf = hamming_pairs(
            b1.unionByName(b2), "phash", "image_id", max_distance=3, bands=4
        )
        full = fullf.toPandas().sort_values(["a_id", "b_id"]).reset_index(drop=True)
    pd.testing.assert_frame_equal(inc, full)
    got = set(zip(inc["a_id"], inc["b_id"]))
    assert ("a", "b") in got     # in-batch-1, 2 bits
    assert ("a", "k") in got     # cross-batch, 1 bit
    assert ("m", "n") in got     # in-batch-2, 3 bits


def test_incremental_hamming_signs_only_new_and_idempotent(
    spark, fp_corpus, tmp_path
):
    from al_drift_detection_spark.functions.dedup import incremental_hamming_pairs

    b1, b2 = fp_corpus
    store = str(tmp_path / "fp_banded")
    incremental_hamming_pairs(b1, store, "phash", "image_id", 3, 4)
    rows_after_b1 = spark.read.parquet(store).count()
    assert rows_after_b1 == 3 * 4  # 3 fingerprints × 4 bands

    reingest = b2.unionByName(b1.filter(F.col("image_id") == "a"))
    p2 = incremental_hamming_pairs(reingest, store, "phash", "image_id", 3, 4)
    assert p2.select("n_new_signed").head()[0] == 4  # only k/m/n/z signed
    assert spark.read.parquet(store).count() == rows_after_b1 + 4 * 4

    again = incremental_hamming_pairs(b2, store, "phash", "image_id", 3, 4)
    assert again.count() == 0
    assert spark.read.parquet(store).count() == rows_after_b1 + 4 * 4


def test_pair_flags_and_first_signed_wins_keep(spark, fp_corpus, tmp_path):
    """a_new/b_new record which NORMALIZED side each batch signed, and
    incremental_keep derives first-signed-wins verdicts from the cumulative
    ledger — including the case a naive 'drop b_id' rule gets wrong: a new
    image whose stored twin has the GREATER id (pair ('a','k'): 'a' stored,
    'k' new → drop 'k'; and batch 3's 'A' < stored 'a' → pair ('A','a')
    puts the STORED twin at b_id, yet 'A' must be the one dropped)."""
    from al_drift_detection_spark.functions.dedup import (
        incremental_hamming_pairs,
        incremental_keep,
    )

    b1, b2 = fp_corpus
    store = str(tmp_path / "fp_banded")
    p1 = incremental_hamming_pairs(b1, store, "phash", "image_id", 3, 4)
    p2 = incremental_hamming_pairs(b2, store, "phash", "image_id", 3, 4)
    flags = {
        (r["a_id"], r["b_id"]): (r["a_new"], r["b_new"])
        for r in p1.unionByName(p2).collect()
    }
    assert flags[("a", "b")] == (True, True)    # both new in batch 1
    assert flags[("a", "k")] == (False, True)   # 'a' stored, 'k' new
    assert flags[("m", "n")] == (True, True)    # both new in batch 2

    # batch 3: 'A' sorts BEFORE its stored twin 'a' → lands at a_id
    base = 0x1234_5678_9ABC_DEF0
    b3 = _fps(spark, [("A", base ^ 0b1)])
    p3 = incremental_hamming_pairs(b3, store, "phash", "image_id", 3, 4)
    flags3 = {
        (r["a_id"], r["b_id"]): (r["a_new"], r["b_new"]) for r in p3.collect()
    }
    assert flags3[("A", "a")] == (True, False)  # new side is a_id this time

    ledger = p1.unionByName(p2).unionByName(p3)
    ids = spark.createDataFrame(
        [(x,) for x in ["a", "b", "c", "k", "m", "n", "z", "A"]],
        "image_id string",
    )
    keep = {
        r["image_id"]: r["keep"]
        for r in incremental_keep(ids, ledger, "image_id").collect()
    }
    # first-signed-wins: a admitted first; b (greater batchmate), k (twin of
    # stored a), n (greater batchmate), A (twin of stored a, SMALLER id —
    # the naive-rule regression) all dropped
    assert keep == {"a": True, "c": True, "m": True, "z": True,
                    "b": False, "k": False, "n": False, "A": False}

    # replay stability: verdicts are a pure function of the durable ledger —
    # a retried batch that signs 0 docs leaves them unchanged
    p3_replay = incremental_hamming_pairs(b3, store, "phash", "image_id", 3, 4)
    assert p3_replay.count() == 0
    keep_replay = {
        r["image_id"]: r["keep"]
        for r in incremental_keep(ids, ledger, "image_id").collect()
    }
    assert keep_replay == keep


def test_minhash_pair_flags(spark, corpus, tmp_path):
    """The MinHash twin carries the same a_new/b_new ledger flags: the
    cross-batch dup (0 stored, 10 new) flags (False, True); in-batch pairs
    flag (True, True)."""
    from al_drift_detection_spark.functions.dedup import incremental_minhash_pairs

    b1, b2 = corpus
    store = str(tmp_path / "banded")
    p1 = incremental_minhash_pairs(b1, store, k=16, bands=4)
    p2 = incremental_minhash_pairs(b2, store, k=16, bands=4)
    flags = {
        (r["a_id"], r["b_id"]): (r["a_new"], r["b_new"])
        for r in p1.unionByName(p2).collect()
    }
    assert flags[(0, 1)] == (True, True)
    assert flags[(0, 10)] == (False, True)
    assert flags[(11, 12)] == (True, True)


def test_incremental_simhash_registry_parity(spark):
    """q_incremental_simhash_pairs on the real documents table: the
    self-verifying parity column holds on every emitted pair."""
    from al_drift_detection_spark.operators import REGISTRY

    out = REGISTRY["q_incremental_simhash_pairs"].fn(
        spark, "/root/testdata/sf0.001"
    ).toPandas()
    assert out["parity_with_full"].all() if len(out) else True


def test_runner_incremental_image_dedup(spark, tmp_path_factory):
    """--image-dedup --image-dedup-store: second run over the SAME corpus
    signs nothing new; keep/drop covers every current image and matches the
    planted-dup expectation (random phashes → no ≤3-bit pairs at this
    scale, all keep)."""
    from al_drift_detection_spark import runner

    root = tmp_path_factory.mktemp("incdedup")
    out1, out2 = str(root / "o1"), str(root / "o2")
    store = str(root / "phash_store")
    args = ["--images", "synthetic:2000", "--master", "local[8]",
            "--image-dedup", "--image-dedup-store", store]
    assert runner.main(args + ["--out", out1]) == 0
    keep1 = spark.read.parquet(f"{out1}/image_dedup").toPandas()
    assert len(keep1) == 2000

    assert runner.main(args + ["--out", out2]) == 0
    pairs2 = spark.read.parquet(f"{out2}/image_dedup_pairs").toPandas()
    # identical corpus re-run: nothing new signed, zero pairs emitted
    assert len(pairs2) == 0
    keep2 = spark.read.parquet(f"{out2}/image_dedup").toPandas()
    assert len(keep2) == 2000 and keep2["keep"].all()


def _planted_images(spark, rows):
    """Minimal input_hint-shaped corpus (no bytes — the runner only needs
    them under --decode) with plantable phashes."""
    return spark.createDataFrame(
        pd.DataFrame(
            rows, columns=["image_id", "w", "h", "fmt", "caption", "phash",
                           "part", "window_id"]
        ),
        "image_id string, w int, h int, fmt string, caption string, "
        "phash long, part int, window_id int",
    )


def test_runner_incremental_image_dedup_planted_and_replayed(
    spark, tmp_path_factory
):
    """The CLI's incremental image-dedup verdicts survive the two failure
    modes of a naive per-run derivation: (a) a new image whose stored twin
    has the GREATER id is still the one dropped (first-signed-wins, not
    drop-b_id), and (b) a replayed run — same command, same --out — signs
    nothing yet reproduces the SAME verdicts from the durable ledger
    instead of marking every known duplicate keep=True."""
    from al_drift_detection_spark import runner

    root = tmp_path_factory.mktemp("incdedup_planted")
    store = str(root / "phash_store")
    base = 0x1234_5678_9ABC_DEF0

    def mk(i, image_id, phash):
        return (image_id, 32 + i, 32, "png", f"cap {i}", phash,
                i % 2, i % 4)

    # 8-bit spreads keep every planted pair of distinct images ≥ 8 bits
    # apart except the deliberate near-dups below
    corpus_a = [mk(i, f"r{i:02d}", base ^ (0xFF << (4 * i))) for i in range(10)]
    corpus_a += [mk(10, "r10", ~base), mk(11, "r11", ~base ^ 0b1)]  # in-batch pair
    in1 = str(root / "in1")
    _planted_images(spark, corpus_a).write.parquet(in1)
    ref = str(root / "ref")  # referential check's phash whitelist
    _planted_images(
        spark, corpus_a + [mk(12, "a_new", (base ^ (0xFF << 20)) ^ 0b10),
                           mk(13, "s_unique", 0x0F0F_0F0F_0F0F_0F0F)]
    ).select("image_id", "phash").write.parquet(ref)
    out1 = str(root / "o1")
    assert runner.main([
        "--images", in1, "--ref", ref, "--out", out1, "--master", "local[8]",
        "--image-dedup", "--image-dedup-store", store,
    ]) == 0
    keep1 = dict(
        spark.read.parquet(f"{out1}/image_dedup").toPandas()
        .itertuples(index=False)
    )
    assert keep1["r10"] and not keep1["r11"]  # greater batchmate dropped

    # run 2: 'a_new' near-dups STORED 'r05' but sorts BEFORE it → lands at
    # a_id; a drop-b_id rule would evict the already-admitted r05 instead
    corpus_b = corpus_a + [
        mk(12, "a_new", (base ^ (0xFF << 20)) ^ 0b10),  # 1 bit off r05's phash
        mk(13, "s_unique", 0x0F0F_0F0F_0F0F_0F0F),
    ]
    in2 = str(root / "in2")
    _planted_images(spark, corpus_b).write.parquet(in2)
    out2 = str(root / "o2")
    run2 = ["--images", in2, "--ref", ref, "--out", out2,
            "--master", "local[8]",
            "--image-dedup", "--image-dedup-store", store]
    assert runner.main(run2) == 0
    pairs2 = spark.read.parquet(f"{out2}/image_dedup_pairs").toPandas()
    assert set(zip(pairs2["a_id"], pairs2["b_id"])) == {("a_new", "r05")}
    keep2 = dict(
        spark.read.parquet(f"{out2}/image_dedup").toPandas()
        .itertuples(index=False)
    )
    assert keep2["r05"] and not keep2["a_new"]  # stored twin stays admitted
    assert not keep2["r11"] and keep2["s_unique"]

    # replay: same command, same --out — crash-retry shape
    assert runner.main(run2) == 0
    assert spark.read.parquet(f"{out2}/image_dedup_pairs").count() == 0
    keep_replay = dict(
        spark.read.parquet(f"{out2}/image_dedup").toPandas()
        .itertuples(index=False)
    )
    assert keep_replay == keep2  # verdicts survive the replay


def test_crashed_append_is_invisible_and_retried(spark, corpus, tmp_path):
    """Generation-commit atomicity (review finding): a crash ANYWHERE inside
    the store append — even after all of a batch's data files landed —
    leaves the store logically unchanged (no commit marker → invisible), so
    the retry re-signs the whole batch, overwrites the same generation, and
    the final store + pair output are identical to a crash-free run. A
    plain parquet append could persist a SUBSET of a doc's band rows, which
    the id-level anti-join would then never repair."""
    import os

    from al_drift_detection_spark.functions.dedup import (
        banded_signatures,
        incremental_minhash_pairs,
        minhash_lsh_pairs,
        read_signature_store,
    )
    from al_drift_detection_spark.persist import persist_scope

    b1, b2 = corpus
    p1 = incremental_minhash_pairs(b1, str(tmp_path / "banded"), k=16, bands=4)
    p1.count()
    store = str(tmp_path / "banded")

    # simulate the crashed batch-2 append: data files fully written (the
    # worst case — a partial-file crash is strictly more invisible), marker
    # never renamed into place
    crashed = banded_signatures(
        b2.join(
            read_signature_store(spark, store).select(
                F.col("id").alias("doc_id")
            ).distinct(),
            "doc_id",
            "left_anti",
        ),
        16, 4, 3, "text", "doc_id",
    )
    crashed.write.mode("overwrite").parquet(os.path.join(store, "gen=1"))
    assert not os.path.exists(os.path.join(store, "_gen_1.committed"))

    # the crashed generation is invisible: batch-2 docs still count as new
    visible = read_signature_store(spark, store)
    assert visible.select("id").distinct().count() == 4  # batch 1 only

    # the retry re-signs ALL of batch 2, overwrites gen=1, commits it
    p2 = incremental_minhash_pairs(b2, store, k=16, bands=4)
    assert p2.head()["n_new_signed"] == 4  # re-signed the WHOLE batch
    assert os.path.exists(os.path.join(store, "_gen_1.committed"))
    assert read_signature_store(spark, store).select("id").distinct().count() == 8

    # pair parity with the one-shot recompute over the full corpus
    with persist_scope():
        full = minhash_lsh_pairs(b1.unionByName(b2), k=16, bands=4)
        want = {
            (r["a_id"], r["b_id"]) for r in full.select("a_id", "b_id").collect()
        }
    got = {
        (r["a_id"], r["b_id"])
        for p in (p1, p2)
        for r in p.select("a_id", "b_id").collect()
    }
    assert got == want

    # a further replay signs nothing and mints no new generation
    p3 = incremental_minhash_pairs(b2, store, k=16, bands=4)
    assert p3.count() == 0
    assert not os.path.exists(os.path.join(store, "gen=2"))
