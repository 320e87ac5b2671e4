"""Streaming incremental dedup (streaming/dedup.py): a document feed drives
the persisted-signature MinHash-LSH index through foreachBatch with
exactly-once pair emission. Pins the crash matrix of
incremental_minhash_pairs' `sink` contract (docstring step 4) and the
stream-vs-one-shot parity. Reference analog: incremental-vs-full retrain
(/root/reference/gan.py:161-170) driven continuously."""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F

BASE_TEXT = "the quick brown fox jumps over the lazy dog again and again today"

BATCH1 = [
    (0, BASE_TEXT),
    (1, BASE_TEXT + " extra"),
    (2, "completely different words about spark and parquet tables"),
    (3, "yet another unrelated document mentioning drift detection"),
]
BATCH2 = [
    (10, BASE_TEXT),                       # cross-batch dup of 0
    (11, "some brand new ingest text with shared shingle content ok"),
    (12, "some brand new ingest text with shared shingle content yes"),
    (13, "fully unique second batch document with no duplicate twin"),
]


def _docs(spark, rows):
    return spark.createDataFrame(
        pd.DataFrame(rows, columns=["doc_id", "text"]),
        "doc_id long, text string",
    )


def _read_pairs(spark, pairs_dir):
    try:
        return (
            spark.read.parquet(pairs_dir)
            .select("a_id", "b_id", "est_jaccard")
            .toPandas()
            .sort_values(["a_id", "b_id"])
            .reset_index(drop=True)
        )
    except Exception:
        return pd.DataFrame(columns=["a_id", "b_id", "est_jaccard"])


def test_stream_union_equals_full_recompute(spark, tmp_path):
    """End-to-end: two feed files → two micro-batches; the pairs table's
    union across batch partitions equals the one-shot minhash_lsh_pairs
    over the full corpus, and the planted dups surface."""
    from al_drift_detection_spark.functions.dedup import minhash_lsh_pairs
    from al_drift_detection_spark.persist import persist_scope
    from al_drift_detection_spark.streaming.dedup import run_dedup_stream

    feed = str(tmp_path / "feed")
    # one file per batch, staged before the stream starts; maxFilesPerTrigger=1
    # makes each file its own micro-batch
    _docs(spark, BATCH1).coalesce(1).write.mode("append").parquet(feed)
    _docs(spark, BATCH2).coalesce(1).write.mode("append").parquet(feed)

    run_dedup_stream(
        spark, feed,
        store_path=str(tmp_path / "store"),
        pairs_dir=str(tmp_path / "pairs"),
        checkpoint_dir=str(tmp_path / "ckpt"),
        k=16, bands=4,
    )

    got = _read_pairs(spark, str(tmp_path / "pairs"))
    with persist_scope():
        fullf = minhash_lsh_pairs(
            _docs(spark, BATCH1 + BATCH2), k=16, bands=4
        )
        want = (
            fullf.select("a_id", "b_id", "est_jaccard").toPandas()
            .sort_values(["a_id", "b_id"]).reset_index(drop=True)
        )
    pd.testing.assert_frame_equal(got, want)
    pairs = set(zip(got["a_id"], got["b_id"]))
    assert {(0, 1), (0, 10), (11, 12)} <= pairs

    # the store holds every doc's signatures exactly once
    store = spark.read.parquet(str(tmp_path / "store"))
    assert store.select("id").distinct().count() == 8


def test_crash_before_append_reemits_same_pairs(spark, tmp_path):
    """Crash matrix, middle row: a failure BETWEEN the sink write and the
    store append leaves the batch unsigned; the foreachBatch replay (same
    batch_id) re-signs and overwrites the same partition with the SAME
    pairs — no loss, no duplication."""
    from al_drift_detection_spark.functions.dedup import incremental_minhash_pairs
    from al_drift_detection_spark.streaming.dedup import dedup_batch_handler

    store, pairs_dir = str(tmp_path / "store"), str(tmp_path / "pairs")

    def crashing_sink(pairs):
        (
            pairs.withColumn("_batch_id", F.lit(0))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("_batch_id")
            .parquet(pairs_dir)
        )
        raise RuntimeError("simulated crash after durable emission")

    with pytest.raises(RuntimeError, match="simulated crash"):
        incremental_minhash_pairs(
            _docs(spark, BATCH1), store, k=16, bands=4, sink=crashing_sink
        )
    import os

    assert not os.path.exists(store)  # append never happened
    emitted_first = _read_pairs(spark, pairs_dir)
    assert len(emitted_first) > 0

    # replay under the SAME batch_id (foreachBatch retry semantics)
    dedup_batch_handler(store, pairs_dir, k=16, bands=4)(
        _docs(spark, BATCH1), 0
    )
    emitted_retry = _read_pairs(spark, pairs_dir)
    pd.testing.assert_frame_equal(emitted_retry, emitted_first)
    assert spark.read.parquet(store).select("id").distinct().count() == 4


def test_replay_after_append_preserves_emission(spark, tmp_path):
    """Crash matrix, last row: a replay AFTER the append signs 0 docs and
    emits an empty frame; the dynamic-partition overwrite touches no
    partitions, so the earlier emission survives byte-for-byte."""
    from al_drift_detection_spark.streaming.dedup import dedup_batch_handler

    store, pairs_dir = str(tmp_path / "store"), str(tmp_path / "pairs")
    handler = dedup_batch_handler(store, pairs_dir, k=16, bands=4)
    handler(_docs(spark, BATCH1), 0)
    first = _read_pairs(spark, pairs_dir)
    assert len(first) > 0
    store_rows = spark.read.parquet(store).count()

    handler(_docs(spark, BATCH1), 0)  # replay: already signed
    pd.testing.assert_frame_equal(_read_pairs(spark, pairs_dir), first)
    assert spark.read.parquet(store).count() == store_rows
