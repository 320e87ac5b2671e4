"""STREAMING incremental dedup: a Structured Streaming document feed drives
the persisted-signature incremental MinHash-LSH index
(functions/dedup.incremental_minhash_pairs) through `foreachBatch`, emitting
near-dup pairs continuously as new corpus snapshots arrive.

This composes the round's two continuous-ingest capabilities into the 100 TB
story: at scale a crawler lands document shards on the feed path all day;
each micro-batch signs ONLY its new docs (left_anti against the store's id
column), probes the persisted banded store (new × (store ∪ new) bucketed
band join — the corpus side is never re-LSHed), and appends its signatures.
Reference analog: the incremental-vs-full retrain distinction
(/root/reference/gan.py:161-170 — SURVEY §4 row 4), applied to the dedup
index and driven by a stream.

Exactly-once pair emission (pinned in tests/test_stream_dedup.py):
`foreachBatch` replays a failed micro-batch under the SAME batch_id, and the
pair sink is a dynamic-partition overwrite keyed by that batch_id, invoked
by incremental_minhash_pairs BETWEEN pair materialization and the store
append (its documented step 4). The crash matrix:

- crash before the sink write: replay re-signs (ids absent from the store)
  and writes partition `_batch_id=N` fresh;
- crash between sink and append: replay re-signs and overwrites
  `_batch_id=N` with the SAME pairs — idempotent;
- crash after the append: replay signs 0 docs, emits an EMPTY frame, and a
  dynamic-partition overwrite of an empty frame touches no partitions — the
  earlier emission survives.

Scale shape: per-trigger work is O(batch) on the new side (sign + shuffle)
plus a store-side probe that an Iceberg (band, bucket)-bucketed store prunes
to touched buckets (incremental_minhash_pairs docstring); nothing re-reads
the corpus, no state lives in the stream itself — the signature store IS the
state, shared with the batch CLI surface (`runner --image-dedup-store`).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

DOC_FEED_DDL = "doc_id long, text string"


def dedup_batch_handler(
    store_path: str,
    pairs_dir: str,
    k: int = 32,
    bands: int = 8,
    n: int = 3,
    threshold: float = 0.0,
    text_col: str = "text",
    id_col: str = "doc_id",
):
    """The foreachBatch handler: one incremental_minhash_pairs call per
    micro-batch with the batch_id-partitioned durable sink (module
    docstring). Returned separately so tests can drive the crash matrix
    without a streaming query around it."""
    from al_drift_detection_spark.functions.dedup import incremental_minhash_pairs
    from al_drift_detection_spark.persist import persist_scope

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        def sink(pairs: DataFrame) -> None:
            (
                pairs.withColumn("_batch_id", F.lit(int(batch_id)))
                .write.mode("overwrite")
                .option("partitionOverwriteMode", "dynamic")
                .partitionBy("_batch_id")
                .parquet(pairs_dir)
            )

        # foreachBatch runs on its own thread, outside any caller scope:
        # the batch's pair checkpoint is freed once its sink has written it
        with persist_scope():
            incremental_minhash_pairs(
                batch_df, store_path, k=k, bands=bands, n=n, threshold=threshold,
                text_col=text_col, id_col=id_col, sink=sink,
            )

    return handle


def run_dedup_stream(
    spark: SparkSession,
    feed_dir: str,
    store_path: str,
    pairs_dir: str,
    checkpoint_dir: str,
    files_per_trigger: int = 1,
    schema: str = DOC_FEED_DDL,
    **dedup_kwargs,
) -> None:
    """Drive the incremental dedup index from a parquet file feed,
    availableNow-bounded (drain what's there, then stop — rerunnable as a
    scheduled ingest tick; a production deployment swaps the trigger for a
    processing-time one and the feed for the live landing path)."""
    q = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", files_per_trigger)
        .parquet(feed_dir)
        .writeStream.foreachBatch(
            dedup_batch_handler(store_path, pairs_dir, **dedup_kwargs)
        )
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
