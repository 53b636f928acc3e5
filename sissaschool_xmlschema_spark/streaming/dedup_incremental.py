"""Incremental near-duplicate detection — MinHash LSH state across batches.

Batch dedup (operators/dedup.py) assumes the whole corpus is visible at
once; a growing corpus (daily crawl drops, streaming ingestion) needs the
LSH bucket state to PERSIST so a document arriving in batch 7 can collide
with one from batch 2.  Same idempotent-state recipe as the identity
counters in streaming/incremental.py (``batch=<id>`` overwrite dirs, the
reference's lazy-mode counter merge, schemas.py:1386-1389) — applied to
the dedup keep-list instead of constraint counters.

Per micro-batch: distinct ``(bucket key, doc id)`` pairs land under
``bucketstate/batch=<id>`` (OVERWRITE — a retried batch rewrites itself).
End-of-stream (or any time in between), :func:`incremental_dup_flags`
merges all batches: a document is a duplicate iff some bucket it occupies
has a smaller doc id anywhere in the stream so far — exactly the greedy
O(n·bands) keep-list semantics of ``lsh_dedup_keep``, now cross-batch.

State size is O(docs × bands) rows of (16-byte key, id) — near-dup state
is inherently per-document (signatures must outlive their batch), unlike
the distinct-key counters; at 10^9 docs × 8 bands that is a ~200 GB
parquet directory, scanned once per merge.  Compact it periodically by
rewriting ``min(id) per bucket`` (the merge is associative), which bounds
the state at O(distinct buckets).
"""

from __future__ import annotations

import os
from typing import Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sissaschool_xmlschema_spark.operators.dedup import (
    band_buckets,
    minhash_signatures,
)


def run_incremental_dedup(
    spark: SparkSession,
    input_path: str,
    work_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 24,
    bands: int = 8,
    seed: int = 42,
    schema: Optional[str] = None,
    max_files_per_trigger: Optional[int] = None,
) -> str:
    """Stream a growing document directory, persisting LSH bucket state.

    Returns the bucket-state path for :func:`incremental_dup_flags`.
    The stream checkpoint under ``work_dir`` makes re-runs process only
    new files (availableNow batch-incremental mode)."""
    bucketstate = os.path.join(work_dir, "bucketstate")
    ckpt = os.path.join(work_dir, "_dedup_checkpoint")

    from sissaschool_xmlschema_spark.sources.tables import incremental_source

    stream = incremental_source(
        spark, input_path, schema=schema,
        max_files_per_trigger=max_files_per_trigger,
    )

    def process(batch: DataFrame, batch_id: int) -> None:
        sigs = minhash_signatures(batch, id_col, text_col, k=k, seed=seed)
        # band_buckets normalizes the id column's name to "id"
        buckets = band_buckets(sigs, k=k, bands=bands).select(
            "band", "bkey", F.col("id").alias(id_col)
        )
        buckets.dropDuplicates().write.mode("overwrite").parquet(
            os.path.join(bucketstate, f"batch={batch_id}")
        )

    q = (
        stream.writeStream.foreachBatch(process)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return bucketstate


def incremental_dup_flags(
    spark: SparkSession, bucketstate: str, id_col: str = "doc_id"
) -> DataFrame:
    """Merge all persisted batches into the duplicate list.

    ``(id, min_seen)`` for every document whose bucket set intersects a
    smaller id anywhere in the stream so far — one groupBy for the bucket
    minimum (broadcastable if the hot-bucket list is small; otherwise a
    plain shuffled join on the 16-byte key), one join back, one per-doc
    min.  Keep-list = stream ids MINUS these."""
    state = spark.read.parquet(bucketstate)
    bucket_min = state.groupBy("band", "bkey").agg(
        F.min(id_col).alias("_bucket_min")
    )
    return (
        state.join(bucket_min, ["band", "bkey"])
        .filter(F.col("_bucket_min") < F.col(id_col))
        .groupBy(id_col)
        .agg(F.min("_bucket_min").alias("kept_as"))
    )
