"""Multimodal column plumbing: opaque binary payloads with typed metadata.

North-star training-data extension.  Images / audio / video ride in the table
as ``binary`` columns next to typed metadata (mime, width, height, duration);
decode / feature-extraction / resize / frame-sampling run as Arrow-batched
pandas functions over ``mapInPandas`` — the one place Python belongs, because
codec work is per-payload CPU, not relational logic.

The actual codecs (PIL/ffmpeg/librosa) are NOT in this container, so the
decode kernel is STUBBED: ``decode_stub=True`` produces deterministic fake
features keyed on the payload bytes, and the real implementation slot raises
``NotImplementedError`` with the dependency named.  Everything Spark-side —
schema, batch shape, partition sizing, UDF signature — is real and tested.

Scale notes: payload columns dominate bytes, so (1) select metadata-only when
features aren't needed (column pruning skips the blob pages in parquet), and
(2) ``repartition`` by count, not bytes, before mapInPandas so one Arrow batch
holds a bounded number of payloads (spark.sql.execution.arrow.maxRecordsPerBatch
guards the executor heap).
"""

from __future__ import annotations

from typing import Iterator

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    FloatType,
    IntegerType,
    StringType,
    StructField,
    StructType,
)

MEDIA_SCHEMA = StructType(
    [
        StructField("media_id", StringType()),
        StructField("mime", StringType()),
        StructField("payload", BinaryType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
    ]
)

FEATURE_SCHEMA = StructType(
    [
        StructField("media_id", StringType()),
        StructField("mime", StringType()),
        StructField("n_bytes", IntegerType()),
        StructField("feature", ArrayType(FloatType())),
    ]
)

FEATURE_DIM = 16

def synthetic_media(spark, docs: DataFrame, id_col: str = "doc_id",
                    text_col: str = "text") -> DataFrame:
    """Deterministic fake media table: payload = utf-8 bytes of the text.

    Stands in for real image bytes so the binary-column plumbing (schemas,
    batch shapes, pruning) is exercised without codec libraries.
    """
    return docs.select(
        F.concat(F.lit("m-"), F.col(id_col).cast("string")).alias("media_id"),
        F.lit("image/fake").alias("mime"),
        F.encode(F.col(text_col), "UTF-8").alias("payload"),
        (F.length(F.col(text_col)) % 640).cast("int").alias("width"),
        (F.length(F.col(text_col)) % 480).cast("int").alias("height"),
    )


def extract_features(
    media: DataFrame,
    decode_stub: bool = True,
    batch_payloads: int = 256,
) -> DataFrame:
    """Decode + featurize payloads via mapInPandas (Arrow-batched).

    With ``decode_stub`` the feature is a deterministic hash-derived vector —
    byte-identical across runs: component i is bytes [2i, 2i+2) of
    sha256(payload), big-endian, over 65535 — which a SQL oracle reproduces
    with ``sha256()`` and hex-digit arithmetic.  The real path raises
    NotImplementedError naming the missing codec dependency.
    """

    def kernel(batches: Iterator) -> Iterator:
        import hashlib

        import pandas as pd

        for pdf in batches:
            if not decode_stub:
                raise NotImplementedError(
                    "real image decode requires PIL/ffmpeg, not available in "
                    "this environment — run with decode_stub=True"
                )
            feats = []
            for payload in pdf["payload"]:
                digest = hashlib.sha256(bytes(payload)).digest()
                feats.append(
                    [
                        int.from_bytes(digest[2 * i: 2 * i + 2], "big")
                        / 65535.0
                        for i in range(FEATURE_DIM)
                    ]
                )
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "mime": pdf["mime"],
                    "n_bytes": pdf["payload"].map(len).astype("int32"),
                    "feature": feats,
                }
            )

    spark = media.sparkSession
    spark.conf.set(
        "spark.sql.execution.arrow.maxRecordsPerBatch", str(batch_payloads)
    )
    return media.mapInPandas(kernel, FEATURE_SCHEMA)
