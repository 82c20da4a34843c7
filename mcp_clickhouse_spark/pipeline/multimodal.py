"""Multimodal column plumbing: opaque `binary` payloads + typed metadata.

Image/audio/video payloads are carried as BinaryType columns with a metadata
struct alongside (format, width/height or sample-rate, byte length). The
Spark-side plumbing — schema, partitioning, Arrow batch shape through
`mapInPandas` — is real and tested; the actual codec step is STUBBED (the
container ships no image/audio libraries): `decode_image_batch` raises
NotImplementedError unless `fake=True`, where a deterministic fake decoder
(dimensions derived from the payload hash) stands in so the distributed
plumbing can be exercised end-to-end.

Scale notes: binary payloads ride the normal columnar path (parquet binary +
Arrow); mapInPandas streams record batches so a 100 MB image never needs a
row-at-a-time Python hop; `spark.sql.execution.arrow.maxRecordsPerBatch`
bounds batch memory. Feature extraction keyed per doc stays embarrassingly
parallel — no shuffle at all until a later aggregation.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

# Magic prefixes for cheap JVM-side format sniffing (real formats).
_MAGIC = {
    "png": b"\x89PNG",
    "jpeg": b"\xff\xd8\xff",
    "gif": b"GIF8",
    "riff": b"RIFF",  # wav/avi containers
}

MEDIA_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("payload", BinaryType()),
        StructField("media_format", StringType()),
        StructField("payload_len", LongType()),
    ]
)

DECODED_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("media_format", StringType()),
        StructField("payload_len", LongType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("n_frames", IntegerType()),
    ]
)


def attach_binary_payload(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Derive a deterministic binary payload column from text (test stand-in
    for reading real media bytes): payload = UTF-8 bytes, format sniffed from
    magic bytes (falls back to 'bin'). All JVM-side."""
    payload = F.encode(F.col(text_col), "UTF-8")
    fmt = F.lit("bin")
    for name, magic in _MAGIC.items():
        fmt = F.when(
            F.startswith(F.col("payload"), F.lit(magic)), F.lit(name)
        ).otherwise(fmt)
    return (
        df.withColumn("payload", payload)
        .withColumn("media_format", fmt)
        .withColumn("payload_len", F.octet_length(F.col("payload")))
    )


def decode_image_batch(pdf: pd.DataFrame, fake: bool) -> pd.DataFrame:
    """Decode one Arrow batch of payloads → dimensions.

    REAL path: would call PIL/ffmpeg here — not available in this container.
    """
    if not fake:
        raise NotImplementedError(
            "image/audio codecs not available in this environment; "
            "run with fake=True for the deterministic stand-in decoder"
        )
    # Deterministic fake: dimensions derived from payload length/bytes.
    lens = pdf["payload"].map(len)
    return pd.DataFrame(
        {
            "doc_id": pdf["doc_id"],
            "media_format": pdf["media_format"],
            "payload_len": lens,
            "width": (lens % 640 + 1).astype("int32"),
            "height": (lens % 480 + 1).astype("int32"),
            "n_frames": pdf["payload"].map(lambda b: (b[0] if len(b) else 0) % 16 + 1).astype(
                "int32"
            ),
        }
    )


def decode_media(df: DataFrame, fake: bool = True) -> DataFrame:
    """Distributed decode via mapInPandas (Arrow-batched)."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield decode_image_batch(pdf, fake=fake)

    cols = ["doc_id", "payload", "media_format"]
    return df.select(*cols).mapInPandas(run, schema=DECODED_SCHEMA)
