"""Multimodal columns: opaque binary payloads + typed metadata.

Images/audio/video ride through the engine as `binary` columns with a
metadata struct; decode / feature-extraction / resize / frame-sample run as
Arrow-batched pandas functions over mapInPandas.  The media codecs are NOT
in this container, so the decode step is a clearly-marked stub
(`decode_stub`) — the Spark-side plumbing (schema, batch iteration,
partition-parallel execution) is real and tested.

Scale note: mapInPandas streams Arrow batches — constant memory per task;
payloads never pass through the driver.  Partition count bounds parallelism;
repartition upstream on a content key for even batches.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    LongType,
    IntegerType,
    StringType,
    StructField,
    StructType,
)

MEDIA_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("payload", BinaryType()),
        StructField("media_type", StringType()),
        StructField("byte_len", LongType()),
    ]
)

FEATURE_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("byte_len", LongType()),
        StructField("first_byte", IntegerType()),
        StructField("media_type", StringType()),
    ]
)


def attach_binary_payload(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Wrap a text column as a binary payload + metadata (the fixture's
    stand-in for an image/audio blob column)."""
    return docs.select(
        "doc_id",
        F.encode(F.col(text_col), "UTF-8").alias("payload"),
        F.lit("text/plain").alias("media_type"),
        F.octet_length(F.col(text_col)).cast("bigint").alias("byte_len"),
    )


def decode_stub(payload: bytes, media_type: str) -> bytes:
    """Decode step for real media (PIL / torchaudio / ffmpeg) — NOT
    available in this container.  Deterministic passthrough for text;
    anything else raises so the gap is explicit."""
    if media_type == "text/plain":
        return payload
    raise NotImplementedError(f"no codec for {media_type} in this environment")


FRAME_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("frame_index", IntegerType()),
        StructField("frame", BinaryType()),
        StructField("frame_len", LongType()),
    ]
)


def frame_sample(
    media: DataFrame,
    frame_bytes: int = 64,
    stride: int = 4,
) -> DataFrame:
    """Frame sampling over binary payloads: chunk each payload into
    `frame_bytes` frames and keep every `stride`-th — the deterministic
    stand-in for video frame extraction (a real pipeline decodes with
    ffmpeg inside the same mapInPandas iterator; payload chunking stands in
    for the codec so the 1:N row fan-out, batch shape and schema are real).

    Scale: frames multiply rows by ~payload/(frame_bytes*stride); the
    fan-out happens executor-side per Arrow batch — nothing passes through
    the driver, and downstream repartition can spread hot documents."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out: dict[str, list] = {"doc_id": [], "frame_index": [], "frame": [], "frame_len": []}
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                blob = bytes(payload)
                n_frames = (len(blob) + frame_bytes - 1) // frame_bytes
                for fi in range(0, n_frames, stride):
                    frame = blob[fi * frame_bytes:(fi + 1) * frame_bytes]
                    out["doc_id"].append(doc_id)
                    out["frame_index"].append(fi)
                    out["frame"].append(frame)
                    out["frame_len"].append(len(frame))
            yield pd.DataFrame(out)

    return media.mapInPandas(run, schema=FRAME_SCHEMA)


def extract_features(media: DataFrame) -> DataFrame:
    """Arrow-batched feature extraction over the binary column.  The stub
    computes byte length + first byte; a real pipeline would decode and
    embed here with the same plumbing."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            decoded = [decode_stub(p, m) for p, m in zip(pdf["payload"], pdf["media_type"])]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "byte_len": [len(d) for d in decoded],
                    "first_byte": [int(d[0]) if len(d) else -1 for d in decoded],
                    "media_type": pdf["media_type"],
                }
            )

    return media.mapInPandas(run, schema=FEATURE_SCHEMA)
