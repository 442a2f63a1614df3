"""Multimodal column plumbing: image/audio/video as opaque `binary` columns
with typed metadata, processed by Arrow-batched Pandas UDFs via mapInPandas.

No image/audio codec (PIL, pyav) is a dependency, so the decode step is a
STUB: a deterministic fake decoder (`_fake_decode`) stands in for
PIL/ffmpeg.  The Spark-side plumbing — schema, batch iteration, partition-parallel UDF
signature, metadata extraction — is real and tested; swapping in a real
codec is a one-function change.

Scale notes: mapInPandas streams Arrow batches, so per-row Python overhead
is amortized; binary payloads never hit the driver; metadata-only operations
(byte size, magic sniffing, checksum) stay in JVM expressions and need no
Python at all.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

# Magic-byte prefixes for cheap JVM-side format sniffing (no UDF).
MAGIC = {
    "png": b"\x89PNG",
    "jpeg": b"\xff\xd8\xff",
    "gif": b"GIF8",
    "wav": b"RIFF",
}

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("payload", T.BinaryType(), True),
        T.StructField("media_type", T.StringType(), True),
    ]
)

FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("media_type", T.StringType(), True),
        T.StructField("n_bytes", T.IntegerType(), True),
        T.StructField("feature", T.ArrayType(T.DoubleType()), True),
    ]
)


def media_from_documents(docs: DataFrame) -> DataFrame:
    """Build a synthetic media table from documents: the utf-8 text bytes
    play the role of an undecodable payload (deterministic test stand-in)."""
    return docs.select(
        F.col("doc_id").alias("media_id"),
        F.encode("text", "utf-8").alias("payload"),
        F.when(F.col("doc_id") % 3 == 0, F.lit("png"))
        .when(F.col("doc_id") % 3 == 1, F.lit("jpeg"))
        .otherwise(F.lit("wav"))
        .alias("media_type"),
    )


def media_metadata(media: DataFrame) -> DataFrame:
    """JVM-side metadata: byte length, md5 checksum, magic-byte sniff —
    no Python involved, runs inside the scan stage."""
    sniff = F.lit("unknown")
    for name, magic in MAGIC.items():
        hexpfx = magic.hex()
        sniff = F.when(
            F.hex(F.substring("payload", 1, len(magic))) == hexpfx.upper(),
            F.lit(name),
        ).otherwise(sniff)
    return media.select(
        "media_id",
        "media_type",
        F.octet_length("payload").alias("n_bytes"),
        F.md5("payload").alias("checksum"),
        sniff.alias("sniffed_type"),
    )


def _fake_decode(payload: bytes, n_dims: int = 8) -> list[float]:
    """Deterministic stand-in decoder: fold payload bytes into n_dims
    accumulators (a checksum-ish 'feature'). Pure-Python but runs inside an
    Arrow batch, vectorized over rows by the caller."""
    acc = [0.0] * n_dims
    for i, byte in enumerate(payload):
        acc[i % n_dims] += byte
    total = sum(acc) or 1.0
    return [a / total for a in acc]


def extract_features(media: DataFrame, n_dims: int = 8) -> DataFrame:
    """mapInPandas feature extraction: (media_id, media_type, n_bytes,
    feature array).  Arrow-batched; a real codec replaces _fake_decode."""

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = pdf["payload"]
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "media_type": pdf["media_type"],
                    "n_bytes": payloads.map(len).astype("int32"),
                    "feature": payloads.map(
                        lambda p: _fake_decode(bytes(p), n_dims)
                    ),
                }
            )

    return media.mapInPandas(op, schema=FEATURE_SCHEMA)


FRAME_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("frame_idx", T.IntegerType(), False),
        T.StructField("frame", T.BinaryType(), True),
    ]
)

def sample_frames(media: DataFrame, n_frames: int = 4) -> DataFrame:
    """1-to-N frame sampling via mapInPandas: each payload yields
    `n_frames` evenly-spaced byte slices (the deterministic stand-in for
    ffmpeg keyframe extraction — a real codec replaces the slicing only;
    the batch iteration, fan-out row multiplicity, and schema stay).

    Scale: per-batch fan-out happens executor-side; no shuffle is
    introduced — output partitioning follows the input."""

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, idxs, frames = [], [], []
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                b = bytes(payload)
                k = min(n_frames, len(b))
                if k == 0:
                    continue
                step = len(b) // k
                for i in range(k):
                    ids.append(mid)
                    idxs.append(i)
                    frames.append(b[i * step : i * step + step])
            yield pd.DataFrame(
                {
                    "media_id": pd.Series(ids, dtype="int64"),
                    "frame_idx": pd.Series(idxs, dtype="int32"),
                    "frame": pd.Series(frames, dtype="object"),
                }
            )

    return media.mapInPandas(op, schema=FRAME_SCHEMA)
