"""Multimodal column plumbing: image/audio/video as opaque ``binary``
columns with typed metadata, processed via Arrow-batched ``mapInPandas``.

The decode step is STUBBED (no image/audio libraries in this container):
``decode_stub`` raises NotImplementedError unless ``fake=True``, in which
case it produces a deterministic fake decode so the Spark-side plumbing —
schema, batch shape, partitioning — is real and testable end to end.

Scale notes: mapInPandas streams Arrow batches, so a partition of binary
blobs never materializes as Python objects all at once; keep
``spark.sql.files.maxPartitionBytes`` sized so (blob size × batch rows)
fits executor memory. Metadata-only operations (size, magic-byte type
sniff) are pure column expressions and never enter Python.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

#: output schema of the (stubbed) decoder
DECODED_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("n_bytes", T.LongType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("format", T.StringType()),
    ]
)


def binary_metadata(df: DataFrame, bin_col: str) -> DataFrame:
    """Metadata extraction without decoding: byte length + magic-byte
    format sniff — pure column expressions (never leaves the JVM).

    The sniff compares HEX of the raw bytes, never a string cast: a
    ``binary -> string`` cast treats the bytes as UTF-8, while a
    Python literal like ``"\\x89PNG"`` is UTF-8 *encoded* into the
    plan (0x89 -> 0xC2 0x89), so a startswith on the cast can never
    match non-ASCII magic — every PNG/JPEG classified 'unknown'."""
    b = F.col(bin_col)
    magic_hex = F.hex(F.substring(b, 1, 4))  # e.g. '89504E47'
    fmt = (
        F.when(magic_hex == "89504E47", "png")  # \x89PNG
        .when(magic_hex.startswith("FFD8"), "jpeg")
        .when(magic_hex == "52494646", "riff")  # 'RIFF'
        .otherwise("unknown")
    )
    return df.withColumn("n_bytes", F.octet_length(b)).withColumn("format", fmt)


def decode_stub(
    df: DataFrame, bin_col: str, id_col: str = "doc_id", fake: bool = False
) -> DataFrame:
    """Decode binary media via mapInPandas.

    Real decode is NOT implemented in this container (no PIL/ffmpeg);
    with ``fake=True`` a deterministic stand-in derives width/height from
    the byte length so batching/schema behavior is fully exercised.
    """

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not fake:
                raise NotImplementedError(
                    "media decode requires an image library not present in "
                    "this environment; pass fake=True to exercise plumbing"
                )
            n = pdf[bin_col].map(len)
            yield pd.DataFrame(
                {
                    "doc_id": pdf[id_col],
                    "n_bytes": n,
                    "width": (n % 640).astype("int32"),
                    "height": (n % 480).astype("int32"),
                    "format": "fake",
                }
            )

    return df.select(id_col, bin_col).mapInPandas(run, DECODED_SCHEMA)


def feature_extract_stub(
    df: DataFrame, bin_col: str, id_col: str = "doc_id", dim: int = 8, fake: bool = False
) -> DataFrame:
    """Feature extraction (media blob → embedding vector) via
    mapInPandas. The fake path derives the vector deterministically from
    the md5 digest of the bytes (byte i / 255), so the whole Arrow
    round-trip — batch in, vector column out — can be checked against a
    SQL oracle bit for bit, not just rows-only: the strongest guarantee
    a stubbed media path can give."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import hashlib

        for pdf in batches:
            if not fake:
                raise NotImplementedError(
                    "feature extraction requires a model runtime not present "
                    "in this environment; pass fake=True to exercise plumbing"
                )
            vecs = pdf[bin_col].map(
                lambda b: [x / 255.0 for x in hashlib.md5(bytes(b)).digest()[:dim]]
            )
            yield pd.DataFrame({"doc_id": pdf[id_col], "embedding": vecs})

    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("embedding", T.ArrayType(T.DoubleType())),
        ]
    )
    return df.select(id_col, bin_col).mapInPandas(run, schema)


def resize_stub(
    df: DataFrame,
    bin_col: str,
    id_col: str = "doc_id",
    max_side: int = 256,
    fake: bool = False,
) -> DataFrame:
    """Image resize (stub): 1→1 mapInPandas keeping aspect ratio of the
    fake-decoded dimensions, clamped to ``max_side``. Returns the resized
    dims + the (fake) output byte count."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not fake:
                raise NotImplementedError("image resize unavailable; pass fake=True")
            n = pdf[bin_col].map(len)
            w = (n % 640).clip(lower=1)
            h = (n % 480).clip(lower=1)
            scale = (max_side / w.combine(h, max)).clip(upper=1.0)
            yield pd.DataFrame(
                {
                    "doc_id": pdf[id_col],
                    "width": (w * scale).astype("int32"),
                    "height": (h * scale).astype("int32"),
                    "n_bytes": (w * scale * h * scale * 3).astype("int64"),
                }
            )

    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("width", T.IntegerType()),
            T.StructField("height", T.IntegerType()),
            T.StructField("n_bytes", T.LongType()),
        ]
    )
    return df.select(id_col, bin_col).mapInPandas(run, schema)


def frame_sample_stub(
    df: DataFrame, bin_col: str, id_col: str = "doc_id", every_n: int = 10, fake: bool = False
) -> DataFrame:
    """Video frame sampling (stub): one output row per sampled frame.
    Demonstrates the 1→N row shape (mapInPandas, not a UDTF)."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not fake:
                raise NotImplementedError("video decode unavailable; pass fake=True")
            rows = []
            for _, r in pdf.iterrows():
                n_frames = max(len(r[bin_col]) // 32, 1)
                for f in range(0, n_frames, every_n):
                    rows.append((r[id_col], f, len(r[bin_col])))
            yield pd.DataFrame(rows, columns=["doc_id", "frame_no", "n_bytes"])

    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("frame_no", T.IntegerType()),
            T.StructField("n_bytes", T.LongType()),
        ]
    )
    return df.select(id_col, bin_col).mapInPandas(run, schema)
