"""Multimodal columns: opaque binary payloads + typed metadata.

Images/audio/video are carried as ``binary`` columns with metadata structs;
feature extraction runs per payload in one Arrow-batched
``functions.util.row_kernel`` pass. The decode libraries
(PIL/ffmpeg/librosa) are NOT in this container, so
``q_multimodal_features`` digests the raw bytes (byte histogram moments,
exact integers) where a decoder would sit; its Spark plumbing — schema,
batch shape, partitioning — is real and oracle-checked.
"""

from __future__ import annotations

import numpy as np

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.util import row_kernel


def q_multimodal_meta(spark: SparkSession, sf: str) -> DataFrame:
    """Typed metadata over a binary payload column (here: utf-8 bytes of
    text standing in for image bytes): byte length, hex magic prefix,
    bytes-per-char ratio. Pure built-ins — metadata extraction never needs
    Python."""
    d = spark.read.parquet(f"{sf}/documents.parquet")
    payload = F.encode("text", "UTF-8")
    return d.select(
        "doc_id",
        F.octet_length(payload).alias("byte_len"),
        F.lower(F.hex(F.substring(payload, 1, 8))).alias("magic_hex"),
        (F.octet_length(payload) / F.length("text")).alias(
            "bytes_per_char"
        ),
    )


def documents_as_media(spark: SparkSession, sf: str) -> DataFrame:
    """Adapter: documents -> (doc_id, payload binary) for plumbing tests."""
    return spark.read.parquet(f"{sf}/documents.parquet").select(
        "doc_id", F.encode("text", "UTF-8").alias("payload")
    )


def _digest_rows(doc_id, payload) -> list[tuple]:
    """One payload's digest row (``q_multimodal_features``); a NULL
    payload gives no row."""
    if payload is None:
        return []
    arr = np.frombuffer(bytes(payload), dtype=np.uint8).astype(np.int64)
    n = int(arr.size)
    if n == 0:
        return [(doc_id, "image") + (0,) * 9 + (1,)]
    s = int(arr.sum())
    srt = np.sort(arr)
    med2 = int(srt[n // 2] * 2 if n % 2 else srt[n // 2 - 1] + srt[n // 2])
    return [(
        doc_id, "image", n, s, int((arr * arr).sum()), int(arr.min()),
        int(arr.max()), med2, s % 997, int((arr > 100).sum()),
        (s * 2_000_000 + n) // (2 * n), max(1, n // 64),
    )]


def q_multimodal_features(spark: SparkSession, sf: str) -> DataFrame:
    """Oracle-checked multimodal feature digest: the fake decode's
    byte-histogram moments (InputFeatures contract analog,
    src/data_utils.py:42-55) as EXACT integer scalars — every column is a
    bigint, so the result is sortable/hashable by any canonicalizer and the
    DuckDB oracle reproduces it bit-for-bit from hex-extracted bytes.

    mean_micro is round-half-up fixed point in pure integer arithmetic
    ((s*2e6 + n) // (2n)); med2 is 2x the median (always an integer: the sum
    of the two middle bytes for even n, twice the middle byte for odd n).
    This digest is the table you'd persist at 100 TB.
    """
    media = documents_as_media(spark, sf)
    id_type = media.schema["doc_id"].dataType.simpleString()
    return row_kernel(
        media,
        f"doc_id {id_type}, modality string, n_bytes long, byte_sum long, "
        "byte_sq_sum long, byte_min long, byte_max long, med2 long, "
        "sum_mod_997 long, n_gt100 long, mean_micro long, n_frames long",
        _digest_rows,
    )
