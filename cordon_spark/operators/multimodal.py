"""Multimodal column plumbing: image/audio/video as opaque binary
columns with typed metadata computed JVM-side, without decoding."""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def binary_metadata(df: DataFrame, payload_col: str = "payload") -> DataFrame:
    """Cheap JVM-side metadata over the opaque payload: byte length +
    content digest. No decode, fully pushdown-friendly."""
    return df.withColumn("n_bytes", F.octet_length(payload_col).cast("long")).withColumn(
        "content_md5", F.md5(F.col(payload_col))
    )
