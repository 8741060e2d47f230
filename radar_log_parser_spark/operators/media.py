"""Multimodal columns: image/audio/video as opaque `binary` columns with
typed metadata; decode / feature-extract as Arrow-batched mapInPandas.

The actual codec libraries (Pillow / libav / etc.) are NOT in this
container, so the decode step is `fake_decode`, a deterministic stand-in —
the Spark-side plumbing (schema, batch shape, partitioning, UDF
signature) is real and tested.

At scale: media bytes live in the table as binary (or object-store
pointers); feature extraction is a map-only stage (no shuffle) and the
extracted features are narrow columns, so downstream joins/aggregations
never move the blobs again.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from radar_log_parser_spark.operators.logquery import QuerySpec, _docs

FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("n_bytes", T.LongType(), False),
        T.StructField("byte_mean_milli", T.LongType(), False),
        T.StructField("byte_entropy_milli", T.LongType(), False),
        T.StructField("histogram16", T.ArrayType(T.LongType()), False),
    ]
)


def media_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synthesize the media table: text bytes standing in for opaque blobs
    (no media data ships with the testdata; the column TYPE is the point)."""
    docs = _docs(spark, sf_dir)
    return docs.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.encode("text", "utf-8").alias("media"),
        F.lit("application/octet-stream").alias("media_type"),
        F.octet_length(F.encode("text", "utf-8")).cast("long").alias("n_bytes"),
    )


def fake_decode(data: bytes) -> np.ndarray:
    """Deterministic stand-in for decode: the raw byte array. Keeps the
    feature-extraction batch shape identical to a real decoder's output."""
    return np.frombuffer(data, dtype=np.uint8)


def _extract_batch(pdf: pd.DataFrame) -> pd.DataFrame:
    n = len(pdf)
    means = np.zeros(n, dtype=np.int64)
    ents = np.zeros(n, dtype=np.int64)
    hists: list[list[int]] = []
    sizes = np.zeros(n, dtype=np.int64)
    for i, blob in enumerate(pdf["media"].values):
        arr = fake_decode(bytes(blob))
        sizes[i] = arr.size
        if arr.size:
            means[i] = int(arr.mean() * 1000)
            h, _ = np.histogram(arr, bins=16, range=(0, 256))
            p = h[h > 0] / arr.size
            ents[i] = int(-(p * np.log2(p)).sum() * 1000)
            hists.append([int(x) for x in h])
        else:
            hists.append([0] * 16)
    return pd.DataFrame(
        {
            "doc_id": pdf["doc_id"].astype(np.int64),
            "n_bytes": sizes,
            "byte_mean_milli": means,
            "byte_entropy_milli": ents,
            "histogram16": hists,
        }
    )


def extract_features(media: DataFrame) -> DataFrame:
    """Map-only Arrow feature extraction over the binary column."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf):
                yield _extract_batch(pdf)

    return media.select("doc_id", "media").mapInPandas(run, schema=FEATURE_SCHEMA)


def q_media_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Typed metadata over the binary column, JVM-side only (no decode):
    byte length and hex magic prefix — the projection a catalog scan of a
    multimodal table needs without touching blob contents."""
    media = media_table(spark, sf_dir)
    return media.select(
        "doc_id",
        "media_type",
        "n_bytes",
        F.upper(F.hex(F.substring(F.col("media"), 1, 4))).alias("magic_hex"),
    )


Q_MEDIA_META_SQL = """
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       'application/octet-stream' AS media_type,
       CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
       upper(substring(hex(encode(text)), 1, 8)) AS magic_hex
FROM documents
"""


SPECS: list[QuerySpec] = [
    QuerySpec("media_meta", "binary-column metadata projection",
              q_media_meta, Q_MEDIA_META_SQL),
]
