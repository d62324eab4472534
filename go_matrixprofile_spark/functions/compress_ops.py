"""Spark operators for the compressed storage tier.

compress_series: (conv_id, metric, bucket_s, value) → one blob row per
(conv_id, metric) chunk, Gorilla-encoded inside an Arrow-batched UDF
(FIXTURES.md A.2 `compressed` table). Chunking bounds blob size so a
mega-thread never materializes as one giant blob.

decompress_series: the inverse (cold read path).
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F
from pyspark.sql import types as T

from .compress import compress_ts, compress_values, decompress_ts, decompress_values

COMPRESSED_SCHEMA = T.StructType(
    [
        T.StructField("conv_id", T.StringType(), False),
        T.StructField("metric", T.StringType(), False),
        T.StructField("range_start", T.LongType(), False),
        T.StructField("codec", T.StringType(), False),
        T.StructField("ts_blob", T.BinaryType(), False),
        T.StructField("val_blob", T.BinaryType(), False),
        T.StructField("n", T.IntegerType(), False),
    ]
)

SERIES_SCHEMA = T.StructType(
    [
        T.StructField("conv_id", T.StringType(), False),
        T.StructField("metric", T.StringType(), False),
        T.StructField("bucket_s", T.DoubleType(), False),
        T.StructField("value", T.DoubleType(), True),
    ]
)


def compress_series(series: DataFrame, chunk_points: int = 65536) -> DataFrame:
    """Gorilla-compress each (conv_id, metric) series into ≤chunk_points
    blobs. Timestamps are packed as int64 microseconds."""
    src = series.select(
        "conv_id", "metric", "bucket_s", F.col("value").cast("double").alias("value")
    )

    def kernel(key, pdf: pd.DataFrame) -> pd.DataFrame:
        conv_id, metric = key
        pdf = pdf.sort_values("bucket_s")
        ts_us = (pdf["bucket_s"].to_numpy(dtype=np.float64) * 1e6).round().astype(np.int64)
        vals = pdf["value"].to_numpy(dtype=np.float64)
        rows = []
        for s in range(0, ts_us.size, chunk_points):
            e = min(s + chunk_points, ts_us.size)
            rows.append(
                (
                    conv_id,
                    metric,
                    int(ts_us[s] // 1_000_000),
                    "gorilla+dod",
                    compress_ts(ts_us[s:e]),
                    compress_values(vals[s:e]),
                    e - s,
                )
            )
        return pd.DataFrame(
            rows,
            columns=["conv_id", "metric", "range_start", "codec", "ts_blob", "val_blob", "n"],
        )

    # pin the kernel-stage width like the MP paths (operators/profile.py
    # cpu_partitions): the bit-packing kernel is CPU-heavy per group, and
    # AQE byte-coalescing would otherwise shrink the small exchange to a
    # handful of partitions and serialize it; keying by conv_id alone is
    # reusable by the grouping's clustered distribution
    from ..operators.profile import cpu_partitions

    src = src.repartition(cpu_partitions(src), "conv_id")
    return src.groupBy("conv_id", "metric").applyInPandas(kernel, COMPRESSED_SCHEMA)


def decompress_series(compressed: DataFrame) -> DataFrame:
    """Inverse of compress_series: blobs → (conv_id, metric, bucket_s, value)."""

    def kernel(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            for row in pdf.itertuples(index=False):
                ts_us = decompress_ts(bytes(row.ts_blob))
                vals = decompress_values(bytes(row.val_blob))
                yield pd.DataFrame(
                    {
                        "conv_id": row.conv_id,
                        "metric": row.metric,
                        "bucket_s": ts_us.astype(np.float64) / 1e6,
                        "value": vals,
                    }
                )

    return compressed.mapInPandas(kernel, SERIES_SCHEMA)
