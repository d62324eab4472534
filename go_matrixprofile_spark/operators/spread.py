"""Input-parallelism guard for CPU-heavy per-row operators.

The classic input-skew case (optimization guide §2.5: "one huge
unsplittable file … repartition immediately after the read"): a source
that planned into fewer splits than the cluster has cores — e.g. a
single-row-group parquet file, which cannot be byte-range split — runs
every downstream narrow transformation in ONE task until the first
exchange. For operators whose pre-exchange work is the expensive part
(per-shingle md5, per-vector hyperplane dots), that serializes the
whole stage.

``spread_input`` round-robins such sources across the cluster once,
BEFORE the heavy per-row work. It is a no-op whenever the input already
has at least the cluster's default parallelism of partitions, so at
corpus scale (thousands of splits) no shuffle is added — the guard
exists precisely so the fix for tiny/unsplittable inputs cannot become
a corpus-wide shuffle regression.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def spread_input(df: DataFrame) -> DataFrame:
    """Round-robin ``df`` to cluster parallelism iff it is under-split.

    Uses the planned partition count of the DataFrame (no job runs);
    a streaming DataFrame (no RDD view) passes through untouched.
    """
    if df.isStreaming:
        return df
    target = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() >= target:
        return df
    return df.repartition(target)
