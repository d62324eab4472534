"""Per-stage checkpointing with lineage + resumable reruns.

The north rule requires every stage to checkpoint with per-partition
lineage (row counts, latency) so a killed job resumes without redoing
committed work. In this repo checkpoints are parquet directories
partitioned by a key column (Iceberg-compatible layout: swap
``.parquet(path)`` for ``.writeTo(table).append()`` when an Iceberg
catalog is configured — the sandbox image ships no Iceberg jar, which
is why this is parquet-first).

Resume protocol: `checkpoint_stage` skips partitions already recorded
in the lineage table (anti-join on the partition key), appends only the
missing ones, and records (stage, partition_key, row_count, wall_ms,
input_version) per run.
"""

from __future__ import annotations

import os
import time

from pyspark.sql import DataFrame, SparkSession, functions as F


# a stage is written to <root>/<stage>; checkpoint_stage refuses this
# one name. Spark's file listing hides names that start with "_" or ".":
# reading such a directory by name logs "All paths were ignored"
LINEAGE_DIR = "lineage.parquet"


def _lineage_path(root: str) -> str:
    return os.path.join(root, LINEAGE_DIR)


def _dir_has_data_files(spark: SparkSession, path: str) -> bool:
    """True iff path exists and contains at least one non-hidden FILE,
    recursing one level into partition directories — a partition dir
    with no data files inside (a write killed between dir creation and
    the first part file) must count as empty, or the caller's
    spark.read.parquet fails schema inference on it. Hadoop FS API, so
    it works on any Hadoop-compatible filesystem, not just local paths."""
    jvm = spark._jvm
    Path = jvm.org.apache.hadoop.fs.Path
    p = Path(path)
    fs = p.getFileSystem(spark._jsc.hadoopConfiguration())
    if not fs.exists(p):
        return False
    for status in fs.listStatus(p):
        name = status.getPath().getName()
        if name.startswith(("_", ".")):
            continue
        if not status.isDirectory():
            return True
        for sub in fs.listStatus(status.getPath()):
            if not sub.getPath().getName().startswith(("_", ".")):
                return True
    return False


def read_lineage(spark: SparkSession, root: str) -> DataFrame | None:
    """The lineage table under root, or None while it has no data files
    (a fresh root). Any other read error raises: taken as "nothing
    committed", it would make checkpoint_stage append every partition
    again."""
    path = _lineage_path(root)
    if not _dir_has_data_files(spark, path):
        return None
    return spark.read.parquet(path)


def checkpoint_stage(
    df: DataFrame,
    root: str,
    stage: str,
    partition_col: str = "conv_id",
    input_version: str = "v0",
) -> DataFrame:
    """Write df partitioned by partition_col, skipping partitions already
    committed for this (stage, input_version); append lineage rows.
    Returns the full checkpointed stage read back from disk."""
    if stage == LINEAGE_DIR:
        raise ValueError(f"stage name {stage!r} is the lineage table's directory")
    spark = df.sparkSession
    out_path = os.path.join(root, stage)
    lineage = read_lineage(spark, root)
    pending = df
    if lineage is not None:
        done = (
            lineage.where(
                (F.col("stage") == stage) & (F.col("input_version") == input_version)
            )
            .select(F.col("partition_key").alias("__done_pk"))
            .distinct()
        )
        # partition_key is stored as STRING for every stage (keys can be
        # conv_id strings or int buckets); compare on the cast
        pending = df.join(
            done,
            F.col(partition_col).cast("string") == F.col("__done_pk"),
            "left_anti",
        )

    t0 = time.time()
    pending.write.mode("append").partitionBy(partition_col).parquet(out_path)
    wall_ms = int((time.time() - t0) * 1000)

    # a legitimately EMPTY stage (e.g. a dedup table with no duplicate
    # groups) writes only _SUCCESS — Spark cannot infer a schema from a
    # data-file-less directory, so return the typed empty frame instead
    # of failing the pipeline; no lineage rows to record either.
    # Emptiness is probed via the Hadoop FS API (r03 advisor finding:
    # os.path only sees the LOCAL filesystem, so an HDFS/S3 root would
    # always look empty here and silently drop the stage).
    if not _dir_has_data_files(spark, out_path):
        return spark.createDataFrame([], schema=df.schema)

    # read back with the schema that was written: partition-column type
    # inference would turn conv_id "007" and "7" into the one integer 7
    out = spark.read.schema(df.schema).parquet(out_path)
    counts = (
        out.groupBy(F.col(partition_col).cast("string").alias("partition_key"))
        .agg(F.count(F.lit(1)).alias("row_count"))
    )
    new_lineage = counts.select(
        F.lit(stage).alias("stage"),
        "partition_key",
        "row_count",
        F.lit(wall_ms).alias("wall_ms"),
        F.lit(input_version).alias("input_version"),
    )
    if lineage is not None:
        already = lineage.where(
            (F.col("stage") == stage) & (F.col("input_version") == input_version)
        ).select("partition_key")
        new_lineage = new_lineage.join(already, "partition_key", "left_anti")
    new_lineage.write.mode("append").parquet(_lineage_path(root))
    return out
