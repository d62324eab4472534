"""Transcript-shaped view derived from the driver's `events` table.

The engine's native input is the north-rule transcript schema; the
driver's DuckDB oracle can only see its own parquet tables. This module
derives a deterministic transcripts table FROM `events` with semantics
expressible identically in Spark and ANSI SQL, so every series/rollup
operator gets an oracle-checkable path over true transcript shape:

  conv_id  = cast(user_id as string)
  turn_idx = row_number() over (partition by user_id
                                order by ts, event_id) - 1
  role     = event_type        (role-like enum, deterministic)
  text     = props             (payload column)
  tool     = null
  ts       = ts
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.window import Window


def transcripts_from_events(events: DataFrame) -> DataFrame:
    # resolve conv_id FIRST and partition the turn-numbering window by
    # that attribute (the string cast is injective, so partitions — and
    # therefore row_number values — are identical to partitioning by
    # user_id). Downstream operators window/group by the same conv_id
    # attribute, so Catalyst reuses this exchange instead of
    # re-shuffling the transcript table a second time (one full
    # exchange of the text payload saved in every derive_series /
    # sessionize chain).
    base = events.select(
        F.col("user_id").cast("string").alias("conv_id"),
        "event_type",
        "props",
        "ts",
        "event_id",
    )
    w = Window.partitionBy("conv_id").orderBy("ts", "event_id")
    return base.select(
        "conv_id",
        (F.row_number().over(w) - 1).cast("int").alias("turn_idx"),
        F.col("event_type").alias("role"),
        F.col("props").alias("text"),
        F.lit(None).cast("string").alias("tool"),
        "ts",
    )

