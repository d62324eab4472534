"""Per-conversation series derivation from transcript tables.

Input: the north-rule transcript shape
  (conv_id string, turn_idx int, role string, text string, tool string,
   ts timestamp | timestamp_ntz)
Output: the long-format series table
  series_raw(conv_id string, metric string, bucket_s double, value double)
with metric ∈ {text_len, inter_turn_latency_s, turn_rate}.

Time is normalized ONCE here to epoch seconds (`bucket_s`), read
directly from the parquet's int64 microseconds: TIMESTAMP_NTZ-safe and
independent of the session timezone, so results hash identically across
engines. Every downstream operator (rollup, gap-fill, profile) is
purely numeric.

All derivations are built-in-function DataFrame plans (window functions
+ floor-division tumbling buckets): Catalyst pushes column pruning into
the scan and the only shuffle is the per-conv window sort / hash
aggregation. The reference has no relational layer at all
(SURVEY.md §2.8); these are the engine's new ingest operators per the
north rule.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F
from pyspark.sql.window import Window

METRIC_TEXT_LEN = "text_len"
METRIC_LATENCY = "inter_turn_latency_s"
METRIC_TURN_RATE = "turn_rate"


def ts_seconds(col: str = "ts") -> Column:
    """Epoch seconds (double, µs precision) from TIMESTAMP or
    TIMESTAMP_NTZ, independent of session timezone.

    NTZ wall-clock values are measured against the NTZ epoch;
    instant timestamps cast through NTZ in the session zone (our own
    sessions are pinned UTC in session.get_spark)."""
    return (
        F.expr(
            f"timestampdiff(MICROSECOND, TIMESTAMP_NTZ'1970-01-01 00:00:00', "
            f"CAST({col} AS TIMESTAMP_NTZ))"
        )
        / F.lit(1000000.0)
    )


def bucket_of(col: Column, seconds: int) -> Column:
    """Tumbling bucket start (epoch seconds, long) via floor division."""
    return (F.floor(col / seconds) * seconds).cast("long")


def text_len_series(transcripts: DataFrame) -> DataFrame:
    """value = length(text) per turn, at raw turn timestamps."""
    return transcripts.select(
        "conv_id",
        F.lit(METRIC_TEXT_LEN).alias("metric"),
        ts_seconds().alias("bucket_s"),
        F.length("text").cast("double").alias("value"),
    )


def inter_turn_latency_series(transcripts: DataFrame) -> DataFrame:
    """value = seconds since the previous turn of the same conversation.

    Window over (conv_id, turn_idx); the first turn has no predecessor
    and is dropped (no latency defined).
    """
    w = Window.partitionBy("conv_id").orderBy("turn_idx")
    sec = ts_seconds()
    return (
        transcripts.select(
            "conv_id",
            F.lit(METRIC_LATENCY).alias("metric"),
            sec.alias("bucket_s"),
            (sec - F.lag(sec).over(w)).alias("value"),
        )
        .where(F.col("value").isNotNull())
    )


def turn_rate_series(transcripts: DataFrame, bucket_seconds: int = 60) -> DataFrame:
    """value = turns per tumbling bucket (defined at bucket granularity)."""
    return (
        transcripts.groupBy(
            "conv_id", bucket_of(ts_seconds(), bucket_seconds).alias("bucket_s")
        )
        .agg(F.count(F.lit(1)).cast("double").alias("value"))
        .select(
            "conv_id",
            F.lit(METRIC_TURN_RATE).alias("metric"),
            F.col("bucket_s").cast("double").alias("bucket_s"),
            "value",
        )
    )


def sessionize(transcripts: DataFrame, gap_seconds: float = 1800.0) -> DataFrame:
    """Session windows: a new session starts when the inter-turn gap
    exceeds gap_seconds. session_id = running count of session starts
    (classic gaps-and-islands; one window sort per conv)."""
    w = Window.partitionBy("conv_id").orderBy("turn_idx")
    sec = ts_seconds()
    gap = sec - F.lag(sec).over(w)
    flagged = transcripts.select(
        "conv_id", "turn_idx", sec.alias("ts_s")
    ).withColumn(
        "new_s",
        F.when(
            F.lag("ts_s").over(w).isNull() | ((F.col("ts_s") - F.lag("ts_s").over(w)) > gap_seconds),
            1,
        ).otherwise(0),
    )
    run = Window.partitionBy("conv_id").orderBy("turn_idx").rowsBetween(
        Window.unboundedPreceding, 0
    )
    with_sess = flagged.withColumn("session_id", F.sum("new_s").over(run))
    return with_sess.groupBy("conv_id", "session_id").agg(
        F.count(F.lit(1)).alias("n_turns"),
        F.floor(F.min("ts_s")).cast("long").alias("start_s"),
        F.floor(F.max("ts_s")).cast("long").alias("end_s"),
    )


def derive_series(transcripts: DataFrame) -> DataFrame:
    """All three metrics in one long-format series table.

    Fused plan (r06): text_len and inter-turn latency come from one
    per-conv window projection (an explode of two metric structs goes
    long); turn_rate is max(row_number) per (conv_id, bucket) — a
    stacked Window whose (conv_id, bucket) partitioning is satisfied by
    hashpartitioning(conv_id), replacing the former leg's dedicated
    (conv_id, bucket) pre-aggregation exchange; the rate leg's scan
    survives as a column-pruned 3-column read (no text payload) because
    Catalyst prunes the two legs' exchanges into different column sets.
    max(row_number within bucket) is exactly count(*) per bucket —
    integer semantics, bit-identical to turn_rate_series (which remains
    the oracle-checked single-metric path); measured 3 → 2 Exchanges
    and −0.9 s on the bench rollup region, values exceptAll-equal both
    ways. A fully-fused single-leg variant (turn_rate attached to each
    bucket's first turn via count().over + explode of three structs:
    ONE scan, ONE exchange, no Union) was measured ~0.25 s SLOWER on
    the same region — the extra (conv_id, bucket) sort and the 3-struct
    explode outweigh the saved narrow scan at this shape — and was
    rejected; noted here because at payload-dominated corpus scale that
    trade-off may invert."""
    w = Window.partitionBy("conv_id").orderBy("turn_idx")
    sec = ts_seconds()
    bkt = bucket_of(sec, 60)
    wb = Window.partitionBy("conv_id", bkt).orderBy("turn_idx")
    pts = transcripts.select(
        "conv_id",
        sec.alias("sec"),
        F.length("text").cast("double").alias("len"),
        (sec - F.lag(sec).over(w)).alias("lat"),
        F.row_number().over(wb).alias("rnb"),
        bkt.alias("bkt"),
    )
    two = (
        pts.select(
            "conv_id",
            F.col("sec").alias("bucket_s"),
            F.explode(
                F.array(
                    F.struct(
                        F.lit(METRIC_TEXT_LEN).alias("metric"),
                        F.col("len").alias("value"),
                    ),
                    F.struct(
                        F.lit(METRIC_LATENCY).alias("metric"),
                        F.col("lat").alias("value"),
                    ),
                )
            ).alias("e"),
        )
        .select("conv_id", "e.metric", "bucket_s", "e.value")
        # drops exactly the first-turn latency rows (len is never null)
        .where(F.col("value").isNotNull())
    )
    rate = (
        pts.groupBy("conv_id", "bkt")
        .agg(F.max("rnb").cast("double").alias("value"))
        .select(
            "conv_id",
            F.lit(METRIC_TURN_RATE).alias("metric"),
            F.col("bkt").cast("double").alias("bucket_s"),
            "value",
        )
    )
    return two.unionByName(rate)
