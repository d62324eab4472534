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


def ts_seconds_sql(col: str = "ts") -> str:
    """SQL text of the epoch seconds of `col` (see ts_seconds). The
    divisor is a DOUBLE literal (``D`` suffix): a bare ``1000000.0`` is
    DECIMAL in Spark SQL and rounds some values differently in the last
    bits."""
    return (
        f"timestampdiff(MICROSECOND, TIMESTAMP_NTZ'1970-01-01 00:00:00', "
        f"CAST({col} AS TIMESTAMP_NTZ)) / 1000000.0D"
    )


def ts_seconds() -> Column:
    """Epoch seconds (double, µs precision) of the ``ts`` column, from
    TIMESTAMP or TIMESTAMP_NTZ, independent of session timezone.

    NTZ wall-clock values are measured against the NTZ epoch;
    instant timestamps cast through NTZ in the session zone (our own
    sessions are pinned UTC in session.get_spark)."""
    return F.expr(ts_seconds_sql("ts"))


def bucket_sql(sec: str, seconds: int) -> str:
    """SQL text of the tumbling bucket start (epoch seconds, BIGINT) of
    the epoch-seconds expression `sec`, via floor division."""
    return f"CAST(FLOOR({sec} / {seconds}) * {seconds} AS BIGINT)"


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
    """value = turns per tumbling bucket (defined at bucket granularity).

    A count per (conv_id, bucket). On input not partitioned on conv_id
    Spark splits it into a partial count before a (conv_id, bucket)
    exchange and the final count after it."""
    return (
        transcripts.groupBy(
            "conv_id", F.expr(f"{bucket_sql(ts_seconds_sql(), bucket_seconds)} AS bucket_s")
        ).agg(F.expr("CAST(count(1) AS DOUBLE) AS value"))
        .selectExpr(
            "conv_id",
            f"'{METRIC_TURN_RATE}' AS metric",
            "CAST(bucket_s AS DOUBLE) AS bucket_s",
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
    """All three metrics in one long-format series table, in two legs.

    text_len and inter-turn latency come from one per-conv window
    projection, and an inline of two metric structs takes it long. The
    rate leg is turn_rate_series at 60 s over a conv_id repartition,
    and Catalyst prunes its scan to conv_id and ts (no text payload).
    Each leg crosses one exchange on every input, 2 in all, and both
    hash on conv_id alone, so a rollup keyed on conv_id after the Union
    needs none. A rate leg stacked on the latency window
    (max(row_number) per bucket) shares that window's exchange only on
    input already hash-partitioned on conv_id (transcripts_from_events);
    on a Parquet transcript table, the production input, it takes a
    (conv_id, bucket) exchange for its window and another for its
    aggregate. turn_rate_series without the repartition (a partial
    count before a (conv_id, bucket) exchange) also makes 2 exchanges,
    but the Union then keeps no partitioning and the rollup shuffles
    every series row again: bench.py's q_rollup region at sf0.1 took
    2.5-3.2 s against 2.0-2.4 s on a 4-vCPU host. Its partial count
    saves little, as a minute bucket holds 1.001 turns on average on
    the sf0.01 events.

    The projections are SQL text (selectExpr): building the plan then
    costs one py4j call per projection, not one per Column node.

    A single-leg variant (turn_rate attached to each bucket's first
    turn via count().over + explode of three structs: one scan, one
    exchange, no Union) was measured ~0.25 s slower on the bench rollup
    region: the extra (conv_id, bucket) sort and the 3-struct explode
    outweighed the saved narrow scan at this shape. At payload-dominated
    corpus scale that trade-off may invert."""
    sec = ts_seconds_sql()
    per_turn = transcripts.selectExpr(
        "conv_id",
        f"{sec} AS sec",
        "CAST(length(text) AS DOUBLE) AS len",
        f"{sec} - lag({sec}) OVER (PARTITION BY conv_id ORDER BY turn_idx) AS lat",
    )
    two = per_turn.selectExpr(
        "conv_id",
        "inline(array("
        f"named_struct('metric', '{METRIC_TEXT_LEN}', 'bucket_s', sec, 'value', len), "
        f"named_struct('metric', '{METRIC_LATENCY}', 'bucket_s', sec, 'value', lat)))",
    )
    # drops exactly the first-turn latency rows (len is never null)
    two = two.where("value IS NOT NULL")
    return two.unionByName(turn_rate_series(transcripts.repartition("conv_id"), 60))
