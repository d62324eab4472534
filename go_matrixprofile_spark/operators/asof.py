"""As-of join: annotate each left row with the most recent right row.

The classic time-series join (TimescaleDB/kdb/pandas `merge_asof`;
DuckDB ships it natively as ``ASOF JOIN``, which is what the oracle
uses): for every left row, attach the right row with the greatest
timestamp ≤ the left timestamp within the same key — e.g. stamp every
transcript turn with the last completed hourly rollup bucket.

Spark-first implementation without a range join or UDF: tag and UNION
the two sides, then one ``last(value, ignorenulls=True)`` running
window per key ordered by (timestamp, side) — right rows sort before
left rows at equal timestamps, giving backward-INCLUSIVE semantics
(``l.ts >= r.ts``), and the window is rows-unbounded-preceding so each
partition is one linear pass. Plan shape at scale: ONE shuffle on the
key (the same (conv_id, …) partitioning every other per-conversation
stage uses) and one sort — no N×M range-join blowup, no per-row
Python. Skew note: a mega-thread key funnels its rows through one task
like every per-key window; upstream salting/bucketing applies as
usual.

Right rows are assumed unique per (key, timestamp) — true for rollup
tiers by construction; with duplicates the last in (timestamp, input
order) wins, which is not deterministic across partitionings, so
de-duplicate first.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def asof_join(
    left: DataFrame,
    right: DataFrame,
    by: list[str],
    left_on: str,
    right_on: str,
    value_cols: list[str],
) -> DataFrame:
    """Backward-inclusive as-of join.

    Returns every left row with `value_cols` (and ``asof_<right_on>``,
    the matched right timestamp) attached from the most recent right
    row with right_on <= left_on per `by` key; NULLs when no right row
    qualifies.
    """
    from pyspark.sql.window import Window

    # internal columns must not collide with the caller's schema, and the
    # value columns get re-aliased onto the left schema — both are caller
    # data, so validate instead of silently producing ambiguous output
    clash = [c for c in value_cols if c in left.columns]
    if clash:
        raise ValueError(
            f"value_cols {clash} already exist on the left side; "
            "rename them on one side before the as-of join"
        )
    if f"asof_{right_on}" in left.columns:
        raise ValueError(f"left already has a column named asof_{right_on}")
    tok = "_asof"
    while any(
        c.startswith(tok) for c in (*left.columns, *right.columns, *value_cols)
    ):
        tok += "_"
    c_t, c_r, c_side, c_last, c_rt = (
        f"{tok}t", f"{tok}r", f"{tok}side", f"{tok}last", f"{tok}rt"
    )

    payload = F.struct(
        *[F.col(c) for c in value_cols],
        # carry the original right_on value untouched so the output's
        # asof_<right_on> keeps its exact dataType (the double is only
        # the internal sort key)
        F.col(right_on).alias(c_rt),
    )
    r = right.select(
        *by,
        F.col(right_on).cast("double").alias(c_t),
        payload.alias(c_r),
        F.lit(0).alias(c_side),
    )
    l = (
        left.withColumn(c_t, F.col(left_on).cast("double"))
        .withColumn(c_r, F.lit(None).cast(r.schema[c_r].dataType))
        .withColumn(c_side, F.lit(1))
    )
    u = l.unionByName(r, allowMissingColumns=True)
    # at equal timestamps the right row must precede the left row in
    # the scan order so the left row sees it: ascending _side
    w = (
        Window.partitionBy(*by)
        .orderBy(F.col(c_t).asc(), F.col(c_side).asc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    u = u.withColumn(c_last, F.last(c_r, ignorenulls=True).over(w))
    matched = F.col(c_last)
    out = u.where(F.col(c_side) == 1)
    cols = [c for c in left.columns]
    return out.select(
        *cols,
        *[matched[c].alias(c) for c in value_cols],
        matched[c_rt].alias(f"asof_{right_on}"),
    )
