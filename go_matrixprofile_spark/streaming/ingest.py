"""Incremental ingestion of transcript turns.

``incremental_batch_update`` is the reference's Update contract
(matrixprofile.go:548-593), applied to a batch of new turns: only the
conversations they touch have their profiles recomputed, and
equivalence with a full recompute is the correctness contract
(matrixprofile_test.go:706-762). The reference itself recomputes O(n)
caches per appended point, so record-at-a-time streaming would buy
nothing here (SURVEY.md §2.7). The store itself is still read whole:
its rows are filtered to the touched conversations at the scan, so
only their turns reach an exchange.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F


def incremental_batch_update(
    spark: SparkSession,
    transcript_store: DataFrame,
    new_turns: DataFrame,
    w: int,
    opts=None,
) -> DataFrame:
    """Recompute profiles only for conversations touched by new turns.

    transcript_store: the committed transcript table. new_turns: the
    incoming batch, small enough to collect. Series are RE-DERIVED
    from the merged turns of the affected conversations (deriving
    old/new separately would lose the boundary latency and split
    straddled rate buckets). Returns fresh mp_profile rows for the
    affected conversations — the caller MERGEs them over the
    checkpointed profile table (lineage anti-join, plans/lineage.py).
    Equivalence with a full recompute mirrors the reference's Update
    contract (matrixprofile_test.go:706-762).

    What is read: the batch's conv_ids are collected on the driver, and
    the store is filtered with ``conv_id IN (...)`` of those literals.
    Spark pushes that filter into the Parquet scan, which can skip row
    groups whose conv_id statistics miss the set; otherwise every file
    of the store is read, once by each leg of derive_series (two legs).
    Rows of untouched conversations are dropped in the scan, before any
    exchange. Every batch row goes into the union, a null conv_id
    included.

    The collect runs no Spark job on a batch made with
    ``spark.createDataFrame(<pandas frame>, ddl)``, a LocalRelation; a
    batch made from a list of tuples is an RDD scan (LogicalRDD), and
    its collect runs one job."""
    from ..operators.profile import matrix_profile
    from ..operators.series import derive_series

    conv_ids = sorted({r[0] for r in new_turns.select("conv_id").collect()} - {None})
    merged_turns = transcript_store.where(F.col("conv_id").isin(conv_ids)).unionByName(
        new_turns
    )
    return matrix_profile(derive_series(merged_turns), w=w, opts=opts)
