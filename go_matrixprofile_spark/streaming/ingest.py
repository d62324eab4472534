"""Incremental ingestion of transcript turns.

``incremental_batch_update`` is the reference's Update contract
(matrixprofile.go:548-593), applied to a batch of new turns: only the
conversations they touch have their profiles recomputed, and
equivalence with a full recompute is the correctness contract
(matrixprofile_test.go:706-762). The reference itself recomputes O(n)
caches per appended point, so record-at-a-time streaming would buy
nothing here (SURVEY.md §2.7).
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
    incoming batch. Series are RE-DERIVED from the merged turns of the
    affected conversations (deriving old/new separately would lose the
    boundary latency and split straddled rate buckets); untouched
    conversations never rescan. Returns fresh mp_profile rows for the
    affected conversations — the caller MERGEs them over the
    checkpointed profile table (lineage anti-join, plans/lineage.py).
    Equivalence with a full recompute mirrors the reference's Update
    contract (matrixprofile_test.go:706-762).
    """
    from ..operators.profile import matrix_profile
    from ..operators.series import derive_series

    affected = new_turns.select("conv_id").distinct()
    merged_turns = transcript_store.join(
        F.broadcast(affected), "conv_id", "left_semi"
    ).unionByName(new_turns)
    return matrix_profile(derive_series(merged_turns), w=w, opts=opts)

