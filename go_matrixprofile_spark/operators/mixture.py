"""Deterministic data mixing for pretraining corpora: domain-weighted
epoch sampling, train/validation splitting, and a portable global
shuffle order.

The mixture stage every large-scale LLM corpus runs between corpus
materialization (operators/corpus.py ``build_corpus``) and sequence
packing: domains are up-/down-sampled to target weights (GPT-3 §2.2 /
The Pile §1 style mixture tables — e.g. Wikipedia at 3.4 epochs while
Common Crawl runs <1), the corpus is split into disjoint train/val
partitions, and the training order is shuffled.

All three operators are PURE PROJECTIONS — no shuffle, no join, no
aggregation, no Python:

- Randomness is a salted md5 over the document id (``u = int(md5[:8])
  / 2^32``), the same engine-portable construction the dedup family
  uses (operators/dedup.py), so results are (a) deterministic, (b)
  independent of partitioning and row order, (c) reproducible by any
  other engine — the DuckDB oracle runs the IDENTICAL arithmetic.
- Fractional epochs use the standard floor + Bernoulli(frac) rule:
  weight 2.3 yields 2 guaranteed copies plus a third with probability
  0.3, so E[copies] = weight exactly, per domain, with zero variance
  in the integer part.
- The per-copy ``order_key`` is a salted hash of (seed, epoch,
  doc_id): range-sorting by it IS a deterministic global shuffle that
  interleaves domains and separates the epoch copies of a document,
  WITHOUT the single-partition window a global row_number would cost.
  At 100 TB the consumer writes with ``repartitionByRange(order_key)``
  + ``sortWithinPartitions`` — a single range exchange — or simply
  bucket-sorts by it; this module deliberately returns the key, not a
  materialized rank. The key is 32 bits, so beyond ~10^9 rows ties
  WILL occur (pigeonhole): for a total deterministic order, always
  sort by ``(order_key, doc_id, epoch)`` — the convention
  ``pack_sequences(order_col=...)`` implements.

Plan shape at 100 TB: one narrow projection per operator (mixture adds
one ``explode(sequence)`` generate), weight tables enter as literal
CASE/map expressions (never a join — mixture tables are tens of rows),
output partitioning == input partitioning.
"""

from __future__ import annotations

from typing import Mapping

from pyspark.sql import Column, DataFrame, functions as F

_U32 = float(1 << 32)


def _md5_unit(salt: str, id_col: Column) -> Column:
    """Uniform double in [0, 1): first 8 md5 hex chars of
    ``'<salt>:<id>'`` as a 32-bit integer over 2^32. Identical in
    DuckDB: ``('0x' || substr(md5(s), 1, 8))::BIGINT / 4294967296.0``."""
    h = F.md5(F.concat(F.lit(salt + ":"), id_col.cast("string")))
    return F.conv(F.substring(h, 1, 8), 16, 10).cast("long") / F.lit(_U32)


def _md5_key(salt: str, id_col: Column) -> Column:
    """Engine-portable 32-bit integer key (same hash, no division)."""
    h = F.md5(F.concat(F.lit(salt + ":"), id_col.cast("string")))
    return F.conv(F.substring(h, 1, 8), 16, 10).cast("long")


def shuffle_key(seed: int, id_col: Column) -> Column:
    """Portable training-order key for an arbitrary id column — the
    same hash family ``mixture_sample`` emits as ``order_key``. Use to
    re-derive a shuffle order downstream (e.g. on the pipeline's
    composite doc_id*K+epoch stream ids after document splitting)."""
    return _md5_key(f"shuf:{seed}", id_col)


def mixture_sample(
    documents: DataFrame,
    weights: Mapping[str, float],
    key_col: str = "source",
    seed: int = 0,
) -> DataFrame:
    """Domain-weighted epoch sampling: one output row per (document,
    epoch copy), ``E[copies] = weight`` exactly.

    ``weights`` maps ``key_col`` values (domains) to target epoch
    counts; unlisted domains get weight 1. A weight of 2.0
    emits every doc twice (epochs 0 and 1); 0.25 keeps a deterministic
    quarter of the domain; 0.0 drops it. The Bernoulli draw for the
    fractional part is ``md5('mix:<seed>:<doc_id>')`` so the SAME
    documents survive on every run, on any partitioning, in any engine.

    Output: all input columns + ``epoch`` (int, 0-based contiguous) +
    ``order_key`` (long) — range-sort by ``order_key`` for a
    deterministic global training-order shuffle in which the epoch
    copies of a document land far apart (the key re-hashes the epoch).

    Scale: pure projection + one generate; the weight table is a
    literal map expression, so there is NO join and NO shuffle at any
    corpus size.
    """
    if any(w < 0 for w in weights.values()):
        raise ValueError("mixture weights must be >= 0")
    ident = F.col("doc_id")
    if weights:
        pairs: list[Column] = []
        for k, w in weights.items():
            pairs += [F.lit(k), F.lit(float(w))]
        wt = F.coalesce(F.create_map(*pairs)[F.col(key_col)], F.lit(1.0))
    else:
        wt = F.lit(1.0)
    u = _md5_unit(f"mix:{seed}", ident)
    n_copies = (
        F.floor(wt).cast("int") + (u < (wt - F.floor(wt))).cast("int")
    ).alias("_n_copies")
    epochs = F.when(
        F.col("_n_copies") >= 1, F.sequence(F.lit(0), F.col("_n_copies") - 1)
    ).otherwise(F.array().cast("array<int>"))
    out_cols = [c for c in documents.columns]
    return (
        documents.withColumn("_n_copies", n_copies)
        .select(*out_cols, F.explode(epochs).alias("epoch"))
        .withColumn(
            "order_key",
            _md5_key(
                f"shuf:{seed}",
                F.concat(F.col("epoch").cast("string"), F.lit(":"), ident.cast("string")),
            ),
        )
    )


def temperature_weights(
    documents: DataFrame,
    tau: float = 0.3,
) -> dict[str, float]:
    """Temperature-based mixture weights (the multilingual sampling
    rule of mBERT / XLM-R, Conneau et al. 2020 §3.1): sample domain d
    with probability ``p_d ∝ f_d^tau`` where ``f_d`` is its corpus
    fraction by document count over the ``source`` column.

    Returns a {domain: epoch_weight} dict for :func:`mixture_sample`,
    normalized so the EXPECTED total output size equals the input size
    (``sum_d w_d · f_d = 1``): tau=1 reproduces the natural
    distribution (all weights 1), tau→0 approaches uniform domain
    sampling — rare domains get up-sampled, head domains down-sampled.
    Weights are capped at 10 epochs so a vanishingly rare domain cannot
    demand unbounded epochs.

    Scale: ONE map-side-combinable aggregation over the corpus (the
    domain cardinality is tens of rows); the returned literal dict
    then enters mixture_sample's no-shuffle projection. The weights
    are driver-side plain data — persist them alongside the run config
    for reproducibility.
    """
    if tau <= 0:
        raise ValueError(f"tau must be > 0, got {tau}")
    agg = F.count(F.lit(1)).cast("double")
    # two-level agg folds the per-domain table (tens of rows) into ONE
    # driver row — a scalar fetch, not a data collect. NULL domains are
    # folded into a sentinel key (map_from_entries forbids null keys);
    # mixture_sample gives those docs weight 1, so they are
    # excluded from the returned table and held at weight 1 in the
    # size-preserving normalization below.
    null_key = "\x00__null_domain__"
    row = (
        documents.groupBy(
            F.coalesce(F.col("source"), F.lit(null_key)).alias("k")
        )
        .agg(agg.alias("n"))
        .agg(F.map_from_entries(F.collect_list(F.struct("k", "n"))).alias("m"))
        .first()
    )
    counts = dict(row["m"]) if row is not None and row["m"] else {}
    total = sum(counts.values())
    if not total:
        return {}
    f_null = counts.pop(null_key, 0.0) / total
    if not counts:
        return {}
    # w_d = p_d / f_d with p_d ∝ f_d^tau  ==>  w_d ∝ f_d^(tau-1),
    # normalized so sum_d w_d f_d + 1·f_null = 1 (expected corpus size
    # preserved, null-domain docs pinned at mixture_sample's default)
    fracs = {k: n / total for k, n in counts.items()}
    raw = {k: f ** (tau - 1.0) for k, f in fracs.items()}
    z = sum(raw[k] * fracs[k] for k in raw) / max(1.0 - f_null, 1e-12)
    return {k: min(raw[k] / z, 10.0) for k in raw}


def train_val_split(
    documents: DataFrame,
    val_frac: float = 0.01,
    seed: int = 0,
) -> DataFrame:
    """Deterministic hash-based train/validation assignment: adds a
    ``split`` column ('val' iff ``md5('split:<seed>:<id>')``-uniform <
    ``val_frac``, else 'train').

    Because the draw depends only on the document id, the assignment
    is (a) a disjoint partition, (b) stable across runs, partitionings
    and engines, and (c) SUBSET-CONSISTENT: filtering the corpus never
    moves a surviving document between splits — the property that
    keeps the validation set fixed while upstream cleaning/dedup
    stages evolve. Pure projection, no shuffle.
    """
    if not (0.0 <= val_frac <= 1.0):
        raise ValueError(f"val_frac must be in [0, 1], got {val_frac}")
    u = _md5_unit(f"split:{seed}", F.col("doc_id"))
    return documents.withColumn(
        "split", F.when(u < F.lit(float(val_frac)), "val").otherwise("train")
    )
