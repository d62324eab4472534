"""Distributed BPE vocabulary training over the actual corpus.

The round-4 engine applies a merges table as a shuffle-free JVM replace
chain (operators/text.token_counts_bpe); this module LEARNS that table
from the corpus itself with Spark aggregations, replacing the embedded
seed-corpus vocabulary (functions/bpe.py SEED_CORPUS) with the real
pipeline operator: iterative distributed pair counting (Sennrich,
Haddow & Birch 2016, the same procedure functions/bpe.train_bpe runs
driver-side — the pytest ground truth).

Algorithm, per merge round over the WORD VOCABULARY (distinct lowercase
[a-z]+ words with occurrence counts — aggregated from the corpus ONCE,
then ≪ corpus for every later round):

  1. split each word's brace-rendered symbol string ("{l}{o}{w}") into
     its symbols, form all adjacent pairs (zip_with of shifted slices,
     repeated pairs inside a word each count), weight by word count
  2. groupBy (x, y) → SUM(count); the winner is the max-count pair,
     ties broken by lexicographically smallest (x, y) — realized as one
     MIN(STRUCT(-count, x, y)) aggregation, so exactly ONE scalar row
     reaches the driver per round (the vocabulary artifact itself is
     driver-sized by definition; no data rows are collected)
  3. fuse the winner everywhere with one JVM replacement
     "{x}{y}" → "{xy}" — identical semantics to the reference
     re-tokenizer's leftmost non-overlapping scan

Scale shape: the corpus-sized work is the single initial word-count
aggregation (map-side combinable, one shuffle on the word key). Every
round after that touches only the vocab table: one explode + one
aggregation, keyed by symbol pair — no hot key, no growth. The replace
chain accumulated on the vocab plan is re-materialized every 8 rounds
so round k never re-applies O(k) string replacements from round 0.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def train_bpe_distributed(
    documents: DataFrame,
    n_merges: int = 48,
) -> list[tuple[str, str]]:
    """Learn an ordered BPE merges table from a document corpus.

    Pre-tokenization matches the application side exactly
    (operators/text.token_counts_bpe): the same ``_WORDISH`` pre-token
    extraction over lowercased text, keeping the pure ``[a-z]+``
    pre-tokens — so merges are learned on precisely the tokens the
    replace chain will later merge, INCLUDING punctuation-adjacent
    words (a whitespace split would drop "hello," entirely and learn
    from a frequency-skewed subset). Returns the ordered
    ``[(x, y), ...]`` list consumed by ``token_counts_bpe(documents,
    merges=...)`` and by ``functions.bpe.apply_bpe``.
    """
    from .spread import spread_input
    from .text import _WORDISH

    # the corpus-scale word count is the one expensive pass; spread an
    # under-split source so it parallelizes (no-op when well-split)
    documents = spread_input(documents)
    vocab = (
        documents.select(
            F.explode(
                F.regexp_extract_all(
                    F.lower(F.col("text")), F.lit(_WORDISH), 0
                )
            ).alias("w")
        )
        .where(F.col("w").rlike("^[a-z]+$"))
        .groupBy("w")
        .agg(F.count("*").alias("cnt"))
        .select(F.regexp_replace("w", r"(.)", r"{$1}").alias("s"), "cnt")
        .localCheckpoint(eager=True)
    )
    # natural-language vocabularies are tiny next to their corpora; when
    # this one fits a single task, collapse it so each of the n_merges
    # round-trip jobs is one task instead of a full shuffle fan-out
    if vocab.count() <= 1_000_000:
        vocab = vocab.coalesce(1).localCheckpoint(eager=True)
    merges: list[tuple[str, str]] = []
    for r in range(n_merges):
        syms = F.split(F.expr("substring(s, 2, length(s) - 2)"), r"\}\{")
        n = F.size(syms)
        pairs = vocab.select(
            F.explode(
                F.zip_with(
                    F.slice(syms, 1, F.greatest(n - 1, F.lit(0))),
                    F.slice(syms, 2, F.greatest(n - 1, F.lit(0))),
                    lambda a, b: F.struct(a.alias("x"), b.alias("y")),
                )
            ).alias("p"),
            "cnt",
        ).select("p.x", "p.y", "cnt")
        best = (
            pairs.groupBy("x", "y")
            .agg(F.sum("cnt").alias("c"))
            .agg(
                F.min(
                    F.struct(
                        (-F.col("c")).alias("nc"),
                        F.col("x"),
                        F.col("y"),
                    )
                ).alias("b")
            )
            .first()["b"]
        )
        if best is None:
            break
        x, y = best["x"], best["y"]
        merges.append((x, y))
        vocab = vocab.withColumn(
            "s",
            F.replace(
                F.col("s"),
                F.lit("{" + x + "}{" + y + "}"),
                F.lit("{" + x + y + "}"),
            ),
        )
        if (r + 1) % 8 == 0:
            vocab = vocab.localCheckpoint(eager=True)
    return merges

