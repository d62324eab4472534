"""Benchmark decontamination: flag training documents that overlap an
evaluation set.

The standard training-data hygiene stage (Brown et al. 2020, GPT-3
appendix C; PaLM/Llama reports use the same shape): a document is
contaminated when it shares at least one word n-gram (n=13 is the
customary size) with any benchmark document. Dedup removes documents
similar to EACH OTHER; decontamination removes documents similar to a
REFERENCE set — same machinery, different join target, and a filter no
serious pretraining corpus ships without.

Plan shape at 100 TB: the benchmark side is distinct n-grams of the
eval set — millions of rows at most, broadcast by default so the
corpus-side explode streams map-side against the hash set with NO
shuffle of corpus data. Per-doc hit counts aggregate on doc_id (the
natural document key, no hot key).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F


def _word_ngrams(
    df: DataFrame, id_col: str, n: int, keep_empty: bool = False
) -> DataFrame:
    """(id, gram): space-joined word n-grams of normalized text
    (lowercase, non-alphanumeric → space — so punctuation/formatting
    differences between corpus and benchmark don't hide overlap).
    keep_empty emits one NULL-gram row for docs too short for any
    n-gram, so a downstream per-doc aggregation covers EVERY doc
    without a corpus-sized join back."""
    norm = F.split(
        F.trim(F.regexp_replace(F.lower(F.col("text")), r"[^a-z0-9]+", " ")),
        " ",
    )
    ln = F.greatest(F.size(norm) - (n - 1), F.lit(0))
    grams = F.when(ln > 0, F.transform(
        F.sequence(F.lit(1), ln),
        lambda i: F.array_join(F.slice(norm, i, n), " "),
    )).otherwise(F.array())
    exp = F.explode_outer(grams) if keep_empty else F.explode(grams)
    return df.select(F.col(id_col), exp.alias("gram"))


def decontaminate(
    documents: DataFrame,
    benchmark: DataFrame,
    n: int = 13,
) -> DataFrame:
    """Per-document contamination verdict against a benchmark table.

    documents: (doc_id, text); benchmark: (bench_id, text) — any extra
    columns pass through untouched on neither side. Returns one row per
    document: (doc_id, n_grams, n_hits, hit_frac, contaminated) where
    n_grams is the document's word-``n``-gram count, n_hits how many of
    its gram OCCURRENCES appear anywhere in the benchmark, hit_frac =
    n_hits / n_grams (0.0 for gram-less docs), and contaminated =
    hit_frac > 0: the GPT-3 any-hit rule (one shared 13-gram condemns
    the doc). Filter ``WHERE NOT contaminated`` for the clean corpus.
    """
    bench_grams = F.broadcast(
        _word_ngrams(benchmark, "bench_id", n).select("gram").distinct()
    )
    # explode_outer keeps a NULL-gram row for too-short docs, so the
    # doc_id aggregation alone covers every document — no corpus-sized
    # join back onto `documents`. The corpus side is spread to cluster
    # parallelism first (no-op for well-split sources): the gram
    # explode + probe below is the expensive part, and an unsplittable
    # source would run it in one task.
    from .spread import spread_input

    doc_grams = _word_ngrams(spread_input(documents), "doc_id", n, keep_empty=True)
    hit_frac = F.when(
        F.col("n_grams") > 0, F.col("n_hits") / F.col("n_grams")
    ).otherwise(F.lit(0.0))
    return (
        doc_grams.join(bench_grams.withColumn("_hit", F.lit(1)), "gram", "left")
        .groupBy("doc_id")
        .agg(
            F.count("gram").cast("long").alias("n_grams"),
            F.sum(F.coalesce(F.col("_hit"), F.lit(0))).cast("long").alias("n_hits"),
        )
        .select(
            "doc_id",
            "n_grams",
            "n_hits",
            hit_frac.alias("hit_frac"),
            (hit_frac > F.lit(0.0)).alias("contaminated"),
        )
    )


def contaminated_spans(
    documents: DataFrame,
    benchmark: DataFrame,
    n: int = 13,
) -> DataFrame:
    """Span-level contamination report: WHERE each document overlaps
    the benchmark, in word-token coordinates.

    A hit n-gram starting at word position ``p`` (0-based, positions in
    the normalized word stream of ``_word_ngrams``) covers words
    ``[p, p+n)``; overlapping and adjacent hit windows merge into
    maximal runs. Returns one row per contaminated span: (doc_id,
    span_start, span_end, n_hit_grams) with span word interval
    [span_start, span_end) and the count of hit grams merged into it.
    Documents with no hits produce no rows.

    This is the audit/excision surface behind fraction-threshold
    decontamination: pipelines that refuse to drop a 100-page doc for
    one quoted benchmark sentence excise the span instead (the Llama
    approach of skipping contaminated WINDOWS, not docs).

    Plan shape: identical broadcast gram join as :func:`decontaminate`,
    then the per-doc interval merge runs only on HIT rows (tiny by
    construction — contamination is rare), one shuffle on doc_id for
    the ordered window.
    """
    bench_grams = F.broadcast(
        _word_ngrams(benchmark, "bench_id", n).select("gram").distinct()
    )
    norm = F.split(
        F.trim(F.regexp_replace(F.lower(F.col("text")), r"[^a-z0-9]+", " ")),
        " ",
    )
    ln = F.greatest(F.size(norm) - (n - 1), F.lit(0))
    # posexplode gives the gram's 0-based word position — the span math
    # needs WHERE the gram sits, not just that it exists
    grams = F.when(ln > 0, F.transform(
        F.sequence(F.lit(1), ln),
        lambda i: F.array_join(F.slice(norm, i, n), " "),
    )).otherwise(F.array())
    from .spread import spread_input

    hits = (
        spread_input(documents)
        .select(F.col("doc_id"), F.posexplode(grams).alias("pos", "gram"))
        .join(bench_grams, "gram", "inner")
        .select("doc_id", "pos")
    )
    # gaps-and-islands over equal-length intervals [pos, pos+n): a new
    # island starts when this window clears the previous window's end
    w = Window.partitionBy("doc_id").orderBy("pos")
    islands = hits.withColumn(
        "_new",
        F.when(
            F.col("pos") > F.lag("pos").over(w) + F.lit(n), F.lit(1)
        ).otherwise(F.lit(0)),
    ).withColumn("_island", F.sum("_new").over(w))
    return (
        islands.groupBy("doc_id", "_island")
        .agg(
            F.min("pos").cast("long").alias("span_start"),
            (F.max("pos") + F.lit(n)).cast("long").alias("span_end"),
            F.count("pos").cast("long").alias("n_hit_grams"),
        )
        .select("doc_id", "span_start", "span_end", "n_hit_grams")
    )
