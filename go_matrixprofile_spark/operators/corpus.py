"""Training-corpus materialization: the composed end stage of the
document pipeline.

A training-data pipeline's final document query is always the same
shape: keep the canonical survivor of every near-dup group, drop
low-quality and degenerate-repetition documents, and carry the real
token count for budget accounting. ``build_corpus`` composes the
engine's oracle-checked operators into exactly that:

    dedup_groups (keep)            — fuzzy-dup survivors only
    ∧ text_quality.quality ≥ 0.3   — length/stopword/punct gate
    ∧ repetition ≤ 0.5 (or N/A)    — Gopher dup-3gram gate
    → (doc_id, n_bpe_tokens, quality)

Every component is an independent single-purpose operator; this module
adds NO new semantics, only the join plan — each gate is one hash join
on doc_id (the natural partitioning all document operators share), so
the composition adds no shuffle beyond its inputs' own.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F
from pyspark.sql import types as T


def build_corpus(
    documents: DataFrame, groups: DataFrame | None = None
) -> DataFrame:
    """(doc_id, n_bpe_tokens, quality) for every document that survives
    dedup + quality + repetition gating — ``SUM(n_bpe_tokens)`` over
    this is the training token budget.

    groups: a precomputed ``dedup_groups`` result (e.g. the pipeline's
    checkpointed doc_dedup_groups stage) — component resolution is the
    expensive, eagerly-executed part, so a checkpointing caller passes
    it in rather than recomputing."""
    from .dedup import dedup_groups
    from .text import repetition_stats, text_quality, token_counts_bpe

    if groups is None:
        groups = dedup_groups(documents)
    keepers = groups.where("keep").select("doc_id")
    quality = text_quality(documents).select("doc_id", "quality")
    rep = repetition_stats(documents).select("doc_id", "dup_3gram_frac")
    tokens = token_counts_bpe(documents).select("doc_id", "n_bpe_tokens")
    return (
        keepers.join(quality, "doc_id")
        .where(F.col("quality") >= 0.3)
        .join(rep, "doc_id")
        .where(
            F.col("dup_3gram_frac").isNull()
            | (F.col("dup_3gram_frac") <= 0.5)
        )
        .join(tokens, "doc_id")
        .select("doc_id", "n_bpe_tokens", "quality")
    )


def split_documents(corpus: DataFrame, budget: int = 2048) -> DataFrame:
    """Chunk every document whose token count exceeds `budget` into
    budget-sized pieces, so the downstream packer's invariant
    (SUM(n_tokens) per sequence <= budget) holds for EVERY sequence —
    pack_sequences otherwise hands an oversized doc its own overflowing
    sequence with nothing to split it.

    Pure token arithmetic on the corpus accounting table (doc_id,
    n_bpe_tokens): a doc with n tokens becomes ceil(n/budget) chunks —
    full `budget` tokens each, the remainder in the last chunk (the
    standard pretraining chunking: fill whole training windows, one
    short tail). A doc with n <= budget passes through as its single
    chunk 0, so the output is a drop-in superset key (doc_id,
    chunk_idx) for pack_sequences(chunk_col="chunk_idx").

    Plan shape: one `sequence` + `explode` projection — no shuffle, no
    Python per row, trivially scales (the fan-out per row is
    ceil(n/budget), bounded by the longest document). The actual text
    slicing happens wherever the tokens materialize downstream;
    char-proportional boundaries follow from the chunk token counts.

    Output: (doc_id, chunk_idx, n_tokens) with
    SUM(n_tokens) GROUP BY doc_id == the input token count (token
    conservation) and every n_tokens <= budget.
    """
    if budget <= 0:
        raise ValueError("budget must be positive")
    # a NULL token count would make explode(sequence(0, NULL)) emit
    # nothing and the document silently VANISH from the packed corpus —
    # fail loudly instead (NULLs here mean a broken upstream join)
    raw_n = F.col("n_bpe_tokens")
    n = F.when(raw_n.isNotNull(), raw_n.cast("long")).otherwise(
        F.assert_true(
            F.lit(False),
            "split_documents: NULL n_bpe_tokens (broken upstream join?)",
        ).cast("long")
    )
    # ceil(n/budget) chunks; degenerate empty docs keep one 0-token chunk
    n_chunks = F.greatest(F.floor((n + budget - 1) / budget), F.lit(1))
    return (
        corpus.select(
            F.col("doc_id").cast("long").alias("doc_id"),
            n.alias("_n"),
            F.explode(F.sequence(F.lit(0), (n_chunks - 1).cast("int"))).alias(
                "chunk_idx"
            ),
        )
        .select(
            "doc_id",
            "chunk_idx",
            F.least(
                F.lit(budget).cast("long"),
                F.col("_n") - F.col("chunk_idx").cast("long") * budget,
            ).alias("n_tokens"),
        )
    )


PACK_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("n_tokens", T.LongType(), False),
        T.StructField("bucket", T.IntegerType(), False),
        T.StructField("seq_id", T.LongType(), False),
        T.StructField("seq_offset", T.LongType(), False),
    ]
)

PACK_CHUNK_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("chunk_idx", T.IntegerType(), False),
        T.StructField("n_tokens", T.LongType(), False),
        T.StructField("bucket", T.IntegerType(), False),
        T.StructField("seq_id", T.LongType(), False),
        T.StructField("seq_offset", T.LongType(), False),
    ]
)


# max rows a single packing task should hold in memory when the caller
# doesn't size n_buckets: ~5M (doc_id, n_tokens) rows ≈ tens of MB of
# Arrow — far under executor memory, large enough that small corpora
# stay at the 256-bucket floor
_PACK_ROWS_PER_BUCKET = 5_000_000


def pack_sequences(
    corpus: DataFrame,
    budget: int = 2048,
    n_buckets: int | None = 256,
    token_col: str = "n_bpe_tokens",
    chunk_col: str | None = None,
    order_col: str | None = None,
) -> DataFrame:
    """Greedy sequence packing for pretraining: assign every document a
    (seq_id, seq_offset) inside fixed token-budget training sequences.

    Packing is inherently sequential (each placement depends on the
    running fill), so the parallel unit is a SALTED BUCKET:
    doc_id % n_buckets routes each document to one of n_buckets
    independent packing streams, each stream packs its documents in
    doc_id order with the standard greedy rule (close the current
    sequence when the next doc would overflow; a doc larger than the
    budget gets its own sequence, to be split downstream), and seq_ids
    are made globally unique as bucket·2⁴⁰ + local index. One shuffle
    on the bucket key, one Arrow-batched pass per bucket — at 100 TB
    the knob is n_buckets (≥ cluster cores; ordering inside a bucket
    stays deterministic by doc_id regardless of parallelism).

    Input: any DataFrame with (doc_id, token_col) — typically
    build_corpus. Output: PACK_SCHEMA; every input doc appears exactly
    once, and SUM(n_tokens) GROUP BY seq_id ≤ budget except single
    oversized docs. Feed split_documents output (chunk_col="chunk_idx",
    every chunk ≤ budget by construction) to make the invariant hold
    with NO exception class; chunks of one doc share a bucket and pack
    adjacently in (doc_id, chunk_idx) order, so a split doc's pieces
    stay contiguous in the sequence stream.

    order_col: optional per-document shuffle key (e.g. the mixture
    stage's ``order_key``): buckets route on it and documents pack in
    ``(order_col, doc_id[, chunk_idx])`` order, so the packed stream
    IS the deterministic shuffled training order (domains interleaved,
    epoch copies separated) instead of corpus doc_id order. The key
    must be constant across one document's chunks — chunks stay
    contiguous because doc_id breaks order_col ties before chunk_idx.
    """
    if n_buckets is None:
        # derive from corpus size so one bucket's Arrow batch is bounded
        # no matter the caller's scale (a fixed default would OOM a task
        # at 100-TB row counts); costs one count() — pass n_buckets
        # explicitly to skip the extra job
        rows = corpus.count()
        n_buckets = max(256, -(-rows // _PACK_ROWS_PER_BUCKET))
    chunked = chunk_col is not None
    sort_cols = ["doc_id", "chunk_idx"] if chunked else ["doc_id"]
    if order_col is not None:
        sort_cols = ["_order", *sort_cols]
    schema = PACK_CHUNK_SCHEMA if chunked else PACK_SCHEMA

    def pack(pdf):
        import pandas as pd

        pdf = pdf.sort_values(sort_cols)
        bucket = int(pdf["bucket"].iloc[0])
        seqs, offs = [], []
        seq, fill = 0, 0
        for n in pdf["n_tokens"]:
            n = int(n)
            if fill > 0 and fill + n > budget:
                seq += 1
                fill = 0
            seqs.append(seq)
            offs.append(fill)
            fill += n
            if fill >= budget:
                seq += 1
                fill = 0
        base = bucket << 40
        pdf = pdf.drop(columns=["_order"], errors="ignore")
        out = {"doc_id": pdf["doc_id"].to_numpy()}
        if chunked:
            out["chunk_idx"] = pdf["chunk_idx"].to_numpy()
        out.update(
            n_tokens=pdf["n_tokens"].to_numpy(),
            bucket=bucket,
            seq_id=[base + s for s in seqs],
            seq_offset=offs,
        )
        return pd.DataFrame(out)

    bucket_src = F.col(order_col) if order_col is not None else F.col("doc_id")
    staged = corpus.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        *(
            [F.col(chunk_col).cast("int").alias("chunk_idx")]
            if chunked
            else []
        ),
        *(
            [F.col(order_col).cast("long").alias("_order")]
            if order_col is not None
            else []
        ),
        F.col(token_col).cast("long").alias("n_tokens"),
        # pmod, not %: Spark's % is sign-preserving, so hash-derived
        # negative doc_ids would mint negative buckets (and negative
        # seq_id bases) and silently double the bucket count
        F.pmod(bucket_src, F.lit(n_buckets)).cast("int").alias("bucket"),
    )
    return staged.groupBy("bucket").applyInPandas(pack, schema)


def materialize_sequences(
    packed: DataFrame,
    tokenized: DataFrame,
    budget: int = 2048,
    vocab: dict[str, int] | None = None,
) -> DataFrame:
    """Turn the packer's accounting table into actual training token
    streams: one row per sequence with the concatenated tokens of its
    packed chunks — the tensor-ready deliverable of the document
    pipeline.

    packed: ``pack_sequences(chunk_col="chunk_idx")`` output (its
    n_tokens MUST come from the same merges the ``tokenized`` side
    used); tokenized: ``text.tokenize_bpe`` output (doc_id, tokens).
    Each chunk row slices ``tokens[chunk_idx*budget : +n_tokens]`` —
    exactly split_documents' arithmetic — and the per-sequence
    assembly is one hash aggregation ordered by seq_offset.

    vocab: optional {token: id} table (e.g. enumerate the trained
    merge products); when given, ``input_ids`` are emitted alongside
    the token strings — known tokens map through the literal vocab
    map, everything else (digit runs, punctuation, unseen words)
    lands deterministically in one of 4096 hash buckets
    ABOVE the vocab range (ids are never silently aliased onto real
    vocab entries).

    Plan shape at 100 TB: ONE doc_id hash join (packed chunks x token
    arrays, both corpus-partitioned) and ONE seq_id aggregation; the
    token payload crosses the shuffle once. No Python, no window.

    Output: (bucket, seq_id, n_chunks, n_tokens, tokens[, input_ids]).
    """
    # LEFT join + loud guards, not an inner join: a packed chunk whose
    # doc is missing from the tokenized side (caller passed a filtered
    # or different corpus), or whose token array is shorter than the
    # packer's accounting says, would otherwise assemble a silently
    # SHORT sequence — the same silent-vanish class split_documents
    # fails loudly on
    raw_slice = F.slice(
        "tokens", F.col("chunk_idx").cast("int") * budget + 1,
        F.col("n_tokens").cast("int"),
    )
    guarded = F.when(
        F.col("tokens").isNull(),
        F.assert_true(
            F.lit(False),
            "materialize_sequences: packed doc_id missing from tokenized "
            "(different corpus / missing composite re-key?)",
        ).cast("array<string>"),
    ).otherwise(
        F.when(
            (F.size(raw_slice) == F.col("n_tokens").cast("int"))
            # a doc's only non-full chunk is its FINAL chunk
            # (split_documents construction), so that chunk must end
            # exactly at the token array's end: catches token arrays
            # LONGER than the packed accounting (fewer merges on the
            # tokenized side), which slice correctly-sized windows at
            # wrong boundaries and would otherwise pass silently
            # (advisor item r5); docs whose total is an exact multiple
            # of the budget have no non-full chunk and skip the check
            & (
                (F.col("n_tokens").cast("int") == budget)
                | (
                    F.col("chunk_idx").cast("int") * budget
                    + F.col("n_tokens").cast("int")
                    == F.size("tokens")
                )
            ),
            raw_slice,
        ).otherwise(
            F.assert_true(
                F.lit(False),
                "materialize_sequences: token array length inconsistent "
                "with the packed accounting (mismatched merges between "
                "packed n_tokens and tokenized?)",
            ).cast("array<string>")
        )
    )
    sliced = packed.join(
        tokenized.select("doc_id", "tokens"), "doc_id", "left"
    ).select("bucket", "seq_id", "seq_offset", guarded.alias("chunk_toks"))
    seqs = sliced.groupBy("bucket", "seq_id").agg(
        F.count(F.lit(1)).cast("int").alias("n_chunks"),
        F.flatten(
            F.transform(
                F.array_sort(F.collect_list(F.struct("seq_offset", "chunk_toks"))),
                lambda s: s["chunk_toks"],
            )
        ).alias("tokens"),
    )
    out = seqs.select(
        "bucket",
        "seq_id",
        "n_chunks",
        F.size("tokens").cast("long").alias("n_tokens"),
        "tokens",
    )
    if vocab is not None:
        if not vocab:
            raise ValueError("vocab must be non-empty when given")
        if len(vocab) != len(set(vocab.values())):
            raise ValueError("vocab ids must be unique")
        pairs: list = []
        for t, i in vocab.items():
            pairs += [F.lit(t), F.lit(int(i))]
        vmap = F.create_map(*pairs)
        base = len(vocab)

        from .mixture import _md5_key

        def to_id(tok):
            # the repo's one portable md5->int32 idiom (mixture/dedup)
            h = _md5_key("oov", tok) % 4096 + base
            return F.coalesce(vmap[tok], h).cast("int")

        out = out.withColumn("input_ids", F.transform("tokens", to_id))
    return out


def bpe_vocab(merges) -> dict[str, int]:
    """Deterministic {token: id} enumeration of a trained merge table:
    the 26 base letters first, then each merge's product in rank order
    (duplicate products keep their first rank slot). The natural vocab
    for ``materialize_sequences(vocab=...)``."""
    vocab: dict[str, int] = {}
    for c in "abcdefghijklmnopqrstuvwxyz":
        vocab[c] = len(vocab)
    for x, y in merges:
        prod = x + y
        if prod not in vocab:
            vocab[prod] = len(vocab)
    return vocab
