"""Text-analysis operators over document tables (training-data pipeline).

All pure built-in-function DataFrame plans (JVM-side, codegen'd): no
Python executes per row. Each has an ANSI-SQL twin in __spark_entry__
for the DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

STOPWORDS = ["the", "a", "of", "and", "to", "in", "is", "it"]

_WORDISH = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"


def text_quality(documents: DataFrame) -> DataFrame:
    """Length / token / punctuation / stopword quality features + score.

    Staged selects materialize shared subexpressions (padded text, raw
    counts) once; inlining them makes Catalyst's expression tree — and
    the generated code — blow up combinatorially."""
    text = F.col("text")
    padded = F.concat(F.lit(" "), F.lower(text), F.lit(" "))
    base = documents.select(
        "doc_id",
        F.length(text).alias("n_chars"),
        F.size(F.split(text, " ")).alias("n_tokens"),
        (F.length(text) - F.length(F.regexp_replace(text, r"[^\w\s]", ""))).alias(
            "n_punct"
        ),
        padded.alias("padded"),
    )
    stop_hits = None
    for wrd in STOPWORDS:
        needle = f" {wrd} "
        c = (
            (F.length("padded") - F.length(F.replace(F.col("padded"), F.lit(needle), F.lit(""))))
            / len(needle)
        ).cast("long")
        stop_hits = c if stop_hits is None else stop_hits + c
    feats = base.select(
        "doc_id",
        "n_chars",
        "n_tokens",
        "n_punct",
        stop_hits.alias("stop_hits"),
    )
    stop_ratio = F.col("stop_hits") / F.col("n_tokens")
    punct_ratio = F.col("n_punct") / F.col("n_chars")
    quality = (
        F.least(F.col("n_tokens") / F.lit(64.0), F.lit(1.0)) * 0.4
        + F.least(stop_ratio * 4.0, F.lit(1.0)) * 0.4
        + (1.0 - F.least(punct_ratio * 8.0, F.lit(1.0))) * 0.2
    )
    return feats.select(
        "doc_id",
        "n_chars",
        "n_tokens",
        F.round((F.col("n_chars") - (F.col("n_tokens") - 1)) / F.col("n_tokens"), 4).alias(
            "avg_token_len"
        ),
        F.round(punct_ratio, 4).alias("punct_ratio"),
        F.round(stop_ratio, 4).alias("stop_ratio"),
        F.round(quality, 4).alias("quality"),
    )


def token_counts_bpe(documents: DataFrame, merges=None) -> DataFrame:
    """REAL BPE token counting from an explicit merges table
    (functions/bpe.py, Sennrich et al. 2016) — no per-row Python.

    Pre-tokenize (lowercase; [a-z]+ words / digit runs / single punct),
    render each alphabetic word as brace-wrapped symbols
    ("low" → "{l}{o}{w}"), then apply every merge (x, y) → xy as one
    literal replacement "{x}{y}" → "{xy}" in rank order — left-to-right
    non-overlapping replacement reproduces the reference tokenizer's
    leftmost-first merging exactly (see functions/bpe.py for why one
    pass per rank suffices). The token count is then the number of '{'
    markers left plus one per non-alphabetic pre-token. The whole chain
    is 48 JVM string replacements inside one projection: codegen'd,
    shuffle-free, and expressible verbatim in the DuckDB oracle.

    Output: (doc_id, n_ws_tokens, n_pretokens, n_bpe_tokens).
    """
    from ..functions.bpe import MERGES

    merges = MERGES if merges is None else merges
    text = F.col("text")
    words = F.regexp_extract_all(F.lower(text), F.lit(_WORDISH), 0)
    base = documents.select(
        "doc_id",
        F.size(F.split(text, r"\s+")).alias("n_ws_tokens"),
        words.alias("ws"),
    )
    alpha = F.filter(F.col("ws"), lambda w: w.rlike("^[a-z]+$"))
    staged = base.select(
        "doc_id",
        "n_ws_tokens",
        F.size("ws").alias("n_pretokens"),
        F.array_join(
            F.transform(
                alpha, lambda w: F.regexp_replace(w, r"(.)", r"{$1}")
            ),
            "|",
        ).alias("s"),
        F.size(alpha).alias("n_alpha"),
    )
    s = F.col("s")
    for x, y in merges:
        s = F.replace(s, F.lit("{" + x + "}{" + y + "}"), F.lit("{" + x + y + "}"))
    n_syms = F.length(s) - F.length(F.replace(s, F.lit("{"), F.lit("")))
    return staged.select(
        "doc_id",
        "n_ws_tokens",
        "n_pretokens",
        (F.col("n_pretokens") - F.col("n_alpha") + n_syms).alias("n_bpe_tokens"),
    )


def lang_id(documents: DataFrame) -> DataFrame:
    """Character-trigram language ID (Cavnar & Trenkle 1994 rank
    profiles, functions/langprofiles.py): rank the document's top K_DOC
    trigrams, score each language by the out-of-place distance against
    its N_PROF-entry profile (absent trigram = N_PROF penalty), pick the
    minimum (ties → lexicographically first language); 'und' when no
    trigram matches any profile.

    Plan shape at corpus scale: trigram explode → count → per-doc
    row_number (keyed by doc_id — no hot key, and the rank-filter
    compiles to map-side WindowGroupLimit) → broadcast join against the
    4×N_PROF profile table → one integer aggregation per (doc, lang) →
    per-doc argmin. Replaces the r03 marker-word heuristic, which
    missed any sentence avoiding its 3 marker words per language.
    """
    from pyspark.sql.window import Window

    from ..functions.langprofiles import K_DOC, N_PROF, PROFILES
    from .spread import spread_input

    spark = documents.sparkSession
    norm = F.concat(
        F.lit(" "),
        F.regexp_replace(F.lower(F.col("text")), "[^a-z]", " "),
        F.lit(" "),
    )
    grams = (
        spread_input(documents).select("doc_id", norm.alias("norm"))
        .select(
            "doc_id",
            F.explode(
                F.transform(
                    F.sequence(
                        F.lit(1), F.greatest(F.length("norm") - 2, F.lit(1))
                    ),
                    lambda i: F.col("norm").substr(i, F.lit(3)),
                )
            ).alias("tri"),
        )
        .where((F.length("tri") == 3) & (F.col("tri") != "   "))
    )
    cnt = grams.groupBy("doc_id", "tri").agg(F.count("*").alias("c"))
    w_ = Window.partitionBy("doc_id").orderBy(F.col("c").desc(), F.col("tri").asc())
    top = (
        cnt.withColumn("r", F.row_number().over(w_) - 1)
        .where(F.col("r") < K_DOC)
        .select("doc_id", "tri", "r")
    )
    langs = sorted(PROFILES)
    prof = spark.createDataFrame(
        [(lang, tri, r) for lang in langs for tri, r in PROFILES[lang].items()],
        "lang string, tri string, pr int",
    )
    crossed = top.select(
        "doc_id",
        "tri",
        "r",
        F.explode(F.array(*[F.lit(l) for l in langs])).alias("lang"),
    )
    j = crossed.join(F.broadcast(prof), ["lang", "tri"], "left")
    pen = F.coalesce(F.abs(F.col("r") - F.col("pr")), F.lit(N_PROF))
    scored = j.groupBy("doc_id", "lang").agg(
        F.sum(pen).alias("dist"), F.count("pr").alias("matched")
    )
    w2 = Window.partitionBy("doc_id").orderBy(
        F.col("dist").asc(), F.col("lang").asc()
    )
    best = scored.withColumn("rn", F.row_number().over(w2)).where("rn = 1")
    return (
        documents.select("doc_id")
        .join(best.select("doc_id", "lang", "matched"), "doc_id", "left")
        .select(
            "doc_id",
            F.when(F.col("matched") > 0, F.col("lang"))
            .otherwise(F.lit("und"))
            .alias("pred_lang"),
        )
    )


def fingerprint(documents: DataFrame) -> DataFrame:
    """Deterministic document fingerprint: md5 of whitespace-normalized
    lowercase text (stable across engines)."""
    norm = F.lower(F.regexp_replace(F.col("text"), r"\s+", " "))
    return documents.select("doc_id", F.md5(norm).alias("fp"))


def winnow_fingerprints(
    documents: DataFrame, k: int = 8, window: int = 4
) -> DataFrame:
    """Winnowing fingerprints (Schleimer/Wilkerson/Aiken): rolling k-gram
    hashes, each length-`window` hash window contributes its minimum —
    guaranteeing any match of length >= k + window - 1 shares a
    fingerprint. Output is the distinct (doc_id, fp) set (positions
    dropped, which makes the selection tie-free and engine-portable).
    Plan: posexplode k-grams → md5 hash → sliding min over ONE window
    sort per doc → distinct. The fingerprint set is ~1/window the size
    of the shingle set — the cheap pre-filter ahead of exact Jaccard at
    corpus scale.

    The input is spread to cluster parallelism first (no-op for
    well-split sources): the k-gram explode + per-gram md5 below is
    the stage's expensive part, and an unsplittable source
    (single-row-group parquet) would otherwise run it in one task."""
    from pyspark.sql.window import Window

    from .spread import spread_input

    documents = spread_input(documents)
    grams = documents.select(
        "doc_id",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(1), F.greatest(F.length("text") - k + 1, F.lit(1))),
                lambda i: F.col("text").substr(i, F.lit(k)),
            )
        ).alias("pos", "gram"),
    ).where(F.length("gram") > 0)
    h = F.conv(F.substring(F.md5("gram"), 1, 8), 16, 10).cast("long")
    hashed = grams.select("doc_id", "pos", h.alias("hv"))
    w_ = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(0, window - 1)
    )
    n_ = Window.partitionBy("doc_id")
    return (
        hashed.select(
            "doc_id",
            "pos",
            F.min("hv").over(w_).alias("fp"),
            F.count("*").over(n_).alias("n"),
        )
        .where(F.col("pos") <= F.col("n") - window)  # full windows only
        .select("doc_id", "fp")
        .distinct()
    )


def repetition_stats(documents: DataFrame) -> DataFrame:
    """Gopher-style repetition signals per document (Rae et al. 2021,
    "Scaling Language Models", Table A1): for n-grams of size 1..3, the
    occurrence fraction of the single most frequent n-gram
    (top_{n}gram_frac) and the occurrence fraction of all n-grams that
    appear more than once (dup_{n}gram_frac). High values flag the
    boilerplate / degenerate-repetition documents a training pipeline
    drops before dedup even runs.

    Plan (all JVM built-ins, no Python per row): one projection builds
    the three gram arrays (zip_with over shifted slices — no sequence()
    descent on short docs), `inline` + `explode` stack them to
    (doc_id, n, gram) rows, then two map-side-combinable aggregations:
    groupBy(doc_id, n, gram) counts and groupBy(doc_id, n) → pivot to
    one row per doc. Keys all include doc_id, so there is no hot key at
    corpus scale. Fractions are ROUND(x, 4) with NULLIF-guarded
    denominators so the DuckDB oracle hashes identically; docs too
    short for an n-gram size yield NULL fracs in both engines.
    """
    ws = "split(trim(text), ' ')"
    l2 = f"greatest(size({ws}) - 1, 0)"
    l3 = f"greatest(size({ws}) - 2, 0)"
    g2 = (
        f"zip_with(slice({ws}, 1, {l2}), slice({ws}, 2, {l2}), "
        "(a, b) -> concat(a, ' ', b))"
    )
    g3 = (
        f"zip_with(slice({ws}, 1, {l3}), "
        f"zip_with(slice({ws}, 2, {l3}), slice({ws}, 3, {l3}), "
        "(a, b) -> concat(a, ' ', b)), (a, b) -> concat(a, ' ', b))"
    )
    from .spread import spread_input

    arrays = spread_input(documents).select(
        "doc_id",
        F.expr(ws).alias("g1"),
        F.expr(g2).alias("g2"),
        F.expr(g3).alias("g3"),
    )
    exploded = arrays.select(
        "doc_id",
        F.expr(
            "inline(array(struct(1 AS n, g1 AS gs), "
            "struct(2 AS n, g2 AS gs), struct(3 AS n, g3 AS gs)))"
        ),
    ).select("doc_id", "n", F.explode("gs").alias("gram"))
    cnts = exploded.groupBy("doc_id", "n", "gram").agg(F.count("*").alias("c"))
    per = cnts.groupBy("doc_id", "n").agg(
        F.sum("c").alias("total"),
        F.max("c").alias("top"),
        F.sum(F.when(F.col("c") > 1, F.col("c")).otherwise(F.lit(0))).alias("dup"),
    )

    def _frac(n: int, num: str):
        val = F.max(F.when(F.col("n") == n, F.col(num)))
        tot = F.nullif(F.max(F.when(F.col("n") == n, F.col("total"))), F.lit(0))
        return F.round(val / tot, 4)

    return per.groupBy("doc_id").agg(
        F.max(F.when(F.col("n") == 1, F.col("total"))).alias("n_words"),
        _frac(1, "top").alias("top_1gram_frac"),
        _frac(1, "dup").alias("dup_1gram_frac"),
        _frac(2, "top").alias("top_2gram_frac"),
        _frac(2, "dup").alias("dup_2gram_frac"),
        _frac(3, "top").alias("top_3gram_frac"),
        _frac(3, "dup").alias("dup_3gram_frac"),
    )


def tokenize_bpe(documents: DataFrame) -> DataFrame:
    """REAL BPE tokenization — the token ARRAYS, not just the counts
    of :func:`token_counts_bpe` (same pre-tokenizer, same merge
    chain, proven ≡ the reference tokenizer in functions/bpe.py).

    Each alphabetic pre-token is brace-rendered and run through the
    rank-ordered replace chain of ``functions.bpe.MERGES``, then split
    back into its merged symbols; digit runs and punctuation pass
    through as single tokens in their original positions. Everything is one JVM
    projection (transform + the literal replace chain inside the
    lambda) — shuffle-free, no Python per row, same plan class as the
    counting chain.

    Output: (doc_id, tokens array<string>, n_bpe_tokens), with
    ``n_bpe_tokens == size(tokens)`` equal to token_counts_bpe's
    count for every document. Feed to
    ``corpus.materialize_sequences`` to turn packed sequences into
    training token streams.
    """
    from ..functions.bpe import MERGES

    def merge_word(w):
        s = F.regexp_replace(w, r"(.)", r"{$1}")
        for x, y in MERGES:
            s = F.replace(
                s, F.lit("{" + x + "}{" + y + "}"), F.lit("{" + x + y + "}")
            )
        # "{lo}{w}" splits on "}{" into brace-fringed symbols
        return F.transform(
            F.split(s, r"\}\{"), lambda t: F.regexp_replace(t, r"[{}]", "")
        )

    words = F.regexp_extract_all(F.lower(F.col("text")), F.lit(_WORDISH), 0)
    toks = F.flatten(
        F.transform(
            words,
            lambda w: F.when(w.rlike("^[a-z]+$"), merge_word(w)).otherwise(
                F.array(w)
            ),
        )
    )
    return documents.select(
        "doc_id",
        toks.alias("tokens"),
        F.size(toks).cast("long").alias("n_bpe_tokens"),
    )
