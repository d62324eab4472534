"""Deduplication operators for document tables (training-data pipeline).

Five strategies, scale-ranked:
- exact           — md5 hash groupBy: one shuffle on the hash.
- ngram_jaccard   — character-shingle set intersection via a self-join
                    on shingle; exact Jaccard, quadratic in candidates —
                    gate with a doc_id cap or feed it LSH candidates.
- minhash_lsh     — k seeded min-hashes over shingles, banded; candidate
                    pairs share a (band, signature) bucket: the scale
                    path (shuffles: shingle explode, 2 aggregations,
                    bucket self-join — all on bounded keys).
- simhash         — sign-aggregated token-hash bits; near-dup pairs by
                    Hamming distance via banded signature joins
                    (pigeonhole: ≤d differing bits ⇒ ≥1 exact band when
                    bands > d) + exact bit_count(xor) verify.
- embedding cosine near-dup lives in simsearch.py.

Hash function: integer from the first 8 hex chars of md5 — identical in
Spark (`conv(substring(md5(x),1,8),16,10)`) and DuckDB
(`('0x' || substr(md5(x),1,8))::BIGINT`), so every operator here is
oracle-checkable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

MERSENNE = 2147483647  # 2^31-1, modulus for the affine min-hash family
MAX_ITER = 25  # connected_components rounds before it gives up
NGRAM_MAX_DF = 10000  # ngram_jaccard_pairs: shingles in more docs make no candidates


def _md5_int(col):
    return F.conv(F.substring(F.md5(col), 1, 8), 16, 10).cast("long")


def shingles(documents: DataFrame, k: int = 8, distinct: bool = True) -> DataFrame:
    """k-char shingles per document via sequence+explode (built-in; no UDF).

    distinct=True (set semantics) is required for Jaccard; min-hash is
    insensitive to duplicates (min over a multiset == min over its set),
    so the min-hash path passes distinct=False and skips a full shuffle
    of the exploded shingle table.

    The input is spread to cluster parallelism first (no-op for
    well-split sources): the explode + per-shingle md5 downstream is
    the expensive part of every consumer, and an unsplittable source
    (single-row-group parquet) would otherwise run it in one task."""
    from .spread import spread_input

    documents = spread_input(documents)
    sh = documents.select(
        "doc_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.greatest(F.length("text") - k + 1, F.lit(1))),
                lambda i: F.col("text").substr(i, F.lit(k)),
            )
        ).alias("shingle"),
    ).where(F.length("shingle") > 0)
    return sh.distinct() if distinct else sh


def dedup_exact(documents: DataFrame) -> DataFrame:
    """Exact duplicate groups: md5(text) → (hash, keeper, group size)."""
    return (
        documents.groupBy(F.md5("text").alias("text_hash"))
        .agg(F.min("doc_id").alias("keep_doc_id"), F.count("*").alias("n_docs"))
        .where(F.col("n_docs") > 1)
    )


def ngram_jaccard_pairs(
    documents: DataFrame,
    k: int = 8,
    threshold: float = 0.5,
    max_doc_id: int | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard over candidate pairs sharing ≥1 rare shingle.

    Two phases, both hot-key-safe at corpus scale:

    1. Candidates come from the self-join of shingles with document
       frequency ≤ NGRAM_MAX_DF only — a stop-shingle appearing in d docs
       would otherwise contribute O(d²) join rows (the classic
       quadratic blowup). Contract: a pair is reported only if it
       shares at least one rare shingle; pairs whose overlap is
       entirely stop-shingles are (deliberately) not candidates.
    2. The exact intersection is computed per CANDIDATE pair by
       joining the full shingle sets through the pair list — shuffle
       keys are (a_id) then (b_id, shingle), never a raw hot shingle —
       so the reported Jaccard itself is exact, over ALL shingles.
    """
    docs = documents if max_doc_id is None else documents.where(F.col("doc_id") < max_doc_id)
    sh = shingles(docs, k)
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n_shingles"))
    # document frequency via groupBy + join, NOT a frameless window: the
    # partial counts combine map-side, and a stop-shingle is dropped from
    # the join's build side before any of its rows fan out — a
    # Window.partitionBy("shingle") would instead route the hot key's
    # entire row set through one task just to discard it
    rare_shingles = (
        sh.groupBy("shingle")
        .agg(F.count("*").alias("df"))
        .where(F.col("df") <= NGRAM_MAX_DF)
        .select("shingle")
    )
    rare = sh.join(rare_shingles, "shingle")
    a = rare.alias("a")
    b = rare.alias("b")
    cand = (
        a.join(b, (F.col("a.shingle") == F.col("b.shingle")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .select(F.col("a.doc_id").alias("a_id"), F.col("b.doc_id").alias("b_id"))
        .distinct()
    )
    inter = (
        cand.join(sh.select(F.col("doc_id").alias("a_id"), "shingle"), "a_id")
        .join(sh.select(F.col("doc_id").alias("b_id"), "shingle"), ["b_id", "shingle"])
        .groupBy("a_id", "b_id")
        .agg(F.count("*").alias("n_inter"))
    )
    sa = sizes.select(F.col("doc_id").alias("a_id"), F.col("n_shingles").alias("na"))
    sb = sizes.select(F.col("doc_id").alias("b_id"), F.col("n_shingles").alias("nb"))
    # no broadcast hint on the size joins: `sizes` is one row per DOC —
    # unbounded at corpus scale — while the candidate-pair side is the
    # small one; AQE picks the broadcast direction from runtime sizes
    return (
        inter.join(sa, "a_id")
        .join(sb, "b_id")
        .select(
            "a_id",
            "b_id",
            F.round(
                F.col("n_inter") / (F.col("na") + F.col("nb") - F.col("n_inter")), 4
            ).alias("jaccard"),
        )
        .where(F.col("jaccard") >= threshold)
    )


def minhash_wide(
    documents: DataFrame, k_shingle: int = 8, n_hashes: int = 8
) -> DataFrame:
    """k seeded affine min-hashes over shingle hashes, one column per
    hash — a single map-side-combinable aggregation (one shuffle on
    doc_id), no per-hash row explosion. Duplicate shingles are kept
    (min is duplicate-insensitive), skipping the distinct() shuffle."""
    sh = shingles(documents, k_shingle, distinct=False)
    # stage the md5 through its own select so it is evaluated ONCE per
    # shingle; inlining it into all n_hashes projections re-evaluates
    # the hash n_hashes times (no CSE across aggregate expressions)
    hashed = sh.select("doc_id", _md5_int(F.col("shingle")).alias("hv"))
    h = F.col("hv")
    projected = hashed.select(
        "doc_id",
        *[
            (((2 * i + 1) * h + (7 * i + 3)) % MERSENNE).alias(f"hv{i}")
            for i in range(n_hashes)
        ],
    )
    return projected.groupBy("doc_id").agg(
        *[F.min(f"hv{i}").alias(f"mh{i}") for i in range(n_hashes)]
    )


def minhash_lsh_pairs(
    documents: DataFrame,
    k_shingle: int = 8,
    n_hashes: int = 8,
    band_size: int = 2,
    max_doc_id: int | None = None,
) -> DataFrame:
    """Candidate near-duplicate pairs sharing any LSH band bucket.

    Band signatures are string-assembled directly from the wide minhash
    row (no second aggregation); the only joins are the band-bucket
    self-join, whose keys are bounded by band cardinality.
    """
    docs = documents if max_doc_id is None else documents.where(F.col("doc_id") < max_doc_id)
    wide = minhash_wide(docs, k_shingle, n_hashes)
    n_bands = n_hashes // band_size
    band_structs = []
    for b in range(n_bands):
        # same signature text as sort_array(collect_list("h:min")) joined
        # by "_": h_idx values inside one band are consecutive and
        # single-digit, so lexicographic == numeric order
        parts = []
        for j in range(b * band_size, (b + 1) * band_size):
            parts.append(F.concat_ws(":", F.lit(j), F.col(f"mh{j}")))
        band_structs.append(
            F.struct(F.lit(b).alias("band"), F.concat_ws("_", *parts).alias("band_sig"))
        )
    bands = wide.select(
        "doc_id", F.explode(F.array(*band_structs)).alias("e")
    ).select("doc_id", "e.band", "e.band_sig")
    a = bands.alias("a")
    b = bands.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.band_sig") == F.col("b.band_sig"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("a_id"), F.col("b.doc_id").alias("b_id"))
        .distinct()
    )


def simhash_near_dup_pairs(
    documents: DataFrame,
    n_bits: int = 16,
    n_bands: int = 4,
    max_hamming: int = 3,
) -> DataFrame:
    """Near-duplicate pairs by simhash Hamming distance ≤ max_hamming.

    Banded LSH over the signature bits: two signatures differing in at
    most d bits must agree EXACTLY on at least one band when
    n_bands > d (pigeonhole) — so candidates come from equi-joins on
    (band, band_bits), never an all-pairs scan, and the exact Hamming
    check (bit_count of xor, JVM built-in) runs only on candidates.
    Requires n_bands > max_hamming for completeness.
    """
    if n_bands <= max_hamming:
        raise ValueError("need n_bands > max_hamming for pigeonhole completeness")
    if n_bits % n_bands:
        raise ValueError("n_bits must divide evenly into n_bands")
    width = n_bits // n_bands
    sig = simhash(documents, n_bits)
    bands = sig.select(
        "doc_id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.shiftright("simhash", b * width)
                        .bitwiseAND(F.lit((1 << width) - 1))
                        .alias("band_bits"),
                    )
                    for b in range(n_bands)
                ]
            )
        ).alias("e"),
    ).select("doc_id", "simhash", "e.band", "e.band_bits")
    a = bands.alias("a")
    b = bands.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.band_bits") == F.col("b.band_bits"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("a_id"),
            F.col("b.doc_id").alias("b_id"),
            F.col("a.simhash").alias("sig_a"),
            F.col("b.simhash").alias("sig_b"),
        )
        .distinct()
    )
    hamming = F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b")))
    return cand.select(
        "a_id", "b_id", hamming.cast("int").alias("hamming")
    ).where(F.col("hamming") <= max_hamming)


def simhash(documents: DataFrame, n_bits: int = 16) -> DataFrame:
    """Sign-aggregated token-hash simhash signature per document.

    For each bit b: sum over tokens of (bit b of md5-hash ? +1 : -1);
    signature bit = 1 iff the sum > 0. Pure built-ins: explode tokens,
    explode bits, conditional aggregate, bit-recombine.
    """
    from .spread import spread_input

    toks = spread_input(documents).select(
        "doc_id", F.explode(F.split(F.lower("text"), r"\s+")).alias("tok")
    ).where(F.length("tok") > 0)
    h = _md5_int(F.col("tok"))
    # one wide aggregation: per-bit signed sums as n_bits columns (no
    # per-bit row explosion, single shuffle on doc_id)
    projected = toks.select(
        "doc_id",
        *[
            (F.shiftright(h, b).bitwiseAND(F.lit(1)) * 2 - 1).alias(f"w{b}")
            for b in range(n_bits)
        ],
    )
    sums = projected.groupBy("doc_id").agg(
        *[F.sum(f"w{b}").alias(f"s{b}") for b in range(n_bits)]
    )
    sig = None
    for b in range(n_bits):
        bit = F.when(F.col(f"s{b}") > 0, F.lit(1 << b).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
        sig = bit if sig is None else sig + bit
    return sums.select("doc_id", sig.alias("simhash"))


def jaccard_verify_pairs(
    documents: DataFrame,
    pairs: DataFrame,
    k: int = 8,
    threshold: float = 0.5,
) -> DataFrame:
    """Exact n-gram Jaccard for a GIVEN candidate pair list (a_id, b_id):
    keeps pairs with jaccard >= threshold. The verification stage between
    LSH candidates and clustering — raw band-bucket candidates chained
    through connected components over-merge wildly (a candidate is a
    hash coincidence, not a measured similarity).

    Same hot-key-safe shape as ngram_jaccard_pairs phase 2: the exact
    intersection joins the full shingle sets THROUGH the pair list, so
    shuffle keys are (a_id) then (b_id, shingle) — never a raw hot
    shingle. Jaccard is ROUND(4)-quantized before the threshold so the
    decision hashes identically across engines."""
    sh = shingles(documents, k)
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n_shingles"))
    # distinct is load-bearing: a duplicated candidate row would join
    # every shared shingle twice, doubling n_inter against fixed na/nb
    # and inflating the Jaccard past the threshold (even past 1.0)
    cand = pairs.select("a_id", "b_id").distinct()
    inter = (
        cand.join(sh.select(F.col("doc_id").alias("a_id"), "shingle"), "a_id")
        .join(sh.select(F.col("doc_id").alias("b_id"), "shingle"), ["b_id", "shingle"])
        .groupBy("a_id", "b_id")
        .agg(F.count("*").alias("n_inter"))
    )
    sa = sizes.select(F.col("doc_id").alias("a_id"), F.col("n_shingles").alias("na"))
    sb = sizes.select(F.col("doc_id").alias("b_id"), F.col("n_shingles").alias("nb"))
    return (
        inter.join(sa, "a_id")
        .join(sb, "b_id")
        .where(
            F.round(
                F.col("n_inter") / (F.col("na") + F.col("nb") - F.col("n_inter")), 4
            )
            >= threshold
        )
        .select("a_id", "b_id")
    )


def connected_components(pairs: DataFrame) -> DataFrame:
    """Distributed connected components over an undirected (a_id, b_id)
    pair list: (node, component) with component = the MIN node id of
    the component.

    Iterated min-label propagation with pointer jumping — all
    groupBy/join rounds, no driver-side data:

      1. propagate:    lbl[n] ← min(lbl[n], min over neighbors' lbl)
      2. pointer-jump: lbl[n] ← lbl[lbl[n]]   (path doubling)

    Pointer jumping makes convergence O(log diameter) rounds instead of
    O(diameter) — a chain component of length L resolves in ~log2(L)
    rounds. Each round is materialized (truncating the plan tree:
    iterative lineage otherwise re-executes every prior round per
    action and the plan grows unboundedly); the per-round convergence
    check is a scalar count, never a collect of data.

    Fixpoint argument: when no label changes, min(lbl[n], neighbor
    lbls) == lbl[n] for every n simultaneously, so lbl is constant
    along every edge ⇒ constant per component; the component's min id
    keeps its own label throughout (labels only decrease, never below
    the component min), so the constant is the min id.

    At 100-TB scale the labels table is one row per node in the pair
    graph (≪ corpus: only docs with near-dup candidates) and every
    round is two shuffles on node id — the same key end to end, so AQE
    reuses the partitioning.

    A round is materialized with ``checkpoint()`` when the session has
    a checkpoint directory (``spark.sparkContext.setCheckpointDir`` —
    durable storage, so a lost executor replays from the FS copy), and
    with ``localCheckpoint()`` otherwise: executor-local blocks, zero
    FS round-trips, right for single-host runs and static clusters.
    """
    durable = pairs.sparkSession.sparkContext.getCheckpointDir() is not None

    def _materialize(df: DataFrame) -> DataFrame:
        return df.checkpoint(eager=True) if durable else df.localCheckpoint(eager=True)

    # checkpoint edges FIRST, then derive labels from the checkpointed
    # edges: deriving labels from the raw plan would execute the whole
    # upstream pair pipeline (LSH joins, Jaccard verification, winnowing)
    # a second time — measured 2× the operator's wall on a 20k-doc corpus
    edges = _materialize(
        pairs.select(F.col("a_id").alias("u"), F.col("b_id").alias("v"))
        .unionByName(pairs.select(F.col("b_id").alias("u"), F.col("a_id").alias("v")))
        .distinct()
    )
    labels = _materialize(
        edges.select(F.col("u").alias("node"))
        .distinct()
        .select("node", F.col("node").alias("lbl"))
    )
    for _ in range(MAX_ITER):
        nbr_min = (
            edges.join(labels, edges.v == labels.node)
            .groupBy("u")
            .agg(F.min("lbl").alias("nbr_lbl"))
        )
        prop = (
            labels.join(nbr_min, labels.node == nbr_min.u, "left")
            .select(
                "node",
                F.least(
                    "lbl", F.coalesce("nbr_lbl", F.col("lbl"))
                ).alias("lbl"),
                F.col("lbl").alias("old_lbl"),
            )
        )
        # pointer jump: lbl[n] <- lbl[lbl[n]] (lbl values are node ids of
        # the same component, so the lookup always hits)
        jump = labels.select(
            F.col("node").alias("j_node"), F.col("lbl").alias("j_lbl")
        )
        new_labels = _materialize(
            prop.join(jump, prop.lbl == jump.j_node, "left")
            .select(
                "node",
                F.least("lbl", F.coalesce("j_lbl", F.col("lbl"))).alias("lbl"),
                "old_lbl",
            )
        )
        changed = new_labels.where(F.col("lbl") != F.col("old_lbl")).limit(1).count()
        labels = new_labels.drop("old_lbl")
        if changed == 0:
            return labels.select("node", F.col("lbl").alias("component"))
    raise RuntimeError(
        f"connected_components did not converge in {MAX_ITER} rounds "
        "(pointer-jumped min propagation needs ~log2(diameter))"
    )


def dedup_groups(documents: DataFrame) -> DataFrame:
    """Resolve near-dup PAIRS into dedup groups with one survivor each:
    (doc_id, component_id, keep) for EVERY document.

    The final stage of a production fuzzy dedup: the pair operators
    (minhash_lsh_pairs, simhash_near_dup_pairs, winnow_dup_pairs) emit
    edges; this resolves the union of those edges into connected
    components and picks the min-doc_id member as the canonical
    survivor (keep = True). Docs in no pair are their own singleton
    component (keep = True); the training corpus is `WHERE keep`.

    Edge quality matters here more than anywhere: transitive closure
    amplifies false edges, so UNVERIFIED minhash band candidates (hash
    coincidences) would chain whole corpora into one component. The
    minhash candidates are therefore verified with exact n-gram
    Jaccard >= 0.5 before clustering (jaccard_verify_pairs); simhash
    pairs carry their own exact Hamming verification and winnow pairs
    their >= min_shared rare-fingerprint requirement already.
    """
    mh = jaccard_verify_pairs(
        documents, minhash_lsh_pairs(documents, 8, 8, 2).select("a_id", "b_id"),
        k=8, threshold=0.5,
    )
    pairs = (
        mh
        .unionByName(
            simhash_near_dup_pairs(
                documents, n_bits=32, n_bands=4, max_hamming=3
            ).select("a_id", "b_id")
        )
        .unionByName(
            winnow_dup_pairs(
                documents, k=8, window=4, min_shared=5, max_df=25
            ).select("a_id", "b_id")
        )
    )
    comp = connected_components(pairs)
    return (
        documents.select("doc_id")
        .join(comp, documents.doc_id == comp.node, "left")
        .select(
            "doc_id",
            F.coalesce("component", F.col("doc_id")).alias("component_id"),
        )
        .withColumn("keep", F.col("doc_id") == F.col("component_id"))
    )


def winnow_dup_pairs(
    documents: DataFrame,
    k: int = 8,
    window: int = 4,
    min_shared: int = 3,
    max_df: int = 50,
) -> DataFrame:
    """Substring-level near-dup pairs: docs sharing >= min_shared
    winnowing fingerprints (text.winnow_fingerprints). By the SWA
    guarantee every common substring of length >= k + window - 1
    contributes at least one shared fingerprint, so this surfaces
    copied PASSAGES that whole-document Jaccard/minhash dilute away —
    the "exact substring dedup" stage of a training pipeline.

    Scale shape: fingerprints with document frequency > max_df are
    stop-fingerprints (boilerplate shared by everything) and are
    dropped via a map-side-combinable groupBy+join BEFORE the
    self-join, bounding every join block to <= max_df rows per fp —
    the fan-out is O(sum_fp min(df, max_df)^2), never O(corpus^2).
    Output: (a_id, b_id, n_shared).
    """
    from .text import winnow_fingerprints

    # explicit doc_id non-null filter so the fingerprint subtree is
    # IDENTICAL in all plan legs: the self-join legs infer
    # isnotnull(doc_id) from the join condition while the df-gate leg
    # does not, and that one-filter difference defeats AQE exchange
    # reuse — the whole gram+md5+window chain then executes twice
    # instead of once (doc_id is the non-null key of the documents
    # contract, so the filter itself drops nothing)
    fps = winnow_fingerprints(
        documents.where(F.col("doc_id").isNotNull()), k=k, window=window
    )
    rare = fps.join(
        fps.groupBy("fp")
        .agg(F.count("*").alias("df"))
        .where(F.col("df") <= max_df)
        .select("fp"),
        "fp",
    )
    a = rare.alias("a")
    b = rare.alias("b")
    return (
        a.join(
            b,
            (F.col("a.fp") == F.col("b.fp"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("a_id"), F.col("b.doc_id").alias("b_id")
        )
        .agg(F.count("*").alias("n_shared"))
        .where(F.col("n_shared") >= min_shared)
    )
