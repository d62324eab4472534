"""Similarity search over embedding columns (array<float>).

- brute-force cosine top-k: exact baseline. The query side is small and
  broadcast; the corpus side streams — one wide scan, no shuffle of the
  corpus. Dot products run JVM-side via zip_with + aggregate.
- LSH (random hyperplane) bucketing: the scale path — each vector maps
  to a sign-bit signature; candidates share a bucket, so the quadratic
  pair space shrinks to per-bucket blocks. Hyperplane components are
  deterministic md5-derived ±1 values so Spark and the SQL oracle agree
  bit-for-bit.
- embedding cosine near-dup: pairs above a cosine threshold within LSH
  buckets.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame, functions as F

from .spread import spread_input

MAX_BUCKET = 100000  # LSH (tbl, bucket) blocks larger than this make no candidates
PQ_M_SUB = 4  # product quantization: subvectors per embedding
PQ_K_CODES = 16  # product quantization: codebook entries per subvector


def _plane_components(p: int, dim: int) -> list[float]:
    """Plane p's ±1 components for dimensions 0..dim-1, evaluated in
    Python at PLAN-BUILD time. Bit-identical to the in-plan expression
    conv(substring(md5(concat_ws('_', p, d)), 1, 2), 16, 10) % 2 * 2 - 1
    the SQL oracle uses (same md5 over the same 'p_d' string), but
    computed once per plan instead of dim×planes md5 calls PER ROW —
    the former per-row construction spent more time rebuilding the
    constant plane matrix than taking the dot products."""
    return [
        float((int(hashlib.md5(f"{p}_{d}".encode()).hexdigest()[:2], 16) % 2) * 2 - 1)
        for d in range(dim)
    ]


def _embedding_dim(embeddings: DataFrame) -> int:
    """Dimension of the embedding column: one single-row scalar fetch
    at plan-build time (the embeddings contract is fixed-dim). Empty
    input returns 0 — every downstream plan is empty anyway."""
    row = embeddings.select(F.size("embedding").alias("d")).first()
    return 0 if row is None or row["d"] is None else int(row["d"])


def _cosine(a, b):
    # cast BEFORE multiplying: float32 products would drift vs the
    # double-precision oracle
    dot = F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    na = F.sqrt(
        F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v.cast("double") * v.cast("double"))
    )
    nb = F.sqrt(
        F.aggregate(b, F.lit(0.0), lambda acc, v: acc + v.cast("double") * v.cast("double"))
    )
    return dot / (na * nb)


def knn_brute_cosine(
    embeddings: DataFrame, n_queries: int = 8, k: int = 5
) -> DataFrame:
    """Exact top-k cosine neighbors for the first n_queries vectors.

    Ties break deterministically by (score desc, neighbor id asc) on the
    ROUNDED score so ordering is stable across engines.
    """
    from pyspark.sql.window import Window

    q = embeddings.where(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qe")
    )
    # spread the streamed corpus side: the per-pair cosine below is the
    # expensive part and an unsplittable source would run it in 1 task
    c = spread_input(embeddings).select(
        F.col("vec_id").alias("nid"), F.col("embedding").alias("ne")
    )
    scored = (
        F.broadcast(q)
        .join(c, F.col("qid") != F.col("nid"))
        .select("qid", "nid", F.round(_cosine(F.col("qe"), F.col("ne")), 4).alias("score"))
    )
    w = Window.partitionBy("qid").orderBy(F.col("score").desc(), F.col("nid").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("qid", "rank", "nid", "score")
    )


def lsh_band_buckets(
    embeddings: DataFrame, n_tables: int = 4, band_size: int = 4
) -> DataFrame:
    """Banded multi-table LSH buckets: (vec_id, tbl, bucket).

    Table t owns planes [t*band_size, (t+1)*band_size); its bucket is
    the band's sign-bit signature. Multi-table = recall (a near pair
    only needs to agree on ONE full band); band_size = block size
    control (2^band_size buckets per table). Plane p's component for
    dimension d is md5("p_d")-derived ±1 (_plane_components), the same
    construction the SQL oracle writes, so buckets are engine-portable
    without shipping plane matrices.

    At corpus scale this replaces single-table bucketing whose
    2^n_planes buckets produce quadratic per-bucket blocks; here each
    table's bucket count and each bucket's size are independently
    tunable, and `_cap_buckets` bounds the worst block.
    """
    e = F.col("embedding")
    # constant plane matrix as literal arrays (see _plane_components):
    # one Python evaluation per plan instead of dim×planes md5s per row
    dim = max(_embedding_dim(embeddings), 1)
    tables = []
    for t in range(n_tables):
        sig = None
        for j in range(band_size):
            comp = F.lit(_plane_components(t * band_size + j, dim))
            dot = F.aggregate(
                F.zip_with(e, comp, lambda x, c: x.cast("double") * c),
                F.lit(0.0),
                lambda acc, v: acc + v,
            )
            bit = F.when(dot > 0, F.lit(1)).otherwise(F.lit(0)) * (2**j)
            sig = bit if sig is None else sig + bit
        tables.append(F.struct(F.lit(t).alias("tbl"), sig.cast("int").alias("bucket")))
    return spread_input(embeddings).select(
        "vec_id", F.explode(F.array(*tables)).alias("e")
    ).select("vec_id", "e.tbl", "e.bucket")


def _cap_buckets(buckets: DataFrame) -> DataFrame:
    """Drop (tbl, bucket) blocks of more than MAX_BUCKET vectors: a
    degenerate bucket (all-zero vectors, constant embeddings) would
    otherwise reintroduce the quadratic pair blowup the bucketing
    exists to prevent. Dropped buckets lose candidates by design — the
    multi-table layout gives those pairs other chances."""
    # bucket sizes via groupBy + join (map-side-combinable partial
    # counts), NOT a frameless window that would route every row of a
    # degenerate bucket through one task before the filter discards them
    small = (
        buckets.groupBy("tbl", "bucket")
        .agg(F.count("*").alias("bsz"))
        .where(F.col("bsz") <= MAX_BUCKET)
        .select("tbl", "bucket")
    )
    return buckets.join(small, ["tbl", "bucket"])


def knn_lsh_cosine(
    embeddings: DataFrame,
    n_queries: int = 8,
    k: int = 5,
    n_tables: int = 4,
    band_size: int = 4,
) -> DataFrame:
    """ANN: exact cosine restricted to vectors sharing any LSH band
    bucket with the query (multi-table union improves recall)."""
    from pyspark.sql.window import Window

    bk = _cap_buckets(lsh_band_buckets(embeddings, n_tables, band_size))
    qb = bk.where(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("qid"), "tbl", "bucket"
    )
    cand = (
        F.broadcast(qb)
        .join(bk.select(F.col("vec_id").alias("nid"), "tbl", "bucket"), ["tbl", "bucket"])
        .where(F.col("qid") != F.col("nid"))
        .select("qid", "nid")
        .distinct()
    )
    q = embeddings.select(F.col("vec_id").alias("qid"), F.col("embedding").alias("qe"))
    c = spread_input(embeddings).select(
        F.col("vec_id").alias("nid"), F.col("embedding").alias("ne")
    )
    scored = (
        cand.join(F.broadcast(q), "qid")
        .join(c, "nid")
        .select("qid", "nid", F.round(_cosine(F.col("qe"), F.col("ne")), 4).alias("score"))
    )
    w = Window.partitionBy("qid").orderBy(F.col("score").desc(), F.col("nid").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("qid", "rank", "nid", "score")
    )


def _lloyd_mean_update(
    elems: DataFrame, keys: list[str], prev: DataFrame,
    centroid_round: int | None,
) -> DataFrame:
    """One Lloyd mean step of the PQ refiner: per-key element-wise mean
    of assigned member positions (optionally quantized for cross-engine
    reproducibility), empty cells keep the previous centroid, lineage
    truncated per iteration.

    elems: (*keys, pos, v) exploded member positions; prev: the
    (*keys, ce) table being refined."""
    mean_v = F.avg(F.col("v").cast("double"))
    if centroid_round is not None:
        mean_v = F.round(mean_v, centroid_round)
    means = elems.groupBy(*keys, "pos").agg(mean_v.alias("mv"))
    new_ce = means.groupBy(*keys).agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "mv"))),
            lambda s: s["mv"],
        ).alias("nce")
    )
    return (
        prev.join(new_ce, keys, "left")
        .select(*keys, F.coalesce("nce", "ce").alias("ce"))
        .localCheckpoint(eager=True)  # truncate per-iteration lineage
    )


def ivf_assign(
    embeddings: DataFrame, n_centroids: int
) -> tuple[DataFrame, DataFrame]:
    """IVF coarse quantizer: deterministic centroids + nearest-centroid
    assignment.

    Centroids are the first n_centroids vectors by vec_id — a
    deterministic, engine-portable choice.

    Returns (centroids, assignments) where assignments = (vec_id,
    centroid_id): one broadcast join + per-row argmax over n_centroids
    cosines, all JVM built-ins.
    """
    from pyspark.sql.window import Window

    # spread an under-split source once: the per-row n_centroids-cosine
    # argmax below otherwise runs in one task for a single-split input
    embeddings = spread_input(embeddings)

    cents = embeddings.where(F.col("vec_id") < n_centroids).select(
        F.col("vec_id").alias("centroid_id"), F.col("embedding").alias("ce")
    )
    # dim guard: a centroid of another length (a ragged embedding
    # column) would null-pad every cosine into NULL and rank garbage
    sim = F.when(
        F.size("embedding") == F.size("ce"),
        F.round(_cosine(F.col("embedding"), F.col("ce")), 6),
    ).otherwise(
        F.assert_true(
            F.lit(False),
            "centroid dimension != embedding dimension",
        ).cast("double")
    )
    scored = embeddings.crossJoin(F.broadcast(cents)).select(
        "vec_id", "centroid_id", sim.alias("sim")
    )
    w_ = Window.partitionBy("vec_id").orderBy(
        F.col("sim").desc(), F.col("centroid_id").asc()
    )
    return cents, (
        scored.withColumn("rn", F.row_number().over(w_))
        .where("rn = 1")
        .select("vec_id", "centroid_id")
    )


def knn_ivf_cosine(
    embeddings: DataFrame,
    n_queries: int = 8,
    k: int = 5,
    n_centroids: int = 16,
    n_probe: int = 4,
) -> DataFrame:
    """IVF ANN: exact cosine restricted to the query's n_probe nearest
    centroid cells. The scale path for embedding search when hyperplane
    LSH recall is insufficient: cell sizes are ~N/n_centroids, probes
    bound the scanned fraction to n_probe/n_centroids."""
    from pyspark.sql.window import Window

    cents, assigns = ivf_assign(embeddings, n_centroids)
    q_emb = embeddings.where(F.col("vec_id") < n_queries)
    # query → its n_probe closest centroids
    probed = q_emb.crossJoin(F.broadcast(cents)).select(
        F.col("vec_id").alias("qid"),
        "centroid_id",
        F.round(_cosine(F.col("embedding"), F.col("ce")), 6).alias("sim"),
    )
    wp = Window.partitionBy("qid").orderBy(
        F.col("sim").desc(), F.col("centroid_id").asc()
    )
    probes = (
        probed.withColumn("rn", F.row_number().over(wp))
        .where(f"rn <= {n_probe}")
        .select("qid", "centroid_id")
    )
    cand = (
        F.broadcast(probes)
        .join(assigns.select(F.col("vec_id").alias("nid"), "centroid_id"), "centroid_id")
        .where(F.col("qid") != F.col("nid"))
        .select("qid", "nid")
        .distinct()
    )
    q = embeddings.select(F.col("vec_id").alias("qid"), F.col("embedding").alias("qe"))
    c = spread_input(embeddings).select(
        F.col("vec_id").alias("nid"), F.col("embedding").alias("ne")
    )
    scored = (
        cand.join(F.broadcast(q), "qid")
        .join(c, "nid")
        .select("qid", "nid", F.round(_cosine(F.col("qe"), F.col("ne")), 4).alias("score"))
    )
    w_ = Window.partitionBy("qid").orderBy(F.col("score").desc(), F.col("nid").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w_))
        .where(F.col("rank") <= k)
        .select("qid", "rank", "nid", "score")
    )


def cosine_near_dup_pairs(
    embeddings: DataFrame,
    threshold: float = 0.95,
    n_tables: int = 4,
    band_size: int = 4,
) -> DataFrame:
    """Embedding near-duplicate pairs above a cosine threshold; candidate
    space = pairs sharing any (tbl, bucket), per-bucket size capped."""
    bk = _cap_buckets(lsh_band_buckets(embeddings, n_tables, band_size))
    a = bk.select(F.col("vec_id").alias("a_id"), "tbl", "bucket")
    b = bk.select(F.col("vec_id").alias("b_id"), "tbl", "bucket")
    cand = (
        a.join(b, ["tbl", "bucket"])
        .where(F.col("a_id") < F.col("b_id"))
        .select("a_id", "b_id")
        .distinct()
    )
    ea = embeddings.select(F.col("vec_id").alias("a_id"), F.col("embedding").alias("ae"))
    eb = embeddings.select(F.col("vec_id").alias("b_id"), F.col("embedding").alias("be"))
    return (
        cand.join(ea, "a_id")
        .join(eb, "b_id")
        .select("a_id", "b_id", F.round(_cosine(F.col("ae"), F.col("be")), 4).alias("cosine"))
        .where(F.col("cosine") >= threshold)
    )


def _l2sq(a, b):
    # cast BEFORE subtracting: float32 arithmetic would drift vs the
    # double-precision oracle
    return F.aggregate(
        F.zip_with(
            a,
            b,
            lambda x, y: (x.cast("double") - y.cast("double"))
            * (x.cast("double") - y.cast("double")),
        ),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _pq_assign(sv: DataFrame, cb: DataFrame) -> DataFrame:
    """L2-nearest codebook entry per (vec, subvector): distances
    quantized (ROUND 6) before the argmin with lowest-code tie-break so
    the choice hashes identically across engines."""
    from pyspark.sql.window import Window

    scored = sv.join(F.broadcast(cb), "sub").select(
        "vec_id",
        "sub",
        "code",
        F.round(_l2sq(F.col("xe"), F.col("ce")), 6).alias("d2"),
    )
    w_ = Window.partitionBy("vec_id", "sub").orderBy(
        F.col("d2").asc(), F.col("code").asc()
    )
    return (
        scored.withColumn("rn", F.row_number().over(w_))
        .where("rn = 1")
        .select("vec_id", "sub", "code")
    )


def pq_codes(
    embeddings: DataFrame,
    dim: int,
    refine: int = 0,
    centroid_round: int | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Product-quantization codebooks + codes (deterministic).

    The dim-long vector splits into PQ_M_SUB subvectors of
    dim/PQ_M_SUB dims; the per-subvector SEED codebook is the matching
    slice of the first PQ_K_CODES vectors by vec_id — deterministic and engine-portable, same
    policy as ivf_assign. ``refine`` > 0 runs that many Lloyd (k-means)
    iterations on top: assign codes, recompute each (sub, code)
    centroid as the element-wise mean of its assigned subvectors
    (posexplode → per-position avg → re-assemble), empty clusters keep
    their previous centroid. The refinement is deterministic (means of
    a deterministic assignment) and every step is the same broadcast +
    partial-agg plan shape — no driver-side data.

    Returns (codebooks, codes): codebooks = (sub, code, ce) — tiny,
    broadcastable (PQ_M_SUB * PQ_K_CODES rows); codes = (vec_id, sub,
    code) — the 100-TB payoff: ceil(log2 PQ_K_CODES) bits per subvector instead of
    4 bytes per float dim (64-dim float32 -> 4 uint8 codes is a 16x-
    64x memory cut), so the ADC scan touches codes, never raw vectors.
    The driver's oracle query runs refine=0 (the seed codebook is
    SQL-expressible); refined codebooks are pinned by pytest
    (quantization error must not increase per iteration).
    """
    sub_len, rest = divmod(dim, PQ_M_SUB)
    if rest:
        raise ValueError(f"embedding dimension {dim} is not a multiple of {PQ_M_SUB}")
    # spread an under-split source once: the subvector explode + code
    # assignment below otherwise runs in one task for a 1-split input
    embeddings = spread_input(embeddings)

    subs = F.explode(
        F.transform(
            F.sequence(F.lit(0), F.lit(PQ_M_SUB - 1)),
            lambda s: F.struct(
                s.cast("int").alias("sub"),
                F.slice(F.col("embedding"), s * sub_len + 1, sub_len).alias("v"),
            ),
        )
    ).alias("e")
    cb = (
        embeddings.where(F.col("vec_id") < PQ_K_CODES)
        .select(F.col("vec_id").alias("code"), subs)
        .select("code", "e.sub", F.transform("e.v", lambda x: x.cast("double")).alias("ce"))
    )
    sv = embeddings.select("vec_id", subs).select(
        "vec_id", "e.sub", F.col("e.v").alias("xe")
    )
    if refine > 0:
        # materialize the subvector explode ONCE: each Lloyd iteration
        # re-reads sv (assignment) and chains joins on the previous cb —
        # without the checkpoint the unmaterialized lineage re-executes
        # the explode every iteration and the plan tree grows per round
        # (r03 verdict nit #1)
        sv = sv.localCheckpoint(eager=True)
    for _ in range(refine):
        # quantized centroid means (centroid_round) make the refined
        # assignment reproducible bit-for-bit across engines — used by
        # the cross-engine oracle query
        assigned = sv.join(_pq_assign(sv, cb), ["vec_id", "sub"])
        elems = assigned.select(
            "sub", "code", F.posexplode("xe").alias("pos", "v")
        )
        cb = _lloyd_mean_update(elems, ["sub", "code"], cb, centroid_round)
    codes = _pq_assign(sv, cb)
    return cb, codes


def knn_pq_adc(
    embeddings: DataFrame,
    n_queries: int = 8,
    k: int = 5,
    refine: int = 0,
    centroid_round: int | None = None,
) -> DataFrame:
    """PQ ANN via asymmetric distance computation: approximate
    ||q - x||^2 = sum over subvectors of ||q_s - codebook[code_s(x)]||^2.

    Plan: the per-query lookup table (n_queries * PQ_M_SUB * PQ_K_CODES
    rows — tiny) broadcasts against the LONG code table (N * PQ_M_SUB
    rows of 3 ints), one hash aggregation sums the PQ_M_SUB parts, a per-query
    window ranks. The corpus-sized scan touches ONLY codes: no raw
    vector leaves the codebook/query side, which is what makes the scan
    memory-bound-feasible at 10^11 vectors. Distances are quantized
    (ROUND 4) before ranking, ties broken by nid, so the top-k hashes
    identically across engines.
    """
    from pyspark.sql.window import Window

    dim = _embedding_dim(embeddings)
    sub_len = dim // PQ_M_SUB
    cb, codes = pq_codes(embeddings, dim, refine, centroid_round)
    q_subs = (
        embeddings.where(F.col("vec_id") < n_queries)
        .select(
            F.col("vec_id").alias("qid"),
            F.explode(
                F.transform(
                    F.sequence(F.lit(0), F.lit(PQ_M_SUB - 1)),
                    lambda s: F.struct(
                        s.cast("int").alias("sub"),
                        F.slice(F.col("embedding"), s * sub_len + 1, sub_len).alias("v"),
                    ),
                )
            ).alias("e"),
        )
        .select("qid", "e.sub", F.col("e.v").alias("qe"))
    )
    lut = q_subs.join(cb, "sub").select(
        "qid",
        "sub",
        "code",
        F.round(_l2sq(F.col("qe"), F.col("ce")), 6).alias("pd"),
    )
    approx = (
        codes.join(F.broadcast(lut), ["sub", "code"])
        .where(F.col("qid") != F.col("vec_id"))
        .groupBy("qid", F.col("vec_id").alias("nid"))
        .agg(F.round(F.sum("pd"), 4).alias("dist"))
    )
    w_ = Window.partitionBy("qid").orderBy(F.col("dist").asc(), F.col("nid").asc())
    return (
        approx.withColumn("rank", F.row_number().over(w_))
        .where(F.col("rank") <= k)
        .select("qid", "rank", "nid", "dist")
    )

