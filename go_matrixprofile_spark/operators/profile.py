"""Distributed matrix profile over per-conversation series.

``matrix_profile`` runs each series whole in one task: the series is
assembled to one array row, ``place_series`` range-places the rows on
one wave of tasks, and mapInPandas runs the kernel on each series.
Parallelism comes from the *number of conversations* (the reference's
own thread scaling is flat beyond 2 cores — BASELINE.md — so
cross-series data parallelism is the scaling axis that matters).
Discovery, k-dim MP, pan-MP (``kernels.pmp.PMP``: one profile per
window) and the update check place their series the same way; the
AB-join and MPDist pairs also hand each kernel call whole series.

``matrix_profile_chunked`` splits one long series over several tasks
with SCAMP-style 2-D tiles (Zimmerman et al., SoCC 2019), so no row
holds a whole series; its docstring has the plan.

Output schema (FIXTURES.md A.2):
  mp_profile(conv_id, metric, w int, offset int, mp double, idx int)
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F
from pyspark.sql import types as T

from ..kernels.kmp import KMP
from ..kernels.matrix_profile import MatrixProfile, MPOpts, mpdist
from ..kernels.pmp import PMP
from ..kernels.util import binary_split

MP_SCHEMA = T.StructType(
    [
        T.StructField("conv_id", T.StringType(), False),
        T.StructField("metric", T.StringType(), False),
        T.StructField("w", T.IntegerType(), False),
        T.StructField("offset", T.IntegerType(), False),
        T.StructField("mp", T.DoubleType(), True),
        T.StructField("idx", T.LongType(), True),
    ]
)

def cpu_partitions(df: DataFrame) -> int:
    """Partition count for CPU-heavy Arrow-UDF stages: one task per core,
    so the stage runs in one wave.

    Every Python task pays a fixed start-up cost even when it gets no
    rows, and more tasks than cores adds waves of that cost, not
    parallelism. On a 4-vCPU host it was ~130-165 ms a task with Spark's
    own worker daemon: before each task PySpark invalidates the import
    caches, and every cached zipimporter then re-reads its archive's
    directory (a dozen over pyspark.zip, two over the spark-core jar).
    Local sessions start their workers from ``worker_daemon``, which
    imports the installed pyspark tree instead, and an empty one-wave
    stage at local[3] fell from ~0.37 s to ~0.13 s.

    AQE sizes partitions by shuffle BYTES, the wrong currency for
    stages whose cost is compute per row: it coalesces a few-MB shuffle
    to ONE partition and serializes every kernel. An explicit numbered
    repartition is exempt from AQE coalescing."""
    return df.sparkSession.sparkContext.defaultParallelism


def assemble_series(series: DataFrame, repartition: bool = True) -> DataFrame:
    """Collapse a long-format series table to one array row per
    (conv_id, metric), sorted by bucket.

    This runs entirely JVM-side (shuffle + array_sort + transform), so
    the per-conv exchange ships compact array rows instead of millions
    of long-format rows through the Arrow/pandas boundary — measured
    ~2-3x faster end-to-end for the MP operators.

    Plan shape (r06): the kernel-width repartition keys on conv_id
    ONLY. The aggregation's ClusteredDistribution((conv_id, metric)) is
    satisfied by hashpartitioning(conv_id), so the explicit numbered
    exchange (exempt from AQE byte-coalescing — see cpu_partitions) is
    REUSED by the aggregation and the long rows cross exactly one
    exchange; the former (conv_id, metric) repartition key was NOT
    reusable whenever metric was a constant-folded literal (Catalyst
    aliases the folded literal into a fresh grouping attribute the
    partitioning does not match), which silently doubled the shuffle.
    Callers that do their own downstream repartition pass
    repartition=False. The aggregate is SQL text: one py4j call, not
    one per Column node."""
    src = (
        series.repartition(cpu_partitions(series), "conv_id")
        if repartition
        else series
    )
    return src.groupBy("conv_id", "metric").agg(
        F.expr(
            "transform(array_sort(collect_list(struct(bucket_s, `value` AS v))), "
            "s -> s.v) AS vals"
        )
    )


def place_series(rows: DataFrame, *keys: str) -> DataFrame:
    """Place one-row-per-series input (array rows, keyed by `keys`,
    default (conv_id, metric)) on the tasks of a Python kernel stage.

    A range exchange on the keys into cpu_partitions: one wave of
    tasks, each a contiguous key range, balanced by series count and
    the same on every run. A fleet of k <= cores series gets k separate
    tasks (a range exchange never makes more partitions than there are
    distinct keys). Round-robin from a random start per input
    partition, and a hash exchange, both put 2 series in one task
    whenever they collide: on 3 x 16k series at local[3], hash took
    0.84 s against 0.64 s for range. The rows must be one per series:
    range bounds come from a row sample, so on long-format points they
    split unevenly and put neighbouring series together. The exchange
    evaluates its input twice: one extra job samples the range bounds
    (behind assemble_series, the assembly aggregation runs twice)."""
    keys = keys or ("conv_id", "metric")
    return rows.repartitionByRange(cpu_partitions(rows), *keys)


def matrix_profile(
    series: DataFrame,
    w: int,
    opts: MPOpts | None = None,
) -> DataFrame:
    """Self-join MP per (conv_id, metric); series shorter than w+1 are
    skipped (no profile defined). Series are assembled to array rows
    JVM-side; the NumPy kernel sees one row per conversation."""
    return matrix_profile_assembled(assemble_series(series), w, opts)


def matrix_profile_assembled(
    assembled: DataFrame,
    w: int,
    opts: MPOpts | None = None,
) -> DataFrame:
    """MP over pre-assembled array rows (conv_id, metric, vals) — the
    entry point when series are already stored array-per-conv (e.g. a
    materialized tier), skipping the assembly shuffle. The array rows
    are placed on the kernel tasks by place_series."""
    opts = opts or MPOpts()

    def kernel(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            for row in pdf.itertuples(index=False):
                vals = np.asarray(row.vals, dtype=np.float64)
                if vals.size < w + 1:
                    continue
                mp = MatrixProfile(vals, None, w).compute(opts)
                n = mp.mp.size
                yield pd.DataFrame(
                    {
                        "conv_id": row.conv_id,
                        "metric": row.metric,
                        "w": np.int32(w),
                        "offset": np.arange(n, dtype=np.int32),
                        "mp": mp.mp,
                        "idx": mp.idx,
                    }
                )

    return place_series(assembled).mapInPandas(kernel, MP_SCHEMA)


def chunked_tile_inputs(src: DataFrame, w: int, k: int) -> DataFrame:
    """Build the bounded tile-task table for the chunked matrix profile.

    src: (conv_id, metric, bucket_s, value). Output: one row per
    upper-triangular tile (conv_id, metric, r, c, row_vals, col_vals,
    len_a, t_width) where each vals array is bounded by t_width + w - 1
    points — never the whole series. ``k`` tiles per side: t_width =
    max(ceil(len_a / k), w), so each conversation gets k(k+1)/2 tiles.
    Stages: window-sort positions, assign each point to the ≤2
    overlapping segments that need it, aggregate segments to bounded
    array rows, cross the tile list with the two segments per tile via
    equi-joins. All built-ins; the only shuffles are the position sort,
    the segment aggregation, and the two segment joins — each keyed on
    bounded (conv, metric, seg) keys.
    """
    from pyspark.sql.window import Window

    by_series = Window.partitionBy("conv_id", "metric")
    pts = src.select(
        "conv_id",
        "metric",
        "value",
        (F.row_number().over(by_series.orderBy("bucket_s")) - 1).cast("long").alias("pos"),
        F.count("*").over(by_series).alias("n"),
    ).where(F.col("n") >= w + 1)
    # tile width floored at w so the two-candidate segment assignment
    # below stays valid (w - 1 <= T)
    pts = pts.withColumn("len_a", F.col("n") - w + 1).withColumn(
        "t_width",
        F.greatest(F.ceil((F.col("n") - w + 1) / k).cast("long"), F.lit(w)),
    )
    # point at pos p feeds segment s iff s*T <= p < (s+1)*T + w - 1:
    # candidates are p//T and p//T - 1 (the latter iff p mod T < w - 1)
    s_hi = (F.col("pos") / F.col("t_width")).cast("long")
    seg_candidates = F.array(
        F.when(s_hi < F.ceil(F.col("len_a") / F.col("t_width")).cast("long"), s_hi),
        F.when((s_hi >= 1) & (F.col("pos") % F.col("t_width") < w - 1), s_hi - 1),
    )
    seg_pts = pts.select(
        "conv_id",
        "metric",
        "value",
        "pos",
        "len_a",
        "t_width",
        F.explode(F.filter(seg_candidates, lambda s: s.isNotNull())).alias("seg"),
    )
    segments = seg_pts.groupBy("conv_id", "metric", "seg").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "value"))), lambda s: s["value"]
        ).alias("vals"),
        F.first("len_a").alias("len_a"),
        F.first("t_width").alias("t_width"),
    )

    # tile list: (conv, metric, r, c) for 0 <= r <= c < n_segs
    convs = segments.groupBy("conv_id", "metric").agg(F.max("seg").alias("max_seg"))
    tiles = convs.select(
        "conv_id",
        "metric",
        F.explode(F.sequence(F.lit(0), F.col("max_seg"))).alias("r"),
        "max_seg",
    ).select(
        "conv_id",
        "metric",
        "r",
        F.explode(F.sequence(F.col("r"), F.col("max_seg"))).alias("c"),
    )
    row_seg = segments.select(
        "conv_id",
        "metric",
        F.col("seg").alias("r"),
        F.col("vals").alias("row_vals"),
        "len_a",
        "t_width",
    )
    col_seg = segments.select(
        "conv_id", "metric", F.col("seg").alias("c"), F.col("vals").alias("col_vals")
    )
    # round-robin: tile rows are uniform-cost kernel tasks; even spread
    # beats by-key hashing (collisions idle ~1/e of the slots) and the
    # tile kernel needs no key clustering
    return (
        tiles.join(row_seg, ["conv_id", "metric", "r"])
        .join(col_seg, ["conv_id", "metric", "c"])
        .repartition(cpu_partitions(src))
    )


def matrix_profile_chunked(
    series: DataFrame,
    w: int,
    n_batches: int = 8,
    opts: MPOpts | None = None,
) -> DataFrame:
    """MPX with intra-series parallelism via SCAMP-style 2-D tiles.

    The distance matrix's upper triangle is tiled into k×k blocks
    (k(k+1)/2 ≈ n_batches tasks per conv); each tile task receives ONLY
    the two overlapping series segments its block touches — O(T + w)
    points each — instead of the whole series. Shuffle volume is
    O(k·n) per conv (vs B·n for the old exploded-array plan) and no
    single row ever holds the full series, so a 10^8-point conversation
    no longer approaches Spark's 2 GiB row ceiling.

    Stages: (1) window-sort positions per conv, (2) assign each point
    to the ≤2 segments that need it (built-ins: explode over a filtered
    candidate array), (3) aggregate each segment to one bounded array
    row, (4) build the tile list and equi-join the two segments per
    tile, (5) kernel task computes the tile partial in Pearson space
    (kernels.mpx_tile_partial — exact, FFT-seeded diagonals), (6) merge
    partials with max_by(corr, tie → earliest global diagonal), then
    convert to Euclidean (p2e). Currently Euclidean output only.
    """
    opts = opts or MPOpts(algorithm="mpx")
    if not opts.euclidean:
        raise ValueError("matrix_profile_chunked emits Euclidean profiles only")
    src = series.select("conv_id", "metric", "bucket_s", "value")
    # k tiles per side so that k(k+1)/2 ≈ n_batches tasks per conv
    k = max(1, int(round(((8 * n_batches + 1) ** 0.5 - 1) / 2)))
    tile_in = chunked_tile_inputs(src, w, k)
    part_schema = T.StructType(
        [
            T.StructField("conv_id", T.StringType(), False),
            T.StructField("metric", T.StringType(), False),
            T.StructField("offset", T.IntegerType(), False),
            T.StructField("corr", T.DoubleType(), True),
            T.StructField("idx", T.LongType(), True),
        ]
    )

    def tile_kernel(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from ..kernels.matrix_profile import mpx_tile_partial

        for pdf in it:
            for row in pdf.itertuples(index=False):
                t_w = int(row.t_width)
                len_a = int(row.len_a)
                r0 = int(row.r) * t_w
                c0 = int(row.c) * t_w
                n_row = min(t_w, len_a - r0)
                n_col = min(t_w, len_a - c0)
                if n_row <= 0 or n_col <= 0:
                    continue
                mpr, idr, mpc, idc = mpx_tile_partial(
                    np.asarray(row.row_vals, dtype=np.float64),
                    np.asarray(row.col_vals, dtype=np.float64),
                    r0,
                    c0,
                    n_row,
                    n_col,
                    w,
                    remap_neg_corr=opts.remap_neg_corr,
                )
                sides = [(r0, mpr, idr)]
                # a diagonal tile (r == c) returns one partial as both sides
                if row.r != row.c:
                    sides.append((c0, mpc, idc))
                frames = [
                    pd.DataFrame(
                        {
                            "conv_id": row.conv_id,
                            "metric": row.metric,
                            "offset": np.arange(o, o + prof.size, dtype=np.int32),
                            "corr": prof,
                            "idx": idx,
                        }
                    )
                    for o, prof, idx in sides
                ]
                yield pd.concat(frames, ignore_index=True)

    partials = tile_in.mapInPandas(tile_kernel, part_schema)
    # merge: max corr; ties -> earliest global diagonal (MPX's strict >
    # with ascending diagonals, matrixprofile.go:1038-1044); at EQUAL
    # diagonal distance (candidates offset-d and offset+d both tied) ->
    # the lower idx, because the whole-series kernel's diagonal-side
    # touch precedes the offset-side touch within a diagonal
    diag_dist = F.abs(F.col("idx") - F.col("offset"))
    merged = partials.groupBy("conv_id", "metric", "offset").agg(
        F.max_by(
            F.struct("corr", "idx"),
            F.struct(
                F.col("corr"),
                (-diag_dist).alias("nd"),
                (-F.col("idx")).alias("ni"),
            ),
        ).alias("best")
    )
    # p2e: d = sqrt(2w(1 - min(corr, 1)))  (util/util.go:266-274)
    return merged.select(
        "conv_id",
        "metric",
        F.lit(w).cast("int").alias("w"),
        "offset",
        F.sqrt(2.0 * w * (1.0 - F.least(F.col("best.corr"), F.lit(1.0)))).alias("mp"),
        F.col("best.idx").alias("idx"),
    )


def discover(
    series: DataFrame,
    w: int,
    k_discords: int = 3,
    opts: MPOpts | None = None,
) -> tuple[DataFrame, DataFrame, DataFrame, DataFrame]:
    """Analyze pipeline per conv: MP → top-3 motifs (radius 2) +
    discords + segmentation.

    The greedy discovery loops are inherently sequential per series
    (each pick mutates the profile — SURVEY.md §2.5) so they run inside
    the per-conv UDF; results explode into three tables. Series shorter
    than max(2w, w+4) have no meaningful discovery (the reference's own
    constructors reject 2w >= n, kmp.go:52) — they are NOT silently
    dropped: the fourth returned table lists every skipped
    (conv_id, metric) with its length and the floor it missed.
    """
    opts = opts or MPOpts()
    assembled = place_series(assemble_series(series))

    combined_schema = T.StructType(
        [
            T.StructField("conv_id", T.StringType(), False),
            T.StructField("metric", T.StringType(), False),
            T.StructField("w", T.IntegerType(), False),
            T.StructField("kind", T.StringType(), False),
            T.StructField("rank", T.IntegerType(), False),
            T.StructField("idx", T.ArrayType(T.IntegerType()), True),
            T.StructField("score", T.DoubleType(), True),
        ]
    )

    def kernel(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for rec in pdf.itertuples(index=False):
                conv_id, metric = rec.conv_id, rec.metric
                vals = np.asarray(rec.vals, dtype=np.float64)
                if vals.size < max(2 * w, w + 4):
                    # surfaced, not dropped: score = observed length,
                    # idx = [required floor]
                    rows.append(
                        (conv_id, metric, w, "skipped", 0,
                         [max(2 * w, w + 4)], float(vals.size))
                    )
                    continue
                mp = MatrixProfile(vals, None, w).compute(opts)
                try:
                    motifs = mp.discover_motifs(3, 2.0, 10, w // 2)
                except ValueError:
                    motifs = []
                for g, group in enumerate(motifs):
                    if group.idx:
                        rows.append((conv_id, metric, w, "motif", g, group.idx, group.min_dist))
                for r, d_idx in enumerate(mp.discover_discords(k_discords, w // 2)):
                    rows.append((conv_id, metric, w, "discord", r, [d_idx], float(mp.mp[d_idx])))
                seg_idx, seg_val, _ = mp.discover_segments()
                rows.append((conv_id, metric, w, "segment", 0, [seg_idx], seg_val))
            yield pd.DataFrame(
                rows, columns=["conv_id", "metric", "w", "kind", "rank", "idx", "score"]
            )

    combined = assembled.mapInPandas(kernel, combined_schema)
    motifs = combined.where(F.col("kind") == "motif").select(
        "conv_id", "metric", "w", F.col("rank").alias("group"), "idx", F.col("score").alias("min_dist")
    )
    discords = combined.where(F.col("kind") == "discord").select(
        "conv_id", "metric", "w", "rank", F.element_at("idx", 1).alias("idx")
    )
    segments = combined.where(F.col("kind") == "segment").select(
        "conv_id", "metric", "w", F.element_at("idx", 1).alias("idx"), F.col("score").alias("cac")
    )
    skipped = combined.where(F.col("kind") == "skipped").select(
        "conv_id",
        "metric",
        "w",
        F.element_at("idx", 1).alias("min_len_required"),
        F.col("score").cast("int").alias("series_len"),
    )
    return motifs, discords, segments, skipped


def k_matrix_profile(series_multi: DataFrame, w: int) -> DataFrame:
    """k-dimensional matrix profile (mSTOMP, kmp.go:161-212) per conv.

    Input: (conv_id, dim string, bucket_s, value) — dims must share a
    bucket grid (use gap-fill first). Output one profile row per
    (conv_id, dim-level, offset): level d is the best d+1-of-k profile.
    """
    schema = T.StructType(
        [
            T.StructField("conv_id", T.StringType(), False),
            T.StructField("level", T.IntegerType(), False),
            T.StructField("w", T.IntegerType(), False),
            T.StructField("offset", T.IntegerType(), False),
            T.StructField("mp", T.DoubleType(), True),
            T.StructField("idx", T.LongType(), True),
        ]
    )

    def kernel(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            for rec in pdf.itertuples(index=False):
                cells = pd.DataFrame(
                    {
                        "dim": rec.dims,
                        "bucket_s": rec.buckets,
                        "value": np.asarray(rec.vals, dtype=np.float64),
                    }
                )
                mat = cells.pivot_table(
                    index="dim", columns="bucket_s", values="value", aggfunc="first"
                ).sort_index()
                t = mat.to_numpy(dtype=np.float64)
                if t.shape[1] <= 2 * w or np.isnan(t).any():
                    continue
                kmp = KMP(list(t), w).compute()
                n = kmp.mp.shape[1]
                for d in range(kmp.mp.shape[0]):
                    yield pd.DataFrame(
                        {
                            "conv_id": rec.conv_id,
                            "level": np.int32(d),
                            "w": np.int32(w),
                            "offset": np.arange(n, dtype=np.int32),
                            "mp": kmp.mp[d],
                            "idx": kmp.idx[d],
                        }
                    )

    # one row per conv (its cells as three aligned arrays), placed like
    # every other whole-series kernel input
    cells = F.collect_list(F.struct("dim", "bucket_s", "value"))
    rows = (
        series_multi.repartition(cpu_partitions(series_multi), "conv_id")
        .groupBy("conv_id")
        .agg(
            F.transform(cells, lambda c: c["dim"]).alias("dims"),
            F.transform(cells, lambda c: c["bucket_s"]).alias("buckets"),
            F.transform(cells, lambda c: c["value"]).alias("vals"),
        )
    )
    return place_series(rows, "conv_id").mapInPandas(kernel, schema)


def pan_matrix_profile_distributed(
    series: DataFrame,
    lower_m: int,
    upper_m: int,
    opts: MPOpts | None = None,
) -> DataFrame:
    """Pan-MP per (conv_id, metric): kernels.pmp.PMP on each whole series.

    PMP runs one MatrixProfile.compute per window (pmp.go:119-161), in
    binary_split order truncated by sample_pct, with ``opts`` applied to
    every window; one level per computed window is emitted. A series is
    in the pan-MP iff it fits the largest window (at least upper_m + 2
    points). Series are assembled and placed as in matrix_profile: one
    array row per series, range-placed on one wave of tasks. An empty
    window list is rejected when the plan is built.
    """
    opts = opts or MPOpts()
    windows = binary_split(lower_m, upper_m)
    if not windows[: int(len(windows) * opts.sample_pct)]:
        raise ValueError("Need more than one subsequence window for pmp")

    def kernel(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            for row in pdf.itertuples(index=False):
                vals = np.asarray(row.vals, dtype=np.float64)
                if vals.size < upper_m + 2:
                    continue
                p = PMP(vals).compute(lower_m, upper_m, opts)
                for w in p.pwindows:
                    mp = p.pmp[w - lower_m]
                    yield pd.DataFrame(
                        {
                            "conv_id": row.conv_id,
                            "metric": row.metric,
                            "w": np.int32(w),
                            "offset": np.arange(mp.size, dtype=np.int32),
                            "mp": mp,
                            "idx": p.pidx[w - lower_m],
                        }
                    )

    return place_series(assemble_series(series)).mapInPandas(kernel, MP_SCHEMA)


def mpdist_pairs(
    series: DataFrame,
    w: int,
    max_convs: int = 20,
    opts: MPOpts | None = None,
) -> DataFrame:
    """Conversation-to-conversation MPDist similarity matrix
    (MPDist, matrixprofile.go:243-338).

    All-pairs MPDist is inherently quadratic in conversations, so the
    pair space is bounded to the first ``max_convs`` by conv_id
    (orderBy+limit; fine for bounded exploration, not for a full-corpus
    plan). Series are assembled per conv (one aggregation), the small
    conv-level table self-joins (broadcast), and each pair's MPDist
    runs as one Arrow-batched task.
    """
    opts = opts or MPOpts()
    src = series.select("conv_id", "metric", "bucket_s", "value")
    assembled = assemble_series(src, repartition=False).where(F.size("vals") > w * 2)
    ranked = assembled.orderBy("conv_id").limit(max_convs)
    a = ranked.select(
        F.col("conv_id").alias("a_id"), F.col("metric").alias("metric"), F.col("vals").alias("a_vals")
    )
    b = ranked.select(
        F.col("conv_id").alias("b_id"), F.col("metric").alias("metric_b"), F.col("vals").alias("b_vals")
    )
    pairs = a.join(
        F.broadcast(b),
        (F.col("a_id") < F.col("b_id")) & (F.col("metric") == F.col("metric_b")),
    ).select("a_id", "b_id", "metric", "a_vals", "b_vals")

    schema = T.StructType(
        [
            T.StructField("a_id", T.StringType(), False),
            T.StructField("b_id", T.StringType(), False),
            T.StructField("metric", T.StringType(), False),
            T.StructField("mpdist", T.DoubleType(), True),
        ]
    )

    def kernel(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            out = []
            for row in pdf.itertuples(index=False):
                d = mpdist(
                    np.asarray(row.a_vals, dtype=np.float64),
                    np.asarray(row.b_vals, dtype=np.float64),
                    w,
                    opts,
                )
                out.append((row.a_id, row.b_id, row.metric, float(d)))
            yield pd.DataFrame(out, columns=["a_id", "b_id", "metric", "mpdist"])

    return pairs.mapInPandas(kernel, schema)


def streaming_update_check(series: DataFrame, w: int) -> DataFrame:
    """Incremental Update ≡ full recompute evidence per conv
    (the reference's own streaming contract, matrixprofile_test.go:706-762).

    Splits each series at 80% of its length, computes the prefix
    profile, streams the suffix through update(), recomputes from
    scratch, and reports the max abs deviation — the engine's
    incremental-batch path is correct when max_abs_diff ≈ 0.
    """
    schema = T.StructType(
        [
            T.StructField("conv_id", T.StringType(), False),
            T.StructField("metric", T.StringType(), False),
            T.StructField("n", T.IntegerType(), False),
            T.StructField("n_new", T.IntegerType(), False),
            T.StructField("max_abs_diff", T.DoubleType(), True),
        ]
    )

    def kernel(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for rec in pdf.itertuples(index=False):
                vals = np.asarray(rec.vals, dtype=np.float64)
                cut = int(vals.size * 0.8)
                if cut < w + 2 or vals.size - cut < 1:
                    continue
                try:
                    inc = MatrixProfile(vals[:cut], None, w).compute(MPOpts(algorithm="stomp"))
                    inc.update(vals[cut:])
                    full = MatrixProfile(vals, None, w).compute(MPOpts(algorithm="stomp"))
                except ValueError:
                    # constant query window: the reference's Update errors
                    # the same way (ZNormalize zero-std, util/util.go:33-35)
                    # — skip
                    continue
                diff = float(np.nanmax(np.abs(inc.mp - full.mp))) if full.mp.size else 0.0
                rows.append((rec.conv_id, rec.metric, vals.size, vals.size - cut, diff))
            yield pd.DataFrame(rows, columns=["conv_id", "metric", "n", "n_new", "max_abs_diff"])

    return place_series(assemble_series(series)).mapInPandas(kernel, schema)


def matrix_profile_ab(
    series_a: DataFrame,
    series_b: DataFrame,
    w: int,
    opts: MPOpts | None = None,
) -> DataFrame:
    """AB-join matrix profile per conv_id: every window of A joined with
    every window of B (mpxabBatch/mpxbaBatch, matrixprofile.go:1057-1198).

    Inputs are long-format series; the two sides are assembled to array
    rows and equi-joined on conv_id (broadcast when one side is small).
    Output has both directions: direction='ab' rows are A-side (MP/Idx),
    'ba' rows are B-side (MPB/IdxB).
    """
    opts = opts or MPOpts(algorithm="mpx")
    # no pre-repartition: the equi-join and the kernel repartition below
    # establish their own partitioning
    a = assemble_series(series_a, repartition=False).select(
        "conv_id", F.col("vals").alias("a_vals")
    )
    b = assemble_series(series_b, repartition=False).select(
        "conv_id", F.col("vals").alias("b_vals")
    )
    joined = a.join(b, "conv_id")

    schema = T.StructType(
        [
            T.StructField("conv_id", T.StringType(), False),
            T.StructField("direction", T.StringType(), False),
            T.StructField("w", T.IntegerType(), False),
            T.StructField("offset", T.IntegerType(), False),
            T.StructField("mp", T.DoubleType(), True),
            T.StructField("idx", T.LongType(), True),
        ]
    )

    def kernel(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            for row in pdf.itertuples(index=False):
                av = np.asarray(row.a_vals, dtype=np.float64)
                bv = np.asarray(row.b_vals, dtype=np.float64)
                if av.size < w + 1 or bv.size < w + 1:
                    continue
                mp = MatrixProfile(av, bv, w).compute(opts)
                for direction, prof, idx in (
                    ("ab", mp.mp, mp.idx),
                    ("ba", mp.mpb, mp.idxb),
                ):
                    if prof is None:
                        continue
                    yield pd.DataFrame(
                        {
                            "conv_id": row.conv_id,
                            "direction": direction,
                            "w": np.int32(w),
                            "offset": np.arange(prof.size, dtype=np.int32),
                            "mp": prof,
                            "idx": idx,
                        }
                    )

    # round-robin: one array row per conv, spread exactly evenly over
    # the kernel tasks (a by-key repartition leaves ~1/e of the slots
    # empty to hash collisions); mapInPandas needs no key clustering
    return joined.repartition(cpu_partitions(joined)).mapInPandas(kernel, schema)
