"""Deterministic synthetic transcript corpus (north-rule input shape).

Schema (BASELINE.json input_hint):
  conv_id:string, turn_idx:int32, role:string, text:string,
  tool:string, ts:timestamp

Properties (FIXTURES.md A.1/A.3):
- Fully deterministic per (seed, conv index): the same conv_id always
  regenerates byte-identical turns, so per-turn text equality under
  stable (conv_id, turn_idx) ordering is assertable.
- Conversation lengths are power-law (α≈1.2) with a few mega-threads to
  exercise skew handling.
- Inter-turn gaps follow per-conv patterns (sinusoid / random walk /
  steady / bursty-with-dropouts) so latency series carry known motifs
  and missing minute buckets exercise gap-fill.
- text lengths follow the same pattern family so text_len series are
  motif-rich.
- Planted fixture conversations reproduce the Go golden series
  (scaled to integer text lengths; z-normalized profiles are
  scale-invariant) for end-to-end Spark-vs-Go assertions.

Generation is per-conversation and embarrassingly parallel: the Spark
path distributes `spark.range(n_convs)` and synthesizes rows inside
mapInPandas (Arrow-batched, no per-row Python) — at cluster scale the
corpus is written straight to partitioned parquet without ever being
resident.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

SEED = 42
EPOCH_START = np.datetime64("2024-01-01T00:00:00")

# canonical 12-point golden series (matrixprofile_test.go:419-421) ×100
CANONICAL_SERIES = [0, 99, 100, 0, 0, 98, 100, 0, 0, 96, 100, 0]
FIXTURE_CANONICAL = "conv-fixture-canonical"

# golden motif-discovery series (matrixprofile_test.go:801-878) ×1000
# (z-normalized profiles are scale-invariant, so the golden motif groups
# [[0,14],[0,7],[3,10]] and MinDists carry over exactly)
MOTIF_SERIES = [
    0, 0, 560, 990, 970, 750, 0, 0, 0, 430, 980, 990, 650, 0, 0, 0, 600, 970, 965, 800, 0, 0, 0,
]
FIXTURE_MOTIF = "conv-fixture-motif"

_VOCAB = (
    "the quick brown fox jumps over lazy dog spark shuffle partition "
    "profile motif discord window rollup tier bucket latency turn tool "
    "agent transcript conversation stream batch vector kernel"
).split()

TRANSCRIPT_SCHEMA = T.StructType(
    [
        T.StructField("conv_id", T.StringType(), False),
        T.StructField("turn_idx", T.IntegerType(), False),
        T.StructField("role", T.StringType(), False),
        T.StructField("text", T.StringType(), False),
        T.StructField("tool", T.StringType(), True),
        T.StructField("ts", T.TimestampType(), False),
    ]
)


def _conv_length(rng: np.random.Generator, conv_index: int, mega_every: int) -> int:
    """Power-law lengths, α≈1.2, min 3; every `mega_every`-th conv is a
    mega-thread (10-50× median) to exercise salting/skew paths."""
    u = rng.random()
    n = int(3 + 40 * (u + 1e-3) ** (-1 / 1.2))
    n = min(n, 4000)
    if mega_every and conv_index > 0 and conv_index % mega_every == 0:
        n = min(20000, n * 25 + 2000)
    return n


def _gaps_and_lengths(rng: np.random.Generator, conv_index: int, n: int):
    """Per-conv inter-turn gap (seconds) + text-length series."""
    i = np.arange(n, dtype=np.float64)
    pattern = conv_index % 4
    if pattern == 0:  # sinusoid latency → known motifs
        gaps = 20.0 + 15.0 * np.sin(2 * np.pi * i / 16.0) + rng.random(n)
        lens = 40 + 30 * np.sin(2 * np.pi * i / 12.0) + rng.integers(0, 5, n)
    elif pattern == 1:  # random walk
        gaps = np.clip(np.cumsum(rng.standard_normal(n) * 3.0) + 30.0, 1.0, 600.0)
        lens = np.clip(np.cumsum(rng.standard_normal(n) * 8.0) + 120.0, 5, 800)
    elif pattern == 2:  # steady + noise
        gaps = 45.0 + rng.random(n) * 10.0
        lens = 200 + rng.integers(-40, 40, n)
    else:  # bursty with dropouts (missing minute buckets → gap-fill)
        gaps = np.where(rng.random(n) < 0.08, 900.0 + rng.random(n) * 600.0, 5.0 + rng.random(n) * 5.0)
        lens = np.where(rng.random(n) < 0.5, 30, 350) + rng.integers(0, 10, n)
    return gaps, np.maximum(lens.astype(np.int64), 1)


def _text_for(rng: np.random.Generator, length: int) -> str:
    """Deterministic token soup of exactly `length` chars."""
    base = " ".join(_VOCAB[int(x)] for x in rng.integers(0, len(_VOCAB), 4))
    reps = length // (len(base) + 1) + 1
    return ((base + " ") * reps)[:length]


def gen_conv_pdf(conv_index: int, seed: int = SEED, mega_every: int = 500) -> pd.DataFrame:
    """All turns of one conversation, deterministic in (seed, conv_index)."""
    rng = np.random.default_rng([seed, conv_index])
    n = _conv_length(rng, conv_index, mega_every)
    gaps, lens = _gaps_and_lengths(rng, conv_index, n)
    start = EPOCH_START + np.timedelta64(int(rng.integers(0, 30 * 86400)), "s")
    ts = start + (np.cumsum(gaps) * 1000).astype("timedelta64[ms]")
    roles = np.where(np.arange(n) % 2 == 0, "user", "assistant")
    tool_mask = rng.random(n) < 0.1
    roles = np.where(tool_mask, "tool", roles)
    tools = np.where(tool_mask, np.where(rng.random(n) < 0.5, "search", "exec"), None)
    texts = [_text_for(np.random.default_rng([seed, conv_index, t]), int(lens[t])) for t in range(n)]
    return pd.DataFrame(
        {
            "conv_id": f"conv-{conv_index:08d}",
            "turn_idx": np.arange(n, dtype=np.int32),
            "role": roles,
            "text": texts,
            "tool": tools,
            "ts": pd.Series(ts),
        }
    )


def _planted_conv(conv_id: str, series: list[int]) -> pd.DataFrame:
    n = len(series)
    ts = EPOCH_START + np.arange(n) * np.timedelta64(60, "s")
    return pd.DataFrame(
        {
            "conv_id": conv_id,
            "turn_idx": np.arange(n, dtype=np.int32),
            "role": np.where(np.arange(n) % 2 == 0, "user", "assistant"),
            "text": ["x" * max(v, 0) for v in series],
            "tool": [None] * n,
            "ts": pd.Series(ts),
        }
    )


def fixture_conv_pdf() -> pd.DataFrame:
    """Planted conversations whose text_len series equal the Go golden
    series (scaled to ints; z-norm-invariant), one turn per minute."""
    return pd.concat(
        [
            _planted_conv(FIXTURE_CANONICAL, CANONICAL_SERIES),
            _planted_conv(FIXTURE_MOTIF, MOTIF_SERIES),
        ],
        ignore_index=True,
    )


def generate_transcripts_pandas(
    n_convs: int, seed: int = SEED, mega_every: int = 500, plant_fixtures: bool = True
) -> pd.DataFrame:
    """Local (non-Spark) reference generation — identical rows to the
    Spark path, used by pytest to assert per-turn text equality."""
    frames = [gen_conv_pdf(i, seed, mega_every) for i in range(n_convs)]
    if plant_fixtures:
        frames.append(fixture_conv_pdf())
    return pd.concat(frames, ignore_index=True)


def generate_transcripts(
    spark: SparkSession,
    n_convs: int,
    seed: int = SEED,
    mega_every: int = 500,
    plant_fixtures: bool = True,
    parallelism: int | None = None,
) -> DataFrame:
    """Distributed generation: one task per conv-range, Arrow-batched."""
    if parallelism is None:
        parallelism = min(n_convs, 64) or 1
    ids = spark.range(n_convs).repartition(parallelism)

    def gen(batches):
        for pdf in batches:
            for conv_index in pdf["id"]:
                yield gen_conv_pdf(int(conv_index), seed, mega_every)

    df = ids.mapInPandas(gen, schema=TRANSCRIPT_SCHEMA)
    if plant_fixtures:
        fx = spark.createDataFrame(fixture_conv_pdf(), schema=TRANSCRIPT_SCHEMA)
        df = df.unionByName(fx)
    return df


def write_corpus(spark: SparkSession, path: str, n_convs: int, **kw) -> None:
    """Materialize the corpus as parquet partitioned for conv-local scans."""
    df = generate_transcripts(spark, n_convs, SEED, **kw)
    df.repartition(max(8, min(n_convs // 64, 256)), "conv_id").write.mode(
        "overwrite"
    ).parquet(path)
