"""Seeded input generators for the benchmark workloads.

Every generator is a pure function of its seed and size, so the same
``--seed`` always yields the same inputs.  The program under test only
ever sees the generated tables.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

EPOCH = np.datetime64("2024-01-01T00:00:00", "us")
EVENT_TYPES = np.array(["signup", "purchase", "view", "click", "error"])


def events(seed: int, n_users: int, days: int = 30) -> pd.DataFrame:
    """An ``events`` table shaped like the sf0.1 test corpus: integer
    user ids, ~67 (about 45..99) events per user and 66.7 per user in
    total, spread uniformly over ``days`` days, five event types and a
    short JSON payload.  Seen
    through ``sources.transcripts.transcripts_from_events`` it becomes a
    transcript table with decimal ``conv_id`` strings whose hourly
    series hold about ``24 * days`` points."""
    rng = np.random.default_rng([seed, 101])
    per_user = np.clip(np.rint(rng.normal(66.7, 8.2, n_users)), 45, 99).astype(np.int64)
    # the same total for every seed, so a workload's size does not vary
    # with its seed: spread the difference one event per user
    while (d := int(round(66.7 * n_users)) - int(per_user.sum())) != 0:
        per_user[rng.choice(n_users, size=min(abs(d), n_users), replace=False)] += np.sign(d)
    user_id = np.repeat(np.arange(n_users, dtype=np.int64), per_user)
    n = user_id.size
    ts = EPOCH + (rng.uniform(0.0, days * 86400.0, n) * 1e6).astype("timedelta64[us]")
    order = np.argsort(ts, kind="stable")
    return pd.DataFrame(
        {
            "event_id": np.arange(n, dtype=np.int64),
            "ts": ts[order],
            "user_id": user_id[order],
            "event_type": EVENT_TYPES[rng.integers(0, len(EVENT_TYPES), n)],
            "value": np.round(rng.gamma(2.0, 30.0, n), 2),
            "props": ['{"k": %d}' % k for k in rng.integers(0, 100, n)],
        }
    )


def new_turns(
    rng: np.random.Generator, last: pd.DataFrame, n_convs: int, per_conv: int
) -> pd.DataFrame:
    """One append batch: ``per_conv`` turns for each of ``n_convs``
    conversations drawn from ``last`` (conv_id, turn_idx, ts of each
    conversation's latest committed turn), minutes to hours after it."""
    pick = last.iloc[rng.choice(len(last), size=n_convs, replace=False)]
    rows = []
    for conv_id, turn_idx, ts in pick[["conv_id", "turn_idx", "ts"]].itertuples(index=False):
        gaps = np.cumsum(rng.uniform(60.0, 4 * 3600.0, per_conv))
        for j in range(per_conv):
            rows.append(
                (
                    conv_id,
                    int(turn_idx) + 1 + j,
                    str(EVENT_TYPES[rng.integers(0, len(EVENT_TYPES))]),
                    '{"k": %d}' % rng.integers(0, 100),
                    None,
                    pd.Timestamp(ts).tz_localize(None) + pd.Timedelta(seconds=float(gaps[j])),
                )
            )
    out = pd.DataFrame(rows, columns=["conv_id", "turn_idx", "role", "text", "tool", "ts"])
    out["turn_idx"] = out["turn_idx"].astype(np.int32)
    out["ts"] = pd.to_datetime(out["ts"]).astype("datetime64[us]")
    return out


def reference_series(seed: int, index: int, n: int) -> np.ndarray:
    """The reference's own benchmark signal: a step line (0 then 1)
    plus N(0, 0.1) noise (matrixprofile_bench_test.go setupData)."""
    rng = np.random.default_rng([seed, 202, index])
    step = np.concatenate([np.zeros(n // 2), np.ones(n - n // 2)])
    return step + 0.1 * rng.standard_normal(n)


VOCAB = np.array([f"w{i:04d}" for i in range(5000)])


def documents(seed: int, n_docs: int) -> pd.DataFrame:
    """Word-soup documents with planted near-duplicates, the shape of
    ``bench.py::_ensure_scale_docs``: doc ``10k+1`` copies doc ``10k``
    with five word positions re-drawn, so every tenth id pair is a
    planted near-duplicate; the 5,000-word vocabulary keeps accidental
    shingle collisions rare."""
    texts = []
    for i in range(n_docs):
        base = i - (i % 10) if i % 10 < 2 else i
        rng = np.random.default_rng([seed, 303, base])
        words = list(rng.choice(VOCAB, size=int(rng.integers(60, 220))))
        if base != i:
            mrng = np.random.default_rng([seed, 304, i])
            for p in mrng.integers(0, len(words), 5):
                words[int(p)] = str(mrng.choice(VOCAB))
        texts.append(" ".join(words))
    return pd.DataFrame({"doc_id": np.arange(n_docs, dtype=np.int64), "text": texts})


def planted_pairs(n_docs: int) -> set[tuple[int, int]]:
    return {(i, i + 1) for i in range(0, n_docs - 1, 10)}


def embeddings(seed: int, n_vecs: int, dim: int) -> pd.DataFrame:
    """Unit-norm float32 vectors around ten seeded cluster centres."""
    rng = np.random.default_rng([seed, 404])
    centres = rng.standard_normal((10, dim))
    label = rng.integers(0, 10, n_vecs)
    v = centres[label] + 0.5 * rng.standard_normal((n_vecs, dim))
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    return pd.DataFrame(
        {
            "vec_id": np.arange(n_vecs, dtype=np.int64),
            "embedding": list(v.astype(np.float32)),
            "label": label.astype(np.int32),
        }
    )
