"""Corpus materialization + sequence packing tests."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F


class TestPackSequences:
    def _reference_pack(self, items, budget):
        """Pure-Python greedy packer (the spec)."""
        out = {}
        seq, fill = 0, 0
        for doc_id, n in items:
            if fill > 0 and fill + n > budget:
                seq += 1
                fill = 0
            out[doc_id] = (seq, fill)
            fill += n
            if fill >= budget:
                seq += 1
                fill = 0
        return out

    def test_matches_reference_and_respects_budget(self, spark):
        from go_matrixprofile_spark.operators.corpus import pack_sequences

        rng = np.random.default_rng(41)
        n = 500
        budget = 512
        toks = rng.integers(10, 300, n)
        toks[17] = 900  # oversized doc: gets its own sequence
        corpus = spark.createDataFrame(
            pd.DataFrame({"doc_id": range(n), "n_bpe_tokens": toks})
        )
        got = (
            pack_sequences(corpus, budget=budget, n_buckets=8)
            .orderBy("doc_id")
            .toPandas()
        )
        # every doc exactly once
        assert sorted(got["doc_id"]) == list(range(n))
        # per-bucket greedy equals the reference packer
        for b in range(8):
            items = [(i, int(toks[i])) for i in range(n) if i % 8 == b]
            want = self._reference_pack(items, budget)
            sub = got[got["bucket"] == b]
            for r in sub.itertuples():
                ws, wo = want[r.doc_id]
                assert r.seq_id == (b << 40) + ws, r
                assert r.seq_offset == wo, r
        # budget respected except single oversized docs
        per_seq = got.groupby("seq_id").agg(
            total=("n_tokens", "sum"), cnt=("n_tokens", "count")
        )
        over = per_seq[per_seq["total"] > budget]
        assert (over["cnt"] == 1).all()
        # determinism under a different input partitioning
        again = (
            pack_sequences(corpus.repartition(13), budget=budget, n_buckets=8)
            .orderBy("doc_id")
            .toPandas()
        )
        assert (got["seq_id"].to_numpy() == again["seq_id"].to_numpy()).all()
        assert (got["seq_offset"].to_numpy() == again["seq_offset"].to_numpy()).all()

    def test_split_documents_arithmetic(self, spark):
        from go_matrixprofile_spark.operators.corpus import split_documents

        ns = [0, 1, 63, 64, 65, 128, 129, 500, 900]
        corpus = spark.createDataFrame(
            pd.DataFrame({"doc_id": range(len(ns)), "n_bpe_tokens": ns})
        )
        got = (
            split_documents(corpus, budget=64)
            .orderBy("doc_id", "chunk_idx")
            .toPandas()
        )
        for d, n in enumerate(ns):
            sub = got[got["doc_id"] == d]
            want_chunks = max(-(-n // 64), 1)
            assert list(sub["chunk_idx"]) == list(range(want_chunks)), (d, n)
            # token conservation + every chunk inside the budget
            assert sub["n_tokens"].sum() == n
            assert (sub["n_tokens"] <= 64).all()
            # full chunks first, remainder last
            if want_chunks > 1:
                assert (sub["n_tokens"].iloc[:-1] == 64).all()

    def test_split_then_pack_budget_holds_everywhere(self, spark):
        from go_matrixprofile_spark.operators.corpus import (
            pack_sequences,
            split_documents,
        )

        rng = np.random.default_rng(43)
        n, budget = 400, 512
        toks = rng.integers(10, 300, n)
        toks[7] = 900       # oversized: must be split, not overflow
        toks[123] = 2000    # very oversized: 4 chunks
        corpus = spark.createDataFrame(
            pd.DataFrame({"doc_id": range(n), "n_bpe_tokens": toks})
        )
        chunks = split_documents(corpus, budget=budget)
        packed = pack_sequences(
            chunks, budget=budget, n_buckets=8,
            token_col="n_tokens", chunk_col="chunk_idx",
        )
        got = packed.orderBy("doc_id", "chunk_idx").toPandas()
        # the packer invariant holds for EVERY sequence — no exception
        # class once the splitter runs upstream
        per_seq = got.groupby("seq_id")["n_tokens"].sum()
        assert (per_seq <= budget).all()
        # token conservation end to end
        per_doc = got.groupby("doc_id")["n_tokens"].sum()
        assert (per_doc.to_numpy() == toks).all()
        # a split doc's chunks pack contiguously in chunk order
        d7 = got[got["doc_id"] == 7].sort_values("chunk_idx")
        keys = list(zip(d7["seq_id"], d7["seq_offset"]))
        assert keys == sorted(keys)

    def test_composes_with_build_corpus(self, spark):
        from go_matrixprofile_spark.operators.corpus import (
            build_corpus,
            pack_sequences,
        )

        docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        corpus = build_corpus(docs)
        packed = pack_sequences(corpus, budget=256, n_buckets=4)
        got = packed.toPandas()
        assert len(got) == corpus.count()
        # per-row implication: an in-budget doc never starts past the
        # budget boundary (only an oversized doc may overflow its seq)
        assert ((got["seq_offset"] < 256) | (got["n_tokens"] > 256)).all()


class TestPackOrderCol:
    def test_order_col_shuffled_pack(self, spark):
        """pack_sequences(order_col=...): documents pack in shuffled
        (order_col, doc_id, chunk_idx) order — chunks stay contiguous,
        the budget invariant holds, and the result is partitioning-
        invariant."""
        from go_matrixprofile_spark.operators.corpus import (
            pack_sequences,
            split_documents,
        )
        from go_matrixprofile_spark.operators.mixture import shuffle_key

        import pyspark.sql.functions as F

        rng = np.random.default_rng(7)
        n, budget = 300, 256
        toks = rng.integers(10, 200, n)
        toks[11] = 600  # oversized → split into 3 chunks
        corpus = spark.createDataFrame(
            pd.DataFrame({"doc_id": range(n), "n_bpe_tokens": toks})
        )
        chunks = split_documents(corpus, budget=budget).withColumn(
            "order_key", shuffle_key(5, F.col("doc_id"))
        )
        got = pack_sequences(
            chunks, budget=budget, n_buckets=8, token_col="n_tokens",
            chunk_col="chunk_idx", order_col="order_key",
        ).toPandas()
        assert len(got) == len(chunks.toPandas())
        # budget holds for EVERY sequence
        assert got.groupby("seq_id")["n_tokens"].sum().max() <= budget
        # output drops the internal order column but keeps the pack schema
        assert set(got.columns) == {
            "doc_id", "chunk_idx", "n_tokens", "bucket", "seq_id", "seq_offset"
        }
        # within a bucket, the doc stream follows the order key (docs
        # sorted by their seq_id/seq_offset placement == order_key rank)
        keys = (
            chunks.select("doc_id", "order_key").distinct().toPandas()
            .set_index("doc_id")["order_key"]
        )
        placed = (
            got.sort_values(["seq_id", "seq_offset"])
            .drop_duplicates("doc_id")
        )
        for b, sub in placed.groupby("bucket"):
            ks = [keys[d] for d in sub["doc_id"]]
            assert ks == sorted(ks), f"bucket {b} not in order_key order"
        # chunks of the oversized doc remain contiguous in its sequence stream
        over = got[got.doc_id == 11].sort_values("chunk_idx")
        assert list(over["chunk_idx"]) == [0, 1, 2]
        assert over["seq_id"].is_monotonic_increasing
        # partitioning invariance
        again = pack_sequences(
            chunks.repartition(13), budget=budget, n_buckets=8,
            token_col="n_tokens", chunk_col="chunk_idx", order_col="order_key",
        ).toPandas()
        key = ["doc_id", "chunk_idx"]
        a = got.sort_values(key).reset_index(drop=True)
        b = again.sort_values(key).reset_index(drop=True)
        assert (a["seq_id"].to_numpy() == b["seq_id"].to_numpy()).all()
        assert (a["seq_offset"].to_numpy() == b["seq_offset"].to_numpy()).all()
