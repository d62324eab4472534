"""BPE tokenization + trigram language-ID tests (r03 verdict items 2/3)."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F


class TestBPE:
    def test_merges_table_well_formed(self):
        """Every merge's constituent symbols must exist (be a char or a
        previously fused symbol) before it, and fused strings must be
        unique — the preconditions for the one-pass-per-rank replace
        chain to equal iterative lowest-rank-first merging."""
        from go_matrixprofile_spark.functions.bpe import MERGES

        assert len(MERGES) == 48
        known = set("abcdefghijklmnopqrstuvwxyz")
        fused_seen = set()
        for x, y in MERGES:
            assert x in known and y in known, (x, y)
            fused = x + y
            assert fused not in fused_seen, fused
            fused_seen.add(fused)
            known.add(fused)

    def test_known_strings(self):
        from go_matrixprofile_spark.functions.bpe import apply_bpe, count_tokens

        assert apply_bpe("the") == ["the"]
        # learned subwords: 'under', 'st', 'and', 'ing' (seed corpus)
        assert apply_bpe("understanding") == ["under", "st", "and", "ing"]
        # unknown word: falls back toward characters
        assert len(apply_bpe("xylophone")) > 3
        # digit runs and punctuation are 1 pre-token each
        assert count_tokens("a1 b2!") == 5  # a,1,b,2,!
        assert count_tokens("") == 0

    def test_spark_chain_equals_reference_randomized(self, spark):
        """The 48-replace JVM chain must reproduce the pure-Python
        lowest-rank-first tokenizer on random words (including repeated
        letters, the overlap-sensitive case) and on seed-corpus text."""
        from go_matrixprofile_spark.functions.bpe import SEED_CORPUS, count_tokens
        from go_matrixprofile_spark.operators.text import token_counts_bpe

        rng = np.random.default_rng(23)
        letters = "aaeeiinnoorrssttth"  # biased toward merge-rich chars
        texts = [
            "".join(rng.choice(list(letters), size=rng.integers(1, 30)))
            for _ in range(60
            )
        ]
        texts += [
            " ".join(
                "".join(rng.choice(list("abcdefghijklmnopqrstuvwxyz0123456789.,!"),
                                   size=rng.integers(1, 12)))
                for _ in range(rng.integers(1, 15))
            )
            for _ in range(40)
        ]
        texts += [line for line in SEED_CORPUS.strip().split("\n")[:10]]
        docs = spark.createDataFrame(
            pd.DataFrame({"doc_id": range(len(texts)), "text": texts})
        )
        got = token_counts_bpe(docs).orderBy("doc_id").toPandas()
        for i, t in enumerate(texts):
            assert int(got["n_bpe_tokens"].iloc[i]) == count_tokens(t), t


class TestBPETrainDistributed:
    def test_equals_reference_trainer_on_corpus(self, spark):
        """The distributed trainer (iterative Spark pair counting) must
        produce the exact ordered merges table the pure-Python reference
        trainer learns from the same text under the same
        pre-tokenization — including tie rounds, where both break by
        lexicographically smallest pair."""
        import re

        from go_matrixprofile_spark.functions.bpe import train_bpe
        from go_matrixprofile_spark.operators.bpe_train import (
            train_bpe_distributed,
        )

        docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        got = train_bpe_distributed(docs, 32)
        texts = [r["text"] for r in docs.select("text").collect()]
        # the engine's exact pre-tokenization (_WORDISH, alpha only)
        words: list[str] = []
        for t in texts:
            words += [
                w
                for w in re.findall(r"[a-z]+|[0-9]+|[^a-z0-9\s]", t.lower())
                if re.fullmatch(r"[a-z]+", w)
            ]
        want = train_bpe(" ".join(words), 32)
        assert got == want

        # punctuation-adjacent words must reach the trainer (the
        # application's _WORDISH extracts "hello" from "hello,"; a
        # whitespace-split trainer would drop it and learn from a
        # skewed subset)
        import pandas as pd

        punct = [
            "hello, hello, hello! world. hello; world?",
            "testing, testing... testing! the the, the.",
        ]
        pdocs = spark.createDataFrame(
            pd.DataFrame({"doc_id": range(len(punct)), "text": punct})
        )
        got_p = train_bpe_distributed(pdocs, 8)
        words_p: list[str] = []
        for t in punct:
            words_p += [
                w
                for w in re.findall(r"[a-z]+|[0-9]+|[^a-z0-9\s]", t.lower())
                if re.fullmatch(r"[a-z]+", w)
            ]
        assert got_p == train_bpe(" ".join(words_p), 8)
        # "hello" occurs 4x only via punctuation-adjacency: its pairs
        # must dominate the first merges
        assert got_p[0][0] + got_p[0][1] in "hello"

        # learned table must satisfy the replace-chain preconditions
        # (constituents exist before their merge; fused strings unique)
        known = set("abcdefghijklmnopqrstuvwxyz")
        fused_seen: set[str] = set()
        for x, y in got:
            assert x in known and y in known, (x, y)
            fused = x + y
            assert fused not in fused_seen, fused
            fused_seen.add(fused)
            known.add(fused)

    def test_learned_merges_feed_the_replace_chain(self, spark):
        """token_counts_bpe(merges=learned) must equal the pure-Python
        tokenizer running the same learned table."""
        import pandas as pd

        from go_matrixprofile_spark.functions.bpe import count_tokens
        from go_matrixprofile_spark.operators.bpe_train import (
            train_bpe_distributed,
        )
        from go_matrixprofile_spark.operators.text import token_counts_bpe

        texts = [
            "the running engineers are testing the new training data",
            "reading and writing every day",
            "aaa bbb statistical understanding 123 !?",
        ]
        docs = spark.createDataFrame(
            pd.DataFrame({"doc_id": range(len(texts)), "text": texts})
        )
        merges = train_bpe_distributed(docs, 16)
        got = token_counts_bpe(docs, merges=merges).orderBy("doc_id").toPandas()
        for i, t in enumerate(texts):
            assert int(got["n_bpe_tokens"].iloc[i]) == count_tokens(t, merges), t


class TestLangID:
    def test_non_marker_sentences_labeled(self, spark):
        """Sentences that avoid the r03 marker words entirely (no
        the/and/of, el/la/que, der/und/die, le/les/des) must still get
        the right label — the case the marker heuristic missed."""
        from go_matrixprofile_spark.operators.text import lang_id

        cases = [
            ("en", "Several colleagues mentioned that progress happens gradually when people collaborate."),
            ("en", "Computers process information quickly but people imagine possibilities."),
            ("en", "Writing tests helps with finding mistakes early during development."),
            ("es", "Muchos companeros dijeron que conseguimos buenos resultados cuando trabajamos juntos."),
            ("es", "Mi vecino compro manzanas naranjas ciruelas y uvas en un mercado ayer."),
            ("de", "Mehrere kollegen sagten dass fortschritt allmahlich entsteht wenn menschen zusammenarbeiten."),
            ("de", "Mein nachbar kaufte gestern apfel orangen pflaumen auf einem dorfmarkt."),
            ("fr", "Plusieurs collegues disaient que nous obtenons un bon resultat quand nous travaillons ensemble."),
            ("fr", "Mon voisin a achete une pomme une orange une prune et du raisin au marche hier."),
            # round-5 languages — including the hard romance splits
            # (es vs pt vs it share heavy trigram mass)
            ("it", "Molti colleghi dicevano che otteniamo buoni risultati quando lavoriamo insieme."),
            ("it", "Il mio vicino ha comprato mele arance e prugne al mercato ieri sera."),
            ("pt", "Muitos colegas disseram que conseguimos bons resultados quando trabalhamos juntos."),
            ("pt", "O meu vizinho comprou macas laranjas e ameixas no mercado ontem de manha."),
            ("nl", "Verschillende collegas zeiden dat vooruitgang geleidelijk ontstaat wanneer mensen samenwerken."),
            ("nl", "Mijn buurman kocht gisteren appels sinaasappels en pruimen op een dorpsmarkt."),
            ("pl", "Wielu kolegow mowilo ze osiagamy dobre wyniki kiedy pracujemy razem."),
            ("pl", "Moj sasiad kupil wczoraj jablka pomarancze i sliwki na targu w miasteczku."),
            ("und", "12345 !!! ???"),
            ("und", ""),
        ]
        docs = spark.createDataFrame(
            pd.DataFrame(
                {
                    "doc_id": range(len(cases)),
                    "text": [t for _, t in cases],
                }
            )
        )
        got = lang_id(docs).orderBy("doc_id").toPandas()
        for i, (want, text) in enumerate(cases):
            assert got["pred_lang"].iloc[i] == want, (text, got["pred_lang"].iloc[i])

    def test_spark_equals_reference(self, spark):
        """Engine prediction == the pure-Python reference scorer on a
        mixed bag including short/ambiguous fragments (exact tie and
        penalty semantics, not just easy labels)."""
        from go_matrixprofile_spark.functions.langprofiles import predict
        from go_matrixprofile_spark.operators.text import lang_id

        rng = np.random.default_rng(7)
        frags = [
            "la de le el und the les los der die",  # deliberately mixed
            "a b c",
            "zzz qqq xxx",
            "es es es es",
            "ing ing ing",
        ]
        frags += [
            " ".join(
                "".join(rng.choice(list("aeinorst "), size=rng.integers(2, 9)))
                for _ in range(rng.integers(1, 8))
            )
            for _ in range(30)
        ]
        docs = spark.createDataFrame(
            pd.DataFrame({"doc_id": range(len(frags)), "text": frags})
        )
        got = lang_id(docs).orderBy("doc_id").toPandas()
        for i, t in enumerate(frags):
            assert got["pred_lang"].iloc[i] == predict(t), t


class TestTokenizeBpe:
    def test_matches_reference_tokenizer(self, spark):
        """tokenize_bpe emits the ACTUAL token arrays: element-for-
        element equal to the pure-Python reference (apply_bpe over the
        same pre-tokenization), with size(tokens) == token_counts_bpe's
        count on every doc."""
        import re

        from go_matrixprofile_spark.functions.bpe import MERGES, apply_bpe
        from go_matrixprofile_spark.operators.text import (
            token_counts_bpe,
            tokenize_bpe,
        )

        texts = [
            "the lower newest low",
            "Hello, world! 123 tests...",
            "punct{brace} and|pipe chars",
            "a",
            "mixedCASE Words AND digits 42x7",
        ]
        docs = spark.createDataFrame(
            list(enumerate(texts)), "doc_id long, text string"
        )
        got = tokenize_bpe(docs).orderBy("doc_id").toPandas()
        counts = token_counts_bpe(docs).orderBy("doc_id").toPandas()

        for i, text in enumerate(texts):
            want = []
            for tok in re.findall(r"[a-z]+|[0-9]+|[^a-z0-9\s]", text.lower()):
                if re.fullmatch(r"[a-z]+", tok):
                    want += apply_bpe(tok, MERGES)
                else:
                    want.append(tok)
            assert list(got["tokens"].iloc[i]) == want, text
            assert got["n_bpe_tokens"].iloc[i] == len(want)
            assert counts["n_bpe_tokens"].iloc[i] == len(want)


class TestMaterializeSequences:
    def test_full_chain_token_conservation(self, spark):
        """split -> pack -> materialize: every sequence's token stream
        respects the budget, chunk slices reassemble each doc's exact
        token array, and the optional vocab path emits collision-safe
        input_ids (OOV ids strictly above the vocab range)."""
        import pandas as pd

        from go_matrixprofile_spark.operators.corpus import (
            bpe_vocab,
            materialize_sequences,
            pack_sequences,
            split_documents,
        )
        from go_matrixprofile_spark.functions.bpe import MERGES
        from go_matrixprofile_spark.operators.text import tokenize_bpe

        budget = 16
        texts = [
            "the lower newest low here is a longer document with many words "
            "that will certainly exceed a sixteen token budget and be split",
            "short one.",
            "digits 123 and punctuation! also, some commas, and more words "
            "to push this over the budget line for a second oversized doc",
        ]
        docs = spark.createDataFrame(
            list(enumerate(texts)), "doc_id long, text string"
        )
        tokenized = tokenize_bpe(docs)
        acct = tokenized.select(
            "doc_id", F.col("n_bpe_tokens")
        )
        chunks = split_documents(acct, budget=budget)
        packed = pack_sequences(
            chunks, budget=budget, n_buckets=4, token_col="n_tokens",
            chunk_col="chunk_idx",
        )
        vocab = bpe_vocab(MERGES)
        seqs = materialize_sequences(
            packed, tokenized, budget=budget, vocab=vocab
        ).toPandas()

        # budget holds for every materialized sequence
        assert (seqs["n_tokens"] <= budget).all()
        assert (seqs["n_tokens"] == seqs["tokens"].map(len)).all()
        # global token conservation: concatenating every sequence's
        # tokens reproduces the multiset of all docs' tokens
        all_seq_toks = sorted(t for ts in seqs["tokens"] for t in ts)
        ref = sorted(
            t for ts in tokenized.toPandas()["tokens"] for t in ts
        )
        assert all_seq_toks == ref
        # per-doc reassembly: ordered chunk slices == the doc's array
        tok_pd = tokenized.toPandas().set_index("doc_id")["tokens"]
        joined = packed.toPandas().sort_values(["doc_id", "chunk_idx"])
        for d, sub in joined.groupby("doc_id"):
            rebuilt = []
            for _, r in sub.iterrows():
                lo = int(r.chunk_idx) * budget
                rebuilt += list(tok_pd[d][lo : lo + int(r.n_tokens)])
            assert rebuilt == list(tok_pd[d]), d
        # ids: known tokens < len(vocab); OOV (digits/punct) ids in
        # [len(vocab), len(vocab)+4096)
        nv = len(vocab)
        for ts, ids in zip(seqs["tokens"], seqs["input_ids"]):
            for t, i in zip(ts, ids):
                if t in vocab:
                    assert i == vocab[t]
                else:
                    assert nv <= i < nv + 4096

    def test_vocab_validation(self, spark):
        from go_matrixprofile_spark.operators.corpus import bpe_vocab, materialize_sequences

        import pytest as _pytest

        dummy = spark.createDataFrame([], "doc_id long, chunk_idx int, n_tokens long, bucket int, seq_id long, seq_offset int")
        toks = spark.createDataFrame([], "doc_id long, tokens array<string>")
        with _pytest.raises(ValueError, match="non-empty"):
            materialize_sequences(dummy, toks, vocab={})
        with _pytest.raises(ValueError, match="unique"):
            materialize_sequences(dummy, toks, vocab={"a": 1, "b": 1})
        v = bpe_vocab([("l", "o"), ("lo", "w")])
        assert v["a"] == 0 and v["lo"] == 26 and v["low"] == 27

    def test_missing_doc_fails_loudly(self, spark):
        """A packed chunk whose doc is absent from the tokenized side
        raises (left-join guard) instead of silently assembling a
        short sequence."""
        import pytest as _pytest

        from go_matrixprofile_spark.operators.corpus import materialize_sequences

        packed = spark.createDataFrame(
            [(0, 0, 5, 0, 0, 0), (99, 0, 5, 0, 0, 5)],
            "doc_id long, chunk_idx int, n_tokens long, bucket int, seq_id long, seq_offset long",
        )
        toks = spark.createDataFrame(
            [(0, ["a", "b", "c", "d", "e"])], "doc_id long, tokens array<string>"
        )
        with _pytest.raises(Exception, match="missing from tokenized|assert"):
            # toPandas, not count: a count lets Catalyst prune the
            # guarded column and the assert never evaluates
            materialize_sequences(packed, toks, budget=16).toPandas()
        # and a too-short token array is equally loud
        short = spark.createDataFrame(
            [(0, ["a", "b"]), (99, ["x"] * 5)],
            "doc_id long, tokens array<string>",
        )
        with _pytest.raises(Exception, match="inconsistent|assert"):
            materialize_sequences(packed, short, budget=16).toPandas()

    def test_overlong_tokens_fail_loudly(self, spark):
        """A token array LONGER than the packed accounting (fewer
        merges on the tokenized side) slices correctly-sized windows at
        wrong boundaries — the final-chunk boundary guard must raise
        instead of silently emitting shifted tokens (advisor item r5)."""
        import pytest as _pytest

        from go_matrixprofile_spark.operators.corpus import materialize_sequences

        # doc 0 packed as 5 tokens (one non-full final chunk, budget 16)
        packed = spark.createDataFrame(
            [(0, 0, 5, 0, 0, 0)],
            "doc_id long, chunk_idx int, n_tokens long, bucket int, seq_id long, seq_offset long",
        )
        overlong = spark.createDataFrame(
            [(0, ["t"] * 9)], "doc_id long, tokens array<string>"
        )
        with _pytest.raises(Exception, match="inconsistent|assert"):
            materialize_sequences(packed, overlong, budget=16).toPandas()
        # exact match still sails through
        ok = spark.createDataFrame(
            [(0, ["t"] * 5)], "doc_id long, tokens array<string>"
        )
        out = materialize_sequences(packed, ok, budget=16).toPandas()
        assert out["n_tokens"].tolist() == [5]
