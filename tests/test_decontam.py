"""Benchmark-decontamination tests (word-13-gram overlap flagging)."""

import numpy as np
import pandas as pd


class TestDecontaminate:
    def test_planted_overlap_flagged(self, spark):
        from go_matrixprofile_spark.operators.decontam import decontaminate

        rng = np.random.default_rng(53)
        vocab = [f"word{i}" for i in range(200)]
        bench_texts = [
            " ".join(rng.choice(vocab, size=30)) for _ in range(5)
        ]
        clean = [" ".join(rng.choice(vocab, size=40)) for _ in range(6)]
        # doc 6: a verbatim 15-word span from benchmark 0 (punctuation
        # and case noise must not hide it); doc 7: only a 12-word span
        # (below n=13 -> NOT contaminated)
        b0 = bench_texts[0].split()
        dirty = " ".join(rng.choice(vocab, size=10)) + " " + " ".join(b0[:15]).upper() + "!"
        near = " ".join(rng.choice(vocab, size=10)) + " " + " ".join(b0[:12])
        texts = clean + [dirty, near]
        docs = spark.createDataFrame(
            pd.DataFrame({"doc_id": range(len(texts)), "text": texts})
        )
        bench = spark.createDataFrame(
            pd.DataFrame({"bench_id": range(len(bench_texts)), "text": bench_texts})
        )
        got = decontaminate(docs, bench, n=13).orderBy("doc_id").toPandas()
        assert bool(got["contaminated"].iloc[6])
        assert got["n_hits"].iloc[6] == 3  # 15-word span -> 3 shared 13-grams
        assert not bool(got["contaminated"].iloc[7])
        # random 40-word docs over a 200-word vocab can't reproduce a
        # specific benchmark 13-gram
        assert not got["contaminated"].iloc[:6].any()
        # every doc exactly once, gram counts = max(words-12, 0)
        assert list(got["doc_id"]) == list(range(len(texts)))
        for i, t in enumerate(texts):
            w = len([x for x in t.split() if x])
            assert got["n_grams"].iloc[i] == max(w - 12, 0), i

    def test_matches_duckdb(self, spark):
        """Cross-engine: the same verdicts from an independent DuckDB
        SQL implementation over identical frames."""
        import duckdb

        from go_matrixprofile_spark.operators.decontam import decontaminate

        rng = np.random.default_rng(59)
        vocab = [f"w{i}" for i in range(50)]
        texts = [" ".join(rng.choice(vocab, size=int(s))) for s in rng.integers(5, 60, 30)]
        bench_texts = [" ".join(rng.choice(vocab, size=20)) for _ in range(4)]
        # plant one overlap
        texts[11] = texts[11] + " " + bench_texts[2]
        docs_pd = pd.DataFrame({"doc_id": range(len(texts)), "text": texts})
        bench_pd = pd.DataFrame({"bench_id": range(len(bench_texts)), "text": bench_texts})
        got = (
            decontaminate(
                spark.createDataFrame(docs_pd),
                spark.createDataFrame(bench_pd),
                n=13,
            )
            .orderBy("doc_id")
            .toPandas()
        )
        con = duckdb.connect()
        con.register("docs", docs_pd)
        con.register("bench", bench_pd)
        want = con.execute(
            r"""
            WITH dg AS (
              SELECT doc_id, array_to_string(ws[CAST(i AS INT):CAST(i AS INT)+12], ' ') AS gram
              FROM (
                SELECT doc_id,
                       regexp_split_to_array(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' ') AS ws
                FROM docs
              ), unnest(generate_series(1, greatest(len(ws) - 12, 0))) t(i)
            ),
            bg AS (
              SELECT DISTINCT array_to_string(ws[CAST(i AS INT):CAST(i AS INT)+12], ' ') AS gram
              FROM (
                SELECT regexp_split_to_array(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' ') AS ws
                FROM bench
              ), unnest(generate_series(1, greatest(len(ws) - 12, 0))) t(i)
            ),
            hits AS (
              SELECT dg.doc_id, COUNT(*) AS n_grams,
                     SUM(CASE WHEN bg.gram IS NOT NULL THEN 1 ELSE 0 END) AS n_hits
              FROM dg LEFT JOIN bg USING (gram) GROUP BY 1
            )
            SELECT d.doc_id,
                   CAST(COALESCE(h.n_grams, 0) AS BIGINT) AS n_grams,
                   CAST(COALESCE(h.n_hits, 0) AS BIGINT) AS n_hits,
                   COALESCE(h.n_hits, 0) > 0 AS contaminated
            FROM docs d LEFT JOIN hits h USING (doc_id)
            ORDER BY d.doc_id
            """
        ).df()
        con.close()
        assert got["contaminated"].iloc[11]
        pd.testing.assert_frame_equal(
            got.drop(columns=["hit_frac"]).reset_index(drop=True),
            want.reset_index(drop=True),
            check_dtype=False,
        )

    def test_any_hit_rule_on_small_fraction(self, spark):
        """GPT-3 any-hit rule: one quoted benchmark sentence in a long
        doc condemns it, however small its hit fraction."""
        from go_matrixprofile_spark.operators.decontam import decontaminate

        rng = np.random.default_rng(61)
        vocab = [f"tok{i}" for i in range(90)]
        bench_texts = [" ".join(rng.choice(vocab, size=26)) for _ in range(3)]
        texts = [" ".join(rng.choice(vocab, size=45)) for _ in range(4)]
        # doc 2: one quoted benchmark sentence in a long doc (small
        # fraction); doc 3: mostly benchmark text (large fraction)
        texts[2] = texts[2] + " " + bench_texts[0]
        texts[3] = bench_texts[1] + " " + bench_texts[2]
        docs = spark.createDataFrame(
            pd.DataFrame({"doc_id": range(len(texts)), "text": texts})
        )
        bench = spark.createDataFrame(
            pd.DataFrame({"bench_id": range(len(bench_texts)), "text": bench_texts})
        )
        got = decontaminate(docs, bench).orderBy("doc_id").toPandas()
        assert list(got["contaminated"]) == [False, False, True, True]
        assert 0 < got["hit_frac"].iloc[2] < 0.5 < got["hit_frac"].iloc[3]
        assert ((got["n_hits"] > 0) == got["contaminated"]).all()

    def test_spans_match_duckdb(self, spark):
        """contaminated_spans: planted overlaps come back as merged
        word-interval runs, bit-identical to a DuckDB gaps-and-islands
        twin."""
        import duckdb

        from go_matrixprofile_spark.operators.decontam import contaminated_spans

        rng = np.random.default_rng(7)
        vocab = [f"word{i}" for i in range(80)]
        bench_texts = [" ".join(rng.choice(vocab, size=25)) for _ in range(4)]
        texts = [
            " ".join(rng.choice(vocab, size=int(s)))
            for s in rng.integers(5, 70, 25)
        ]
        b0 = bench_texts[0].split()
        # doc 3: two disjoint planted spans separated by filler the
        # benchmark can't contain; doc 5: one long merged run
        texts[3] = (
            " ".join(b0[:16])
            + " " + " ".join(["zzz"] * 14) + " "
            + " ".join(b0[5:20])
        )
        texts[5] = texts[5] + " " + bench_texts[1]
        docs_pd = pd.DataFrame({"doc_id": range(len(texts)), "text": texts})
        bench_pd = pd.DataFrame(
            {"bench_id": range(len(bench_texts)), "text": bench_texts}
        )
        got = (
            contaminated_spans(
                spark.createDataFrame(docs_pd),
                spark.createDataFrame(bench_pd),
                n=13,
            )
            .orderBy("doc_id", "span_start")
            .toPandas()
        )
        # doc 3 keeps its two islands apart; doc 5 merges into one run
        assert (got["doc_id"] == 3).sum() == 2
        assert (got["doc_id"] == 5).sum() == 1
        con = duckdb.connect()
        con.register("docs", docs_pd)
        con.register("bench", bench_pd)
        want = con.execute(
            r"""
            WITH dg AS (
              SELECT doc_id, CAST(i-1 AS BIGINT) AS pos,
                     array_to_string(ws[CAST(i AS INT):CAST(i AS INT)+12], ' ') AS gram
              FROM (
                SELECT doc_id,
                       regexp_split_to_array(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' ') AS ws
                FROM docs
              ), unnest(generate_series(1, greatest(len(ws) - 12, 0))) t(i)
            ),
            bg AS (
              SELECT DISTINCT array_to_string(ws[CAST(i AS INT):CAST(i AS INT)+12], ' ') AS gram
              FROM (
                SELECT regexp_split_to_array(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' ') AS ws
                FROM bench
              ), unnest(generate_series(1, greatest(len(ws) - 12, 0))) t(i)
            ),
            hits AS (SELECT doc_id, pos FROM dg JOIN bg USING (gram)),
            lagged AS (
              SELECT doc_id, pos,
                     CASE WHEN pos > lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) + 13
                          THEN 1 ELSE 0 END AS brk
              FROM hits
            ),
            isl AS (
              SELECT doc_id, pos,
                     SUM(brk) OVER (PARTITION BY doc_id ORDER BY pos) AS island
              FROM lagged
            )
            SELECT doc_id, MIN(pos) AS span_start, MAX(pos) + 13 AS span_end,
                   COUNT(*) AS n_hit_grams
            FROM isl GROUP BY doc_id, island ORDER BY doc_id, span_start
            """
        ).df()
        con.close()
        pd.testing.assert_frame_equal(
            got.reset_index(drop=True),
            want.reset_index(drop=True),
            check_dtype=False,
        )
