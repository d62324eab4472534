"""Dedup + similarity-search operator tests: banded LSH recall, bucket
caps, and hot-shingle-safe exact Jaccard."""

import pandas as pd
import pytest
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def embeddings(spark):
    """Deterministic corpus: 60 base vectors (md5-derived components)
    plus 5 planted near-duplicates of vector 0 (tiny perturbations)."""
    import hashlib

    import numpy as np

    dim = 16
    rows = []
    for vid in range(60):
        v = np.array(
            [
                int(hashlib.md5(f"{vid}_{d}".encode()).hexdigest()[:8], 16) % 1000 / 500.0
                - 1.0
                for d in range(dim)
            ]
        )
        rows.append((vid, [float(x) for x in v]))
    base = np.array(rows[0][1])
    for j in range(5):
        pert = base + (np.arange(dim) % 3 - 1) * 0.001 * (j + 1)
        rows.append((100 + j, [float(x) for x in pert]))
    return spark.createDataFrame(
        pd.DataFrame(rows, columns=["vec_id", "embedding"])
    )


class TestBandedLSH:
    def test_near_dups_found_and_exact(self, spark, embeddings):
        from go_matrixprofile_spark.operators.simsearch import cosine_near_dup_pairs

        got = cosine_near_dup_pairs(
            embeddings, threshold=0.999, n_tables=4, band_size=4
        ).toPandas()
        # every planted duplicate pair (0, 100+j) and (100+i, 100+j) is
        # nearly identical -> must share at least one band bucket
        ids = {0, 100, 101, 102, 103, 104}
        found = {(r.a_id, r.b_id) for r in got.itertuples()}
        for a in sorted(ids):
            for b in sorted(ids):
                if a < b:
                    assert (a, b) in found, f"missing planted pair {(a, b)}"
        assert (got["cosine"] >= 0.999).all()

    def test_bucket_cap_bounds_blocks(self, spark, embeddings, monkeypatch):
        from go_matrixprofile_spark.operators import simsearch
        from go_matrixprofile_spark.operators.simsearch import (
            _cap_buckets,
            lsh_band_buckets,
        )

        monkeypatch.setattr(simsearch, "MAX_BUCKET", 10)
        bk = lsh_band_buckets(embeddings, n_tables=2, band_size=2)
        capped = _cap_buckets(bk)
        sizes = (
            capped.groupBy("tbl", "bucket").count().agg(F.max("count")).collect()[0][0]
        )
        assert sizes is None or sizes <= 10  # None = every bucket was over-full
        # with 65 vectors and 4 buckets/table, uncapped max must exceed 10
        raw_max = bk.groupBy("tbl", "bucket").count().agg(F.max("count")).collect()[0][0]
        assert raw_max > 10

    def test_knn_lsh_subset_of_brute(self, spark, embeddings):
        from go_matrixprofile_spark.operators.simsearch import (
            knn_brute_cosine,
            knn_lsh_cosine,
        )

        brute = knn_brute_cosine(embeddings, n_queries=2, k=3).toPandas()
        ann = knn_lsh_cosine(
            embeddings, n_queries=2, k=3, n_tables=4, band_size=4
        ).toPandas()
        # ANN scores can't beat brute-force at the same rank
        for qid in (0, 1):
            b = brute[brute.qid == qid].sort_values("rank")["score"].to_numpy()
            a = ann[ann.qid == qid].sort_values("rank")["score"].to_numpy()
            assert len(a) <= len(b)
            for i, s in enumerate(a):
                assert s <= b[i] + 1e-9


class TestJaccardCandidates:
    def test_hot_shingle_capped_but_jaccard_exact(self, spark, monkeypatch):
        from go_matrixprofile_spark.operators import dedup
        from go_matrixprofile_spark.operators.dedup import ngram_jaccard_pairs

        # doc 0/1 near-identical (share rare shingles); docs 2-9 share
        # ONLY one hot 8-gram ("common!!") which a document-frequency cap
        # of 5 excludes from candidate generation
        monkeypatch.setattr(dedup, "NGRAM_MAX_DF", 5)
        hot = "common!!"
        rows = [
            (0, "the quick brown fox jumps over the lazy dog"),
            (1, "the quick brown fox jumps over the lazy cat"),
        ] + [(i, f"{hot} " + str(i) * 15) for i in range(2, 10)]
        docs = spark.createDataFrame(pd.DataFrame(rows, columns=["doc_id", "text"]))
        got = ngram_jaccard_pairs(docs, k=8, threshold=0.1).toPandas()
        pairs = {(r.a_id, r.b_id) for r in got.itertuples()}
        assert (0, 1) in pairs
        # hot-only pairs are not candidates
        for a, b in pairs:
            assert not (a >= 2 and b >= 2)
        # the reported jaccard is exact over ALL shingles (including any
        # hot ones), verified against a pandas computation
        def shingle_set(t):
            return {t[i : i + 8] for i in range(max(len(t) - 7, 1)) if t[i : i + 8]}

        s0, s1 = shingle_set(rows[0][1]), shingle_set(rows[1][1])
        want = round(len(s0 & s1) / len(s0 | s1), 4)
        got01 = got[(got.a_id == 0) & (got.b_id == 1)]["jaccard"].iloc[0]
        assert abs(got01 - want) < 1e-9


class TestRepetitionStats:
    def test_hand_computed_fractions(self, spark):
        """Gopher repetition signals on hand-countable docs: a degenerate
        'a a a a' doc maxes every fraction; a all-distinct doc zeroes the
        dup fractions; a 2-word doc yields NULL 3-gram fractions."""
        import pandas as pd

        from go_matrixprofile_spark.operators.text import repetition_stats

        docs = spark.createDataFrame(
            pd.DataFrame(
                {
                    "doc_id": [0, 1, 2],
                    "text": ["a a a a", "w x y z", "p q"],
                }
            )
        )
        got = (
            repetition_stats(docs).orderBy("doc_id").toPandas().set_index("doc_id")
        )
        # doc 0: 4x 'a' -> top/dup 1gram = 1.0; 3x 'a a' -> 1.0; 2x 'a a a'
        assert got.loc[0, "n_words"] == 4
        assert got.loc[0, "top_1gram_frac"] == 1.0
        assert got.loc[0, "dup_1gram_frac"] == 1.0
        assert got.loc[0, "top_2gram_frac"] == 1.0
        assert got.loc[0, "top_3gram_frac"] == 1.0
        # doc 1: all grams distinct -> top = 1/total, dup = 0
        assert got.loc[1, "n_words"] == 4
        assert got.loc[1, "top_1gram_frac"] == 0.25
        assert got.loc[1, "dup_1gram_frac"] == 0.0
        assert round(got.loc[1, "top_2gram_frac"], 4) == round(1 / 3, 4)
        assert got.loc[1, "dup_3gram_frac"] == 0.0
        # doc 2: only 2 words -> no 3-grams -> NULL fracs, 2-gram present
        assert got.loc[2, "n_words"] == 2
        assert got.loc[2, "top_2gram_frac"] == 1.0
        assert pd.isna(got.loc[2, "top_3gram_frac"])
        assert pd.isna(got.loc[2, "dup_3gram_frac"])


class TestWinnowDupPairs:
    def test_shared_passage_found_boilerplate_gated(self, spark):
        """Two docs sharing a 60-char passage inside otherwise-different
        text are reported (SWA guarantee: every common substring of
        length >= k+window-1 = 11 shares a fingerprint); docs with no
        overlap are not; a boilerplate string present in EVERY doc is
        df-gated out and creates no pairs on its own."""
        import pandas as pd

        from go_matrixprofile_spark.operators.dedup import winnow_dup_pairs

        import numpy as np

        rng = np.random.default_rng(7)

        def salt(n):
            return "".join(rng.choice(list("abcdefghij"), n))

        passage = "the quick brown fox jumps over the lazy dog again and again"
        boiler = "standard header boilerplate"
        docs = spark.createDataFrame(
            pd.DataFrame(
                {
                    "doc_id": [0, 1, 2, 3],
                    "text": [
                        f"{boiler} {salt(80)} {passage} {salt(80)}",
                        f"{boiler} {salt(80)} {passage} {salt(80)}",
                        f"{boiler} {salt(160)}",
                        f"{boiler} {salt(160)}",
                    ],
                }
            )
        )
        got = winnow_dup_pairs(
            docs, k=8, window=4, min_shared=5, max_df=2
        ).toPandas()
        pairs = set(zip(got["a_id"], got["b_id"]))
        assert (0, 1) in pairs
        assert (2, 3) not in pairs  # only boilerplate in common, df-gated


class TestNewOpProperties:
    """Randomized (seeded) structural properties, batched into single
    Spark jobs: 30 random docs cross-checked against a pure-Python
    reference for repetition_stats; 12 doc-pair groups with planted
    shared passages for the winnowing SWA guarantee."""

    def test_repetition_stats_matches_python_reference(self, spark):
        import collections

        import numpy as np
        import pandas as pd

        from go_matrixprofile_spark.operators.text import repetition_stats

        rng = np.random.default_rng(42)
        vocab = ["aa", "bb", "cc", "dd", "ee"]
        docs = []
        for i in range(30):
            n = int(rng.integers(1, 40))
            docs.append((i, " ".join(rng.choice(vocab, n))))
        sdf = spark.createDataFrame(pd.DataFrame(docs, columns=["doc_id", "text"]))
        got = (
            repetition_stats(sdf).orderBy("doc_id").toPandas().set_index("doc_id")
        )

        def r4(x):  # Spark/DuckDB ROUND is half-up; Python round is banker's
            import math

            return math.floor(x * 10000 + 0.5) / 10000

        def ref(text, n):
            ws = text.split(" ")
            grams = [" ".join(ws[i : i + n]) for i in range(len(ws) - n + 1)]
            if not grams:
                return None, None
            c = collections.Counter(grams)
            total = sum(c.values())
            top = max(c.values()) / total
            dup = sum(v for v in c.values() if v > 1) / total
            return r4(top), r4(dup)

        for i, text in docs:
            for n in (1, 2, 3):
                top, dup = ref(text, n)
                gt = got.loc[i, f"top_{n}gram_frac"]
                gd = got.loc[i, f"dup_{n}gram_frac"]
                if top is None:
                    assert pd.isna(gt) and pd.isna(gd), (i, n)
                else:
                    assert gt == top and gd == dup, (i, n, text, gt, top, gd, dup)

    def test_winnow_swa_guarantee_randomized(self, spark):
        import numpy as np
        import pandas as pd

        from go_matrixprofile_spark.operators.dedup import winnow_dup_pairs

        rng = np.random.default_rng(7)
        # per-group distinct alphabets keep cross-group 8-gram overlap
        # improbable; the planted passage guarantees >= 5 shared fps
        # (length 60 >> k + window - 1 = 11)
        alphabets = ["abcdefgh", "ijklmnop", "qrstuvwx", "yzABCDEF",
                     "GHIJKLMN", "OPQRSTUV", "WXYZ0123", "456789_-",
                     "abcdwxyz", "efghijkl", "mnopqrst", "uvwxEFGH"]
        docs = []
        for g, ab in enumerate(alphabets):
            passage = "".join(rng.choice(list(ab), 60))
            for j in range(2):
                salt = "".join(rng.choice(list(ab), 120))
                docs.append((2 * g + j, salt[:60] + passage + salt[60:]))
        sdf = spark.createDataFrame(pd.DataFrame(docs, columns=["doc_id", "text"]))
        got = winnow_dup_pairs(sdf, k=8, window=4, min_shared=5, max_df=4).toPandas()
        pairs = set(zip(got["a_id"], got["b_id"]))
        for g in range(len(alphabets)):
            assert (2 * g, 2 * g + 1) in pairs, f"planted pair of group {g} missed"
        for a, b in pairs:
            assert a // 2 == b // 2, f"spurious cross-group pair ({a},{b})"


class TestConnectedComponents:
    def test_chain_converges_to_one_component(self, spark, monkeypatch):
        """A chain a-b-c-d with only adjacent pairs must resolve to ONE
        component labeled by the min member — the case plain one-hop
        propagation gets wrong without enough rounds (r03 verdict item 1
        done-criterion). 64-long chain ⇒ needs pointer jumping to
        converge within 10 rounds."""
        from go_matrixprofile_spark.operators import dedup

        monkeypatch.setattr(dedup, "MAX_ITER", 10)
        n = 64
        pairs = spark.createDataFrame(
            pd.DataFrame({"a_id": range(n - 1), "b_id": range(1, n)})
        )
        got = dedup.connected_components(pairs).toPandas()
        assert len(got) == n
        assert (got["component"] == 0).all()

    def test_reliable_checkpoint_path(self, spark, tmp_path):
        """With a checkpoint dir set on the session, each round is
        persisted with checkpoint() under it (so a cluster executor loss
        replays from the FS instead of failing the truncated-lineage
        job); with none set, the rounds run on localCheckpoint() and
        write nothing. Both give the same components."""
        from go_matrixprofile_spark.operators.dedup import connected_components

        n = 64
        pairs = spark.createDataFrame(
            pd.DataFrame({"a_id": range(n - 1), "b_id": range(1, n)})
        )
        sc = spark.sparkContext
        assert sc.getCheckpointDir() is None
        sc.setCheckpointDir(str(tmp_path / "cc_ckpt"))
        try:
            durable = connected_components(pairs).toPandas()
        finally:
            # restore: the session is shared and this test asserts the
            # unset state itself on re-runs
            getattr(sc._jsc.sc(), "checkpointDir_$eq")(
                sc._jvm.scala.Option.apply(None)
            )
        written = sorted(p for p in tmp_path.rglob("*") if p.is_file())
        assert written
        local = connected_components(pairs).toPandas()
        assert sorted(p for p in tmp_path.rglob("*") if p.is_file()) == written
        for got in (local, durable):
            assert len(got) == n
            assert (got["component"] == 0).all()

    def test_matches_union_find_on_random_graph(self, spark):
        """Components over a random sparse pair set, plus a 64-node
        chain (deep tree) and a 50-spoke hub (one huge neighbourhood),
        equal a pure-Python union-find ground truth."""
        import numpy as np

        from go_matrixprofile_spark.operators.dedup import connected_components

        rng = np.random.default_rng(13)
        n, m = 200, 120
        a = rng.integers(0, n, m)
        b = rng.integers(0, n, m)
        mask = a != b
        a = np.concatenate([a[mask], np.arange(1000, 1063), np.full(50, 2000)])
        b = np.concatenate([b[mask], np.arange(1001, 1064), np.arange(2001, 2051)])
        pairs = spark.createDataFrame(pd.DataFrame({"a_id": a, "b_id": b}))

        parent = {int(x): int(x) for x in np.concatenate([a, b])}

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for u, v in zip(a, b):
            parent[find(int(u))] = find(int(v))
        # canonical min-member label per root
        members: dict[int, list[int]] = {}
        for x in parent:
            members.setdefault(find(x), []).append(x)
        want = {}
        for mem in members.values():
            lo = min(mem)
            for x in mem:
                want[x] = lo

        got = connected_components(pairs).toPandas()
        assert set(got["node"]) == set(parent)
        for r in got.itertuples():
            assert r.component == want[r.node], r
        assert want[1063] == 1000 and want[2050] == 2000

    def test_dedup_groups_end_to_end(self, spark):
        """dedup_groups over planted duplicate docs: exact copies and
        near-copies collapse into one component with the min doc_id as
        the sole survivor; unrelated docs survive as singletons."""
        from go_matrixprofile_spark.operators.dedup import dedup_groups

        base = (
            "the quick brown fox jumps over the lazy dog and then "
            "runs far away into the deep dark woods tonight"
        )
        other = (
            "completely different content about spark execution plans "
            "and shuffle partitioning strategies at scale"
        )
        docs = spark.createDataFrame(
            pd.DataFrame(
                {
                    "doc_id": [0, 1, 2, 10, 11],
                    "text": [
                        base,
                        base,  # exact dup of 0
                        base.replace("tonight", "today"),  # near dup
                        other,
                        other.replace("scale", "SCALE"),  # near dup of 10
                    ],
                }
            )
        )
        got = (
            dedup_groups(docs)
            .orderBy("doc_id")
            .toPandas()
            .set_index("doc_id")
        )
        assert got.loc[0, "component_id"] == 0 and got.loc[0, "keep"]
        assert got.loc[1, "component_id"] == 0 and not got.loc[1, "keep"]
        assert got.loc[2, "component_id"] == 0 and not got.loc[2, "keep"]
        assert got.loc[10, "component_id"] == 10 and got.loc[10, "keep"]
        assert got.loc[11, "component_id"] == 10 and not got.loc[11, "keep"]


class TestPQADC:
    def test_codes_identity_and_cluster_recall(self, spark):
        """PQ: codebook vectors code to themselves (d2=0 identity); for
        clustered data, a center-query's ADC top-k is exactly its noisy
        copies (shared codes on every subvector -> approx dist 0)."""
        import numpy as np
        import pandas as pd

        from go_matrixprofile_spark.operators.simsearch import knn_pq_adc, pq_codes

        rng = np.random.default_rng(3)
        dim, k_codes, copies = 64, 16, 3
        centers = rng.choice([-1.0, 1.0], (k_codes, dim)) * rng.uniform(
            0.5, 1.5, (k_codes, dim)
        )
        rows = [(i, centers[i].astype(np.float32).tolist(), i) for i in range(k_codes)]
        vid = k_codes
        for i in range(k_codes):
            for _ in range(copies):
                noisy = centers[i] + rng.normal(0, 0.01, dim)
                rows.append((vid, noisy.astype(np.float32).tolist(), i))
                vid += 1
        emb = spark.createDataFrame(
            pd.DataFrame(rows, columns=["vec_id", "embedding", "label"])
        )
        _, codes = pq_codes(emb, dim)
        cp = codes.toPandas()
        own = cp[cp.vec_id < k_codes]
        assert (own["code"] == own["vec_id"]).all()  # identity coding

        top = knn_pq_adc(emb, n_queries=8, k=copies).toPandas()
        lab = {r[0]: r[2] for r in rows}
        for q in range(8):
            mine = top[top.qid == q]
            assert len(mine) == copies
            assert (mine["dist"] == 0.0).all()  # shared codes -> ADC 0
            assert all(lab[n] == q for n in mine["nid"])


class TestPQRefine:
    def test_lloyd_refinement_reduces_quantization_error(self, spark):
        """refine=n runs deterministic Lloyd iterations: total
        quantization error must strictly improve over the seed codebook
        when the seeds are unrepresentative (all drawn from one
        cluster), and never increase with more iterations."""
        import numpy as np
        import pandas as pd

        from go_matrixprofile_spark.operators.simsearch import _l2sq, pq_codes

        rng = np.random.default_rng(11)
        dim = 64
        # 4 well-separated cluster centers; the FIRST 16 vecs (the PQ
        # seeds) all come from cluster 0, so the seed codebook is bad
        centers = rng.normal(0, 1, (4, dim)) * 8
        rows = []
        vid = 0
        for i in range(64):
            c = 0 if vid < 16 else i % 4
            rows.append(
                (vid, (centers[c] + rng.normal(0, 0.2, dim)).astype(np.float32).tolist(), c)
            )
            vid += 1
        emb = spark.createDataFrame(
            pd.DataFrame(rows, columns=["vec_id", "embedding", "label"])
        )

        def total_err(refine):
            cb, codes = pq_codes(emb, dim, refine=refine)
            sub_len = dim // 4
            subs = F.explode(
                F.transform(
                    F.sequence(F.lit(0), F.lit(3)),
                    lambda s: F.struct(
                        s.cast("int").alias("sub"),
                        F.slice(F.col("embedding"), s * sub_len + 1, sub_len).alias("v"),
                    ),
                )
            ).alias("e")
            sv = emb.select("vec_id", subs).select(
                "vec_id", "e.sub", F.col("e.v").alias("xe")
            )
            joined = sv.join(codes, ["vec_id", "sub"]).join(cb, ["sub", "code"])
            return (
                joined.agg(
                    F.sum(_l2sq(F.col("xe"), F.col("ce"))).alias("err")
                ).collect()[0]["err"]
            )

        e0, e1, e2 = total_err(0), total_err(1), total_err(2)
        assert e1 < e0 * 0.5, (e0, e1)  # bad seeds -> big first-step win
        assert e2 <= e1 + 1e-6, (e1, e2)  # monotone non-increasing

    def test_deep_refine_wall_and_plan_bounded(self, spark):
        """refine=4 must cost ~linearly more than refine=1, not
        exponentially: sv is checkpointed once and each refined codebook
        per iteration, so iteration lineage never re-executes prior
        rounds (r03 verdict nit #1). Also pins that the refined
        codebook's plan tree stays flat (a checkpointed scan, not a
        4-deep join chain)."""
        import time

        import numpy as np
        import pandas as pd

        from go_matrixprofile_spark.operators.simsearch import pq_codes

        rng = np.random.default_rng(17)
        dim = 64
        rows = [
            (i, rng.normal(0, 1, dim).astype(np.float32).tolist())
            for i in range(64)
        ]
        emb = spark.createDataFrame(
            pd.DataFrame(rows, columns=["vec_id", "embedding"])
        )

        def wall(refine):
            t0 = time.time()
            cb, codes = pq_codes(emb, dim, refine=refine)
            codes.count()
            return time.time() - t0, cb

        w1, _ = wall(1)
        w4, cb4 = wall(4)
        # generous 6x bound (vs ~4x ideal) absorbs VM jitter; the broken
        # re-execute-everything lineage is multiplicatively worse
        assert w4 < max(w1 * 6.0, w1 + 30.0), (w1, w4)
        # the returned codebook reads from a checkpoint, not a join chain
        plan = cb4._jdf.queryExecution().optimizedPlan().toString()
        assert "LogicalRDD" in plan or "Scan ExistingRDD" in plan, plan[:500]
