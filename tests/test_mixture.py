"""Deterministic mixture sampling / train-val split (operators/mixture.py).

Pins: exact integer-epoch copy counts, E[copies] = weight for
fractional parts, partitioning/row-order invariance, subset
consistency of the split, and byte-for-byte equivalence with an
independent DuckDB implementation of the identical salted-md5
arithmetic (the same construction the gate oracle runs).
"""

from __future__ import annotations

import duckdb
import pandas as pd
import pytest

from go_matrixprofile_spark.operators.mixture import mixture_sample, train_val_split

pytestmark = pytest.mark.usefixtures("spark")


def _docs(spark, n=400):
    rows = [(i, f"src{i % 5}", f"text {i}") for i in range(n)]
    return spark.createDataFrame(rows, "doc_id long, source string, text string")


class TestMixtureSample:
    def test_integer_weights_exact_copies(self, spark):
        docs = _docs(spark, 100)
        out = mixture_sample(
            docs, {"src0": 2.0, "src1": 0.0, "src2": 3.0}, seed=7
        ).toPandas()
        by = out.groupby("source")["doc_id"].count().to_dict()
        # 20 docs per domain; integer weights have zero variance
        assert by.get("src0") == 40
        assert "src1" not in by
        assert by.get("src2") == 60
        assert by.get("src3") == 20 and by.get("src4") == 20  # default 1.0
        # epochs are contiguous 0..n-1 per doc
        g = out[out.source == "src2"].groupby("doc_id")["epoch"].agg(["min", "max", "count"])
        assert (g["min"] == 0).all() and (g["max"] == 2).all() and (g["count"] == 3).all()

    def test_fractional_weight_expectation_and_determinism(self, spark):
        docs = _docs(spark, 2000)
        out1 = mixture_sample(docs, {"src0": 1.5}, seed=3).toPandas()
        n0 = (out1.source == "src0").sum()
        # 400 docs in src0, E=600; salted-md5 Bernoulli, tolerance ~5 sigma
        assert 540 <= n0 <= 660
        # identical under a different partitioning / input order
        out2 = mixture_sample(
            docs.repartition(7).sortWithinPartitions("text"), {"src0": 1.5}, seed=3
        ).toPandas()
        key = ["doc_id", "epoch"]
        pd.testing.assert_frame_equal(
            out1.sort_values(key).reset_index(drop=True)[key + ["order_key"]],
            out2.sort_values(key).reset_index(drop=True)[key + ["order_key"]],
        )
        # a different seed keeps/drops a DIFFERENT fractional subset
        out3 = mixture_sample(docs, {"src0": 1.5}, seed=4).toPandas()
        s1 = set(out1[(out1.source == "src0") & (out1.epoch == 1)].doc_id)
        s3 = set(out3[(out3.source == "src0") & (out3.epoch == 1)].doc_id)
        assert s1 != s3

    def test_order_key_separates_epoch_copies(self, spark):
        docs = _docs(spark, 300)
        out = mixture_sample(docs, {f"src{i}": 2.0 for i in range(5)}, seed=0).toPandas()
        assert len(out) == 600
        assert out["order_key"].nunique() == 600  # distinct with high prob at n=600
        # the two copies of a doc do NOT sort adjacently in general:
        # ranks of epoch 0 vs epoch 1 for the same doc are unrelated
        ranked = out.sort_values("order_key").reset_index(drop=True)
        ranked["rank"] = ranked.index
        gap = ranked.groupby("doc_id")["rank"].agg(lambda s: abs(s.iloc[0] - s.iloc[1]))
        assert gap.median() > 50  # ~uniform gap on 600 rows, median ≈ 200

    def test_rejects_negative_weight(self, spark):
        with pytest.raises(ValueError, match=">= 0"):
            mixture_sample(_docs(spark, 4), {"src0": -1.0})

    def test_duckdb_equivalence(self, spark):
        docs = _docs(spark, 500)
        got = (
            mixture_sample(docs, {"src0": 2.5, "src1": 0.25, "src2": 0.0}, seed=42)
            .select("doc_id", "source", "epoch", "order_key")
            .toPandas()
            .sort_values(["doc_id", "epoch"])
            .reset_index(drop=True)
        )
        pdf = docs.toPandas()
        con = duckdb.connect()
        con.register("documents", pdf)
        want = con.sql(
            """
WITH w AS (
  SELECT doc_id, source,
         CAST(CASE source WHEN 'src0' THEN 2.5 WHEN 'src1' THEN 0.25
              WHEN 'src2' THEN 0.0 ELSE 1.0 END AS DOUBLE) AS wt,
         ('0x' || substr(md5('mix:42:' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
           / 4294967296.0 AS u
  FROM documents
), n AS (
  SELECT doc_id, source,
         CAST(FLOOR(wt) AS INT)
           + CASE WHEN u < wt - FLOOR(wt) THEN 1 ELSE 0 END AS n_copies
  FROM w
), ep AS (
  SELECT doc_id, source,
         CAST(unnest(generate_series(0, n_copies - 1)) AS INT) AS epoch
  FROM n
)
SELECT doc_id, source, epoch,
       ('0x' || substr(md5('shuf:42:' || CAST(epoch AS VARCHAR) || ':'
                           || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT AS order_key
FROM ep
ORDER BY doc_id, epoch
"""
        ).df()
        pd.testing.assert_frame_equal(got, want, check_dtype=False)


class TestTrainValSplit:
    def test_partition_disjoint_deterministic(self, spark):
        docs = _docs(spark, 3000)
        out = train_val_split(docs, val_frac=0.1, seed=1).toPandas()
        assert set(out["split"]) == {"train", "val"}
        assert len(out) == 3000  # every doc assigned exactly once
        n_val = (out.split == "val").sum()
        assert 240 <= n_val <= 360  # E=300, ~5 sigma
        again = train_val_split(docs.repartition(11), val_frac=0.1, seed=1).toPandas()
        m = out.merge(again, on="doc_id", suffixes=("_a", "_b"))
        assert (m.split_a == m.split_b).all()

    def test_subset_consistency(self, spark):
        docs = _docs(spark, 1000)
        full = train_val_split(docs, val_frac=0.2, seed=9).toPandas()
        sub = train_val_split(
            docs.filter("doc_id % 3 = 0"), val_frac=0.2, seed=9
        ).toPandas()
        m = full.merge(sub, on="doc_id", suffixes=("_full", "_sub"))
        assert len(m) == len(sub)
        assert (m.split_full == m.split_sub).all()

    def test_bad_frac_rejected(self, spark):
        with pytest.raises(ValueError, match="val_frac"):
            train_val_split(_docs(spark, 4), val_frac=1.5)

    def test_duckdb_equivalence(self, spark):
        docs = _docs(spark, 800)
        got = (
            train_val_split(docs, val_frac=0.15, seed=5)
            .select("doc_id", "split")
            .toPandas()
            .sort_values("doc_id")
            .reset_index(drop=True)
        )
        con = duckdb.connect()
        con.register("documents", docs.toPandas())
        want = con.sql(
            """
SELECT doc_id,
       CASE WHEN ('0x' || substr(md5('split:5:' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
                 / 4294967296.0 < 0.15
            THEN 'val' ELSE 'train' END AS split
FROM documents ORDER BY doc_id
"""
        ).df()
        pd.testing.assert_frame_equal(got, want, check_dtype=False)


class TestTemperatureWeights:
    def test_tau_limits_and_size_preservation(self, spark):
        """tau=1 → natural distribution (all weights 1); tau<1
        up-samples rare domains and down-samples the head; the
        normalization preserves expected corpus size
        (sum_d w_d * f_d = 1); composing with mixture_sample yields
        roughly the temperature-reweighted sizes."""
        from go_matrixprofile_spark.operators.mixture import (
            mixture_sample,
            temperature_weights,
        )

        # skewed corpus: 800 / 150 / 50 docs across three domains
        rows = (
            [(i, "head", "x") for i in range(800)]
            + [(800 + i, "mid", "x") for i in range(150)]
            + [(950 + i, "tail", "x") for i in range(50)]
        )
        docs = spark.createDataFrame(rows, "doc_id long, source string, text string")

        w1 = temperature_weights(docs, tau=1.0)
        assert all(abs(v - 1.0) < 1e-12 for v in w1.values())

        w = temperature_weights(docs, tau=0.3)
        f = {"head": 0.8, "mid": 0.15, "tail": 0.05}
        assert w["tail"] > w["mid"] > w["head"]
        assert w["head"] < 1.0 < w["tail"]
        assert abs(sum(w[k] * f[k] for k in f) - 1.0) < 1e-12
        # exact closed form: w_d = f_d^(tau-1) / sum f^tau
        z = sum(v**0.3 for v in f.values())
        for k in f:
            assert abs(w[k] - f[k] ** (0.3 - 1.0) / (z / 1.0)) < 1e-9

        out = mixture_sample(docs, w, seed=11).toPandas()
        sizes = out.groupby("source")["doc_id"].count()
        # E[size_d] = w_d * n_d; generous tolerance for the Bernoulli part
        for k, n_d in (("head", 800), ("mid", 150), ("tail", 50)):
            assert abs(sizes[k] - w[k] * n_d) <= 4 * (w[k] * n_d) ** 0.5 + 3

    def test_epoch_cap(self, spark):
        from go_matrixprofile_spark.operators.mixture import temperature_weights

        docs = spark.createDataFrame(
            [(i, "a" if i else "b") for i in range(1000)],
            "doc_id long, source string",
        )
        w = temperature_weights(docs, tau=0.1)
        assert w["b"] == 10.0  # capped
        assert w["a"] < 1.0
        with pytest.raises(ValueError, match="tau"):
            temperature_weights(docs, tau=0.0)

    def test_null_domain_tolerated(self, spark):
        """Docs with a NULL source must not crash the aggregation
        (map_from_entries forbids null keys): null-domain docs stay at
        mixture_sample's default weight 1 and the size-preserving
        normalization accounts for their mass."""
        from go_matrixprofile_spark.operators.mixture import temperature_weights

        rows = (
            [(i, "head", "x") for i in range(600)]
            + [(600 + i, "tail", "x") for i in range(100)]
            + [(700 + i, None, "x") for i in range(300)]
        )
        docs = spark.createDataFrame(rows, "doc_id long, source string, text string")
        w = temperature_weights(docs, tau=0.3)
        assert set(w) == {"head", "tail"}
        assert w["tail"] > w["head"]
        # expected output size == input size: w·f over named domains
        # plus the null mass at weight 1
        f = {"head": 0.6, "tail": 0.1}
        assert abs(sum(w[k] * f[k] for k in f) + 0.3 - 1.0) < 1e-12
