"""As-of join tests: pandas merge_asof is the ground truth."""

import numpy as np
import pandas as pd
from pyspark.sql import functions as F


class TestAsofJoin:
    def _data(self, seed=19, n_keys=6, n_left=400, n_right=120):
        rng = np.random.default_rng(seed)
        left = pd.DataFrame(
            {
                "k": rng.integers(0, n_keys, n_left).astype(str),
                "t": np.round(rng.uniform(0, 1000, n_left), 3),
                "lid": np.arange(n_left),
            }
        )
        right = pd.DataFrame(
            {
                "k": rng.integers(0, n_keys, n_right).astype(str),
                "t": np.round(rng.uniform(0, 1000, n_right), 3),
                "v": np.round(rng.normal(0, 1, n_right), 4),
            }
        ).drop_duplicates(["k", "t"])
        return left, right

    def test_matches_merge_asof(self, spark):
        from go_matrixprofile_spark.operators.asof import asof_join

        left, right = self._data()
        got = (
            asof_join(
                spark.createDataFrame(left),
                spark.createDataFrame(right),
                by=["k"],
                left_on="t",
                right_on="t",
                value_cols=["v"],
            )
            .orderBy("lid")
            .toPandas()
        )
        want = pd.merge_asof(
            left.sort_values("t"),
            right.sort_values("t"),
            on="t",
            by="k",
            direction="backward",  # inclusive, like ours
        ).sort_values("lid")
        np.testing.assert_allclose(
            got["v"].to_numpy(dtype=float),
            want["v"].to_numpy(dtype=float),
            atol=0,
            equal_nan=True,
        )

    def test_inclusive_ties_and_no_earlier_match(self, spark):
        from go_matrixprofile_spark.operators.asof import asof_join

        left = pd.DataFrame(
            {"k": ["a", "a", "a", "a"], "t": [5.0, 10.0, 50.0, 1.0], "lid": [0, 1, 2, 3]}
        )
        right = pd.DataFrame({"k": ["a", "a"], "t": [5.0, 9.0], "v": [1.0, 2.0]})
        got = (
            asof_join(
                spark.createDataFrame(left),
                spark.createDataFrame(right),
                by=["k"], left_on="t", right_on="t", value_cols=["v"],
            )
            .orderBy("lid")
            .toPandas()
        )
        assert got["v"].iloc[0] == 1.0  # equal timestamps match (inclusive)
        assert got["v"].iloc[1] == 2.0  # most recent wins
        assert got["v"].iloc[2] == 2.0 and got["asof_t"].iloc[2] == 9.0
        assert np.isnan(got["v"].iloc[3])  # no right row at or before 1 -> NULL
        assert np.isnan(got["asof_t"].iloc[3])

    def test_partition_order_invariant(self, spark):
        from go_matrixprofile_spark.operators.asof import asof_join

        left, right = self._data(seed=23)
        a = asof_join(
            spark.createDataFrame(left), spark.createDataFrame(right),
            by=["k"], left_on="t", right_on="t", value_cols=["v"],
        ).orderBy("lid").toPandas()
        b = asof_join(
            spark.createDataFrame(left).repartition(17),
            spark.createDataFrame(right).repartition(3),
            by=["k"], left_on="t", right_on="t", value_cols=["v"],
        ).orderBy("lid").toPandas()
        np.testing.assert_allclose(
            a["v"].to_numpy(dtype=float), b["v"].to_numpy(dtype=float),
            atol=0, equal_nan=True,
        )
