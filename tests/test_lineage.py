"""Lineage / checkpoint-resume tests."""

import os

import pytest


class TestLineage:
    def test_checkpoint_resume_skips_committed(self, spark, tmp_path):
        from go_matrixprofile_spark.plans.lineage import checkpoint_stage, read_lineage

        root = str(tmp_path / "ckpt")
        df1 = spark.createDataFrame(
            [("c1", 1.0), ("c1", 2.0), ("c2", 3.0)], ["conv_id", "v"]
        )
        out1 = checkpoint_stage(df1, root, "tier_1m")
        assert out1.count() == 3
        lin = read_lineage(spark, root).toPandas()
        assert set(lin["partition_key"]) == {"c1", "c2"}

        # rerun with one new partition: committed partitions are skipped
        df2 = spark.createDataFrame(
            [("c1", 99.0), ("c3", 4.0)], ["conv_id", "v"]
        )
        out2 = checkpoint_stage(df2, root, "tier_1m")
        pdf = out2.toPandas()
        # c1 not rewritten (resume semantics): its value stays 1.0/2.0
        assert sorted(pdf[pdf.conv_id == "c1"]["v"]) == [1.0, 2.0]
        assert 4.0 in set(pdf["v"])
        lin = read_lineage(spark, root).toPandas()
        assert set(lin["partition_key"]) == {"c1", "c2", "c3"}
        # no duplicate lineage rows per partition
        assert lin.groupby("partition_key").size().max() == 1

    def test_checkpoint_reads_back_the_written_schema(self, spark, tmp_path):
        """conv_id partition values read back as the strings written:
        type inference would merge "007" and "7" into the integer 7."""
        from go_matrixprofile_spark.plans.lineage import checkpoint_stage, read_lineage

        root = str(tmp_path / "ckpt")
        df = spark.createDataFrame(
            [("007", 1.0), ("7", 2.0), ("12", 3.0)], "conv_id string, v double"
        )
        out = checkpoint_stage(df, root, "filled_1h")
        assert dict(out.dtypes)["conv_id"] == "string"
        assert sorted((r.conv_id, r.v) for r in out.collect()) == [
            ("007", 1.0), ("12", 3.0), ("7", 2.0)
        ]
        lin = read_lineage(spark, root).toPandas()
        assert sorted(lin["partition_key"]) == ["007", "12", "7"]
        assert set(lin["row_count"]) == {1}

    def test_unreadable_lineage_fails_the_stage(self, spark, tmp_path):
        """A lineage table that cannot be read raises: taken as "nothing
        committed yet", the rerun would append every partition again."""
        from go_matrixprofile_spark.plans.lineage import checkpoint_stage

        root = tmp_path / "ckpt"
        df = spark.createDataFrame([("c1", 1.0), ("c2", 2.0)], ["conv_id", "v"])
        checkpoint_stage(df, str(root), "tier_1m")
        (root / "lineage.parquet" / "0-not-parquet.txt").write_text("not parquet\n")
        with pytest.raises(Exception, match="0-not-parquet.txt"):
            checkpoint_stage(df, str(root), "tier_1m")
        assert spark.read.parquet(str(root / "tier_1m")).count() == 2

    def test_lineage_directory_is_listed_and_not_a_stage(self, spark, tmp_path):
        """The lineage table sits in a directory Spark lists (no "_" or
        "." prefix), whose name no stage may take."""
        from go_matrixprofile_spark.plans.lineage import LINEAGE_DIR, checkpoint_stage

        root = tmp_path / "ckpt"
        df = spark.createDataFrame([("c1", 1.0)], ["conv_id", "v"])
        checkpoint_stage(df, str(root), "tier_1m")
        assert sorted(os.listdir(root)) == sorted(["tier_1m", LINEAGE_DIR])
        assert not LINEAGE_DIR.startswith(("_", "."))
        with pytest.raises(ValueError, match="lineage"):
            checkpoint_stage(df, str(root), LINEAGE_DIR)
