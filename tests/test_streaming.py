"""Streaming ingestion tests: incremental-batch update equivalence and
the document stages composed into a Structured Streaming query."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from go_matrixprofile_spark.sources import datagen


TRANSCRIPT_DDL = (
    "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp"
)
W = 8


@pytest.fixture(scope="module")
def split_store(spark, tmp_path_factory):
    """A Parquet transcript store holding the first 80% of each
    conversation's turns, and the last 20% as local pandas rows."""
    full = datagen.generate_transcripts(spark, 6, mega_every=0, plant_fixtures=False)
    pr = F.expr("percent_rank() over (partition by conv_id order by turn_idx)")
    tagged = full.withColumn("pr", pr)
    path = str(tmp_path_factory.mktemp("store") / "store")
    tagged.where("pr < 0.8").drop("pr").write.parquet(path)
    new = tagged.where("pr >= 0.8").drop("pr").toPandas()
    return path, new


def _batch(spark, pdf):
    return spark.createDataFrame(pdf, TRANSCRIPT_DDL)


def _recompute(spark, store, batch, conv_ids):
    """Full recompute of conv_ids' profiles over store + batch."""
    from go_matrixprofile_spark.operators.profile import matrix_profile
    from go_matrixprofile_spark.operators.series import derive_series

    merged = store.unionByName(batch)
    return (
        matrix_profile(derive_series(merged), w=W)
        .where(F.col("conv_id").isin(conv_ids))
        .toPandas()
    )


def _assert_same_profiles(got, want):
    key = ["conv_id", "metric", "offset"]
    got = got.sort_values(key, ignore_index=True)
    want = want.sort_values(key, ignore_index=True)
    assert len(got) == len(want) > 0
    assert not got.duplicated(key).any()
    assert got[key].equals(want[key])
    np.testing.assert_array_equal(got["idx"].to_numpy(), want["idx"].to_numpy())
    np.testing.assert_allclose(got["mp"].to_numpy(), want["mp"].to_numpy(), atol=1e-9)


class TestIncrementalBatch:
    def test_affected_convs_only_and_equivalence(self, spark, split_store):
        from go_matrixprofile_spark.streaming.ingest import incremental_batch_update

        path, new = split_store
        convs = ["conv-00000000", "conv-00000001"]
        batch = _batch(spark, new[new["conv_id"].isin(convs)])
        store = spark.read.parquet(path)
        got = incremental_batch_update(spark, store, batch, w=W).toPandas()
        assert set(got["conv_id"]) == set(convs)
        _assert_same_profiles(got, _recompute(spark, store, batch, convs))

    def test_conversation_only_in_batch(self, spark, split_store):
        """A conversation the store has never seen is profiled from the
        batch's turns alone."""
        from go_matrixprofile_spark.streaming.ingest import incremental_batch_update

        path, new = split_store
        store = spark.read.parquet(path).where(F.col("conv_id") != "conv-00000002")
        full = datagen.gen_conv_pdf(2, mega_every=0)
        pdf = pd.concat([full, new[new["conv_id"] == "conv-00000003"]], ignore_index=True)
        batch = _batch(spark, pdf)
        got = incremental_batch_update(spark, store, batch, w=W).toPandas()
        assert set(got["conv_id"]) == {"conv-00000002", "conv-00000003"}
        _assert_same_profiles(got, _recompute(spark, store, batch, ["conv-00000002", "conv-00000003"]))

    def test_null_conv_id_row_joins_the_union(self, spark, split_store):
        """A batch row with a null conv_id touches no stored
        conversation and leaves the others' profiles as they were."""
        from go_matrixprofile_spark.streaming.ingest import incremental_batch_update

        path, new = split_store
        pdf = new[new["conv_id"] == "conv-00000004"]
        orphan = pdf.iloc[:1].assign(conv_id=None, turn_idx=0)
        store = spark.read.parquet(path)
        got = incremental_batch_update(
            spark, store, _batch(spark, pd.concat([pdf, orphan], ignore_index=True)), w=W
        ).toPandas()
        assert set(got["conv_id"]) == {"conv-00000004"}
        _assert_same_profiles(got, _recompute(spark, store, _batch(spark, pdf), ["conv-00000004"]))

    def test_duplicate_conv_ids_in_batch(self, spark, split_store):
        """Several batch rows of one conversation select its stored turns
        once: one profile row per (metric, offset)."""
        from go_matrixprofile_spark.streaming.ingest import incremental_batch_update

        path, new = split_store
        pdf = new[new["conv_id"] == "conv-00000005"]
        assert len(pdf) > 1
        batch = _batch(spark, pdf)
        store = spark.read.parquet(path)
        got = incremental_batch_update(spark, store, batch, w=W).toPandas()
        _assert_same_profiles(got, _recompute(spark, store, batch, ["conv-00000005"]))

    def test_empty_batch(self, spark, split_store):
        from go_matrixprofile_spark.streaming.ingest import incremental_batch_update

        path, new = split_store
        got = incremental_batch_update(
            spark, spark.read.parquet(path), _batch(spark, new.iloc[:0]), w=W
        ).toPandas()
        assert got.empty

    def test_local_batch_runs_at_most_six_jobs(self, spark, split_store):
        """The batch's conv_ids come from a projection of a local batch
        (no job) and filter the store at the scan: the call runs the two
        store-scan legs, the assembly exchange, the range-bounds sample,
        the range exchange and the kernel with the collect."""
        from go_matrixprofile_spark.streaming.ingest import incremental_batch_update

        path, new = split_store
        sc = spark.sparkContext
        store = spark.read.parquet(path)
        batch = _batch(spark, new[new["conv_id"].isin(["conv-00000000", "conv-00000003"])])
        group = "test-incremental-batch-jobs"
        sc.setJobGroup(group, group)
        try:
            rows = incremental_batch_update(spark, store, batch, w=W).toPandas()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        assert len(rows) > 0
        assert len(sc.statusTracker().getJobIdsForGroup(group)) <= 6

    @pytest.mark.parametrize("kind,jobs", [("pandas", 0), ("tuples", 1)])
    def test_conv_id_collect_jobs_by_batch_kind(self, spark, split_store, kind, jobs):
        """Building the update collects the batch's conv_ids: no job on a
        pandas-built batch (LocalRelation), one on a tuple-list batch (a
        LogicalRDD scan)."""
        from go_matrixprofile_spark.streaming.ingest import incremental_batch_update

        path, new = split_store
        sc = spark.sparkContext
        store = spark.read.parquet(path)
        rows = new[new["conv_id"].isin(["conv-00000000", "conv-00000003"])]
        if kind == "pandas":
            batch = _batch(spark, rows)
        else:
            cols = ["conv_id", "turn_idx", "role", "text", "tool"]
            tuples = [
                (*r, ts.to_pydatetime())
                for r, ts in zip(rows[cols].itertuples(index=False), rows["ts"])
            ]
            batch = spark.createDataFrame(tuples, TRANSCRIPT_DDL)
        group = f"test-conv-id-collect-{kind}"
        sc.setJobGroup(group, group)
        try:
            incremental_batch_update(spark, store, batch, w=W)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        assert len(sc.statusTracker().getJobIdsForGroup(group)) == jobs


class TestStatelessDocStagesStream:
    def test_clean_redact_tokenize_compose_into_streams(self, spark, tmp_path):
        """The narrow document stages (C4 clean -> PII redact -> BPE
        tokenize) are pure projections, so the SAME operator functions
        compose unchanged into Structured Streaming: a readStream over
        the docs dir through the identical chain yields byte-identical
        results to the batch plan. This is the streaming ingest story
        for the doc pipeline — no operator rewrite, no state."""
        import pandas as pd
        from pyspark.sql import functions as F

        from go_matrixprofile_spark.operators.cleaning import (
            clean_lines,
            redact_pii,
        )
        from go_matrixprofile_spark.operators.text import tokenize_bpe

        docs = pd.DataFrame(
            {
                "doc_id": range(20),
                "text": [
                    f"This is document number {i} with enough words here.\n"
                    f"short\n"
                    f"Contact me at user{i}@example.com for more details okay.\n"
                    f"the lower newest low tests are passing fine today {i}."
                    for i in range(20)
                ],
            }
        )
        in_dir = str(tmp_path / "in")
        spark.createDataFrame(docs).write.parquet(in_dir)

        def chain(df):
            cleaned = redact_pii(
                clean_lines(df), text_col="clean_text"
            ).select("doc_id", F.col("text_redacted").alias("text"))
            return tokenize_bpe(cleaned)

        batch = chain(spark.read.parquet(in_dir)).toPandas()

        stream_in = spark.readStream.schema(
            "doc_id long, text string"
        ).parquet(in_dir)
        out_dir = str(tmp_path / "out")
        q = (
            chain(stream_in)
            .writeStream.format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        streamed = spark.read.parquet(out_dir).toPandas()

        key = "doc_id"
        b = batch.sort_values(key).reset_index(drop=True)
        s = streamed.sort_values(key).reset_index(drop=True)
        assert len(s) == 20
        assert (b["n_bpe_tokens"].to_numpy() == s["n_bpe_tokens"].to_numpy()).all()
        for tb, ts in zip(b["tokens"], s["tokens"]):
            assert list(tb) == list(ts)
        # the redaction really happened inside the stream: every doc
        # had one e-mail, and no "@" token survives redaction while
        # the placeholder's bracket tokens do
        assert not any("@" in list(t) for t in s["tokens"])
        assert all("<" in list(t) and ">" in list(t) for t in s["tokens"])


class TestSpreadInput:
    def test_streaming_frame_passes_through(self, spark):
        """A streaming frame has no RDD view to count partitions on:
        spread_input hands it back as it came, without starting a query."""
        from go_matrixprofile_spark.operators.spread import spread_input

        stream = spark.readStream.format("rate").load()
        assert spread_input(stream) is stream
        assert spark.streams.active == []

    def test_under_split_batch_is_spread(self, spark):
        from go_matrixprofile_spark.operators.spread import spread_input

        n = spark.sparkContext.defaultParallelism
        one = spark.range(0, 100, 1, 1)
        assert spread_input(one).rdd.getNumPartitions() == n
        wide = spark.range(0, 100, 1, n)
        assert spread_input(wide) is wide
