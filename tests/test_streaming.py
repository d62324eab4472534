"""Streaming ingestion tests: incremental-batch update equivalence and
the Structured Streaming 1m tier."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from go_matrixprofile_spark.sources import datagen


class TestIncrementalBatch:
    def test_affected_convs_only_and_equivalence(self, spark):
        from go_matrixprofile_spark.operators.profile import matrix_profile
        from go_matrixprofile_spark.operators.series import derive_series
        from go_matrixprofile_spark.streaming.ingest import incremental_batch_update

        full = datagen.generate_transcripts(spark, 6, mega_every=0, plant_fixtures=False)
        # split: first 80% of each conv's turns are "existing", rest "new"
        w = F.expr("percent_rank() over (partition by conv_id order by turn_idx)")
        tagged = full.withColumn("pr", w)
        existing = tagged.where("pr < 0.8").drop("pr")
        new = tagged.where("pr >= 0.8").drop("pr")
        # only convs 0 and 1 get new turns
        new = new.where(F.col("conv_id").isin("conv-00000000", "conv-00000001"))

        inc = incremental_batch_update(spark, existing, new, w=8)
        got = inc.toPandas()
        assert set(got["conv_id"]) <= {"conv-00000000", "conv-00000001"}

        # equivalence with full recompute on the merged input
        merged_input = existing.unionByName(new)
        want = (
            matrix_profile(derive_series(merged_input), w=8)
            .where(F.col("conv_id").isin("conv-00000000", "conv-00000001"))
            .toPandas()
        )
        got = got.sort_values(["conv_id", "metric", "offset"]).reset_index(drop=True)
        want = want.sort_values(["conv_id", "metric", "offset"]).reset_index(drop=True)
        assert len(got) == len(want)
        np.testing.assert_allclose(got["mp"].to_numpy(), want["mp"].to_numpy(), atol=1e-9)


class TestStructuredStreaming:
    def test_stream_matches_batch_tier(self, spark, tmp_path):
        from go_matrixprofile_spark.operators.rollup import rollup_raw
        from go_matrixprofile_spark.operators.series import turn_rate_series
        from go_matrixprofile_spark.streaming.ingest import read_tier, stream_rollup_1m

        in_dir = str(tmp_path / "in")
        out_dir = str(tmp_path / "out")
        ckpt = str(tmp_path / "ckpt")
        corpus = datagen.generate_transcripts(spark, 4, mega_every=0, plant_fixtures=False)
        corpus.write.mode("overwrite").parquet(in_dir)

        q = stream_rollup_1m(spark, in_dir, ckpt, out_dir).trigger(availableNow=True).start()
        q.awaitTermination(120)

        got = (
            read_tier(spark, out_dir)
            .orderBy("conv_id", "bucket_s")
            .toPandas()
        )
        want = (
            turn_rate_series(spark.read.parquet(in_dir), 60)
            .select("conv_id", "metric", F.col("bucket_s").cast("double").alias("bucket_s"), "value")
            .orderBy("conv_id", "bucket_s")
            .toPandas()
        )
        assert len(got) == len(want)
        np.testing.assert_allclose(
            got["value"].to_numpy(), want["value"].to_numpy(), atol=1e-9
        )
        np.testing.assert_allclose(
            got["bucket_s"].to_numpy(), want["bucket_s"].to_numpy(), atol=1e-6
        )

    def test_late_data_upserts_not_appends(self, spark, tmp_path):
        """A late turn inside the watermark re-emits its bucket; the tier
        must hold exactly one live row per (conv, metric, bucket) equal to
        the batch rollup — the reference's update≡recompute contract
        (matrixprofile_test.go:706-762) applied to the tier."""
        from go_matrixprofile_spark.operators.series import turn_rate_series
        from go_matrixprofile_spark.streaming.ingest import (
            compact_tier,
            read_tier,
            stream_rollup_1m,
        )

        in_dir = str(tmp_path / "in")
        out_dir = str(tmp_path / "out")
        ckpt = str(tmp_path / "ckpt")
        corpus = datagen.generate_transcripts(spark, 4, mega_every=0, plant_fixtures=False)
        corpus.write.mode("overwrite").parquet(in_dir)

        # batch 1: everything except one turn that SHARES its 1-minute
        # bucket with another turn (so batch 2 re-emits an existing bucket
        # with a new count — a true update, not a new key)
        bucketed = corpus.withColumn(
            "b", F.floor(F.unix_timestamp(F.col("ts").cast("timestamp")) / 60)
        )
        shared = (
            bucketed.groupBy("conv_id", "b")
            .count()
            .where("count >= 2")
            .orderBy("conv_id", "b")
            .limit(1)
        )
        late = (
            bucketed.join(shared.select("conv_id", "b"), ["conv_id", "b"])
            .orderBy("turn_idx")
            .limit(1)
            .drop("b")
        )
        assert late.count() == 1
        first = corpus.subtract(late)
        first.write.mode("overwrite").parquet(in_dir + "_b1")
        sink = stream_rollup_1m(spark, in_dir + "_b1", ckpt, out_dir, watermark="2 days")
        q = sink.trigger(availableNow=True).start()
        q.awaitTermination(120)

        # batch 2: the late turn arrives (well inside the 2-day watermark)
        late.write.mode("append").parquet(in_dir + "_b1")
        q = sink.trigger(availableNow=True).start()
        q.awaitTermination(120)

        def check():
            got = read_tier(spark, out_dir).orderBy("conv_id", "bucket_s").toPandas()
            want = (
                turn_rate_series(spark.read.parquet(in_dir), 60)
                .select(
                    "conv_id",
                    "metric",
                    F.col("bucket_s").cast("double").alias("bucket_s"),
                    "value",
                )
                .orderBy("conv_id", "bucket_s")
                .toPandas()
            )
            # exactly one live row per key
            assert not got.duplicated(["conv_id", "metric", "bucket_s"]).any()
            assert len(got) == len(want)
            np.testing.assert_allclose(
                got["value"].to_numpy(), want["value"].to_numpy(), atol=1e-9
            )

        check()
        # raw tier really did append history for the re-emitted bucket
        raw = spark.read.parquet(out_dir)
        assert raw.count() > read_tier(spark, out_dir).count()
        # compaction folds history without changing the live view
        compact_tier(spark, out_dir)
        assert spark.read.parquet(out_dir).count() == read_tier(spark, out_dir).count()
        check()


class TestCompactExclusion:
    def test_stale_writer_marker_self_heals(self, spark, tmp_path):
        """A hard-crashed writer (SIGKILL skips the finally-delete)
        leaves its marker behind; the streaming retry of the SAME batch
        must reclaim it and proceed (one active query per checkpoint ⇒
        the previous attempt is provably dead), while markers of OTHER
        batches stay untouched and keep blocking the compactor."""
        import pathlib

        from go_matrixprofile_spark.streaming.ingest import (
            _check_no_writers,
            _writer_marker,
            stream_rollup_1m,
        )

        in_dir = str(tmp_path / "in")
        out_dir = str(tmp_path / "out")
        ckpt = str(tmp_path / "ckpt")
        corpus = datagen.generate_transcripts(
            spark, 2, mega_every=0, plant_fixtures=False
        )
        corpus.write.mode("overwrite").parquet(in_dir)
        # simulate the dead attempt: batch 0's marker already on disk
        stale = pathlib.Path(_writer_marker(out_dir, 0, "deadattempt"))
        stale.touch()
        other = pathlib.Path(_writer_marker(out_dir, 99, "liveattempt"))
        other.touch()
        sink = stream_rollup_1m(spark, in_dir, ckpt, out_dir, watermark="2 days")
        q = sink.trigger(availableNow=True).start()
        q.awaitTermination(120)
        # batch 0 re-ran: its stale marker was reclaimed and its own
        # marker released; the foreign batch-99 marker is untouched
        assert not stale.exists()
        assert other.exists()
        with pytest.raises(RuntimeError, match="writer marker"):
            _check_no_writers(spark, out_dir)
        other.unlink()
        _check_no_writers(spark, out_dir)
        assert spark.read.parquet(out_dir).count() > 0

    def test_concurrent_compaction_fails_loudly(self, spark, tmp_path):
        """The compact_tier ↔ writer exclusion is enforced by a
        .compacting intent marker, not prose: a writer batch refuses to
        append while the marker exists, and a second compactor cannot
        acquire it (r03 verdict nit #3)."""
        from go_matrixprofile_spark.streaming.ingest import (
            _compact_marker,
            compact_tier,
            stream_rollup_1m,
        )

        in_dir = str(tmp_path / "in")
        out_dir = str(tmp_path / "out")
        ckpt = str(tmp_path / "ckpt")
        corpus = datagen.generate_transcripts(spark, 2, mega_every=0, plant_fixtures=False)
        corpus.write.mode("overwrite").parquet(in_dir)

        # simulate an in-flight compaction by holding the marker
        import pathlib

        marker = pathlib.Path(_compact_marker(out_dir))
        marker.touch()

        # 1) the streaming writer's micro-batch must fail loudly
        q = stream_rollup_1m(spark, in_dir, ckpt, out_dir).trigger(
            availableNow=True
        ).start()
        with pytest.raises(Exception) as exc:
            q.awaitTermination(120)
        assert "compact" in str(exc.value).lower()

        # 2) a second compactor cannot acquire the held marker
        with pytest.raises(RuntimeError, match="compaction holds"):
            compact_tier(spark, out_dir)

        # 3) release the marker: the writer then succeeds and a
        # compaction cycle releases its own marker afterwards
        marker.unlink()
        q = stream_rollup_1m(spark, in_dir, str(tmp_path / "ckpt2"), out_dir).trigger(
            availableNow=True
        ).start()
        q.awaitTermination(120)
        compact_tier(spark, out_dir)
        assert not marker.exists()


class TestStreamDedup:
    def test_first_seen_kept_state_survives_restart(self, spark, tmp_path):
        """Streaming exact dedup: one survivor per distinct text within
        the watermark; a duplicate arriving in a LATER run (same
        checkpoint) is still dropped — the dedup state is durable."""
        import datetime as dt

        import pandas as pd

        from go_matrixprofile_spark.streaming.ingest import stream_dedup_exact

        in_dir = str(tmp_path / "in")
        ckpt = str(tmp_path / "ckpt")
        out_dir = str(tmp_path / "out")
        t0 = dt.datetime(2026, 1, 1, 12, 0, 0)

        def write_batch(rows, name):
            pdf = pd.DataFrame(rows, columns=["doc_id", "text", "ts"])
            spark.createDataFrame(pdf).selectExpr(
                "CAST(doc_id AS LONG) doc_id", "text", "CAST(ts AS TIMESTAMP) ts"
            ).coalesce(1).write.mode("append").parquet(in_dir)

        write_batch(
            [
                (0, "alpha doc", t0),
                (1, "beta doc", t0 + dt.timedelta(minutes=1)),
                (2, "alpha doc", t0 + dt.timedelta(minutes=2)),  # dup in-batch
            ],
            "b1",
        )
        q = stream_dedup_exact(spark, in_dir, ckpt, out_dir).trigger(
            availableNow=True
        ).start()
        q.awaitTermination(120)
        got1 = spark.read.parquet(out_dir).toPandas()
        assert sorted(got1["text"].unique()) == ["alpha doc", "beta doc"]
        assert len(got1) == 2

        # run 2: a late duplicate (within watermark) + one new doc
        write_batch(
            [
                (3, "beta doc", t0 + dt.timedelta(minutes=3)),  # dup across runs
                (4, "gamma doc", t0 + dt.timedelta(minutes=4)),
            ],
            "b2",
        )
        q = stream_dedup_exact(spark, in_dir, ckpt, out_dir).trigger(
            availableNow=True
        ).start()
        q.awaitTermination(120)
        got2 = spark.read.parquet(out_dir).toPandas()
        assert len(got2) == 3
        assert sorted(got2["text"]) == ["alpha doc", "beta doc", "gamma doc"]
        # the kept beta row is the FIRST-seen one (doc_id 1, not 3)
        assert set(got2["doc_id"]) == {0, 1, 4}


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
