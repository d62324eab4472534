"""Streaming ingestion tests: incremental-batch update equivalence and
the document stages composed into a Structured Streaming query."""

import numpy as np
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
