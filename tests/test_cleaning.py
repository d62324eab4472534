"""C4-style line cleaning and PII redaction tests (operators/cleaning)."""

import pandas as pd
import pytest


class TestCleanLines:
    TEXTS = [
        # mixed keep/drop: short line, no-terminal-punct line
        "This is a good sentence with enough words.\nshort\n"
        "Another fine long sentence right here!\nno terminal punct line here",
        # javascript line dropped, second line kept
        "Contains javascript enabled warning here today.\n"
        "A solid long proper line stays here.",
        # lorem ipsum -> doc flagged for removal (lines still cleaned)
        "lorem ipsum dolor sit amet and more words here.\n"
        "Fine line with punctuation in it.",
        # curly brace -> doc flagged
        "Some {json: true} like content with braces here.\n"
        "Good line that otherwise stays put.",
        # quote / apostrophe count as terminal punctuation
        'Quoted line ends with quote mark words here."\n'
        "Ends with apostrophe after several good words'",
    ]

    def test_rules_and_flags(self, spark):
        from go_matrixprofile_spark.operators.cleaning import clean_lines

        docs = spark.createDataFrame(
            pd.DataFrame({"doc_id": range(len(self.TEXTS)), "text": self.TEXTS})
        )
        got = clean_lines(docs).orderBy("doc_id").toPandas()
        assert list(got["doc_id"]) == list(range(len(self.TEXTS)))
        # doc 0: 4 lines, keeps the two proper sentences
        assert got["n_lines"].iloc[0] == 4 and got["n_kept"].iloc[0] == 2
        assert got["clean_text"].iloc[0] == (
            "This is a good sentence with enough words.\n"
            "Another fine long sentence right here!"
        )
        # javascript line dropped
        assert got["clean_text"].iloc[1] == "A solid long proper line stays here."
        # doc-level flags: lorem ipsum and brace docs marked for removal
        assert list(got["keep_doc"]) == [True, True, False, False, True]
        # quote/apostrophe terminals survive
        assert got["n_kept"].iloc[4] == 2

    def test_matches_duckdb(self, spark):
        """Cross-engine: identical kept lines, counts and flags from an
        independent DuckDB implementation of the same rules."""
        import duckdb

        from go_matrixprofile_spark.operators.cleaning import clean_lines

        docs_pd = pd.DataFrame(
            {"doc_id": range(len(self.TEXTS)), "text": self.TEXTS}
        )
        got = (
            clean_lines(spark.createDataFrame(docs_pd))
            .orderBy("doc_id")
            .toPandas()
        )
        con = duckdb.connect()
        con.register("cdocs", docs_pd)
        want = con.execute(
            r"""
            WITH l AS (
              SELECT doc_id, i, trim(x[i]) AS t
              FROM (SELECT doc_id, string_split(text, chr(10)) AS x FROM cdocs),
                   unnest(generate_series(1, len(x))) u(i)
            ),
            k AS (
              SELECT doc_id, i, t FROM l
              WHERE len(regexp_split_to_array(t, '\s+')) >= 3
                AND regexp_matches(t, '[.!?"'']$')
                AND NOT contains(lower(t), 'javascript')
            )
            SELECT d.doc_id,
                   COALESCE((SELECT string_agg(t, chr(10) ORDER BY i)
                             FROM k WHERE k.doc_id = d.doc_id), '') AS clean_text,
                   len(string_split(d.text, chr(10))) AS n_lines,
                   (SELECT COUNT(*) FROM k WHERE k.doc_id = d.doc_id) AS n_kept,
                   NOT (contains(lower(d.text), 'lorem ipsum')
                        OR contains(d.text, '{')) AS keep_doc
            FROM cdocs d ORDER BY d.doc_id
            """
        ).df()
        con.close()
        pd.testing.assert_frame_equal(
            got.reset_index(drop=True),
            want.reset_index(drop=True),
            check_dtype=False,
        )

    def test_min_words_gate(self, spark):
        from go_matrixprofile_spark.operators.cleaning import clean_lines

        text = "x.\nTwo words.\nNow three words.\nthree plain words"
        got = clean_lines(
            spark.createDataFrame(pd.DataFrame({"doc_id": [0], "text": [text]}))
        ).toPandas()
        # under 3 words, or no terminal punctuation: dropped
        assert got["n_lines"].iloc[0] == 4 and got["n_kept"].iloc[0] == 1
        assert got["clean_text"].iloc[0] == "Now three words."


class TestRedactPII:
    TEXTS = [
        "Mail me at john.doe+x@example.co.uk or call 555-123-4567 now.",
        "Server at 192.168.0.1 and 10.0.0.255, backup 8.8.8.8.",
        "No pii here at all, just text and numbers 12345.",
        "two emails a@b.io c@d.org and phone 123 456 7890 plus 999.888.7777",
    ]

    def test_redaction_and_counts(self, spark):
        from go_matrixprofile_spark.operators.cleaning import redact_pii

        docs = spark.createDataFrame(
            pd.DataFrame({"doc_id": range(len(self.TEXTS)), "text": self.TEXTS})
        )
        got = redact_pii(docs).orderBy("doc_id").toPandas()
        assert got["text_redacted"].iloc[0] == (
            "Mail me at <EMAIL> or call <PHONE> now."
        )
        assert got["text_redacted"].iloc[1] == (
            "Server at <IP> and <IP>, backup <IP>."
        )
        assert got["text_redacted"].iloc[2] == self.TEXTS[2]
        assert list(got["n_emails"]) == [1, 0, 0, 2]
        assert list(got["n_ips"]) == [0, 3, 0, 0]
        assert list(got["n_phones"]) == [1, 0, 0, 2]

    def test_matches_duckdb(self, spark):
        """Cross-engine: the identical ordered replace chain (email ->
        IP -> phone, each counted on the PREVIOUS stage's output) in
        DuckDB produces byte-identical redactions and counts."""
        import duckdb

        from go_matrixprofile_spark.operators.cleaning import redact_pii

        docs_pd = pd.DataFrame(
            {"doc_id": range(len(self.TEXTS)), "text": self.TEXTS}
        )
        got = (
            redact_pii(spark.createDataFrame(docs_pd))
            .orderBy("doc_id")
            .toPandas()
        )
        con = duckdb.connect()
        con.register("pdocs", docs_pd)
        want = con.execute(
            r"""
            WITH s1 AS (
              SELECT doc_id,
                len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS n_emails,
                regexp_replace(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g') AS t1
              FROM pdocs),
            s2 AS (
              SELECT doc_id, n_emails,
                len(regexp_extract_all(t1, '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS n_ips,
                regexp_replace(t1, '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g') AS t2
              FROM s1)
            SELECT doc_id,
              regexp_replace(t2, '\b\d{3}[-. ]\d{3}[-. ]\d{4}\b', '<PHONE>', 'g') AS text_redacted,
              n_emails, n_ips,
              len(regexp_extract_all(t2, '\b\d{3}[-. ]\d{3}[-. ]\d{4}\b')) AS n_phones
            FROM s2 ORDER BY doc_id
            """
        ).df()
        con.close()
        for c in ("text_redacted", "n_emails", "n_ips", "n_phones"):
            assert list(got[c]) == list(want[c]), c
