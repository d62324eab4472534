"""Heuristic document cleaning: C4-style line filtering and PII
redaction.

The two cleaning stages every web-scale pretraining corpus runs before
quality scoring (Raffel et al. 2020 §2.2 — the C4 rules; and the
standard e-mail/IP/phone scrub). Both are pure JVM expression chains —
``split``/``filter``/``array_join`` and ``regexp_replace`` — so they
whole-stage-codegen inside the document scan with NO shuffle and no
Python in the hot path: the natural first stage of the document
pipeline, upstream of dedup (operators/dedup.py) and quality scoring
(operators/text.py).

Plan shape at 100 TB: one narrow projection per document — each task
streams its parquet split through the expression chain; nothing
aggregates, nothing joins, output partitioning == input partitioning.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

# C4 keeps lines that end in a terminal punctuation mark (period,
# exclamation mark, question mark, end quotation mark)
_TERMINAL_PUNCT = r"""[.!?"']$"""

# conservative, RE2/Java-common-subset patterns (no lookaround, no
# backreferences) so a DuckDB oracle can run the IDENTICAL regex
PII_PATTERNS: tuple[tuple[str, str, str], ...] = (
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("ip", r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b", "<IP>"),
    ("phone", r"\b\d{3}[-. ]\d{3}[-. ]\d{4}\b", "<PHONE>"),
)


def _line_ok(line: Column) -> Column:
    """C4 line predicate over one element of the split-lines array."""
    t = F.trim(line)
    ok = (F.size(F.split(t, r"\s+")) >= 3) & t.rlike(_TERMINAL_PUNCT)
    # C4 drops any line with the word "javascript" (boilerplate tell)
    ok = ok & ~F.lower(t).contains("javascript")
    return ok


def clean_lines(documents: DataFrame) -> DataFrame:
    """C4-style line-level cleaning (Raffel et al. 2020 §2.2).

    Splits each document on newlines, keeps only lines that (a) have at
    least 3 whitespace words, (b) end in terminal punctuation
    (``. ! ? " '``), and (c) do not contain the word "javascript".
    Documents containing "lorem ipsum" or a curly brace are flagged for
    doc-level removal (C4 drops them outright; the flag is returned so
    the caller can audit).

    Returns one row per input document: (doc_id, clean_text, n_lines,
    n_kept, keep_doc). ``clean_text`` is the kept lines re-joined with
    newlines (empty string when nothing survives); filter
    ``WHERE keep_doc AND n_kept > 0`` for the cleaned corpus.
    """
    lines = F.split(F.col("text"), r"\n")
    kept = F.filter(lines, _line_ok)
    lowered = F.lower(F.col("text"))
    keep_doc = ~lowered.contains("lorem ipsum") & ~lowered.contains("{")
    return documents.select(
        "doc_id",
        F.array_join(kept, "\n").alias("clean_text"),
        F.size(lines).cast("long").alias("n_lines"),
        F.size(kept).cast("long").alias("n_kept"),
        keep_doc.alias("keep_doc"),
    )


def redact_pii(documents: DataFrame, text_col: str = "text") -> DataFrame:
    """Scrub e-mail addresses, IPv4 addresses and phone numbers.

    Applies the :data:`PII_PATTERNS` replace chain in order (email →
    IP → phone) — each pattern is counted on the text AS THE PREVIOUS
    REPLACEMENTS LEFT IT, so a string consumed by an earlier pattern is
    never double-counted by a later one. Patterns are deliberately in
    the common RE2/Java regex subset so an independent SQL engine can
    verify the identical chain.

    Returns one row per document: every input column except
    ``text_col`` passes through, plus (text_redacted, n_emails, n_ips,
    n_phones). The counts are the audit trail — a redaction pass you
    can't measure is a redaction pass you can't trust. Composes
    shuffle-free after :func:`clean_lines` via
    ``redact_pii(clean_lines(docs), text_col="clean_text")``.
    """
    cur = F.col(text_col)
    counts = []
    for name, pat, token in PII_PATTERNS:
        counts.append(F.regexp_count(cur, F.lit(pat)).cast("long").alias(f"n_{name}s"))
        cur = F.regexp_replace(cur, pat, token)
    passthrough = [c for c in documents.columns if c != text_col]
    return documents.select(
        *passthrough,
        cur.alias("text_redacted"),
        *counts,
    )
