"""Streaming ingestion: incremental-batch recompute with the
reference's Update semantics."""
