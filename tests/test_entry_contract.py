"""Query-registry guard (no Spark): every query function is listed."""

import inspect

import __spark_entry__ as entry


def test_every_query_function_is_listed():
    """A top-level ``q_*`` function missing from ``queries()`` is dead
    code: no query entry point reaches it."""
    listed = set(entry.queries().values())
    unlisted = sorted(
        name
        for name, fn in vars(entry).items()
        if name.startswith("q_") and inspect.isfunction(fn) and fn not in listed
    )
    assert not unlisted, f"q_* functions not in queries(): {unlisted}"
