"""go_matrixprofile_spark — a PySpark-native time-series / matrix-profile engine.

A from-scratch re-expression of the capabilities of
matrix-profile-foundation/go-matrixprofile (reference at /root/reference/)
as an Apache Spark DataFrame pipeline:

- ``kernels``   — NumPy matrix-profile kernels (MPX, STOMP, STAMP, STMP,
                  annotation vectors, motif/discord/segment discovery, KMP,
                  PMP, MPDist, streaming update; the MPX diagonal sweep
                  compiled in C), fixture-parity-tested against the Go
                  library's golden vectors.
- ``operators`` — Spark DataFrame operators: transcript→series derivation,
                  tiered rollup (raw→1m→1h→1d), gap-fill, distributed
                  matrix profile over per-conv_id partitions, dedup,
                  similarity search, text analysis.
- ``sources``   — deterministic transcript corpus generator + loaders.
- ``functions`` — Gorilla XOR / delta-of-delta compression codecs.
- ``plans``     — lineage / checkpoint helpers.
- ``streaming`` — incremental (Update-equivalent) recompute.
"""

__version__ = "0.1.0"
