"""Physical-plan audit: assert the Catalyst plans we designed for.

Every operator family gets the plan invariants that make it survive a
100x scale-up, checked as substrings of the FORMATTED physical plan:

- column pruning reaches the parquet scan (ReadSchema excludes unused
  columns);
- predicate pushdown reaches the scan (PushedFilters non-empty for
  filtered reads);
- small sides broadcast (BroadcastHashJoin / broadcast semi-joins), no
  accidental CartesianProduct in the LSH/dedup join family;
- aggregations split partial/final (map-side combine before the
  exchange);
- kernel stages sit behind explicit repartitions (Exchange
  hashpartitioning with our numbered partition count);
- shuffle counts: exactly N shuffle-exchange nodes, counted by node
  header so broadcast and reused exchanges are not mistaken for them.

Run: python tools/plan_audit.py [sf_dir]   (writes PLANS.md)
Exit 1 on any violated invariant.
"""

from __future__ import annotations

import io
import re
import sys
import tempfile
from contextlib import redirect_stdout
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(ROOT))


def plan_of(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def shuffle_exchanges(p: str) -> int:
    """Shuffle-exchange nodes in a formatted plan, counted by their detail
    headers ("(7) Exchange"): BroadcastExchange and ReusedExchange nodes,
    and the tree lines that repeat each header, do not count."""
    return len(re.findall(r"^\(\d+\) Exchange$", p, re.M))


def read_schemas(p: str) -> list[set[str]]:
    """Column names each scan reads, one set per ReadSchema line."""
    return [
        set(re.findall(r"[<,](\w+):", line))
        for line in p.splitlines()
        if line.startswith("ReadSchema: ")
    ]


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"

    import pandas as pd
    from pyspark.sql import functions as F

    import __spark_entry__ as e
    from go_matrixprofile_spark.session import get_spark

    spark = get_spark(
        "plan-audit", cores=8, extra_conf={"spark.sql.shuffle.partitions": "8"}
    )
    qs = e.queries()

    checks: list[tuple[str, str, list[tuple[str, bool]]]] = []

    def check(name, df, must=(), must_not=()):
        p = plan_of(df)
        results = [(f"contains '{m}'", m in p) for m in must]
        results += [(f"absent   '{m}'", m not in p) for m in must_not]
        checks.append((name, p, results))

    # 1. column pruning: text_len query needs props/user_id/ts/event_id/
    #    event_type; `value` must be pruned out of the scan
    df = qs["series_text_len"](spark, sf_dir)
    p = plan_of(df)
    schemas = read_schemas(p)
    pruned = bool(schemas) and all("value" not in cols for cols in schemas)
    checks.append(
        (
            "series_text_len: scan prunes unused `value` column",
            p,
            [("ReadSchema excludes value", pruned), ("contains 'Scan parquet'", "Scan parquet" in p)],
        )
    )

    # 2. predicate pushdown: jaccard caps doc_id < 300 at the scan;
    #    shingle document frequency is a partial-aggregated groupBy+join,
    #    never a frameless Window that funnels a stop-shingle's rows
    #    through one task
    check(
        "dedup_ngram_jaccard: doc_id filter pushed to parquet, DF via partial agg",
        qs["dedup_ngram_jaccard"](spark, sf_dir),
        must=["PushedFilters: [IsNotNull(doc_id), LessThan(doc_id,300)", "partial_count"],
        must_not=["CartesianProduct", "Window"],
    )

    # 3. LSH family: bucket joins are hash joins, never cartesian
    check(
        "dedup_minhash_lsh: band-bucket self-join is a hash join",
        qs["dedup_minhash_lsh"](spark, sf_dir),
        must=["Join"],
        must_not=["CartesianProduct"],
    )
    check(
        "cosine_near_dup: banded bucket join, bucket caps via partial agg",
        qs["cosine_near_dup"](spark, sf_dir),
        must=["partial_count"],
        must_not=["CartesianProduct", "Window"],
    )

    # 4. brute knn: query side broadcast (BroadcastNestedLoopJoin is the
    #    expected physical form for the qid != nid theta-join: the
    #    broadcast side is 8 rows, the corpus streams)
    check(
        "knn_brute_cosine: query side broadcast, corpus streams",
        qs["knn_brute_cosine"](spark, sf_dir),
        must=["Broadcast"],
    )

    # 5. rollup: partial/final aggregation split (map-side combine)
    check(
        "rollup_1h: partial aggregation before the exchange",
        qs["rollup_1h"](spark, sf_dir),
        must=["partial_sum", "hashpartitioning"],
    )

    # 6. whole-series MP: the kernel stage is fed by a numbered range
    #    exchange on (conv_id, metric) — one task per core, balanced by
    #    series count, at most one task per distinct series. Round-robin
    #    (random start per input partition) and hash exchanges both put
    #    2 series in one task whenever they collide.
    from go_matrixprofile_spark.operators.profile import (
        matrix_profile,
        pan_matrix_profile_distributed,
    )
    from go_matrixprofile_spark.operators.series import derive_series
    from go_matrixprofile_spark.sources.transcripts import transcripts_from_events

    def range_placed(name, df, absent=()):
        p = plan_of(df)
        rng = r"rangepartitioning\(conv_id#\d+ ASC NULLS FIRST, metric#\d+ ASC NULLS FIRST, \d+\)"
        results = [
            ("rangepartitioning on conv_id, metric", re.search(rng, p) is not None),
            ("contains 'REPARTITION_BY_NUM'", "REPARTITION_BY_NUM" in p),
        ]
        results += [(f"absent   '{m}'", m not in p) for m in ("RoundRobinPartitioning", *absent)]
        results.append(("Arrow kernel", "MapInPandas" in p))
        checks.append((name, p, results))

    t = transcripts_from_events(spark.read.parquet(f"{sf_dir}/events.parquet"))
    range_placed(
        "matrix_profile: kernel stage range-placed on (conv_id, metric)",
        matrix_profile(derive_series(t), w=8),
    )

    # 6b. pan-MP: the same whole-series placement — every window of a
    #     series runs in the one kernel call that gets the series, so the
    #     window list never becomes a join side.
    range_placed(
        "pan_matrix_profile_distributed: kernel stage range-placed on (conv_id, metric)",
        pan_matrix_profile_distributed(derive_series(t), 6, 10),
        absent=("BroadcastNestedLoopJoin", "CartesianProduct"),
    )

    # 7. chunked MP: tile join is a hash join on bounded keys; kernel
    #    stage behind an explicit repartition
    check(
        "matrix_profile_chunked: hash joins + pinned repartition",
        qs["mp_chunked_oracle"](spark, sf_dir),
        must=["hashpartitioning", "REPARTITION_BY_NUM"],
        must_not=["CartesianProduct"],
    )

    # 8. gap-fill: grid explode + single window per (conv, metric)
    check(
        "gapfill_locf: explode grid + one window sort",
        qs["gapfill_locf"](spark, sf_dir),
        must=["explode(", "Window"],
        must_not=["CartesianProduct"],
    )

    # 8b. fused series derivation: text_len + latency share one scan +
    #     one window leg (inline of metric structs); turn_rate is a
    #     count over a conv_id repartition, and Catalyst prunes its scan
    #     to a read with NO text payload. Each leg crosses one exchange
    #     (2 in all), both hash conv_id alone, so the Union keeps that
    #     partitioning and a 1m rollup after it adds no exchange.
    #     Formatted plans print each scan node twice (tree + detail), so
    #     2 physical scans == 4 occurrences; exchanges are counted by
    #     their detail headers.
    from go_matrixprofile_spark.operators.rollup import rollup_raw

    def derive_series_plan(name, t, text, windows):
        p = plan_of(derive_series(t))
        keys = re.findall(r"hashpartitioning\(([^()]*), \d+\)", p)
        checks.append(
            (
                name,
                p,
                [
                    ("exactly 2 parquet scans", p.count("Scan parquet") == 4),
                    ("inline fuses the point metrics", "Generate" in p),
                    ("single Union of the two branches", p.count("Union") == 2),
                    ("exactly 2 exchanges", shuffle_exchanges(p) == 2),
                    ("rate leg is a count", "partial_count" in p),
                    ("no window beyond the latency leg's", p.count("Window") == windows),
                    (
                        "both exchanges hash conv_id alone",
                        len(keys) == 2 and all(re.fullmatch(r"conv_id#\d+", k) for k in keys),
                    ),
                    (
                        "a 1m rollup after it adds no exchange",
                        shuffle_exchanges(plan_of(rollup_raw(derive_series(t), "1m"))) == 2,
                    ),
                    (
                        "rate-leg scan prunes the text payload",
                        any(text not in cols for cols in read_schemas(p)),
                    ),
                ],
            )
        )

    # transcripts_from_events numbers turns with a window of its own
    # and carries the text payload as `props`; formatted plans print
    # each Window node twice
    derive_series_plan(
        "derive_series on transcripts_from_events: one window leg + count rate leg, conv_id-partitioned",
        t, "props", 4,
    )

    # 8c. the same plan over a Parquet transcript table, the production
    #     input (the incremental store, jobs/run_pipeline.py): no input
    #     partitioning to reuse, so a rate leg that is a window stacked
    #     on the latency window takes a (conv_id, bucket) exchange for
    #     the window and another for its aggregate — 3, not 2
    tmp = tempfile.TemporaryDirectory(prefix="plan-audit-")
    t.write.parquet(f"{tmp.name}/transcripts")
    store = spark.read.parquet(f"{tmp.name}/transcripts")
    derive_series_plan(
        "derive_series on a Parquet transcript table: 2 exchanges, conv_id-partitioned",
        store, "text", 2,
    )

    # 8d. incremental update: the batch's conv_ids are literals of a
    #     filter pushed into the store scan — no broadcast semi-join, and
    #     no aggregate or exchange over the batch: the update's plan has
    #     exactly the aggregates and exchanges of the same pipeline over
    #     store + batch
    from go_matrixprofile_spark.streaming.ingest import incremental_batch_update

    ts = pd.Timestamp("2024-01-01")
    batch = spark.createDataFrame(
        pd.DataFrame(
            {
                "conv_id": ["1", "2", "2"],
                "turn_idx": [900, 900, 901],
                "role": "user",
                "text": "hello",
                "tool": None,
                "ts": [ts, ts, ts + pd.Timedelta(minutes=5)],
            }
        ),
        "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp",
    )
    p = plan_of(incremental_batch_update(spark, store, batch, w=8))
    plain = plan_of(matrix_profile(derive_series(store.unionByName(batch)), w=8))

    def aggregates(p):
        return len(re.findall(r"^\(\d+\) \w*HashAggregate$", p, re.M))

    checks.append(
        (
            "incremental_batch_update: batch conv_ids as a pushed-down IN filter",
            p,
            [
                ("absent   'BroadcastExchange'", "BroadcastExchange" not in p),
                ("no join", "Join" not in p),
                ("no aggregate over the batch", aggregates(p) == aggregates(plain)),
                ("IN filter pushed into the store scan", "In(conv_id, [1,2])" in p),
                ("no exchange over the batch", shuffle_exchanges(p) == shuffle_exchanges(plain)),
            ],
        )
    )

    # 9. substring-level dedup: fingerprint document frequency is a
    #    map-side-combinable partial agg + join (the df-gate), the
    #    self-join is a hash join on fp — no cartesian, no frameless
    #    hot-key Window beyond the per-doc winnowing sort
    check(
        "winnow_dup_pairs: df-gate via partial agg, fp self-join hashed",
        qs["winnow_dup_pairs"](spark, sf_dir),
        must=["partial_count", "Join"],
        must_not=["CartesianProduct"],
    )

    # 9b. PQ ADC: the query LUT broadcasts against the long code table
    #     (no cartesian); the corpus-sized side carries only codes
    check(
        "knn_pq_adc_refined: broadcast LUT against the code table",
        qs["knn_pq_adc_refined"](spark, sf_dir),
        must=["BroadcastHashJoin", "partial_sum"],
        must_not=["CartesianProduct"],
    )

    # 9c. knn family top-k: every final ranking is
    #     row_number().over(partitionBy(qid).orderBy(...)) + filter,
    #     which Spark rewrites to a map-side WindowGroupLimit — without
    #     that rewrite the ranking sorts the whole scored corpus in one
    #     task per query. The rewrite was previously an unasserted
    #     optimizer courtesy (r03 verdict nit #2); pin it for all four
    #     families so a refactor to an unsupported rank pattern fails
    #     the audit.
    for fam in ("knn_brute_cosine", "knn_lsh_cosine", "knn_ivf_cosine", "knn_pq_adc_refined"):
        check(
            f"{fam}: top-k compiles to map-side WindowGroupLimit",
            qs[fam](spark, sf_dir),
            must=["WindowGroupLimit"],
        )

    # 9d. dedup_groups: the component resolution is iterative
    #     (per-round localCheckpoint truncates lineage), so the final
    #     plan must read the labels from a materialized checkpoint scan
    #     — not replay every propagation round — and the doc join stays
    #     a hash join
    check(
        "dedup_groups: labels from checkpoint scan, hash-joined to docs",
        qs["dedup_groups"](spark, sf_dir),
        must=["Scan ExistingRDD"],
        must_not=["CartesianProduct"],
    )

    # 9e. BPE token counting: the 48-replace merge chain is a single
    #     shuffle-free projection (no Exchange, no Python UDF) — the
    #     whole tokenizer stays inside whole-stage codegen
    p = plan_of(qs["token_counts_bpe"](spark, sf_dir))
    checks.append(
        (
            "token_counts_bpe: shuffle-free single-scan replace chain",
            p,
            [
                ("no exchange (pure projection)", "Exchange" not in p),
                ("no python UDF", "Python" not in p),
                # formatted plans print each scan node twice (tree +
                # detail): exactly one parquet scan == 2 occurrences
                ("single parquet scan", p.count("Scan parquet") == 2),
            ],
        )
    )

    # 9f. trigram lang ID: doc-profile ranking is keyed by doc_id (no
    #     hot key) and its rank-filter compiles to map-side
    #     WindowGroupLimit; the 600-row profile table broadcasts
    check(
        "lang_id: per-doc WindowGroupLimit + broadcast profile join",
        qs["lang_id"](spark, sf_dir),
        must=["WindowGroupLimit", "BroadcastHashJoin", "partial_count"],
        must_not=["CartesianProduct"],
    )

    # 9g. sequence packing: exactly ONE exchange (the bucket shuffle)
    #     feeding one Arrow-batched group pass — packing adds no
    #     shuffle beyond routing docs to their bucket streams
    from go_matrixprofile_spark.operators.corpus import pack_sequences

    toy_corpus = spark.range(2000).select(
        F.col("id").alias("doc_id"), (F.col("id") % 97 + 10).alias("n_bpe_tokens")
    )
    p = plan_of(pack_sequences(toy_corpus, budget=512, n_buckets=16))
    checks.append(
        (
            "pack_sequences: single bucket shuffle + one Arrow group pass",
            p,
            [
                ("exactly one exchange", shuffle_exchanges(p) == 1),
                ("Arrow group apply", "FlatMapGroupsInPandas" in p),
            ],
        )
    )

    # 9h. as-of join: union + one running window per key — NO join
    #     operator at all (the range-join formulation would blow up
    #     N×M per key), one shuffle on the key
    check(
        "asof_turn_hourly: union + running window, no join",
        qs["asof_turn_hourly"](spark, sf_dir),
        must=["Union", "Window", "hashpartitioning"],
        must_not=["Join", "CartesianProduct"],
    )

    # 10. repetition stats: both aggregations split partial/final
    #     (gram counts combine map-side before any exchange); keys all
    #     include doc_id so no hot key exists
    check(
        "quality_repetition: partial-agg gram counts, no window",
        qs["quality_repetition"](spark, sf_dir),
        must=["partial_count", "hashpartitioning"],
        must_not=["CartesianProduct", "Window"],
    )

    # 11. oversized-doc splitting: pure sequence+explode arithmetic on
    #     the token table — NO exchange of its own (the only exchanges
    #     in the plan, if any, belong to the upstream token count; on
    #     the raw token projection there must be none at all)
    from go_matrixprofile_spark.operators.corpus import split_documents

    toy_tok = spark.range(2000).select(
        F.col("id").alias("doc_id"), (F.col("id") % 300 + 1).alias("n_bpe_tokens")
    )
    check(
        "split_documents: shuffle-free explode projection",
        split_documents(toy_tok, budget=64),
        must=["Generate"],
        must_not=["Exchange", "Join", "FlatMapGroupsInPandas"],
    )

    # 11b. chunk-aware packing keeps the single-shuffle shape
    p = plan_of(
        pack_sequences(
            split_documents(toy_tok, budget=64),
            budget=64,
            n_buckets=16,
            token_col="n_tokens",
            chunk_col="chunk_idx",
        )
    )
    checks.append(
        (
            "split+pack: still exactly one bucket shuffle",
            p,
            [
                ("exactly one exchange", shuffle_exchanges(p) == 1),
                ("Arrow group apply", "FlatMapGroupsInPandas" in p),
            ],
        )
    )

    # 12. corpus-learned BPE application: the replace chain from the
    #     distributed trainer compiles to the same single-scan
    #     shuffle-free projection as the seed-vocabulary chain (the
    #     training rounds run eagerly before this plan exists)
    from go_matrixprofile_spark.operators.text import token_counts_bpe

    toy_docs = spark.createDataFrame(
        [(i, "the quick brown fox jumps again and again") for i in range(4)],
        "doc_id long, text string",
    )
    check(
        "token_counts_bpe(learned merges): single-scan, no shuffle, no Python",
        token_counts_bpe(toy_docs, merges=[("t", "h"), ("th", "e"), ("a", "n")]),
        must=["Scan"],
        must_not=["Exchange", "BatchEvalPython", "FlatMapGroupsInPandas"],
    )

    # 13. as-of join: one in-partition sorted window pass over ONE key
    #     exchange — no join operator, no second shuffle
    from go_matrixprofile_spark.operators.asof import asof_join

    toy_l = spark.range(500).select(
        (F.col("id") % 7).cast("string").alias("k"),
        F.col("id").cast("double").alias("t"),
    )
    toy_r = spark.range(100).select(
        (F.col("id") % 7).cast("string").alias("k"),
        (F.col("id") * 5).cast("double").alias("rt"),
        F.col("id").cast("double").alias("v"),
    )
    p = plan_of(
        asof_join(
            toy_l, toy_r, by=["k"], left_on="t", right_on="rt",
            value_cols=["v"],
        )
    )
    checks.append(
        (
            "asof_join: one key exchange, one window pass, no join",
            p,
            [
                ("exactly one exchange", shuffle_exchanges(p) == 1),
                ("exactly one window pass",
                 len(re.findall(r"^\(\d+\) Window$", p, re.M)) == 1),
                ("no join operator", "Join" not in p),
            ],
        )
    )

    # 14. decontamination: benchmark gram set broadcast — corpus-side
    #     grams stream map-side against the hash set, the only corpus
    #     shuffle is the doc_id hit aggregation
    from go_matrixprofile_spark.operators.decontam import decontaminate

    toy_docs2 = spark.createDataFrame(
        [(i, "alpha beta gamma delta " * 8) for i in range(50)],
        "doc_id long, text string",
    )
    toy_bench = spark.createDataFrame(
        [(0, "alpha beta gamma delta " * 4)], "bench_id long, text string"
    )
    check(
        "decontaminate: broadcast benchmark grams, no corpus-side merge join",
        decontaminate(toy_docs2, toy_bench, n=13),
        must=["BroadcastHashJoin", "partial_count"],
        must_not=["SortMergeJoin", "CartesianProduct"],
    )

    # 15. cleaning chain: C4 line filter + PII redaction is ONE narrow
    #     JVM projection — no shuffle, no Python, whole-stage codegen
    #     straight off the scan
    from go_matrixprofile_spark.operators.cleaning import clean_lines, redact_pii

    cleaned = redact_pii(clean_lines(toy_docs2), text_col="clean_text")
    p = plan_of(cleaned)
    # the higher-order line filter is an interpreted Project (Spark
    # doesn't codegen lambda functions) — the invariant is that the
    # chain stays Scan+Project ONLY: narrow, shuffle-free, JVM-side
    nodes = {
        ln.strip("*+- ").split(" (")[0]
        for ln in p.split("\n\n")[0].splitlines()
        if "(" in ln and ln.strip().startswith(("*", "+", ":", "Scan", "Project"))
    }
    checks.append(
        (
            "clean_lines->redact_pii: single narrow projection, no shuffle, no Python",
            p,
            [
                ("no exchange", "Exchange" not in p),
                ("no Python eval", "BatchEvalPython" not in p and "FlatMapGroupsInPandas" not in p),
                ("plan is Scan+Project only", nodes <= {"Project", "Scan ExistingRDD", "Scan parquet"}),
            ],
        )
    )

    # 15b. span merge: hit rows only cross ONE doc_id exchange for the
    #      ordered gaps-and-islands window; benchmark side stays broadcast
    from go_matrixprofile_spark.operators.decontam import contaminated_spans

    p = plan_of(contaminated_spans(toy_docs2, toy_bench, n=13))
    checks.append(
        (
            "contaminated_spans: broadcast gram join, one doc_id exchange for the window",
            p,
            [
                ("broadcast gram join", "BroadcastHashJoin" in p),
                ("window pass present", "Window" in p),
                ("no merge join", "SortMergeJoin" not in p),
            ],
        )
    )

    # 16. mixture sampling / train-val split: pure projections — the
    #     weight table is a literal map expression (NO join of any
    #     kind), the epoch fan-out is one Generate, and nothing
    #     shuffles at any corpus size
    from go_matrixprofile_spark.operators.mixture import (
        mixture_sample,
        train_val_split,
    )

    pq_docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    p = plan_of(
        mixture_sample(pq_docs, {"src0": 2.5, "src1": 0.25}, seed=42).select(
            "doc_id", "source", "epoch", "order_key"
        )
    )
    checks.append(
        (
            "mixture_sample: literal weight map, one Generate, no join, no shuffle",
            p,
            [
                ("no exchange", "Exchange" not in p),
                ("no join", "Join" not in p and "CartesianProduct" not in p),
                ("epoch fan-out is a Generate", "Generate" in p),
                ("no Python eval", "BatchEvalPython" not in p and "InPandas" not in p),
                (
                    "text pruned out of the scan",
                    bool(read_schemas(p))
                    and all("text" not in cols for cols in read_schemas(p)),
                ),
            ],
        )
    )
    p = plan_of(train_val_split(pq_docs.select("doc_id"), val_frac=0.1, seed=7))
    checks.append(
        (
            "train_val_split: single narrow projection, no shuffle",
            p,
            [
                ("no exchange", "Exchange" not in p),
                ("no join", "Join" not in p),
                ("no Python eval", "BatchEvalPython" not in p and "InPandas" not in p),
            ],
        )
    )

    # 17. tokenize -> split -> pack -> materialize: the token join is
    #     the ONLY join, the seq assembly the only aggregation; no
    #     Python anywhere except the packer's own applyInPandas
    from go_matrixprofile_spark.operators.corpus import (
        materialize_sequences,
        pack_sequences,
        split_documents,
    )
    from go_matrixprofile_spark.operators.text import tokenize_bpe

    tk = tokenize_bpe(pq_docs)
    p = plan_of(tk)
    checks.append(
        (
            "tokenize_bpe: shuffle-free JVM projection",
            p,
            [
                ("no exchange", "Exchange" not in p),
                ("no Python eval", "BatchEvalPython" not in p and "InPandas" not in p),
            ],
        )
    )
    pk = pack_sequences(
        split_documents(tk.select("doc_id", "n_bpe_tokens"), budget=256),
        budget=256, n_buckets=8, token_col="n_tokens", chunk_col="chunk_idx",
    )
    p = plan_of(materialize_sequences(pk, tk, budget=256))
    checks.append(
        (
            "materialize_sequences: one token join, one seq aggregation, no window",
            p,
            [
                ("has a join", "Join" in p),
                ("no cartesian", "CartesianProduct" not in p),
                ("seq agg present", "partial" in p or "HashAggregate" in p or "ObjectHashAggregate" in p),
                ("no window", "Window" not in p),
            ],
        )
    )

    failures = 0
    lines = [
        "# PLANS — physical-plan audit (tools/plan_audit.py)",
        "",
        f"Spark {spark.version}, sf_dir={sf_dir}. Each operator family's",
        "scale-critical plan invariants, asserted as substrings of the",
        "FORMATTED physical plan (excerpts below are trimmed).",
        "",
    ]
    for name, p, results in checks:
        ok = all(r for _, r in results)
        failures += 0 if ok else 1
        lines.append(f"## {'✅' if ok else '❌'} {name}")
        for desc, r in results:
            lines.append(f"- {'ok  ' if r else 'FAIL'} {desc}")
        # keep a compact excerpt: the node list (first section of formatted)
        excerpt = p.split("\n\n")[0]
        if len(excerpt) > 2400:
            excerpt = excerpt[:2400] + "\n... (trimmed)"
        lines += ["", "```", excerpt, "```", ""]
        print(("OK  " if ok else "FAIL") + " " + name)

    tmp.cleanup()
    with open(ROOT / "PLANS.md", "w") as f:
        f.write("\n".join(lines))
    print(f"\n{'ALL PLAN INVARIANTS HOLD' if failures == 0 else f'{failures} FAILURES'} -> PLANS.md")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
