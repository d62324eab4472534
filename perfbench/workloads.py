"""The benchmark workloads.

Each workload builds its seeded inputs (``build``), runs one pass of
its work per ``call`` (a closed loop with one client calls it
repeatedly), checks what the pass returned (``verify``), runs its
final output checks (``checks``) and derives per-layer metrics from a
traced pass (``layers``).  A traced ``call`` runs the same public
functions of the package, with each layer's lazy output forced at its
boundary inside a span so that every layer gets its own time.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import time
from contextlib import contextmanager, nullcontext

import numpy as np

import inputs
from observe import RssSampler, Tracer, error_line

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _dir_stats(path: str) -> tuple[int, int]:
    files = size = 0
    for dirpath, _, names in os.walk(path):
        for n in names:
            if not n.startswith((".", "_")):
                files += 1
                size += os.path.getsize(os.path.join(dirpath, n))
    return files, size


class Ctx:
    def __init__(self, spark, seed, cores, work, tracer, stats, sampler):
        self.spark = spark
        self.seed = seed
        self.cores = cores
        self.work = work
        self.tracer: Tracer = tracer
        self.stats = stats
        self.sampler: RssSampler = sampler
        self.rng = np.random.default_rng([seed, 7])


class Workload:
    name = ""
    item = ""  # what one unit of ``items_per_s`` is
    items = 0  # items carried to complete output per pass
    warm_passes = 1  # untimed passes at the end of set-up (plan codegen, JIT)
    in_session = True  # the passes run in the benchmark's own Spark session

    def build(self, ctx: Ctx) -> None:
        raise NotImplementedError

    def call(self, ctx: Ctx, traced: bool):
        raise NotImplementedError

    def verify(self, ctx: Ctx, out) -> list[tuple[str, bool, str]]:
        return []

    def checks(self, ctx: Ctx) -> list[tuple[str, bool, str]]:
        return []

    def layers(self, ctx: Ctx, spans: list[dict], out) -> dict:
        return {}

    def kernel_shape(self) -> tuple[int, int, int] | None:
        """(series, points, window) of the kernel calls of one pass."""
        return None


# --------------------------------------------------------------- mp_fleet_16k


class MpFleet16k(Workload):
    """The reference's own benchmark series (16,384 points, w=128, MPX),
    one per core, pre-assembled into array rows during set-up."""

    name = "mp_fleet_16k"
    item = "series"
    N, W = 16384, 128

    def build(self, ctx):
        import pandas as pd

        from go_matrixprofile_spark.operators.profile import assemble_series

        self.n_series = ctx.cores
        self.items = self.n_series
        pdf = pd.concat(
            [
                pd.DataFrame(
                    {
                        "conv_id": f"s{i:04d}",
                        "metric": "bench",
                        "bucket_s": np.arange(self.N, dtype=np.float64),
                        "value": inputs.reference_series(ctx.seed, i, self.N),
                    }
                )
                for i in range(self.n_series)
            ],
            ignore_index=True,
        )
        long = ctx.spark.createDataFrame(
            pdf, "conv_id string, metric string, bucket_s double, value double"
        )
        with ctx.tracer.span("operators.profile.assemble_series", "operators.profile"):
            self.arrays = assemble_series(long).persist()
            self.arrays.count()

    def call(self, ctx, traced):
        from go_matrixprofile_spark.kernels.matrix_profile import MPOpts
        from go_matrixprofile_spark.operators.profile import matrix_profile_assembled

        with ctx.tracer.span(
            "operators.profile.matrix_profile_assembled", "operators.profile"
        ):
            return matrix_profile_assembled(
                self.arrays, w=self.W, opts=MPOpts(algorithm="mpx")
            ).toPandas()

    def verify(self, ctx, out):
        want = self.N - self.W + 1
        sizes = out.groupby("conv_id").size()
        ok = len(sizes) == self.n_series and bool((sizes == want).all())
        self.last = out
        return [("rows_per_series", ok, f"{len(sizes)} series, sizes {sorted(set(sizes))}, want {want}")]

    def checks(self, ctx):
        from go_matrixprofile_spark.kernels.matrix_profile import MPOpts, compute_mp

        res = []
        for i in sorted(ctx.rng.choice(self.n_series, size=2, replace=False)):
            got = self.last[self.last["conv_id"] == f"s{i:04d}"].sort_values("offset")
            ref = compute_mp(inputs.reference_series(ctx.seed, int(i), self.N), None,
                             self.W, MPOpts(algorithm="mpx"))
            ok = np.array_equal(got["mp"].to_numpy(), ref.mp) and np.array_equal(
                got["idx"].to_numpy(), ref.idx
            )
            res.append((f"mp_equals_kernel[s{i:04d}]", ok, "array_equal mp and idx"))
        return res

    def layers(self, ctx, spans, out):
        if out is None:
            return {}
        prof = [s for s in spans if s["name"] == "operators.profile.matrix_profile_assembled"]
        return profile_layer(prof, len(out), self.n_series - out["conv_id"].nunique())

    def kernel_shape(self):
        return self.n_series, self.N, self.W


def profile_layer(spans, windows, skipped=0) -> dict:
    """The operators.profile metrics of the given profile-call spans."""
    sp = [s["spark"] for s in spans]
    return {
        "profile.kernel_stage_s": sum(s["heavy_stage_s"] for s in sp),
        "profile.kernel_tasks": sum(s["heavy_stage_tasks"] for s in sp),
        "profile.task_skew": max((s["heavy_stage_skew"] for s in sp), default=0.0),
        "profile.python_worker_s": sum(s["python_worker_s"] for s in sp),
        "profile.arrow_bytes_in": sum(s["arrow_bytes_in"] for s in sp),
        "profile.arrow_bytes_out": sum(s["arrow_bytes_out"] for s in sp),
        "profile.windows_out": windows,
        "profile.series_skipped": skipped,
    }


@contextmanager
def forced_layers(tr: Tracer):
    """Run the calls that ``streaming.ingest`` makes into
    ``operators.series.derive_series`` and ``operators.profile.matrix_profile``
    (it imports them when called) each in a span of its own layer, with
    the output persisted and counted at the boundary.  The wrappers
    replace the module attributes only while the block runs."""
    from go_matrixprofile_spark.operators import profile, series

    cached, real = [], {}

    def forced(mod, attr, layer):
        fn = real[(mod, attr)] = getattr(mod, attr)

        def call(*args, **kwargs):
            with tr.span(f"{layer}.{attr}", layer) as c:
                df = fn(*args, **kwargs).persist()
                cached.append(df)
                c["rows_out"] = df.count()
            return df

        setattr(mod, attr, call)

    forced(series, "derive_series", "operators.series")
    forced(profile, "matrix_profile", "operators.profile")
    try:
        yield
    finally:
        for (mod, attr), fn in real.items():
            setattr(mod, attr, fn)
        for df in cached:
            df.unpersist()


# --------------------------------------------------------- incremental_append

TRANSCRIPT_DDL = (
    "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp"
)


class IncrementalAppend(Workload):
    """Closed loop, one client: each batch adds a few turns to a few
    random conversations of a committed transcript store, refreshes
    their profiles, collects the rows, then appends the turns."""

    name = "incremental_append"
    item = "turns"
    USERS, CONVS, TURNS, W = 600, 4, 3, 16
    items = CONVS * TURNS
    warm_passes = 1  # measured: the first batches of a session run up to ~35% slower

    def build(self, ctx):
        from pyspark.sql import functions as F

        from go_matrixprofile_spark.sources.transcripts import transcripts_from_events

        self.store = os.path.join(ctx.work, "store")
        ev = ctx.spark.createDataFrame(inputs.events(ctx.seed, self.USERS))
        with ctx.tracer.span("sources.transcripts_from_events", "sources"):
            transcripts_from_events(ev).write.mode("overwrite").parquet(self.store)
        self.last = (
            ctx.spark.read.parquet(self.store)
            .groupBy("conv_id")
            .agg(F.max("turn_idx").alias("turn_idx"), F.max("ts").alias("ts"),
                 F.count("*").alias("turns"))
            .toPandas()
            .sort_values("conv_id", ignore_index=True)
        )
        self.outputs = {}

    def call(self, ctx, traced):
        from go_matrixprofile_spark.streaming.ingest import incremental_batch_update

        spark, tr = ctx.spark, ctx.tracer
        batch = inputs.new_turns(ctx.rng, self.last, self.CONVS, self.TURNS)
        t0 = time.perf_counter()
        new = spark.createDataFrame(batch, TRANSCRIPT_DDL)
        store = spark.read.parquet(self.store)
        with tr.span("streaming.incremental_batch_update", "streaming") as c, \
                forced_layers(tr) if traced else nullcontext():
            rows = incremental_batch_update(spark, store, new, w=self.W).toPandas()
            touched = self.last["conv_id"].isin(batch["conv_id"].unique())
            c["merged_turns"] = int(self.last.loc[touched, "turns"].sum()) + len(batch)
            c["new_turns"] = len(batch)
            c["affected_convs"] = batch["conv_id"].nunique()
        self.latency = time.perf_counter() - t0  # submission -> rows in hand
        with tr.span("client.store_append", "client"):
            new.write.mode("append").parquet(self.store)
        for conv_id, g in rows.groupby("conv_id"):
            self.outputs[conv_id] = g
        top = batch.groupby("conv_id").agg(
            turn_idx=("turn_idx", "max"), ts=("ts", "max"), turns=("turn_idx", "size"))
        idx = self.last.set_index("conv_id")
        idx.loc[top.index, "turn_idx"] = top["turn_idx"].to_numpy()
        idx.loc[top.index, "ts"] = top["ts"].to_numpy()
        idx.loc[top.index, "turns"] += top["turns"].to_numpy()
        self.last = idx.reset_index()
        return rows

    def verify(self, ctx, out):
        ok = len(out) > 0 and out["conv_id"].nunique() <= self.CONVS
        return [("batch_rows", ok, f"{len(out)} rows for {out['conv_id'].nunique()} convs")]

    def checks(self, ctx):
        """Update == recompute: each touched conversation's latest
        refreshed profile equals a full recompute over the final store."""
        from pyspark.sql import functions as F

        from go_matrixprofile_spark.operators.profile import matrix_profile
        from go_matrixprofile_spark.operators.series import derive_series

        touched = sorted(self.outputs)
        store = ctx.spark.read.parquet(self.store).where(F.col("conv_id").isin(touched))
        full = matrix_profile(derive_series(store), w=self.W).toPandas()
        key = ["metric", "offset"]
        res = []
        for conv_id in touched:
            got = self.outputs[conv_id].sort_values(key, ignore_index=True)
            want = full[full["conv_id"] == conv_id].sort_values(key, ignore_index=True)
            ok = (
                len(got) == len(want)
                and np.array_equal(got[key].to_numpy(), want[key].to_numpy())
                and np.array_equal(got["idx"].to_numpy(), want["idx"].to_numpy())
                and np.allclose(got["mp"].to_numpy(), want["mp"].to_numpy(), rtol=0, atol=1e-9)
            )
            res.append((f"update_equals_recompute[{conv_id}]", ok, f"{len(got)} vs {len(want)} rows"))
        return res

    def layers(self, ctx, spans, out):
        if out is None:
            return {}
        st = [s for s in spans if s["layer"] == "streaming"]
        se = [s for s in spans if s["layer"] == "operators.series"]
        pr = [s for s in spans if s["layer"] == "operators.profile"]
        return profile_layer(pr, len(out)) | {
            "series.derive_s": sum(s["end"] - s["start"] for s in se),
            "series.rows_out": sum(s["counts"]["rows_out"] for s in se),
            "streaming.affected_convs": sum(s["counts"]["affected_convs"] for s in st),
            "streaming.turns_rederived_per_new_turn": sum(
                s["counts"]["merged_turns"] / s["counts"]["new_turns"] for s in st
            ),
            # the store is scanned where derive_series' input is forced
            "streaming.store_rows_scanned": sum(
                s["spark"]["input_records"] for s in st + se + pr),
        }

    def kernel_shape(self):
        return 3 * self.CONVS, 67, self.W  # 3 metrics per conversation of ~67 turns


# ------------------------------------------------------------------ doc_dedup


class DocDedup(Workload):
    """Near-duplicate detection, k-NN and language id over seeded
    documents with planted near-duplicates and seeded embeddings."""

    name = "doc_dedup"
    item = "docs"
    warm_passes = 2  # measured: the first two passes of a session run 1.5-2x slower
    DOCS, VECS, DIM, QUERIES, K = 600, 2000, 64, 8, 5
    items = DOCS

    def build(self, ctx):
        self.docs_path = os.path.join(ctx.work, "documents.parquet")
        self.emb_path = os.path.join(ctx.work, "embeddings.parquet")
        ctx.spark.createDataFrame(
            inputs.documents(ctx.seed, self.DOCS), "doc_id long, text string"
        ).write.mode("overwrite").parquet(self.docs_path)
        ctx.spark.createDataFrame(
            inputs.embeddings(ctx.seed, self.VECS, self.DIM),
            "vec_id long, embedding array<float>, label int",
        ).write.mode("overwrite").parquet(self.emb_path)
        self.found = {"minhash": set(), "winnow": set()}

    def call(self, ctx, traced):
        from go_matrixprofile_spark.operators.dedup import minhash_lsh_pairs, winnow_dup_pairs
        from go_matrixprofile_spark.operators.simsearch import knn_brute_cosine
        from go_matrixprofile_spark.operators.text import lang_id

        spark, tr = ctx.spark, ctx.tracer
        docs = spark.read.parquet(self.docs_path)
        emb = spark.read.parquet(self.emb_path)
        out = {}
        with tr.span("operators.dedup.minhash_lsh_pairs", "operators.dedup"):
            out["minhash"] = minhash_lsh_pairs(docs, 8, 8, 2).toPandas()
        with tr.span("operators.dedup.winnow_dup_pairs", "operators.dedup"):
            out["winnow"] = winnow_dup_pairs(
                docs, k=8, window=4, min_shared=5, max_df=25
            ).toPandas()
        with tr.span("operators.simsearch.knn_brute_cosine", "operators.simsearch"):
            out["knn"] = knn_brute_cosine(emb, n_queries=self.QUERIES, k=self.K).toPandas()
        with tr.span("operators.text.lang_id", "operators.text"):
            out["lang"] = lang_id(docs).toPandas()
        return out

    def verify(self, ctx, out):
        for k in ("minhash", "winnow"):
            self.found[k] = set(zip(out[k]["a_id"].tolist(), out[k]["b_id"].tolist()))
        knn = out["knn"]
        knn_ok = len(knn) == self.QUERIES * self.K and bool(
            (knn.groupby("qid").size() == self.K).all()
        )
        lang = out["lang"]
        lang_ok = len(lang) == self.DOCS and lang["doc_id"].nunique() == self.DOCS
        return [
            ("knn_rows", knn_ok, f"{len(knn)} rows, want {self.QUERIES * self.K}"),
            ("lang_id_rows", lang_ok, f"{len(lang)} rows, want {self.DOCS}"),
        ]

    def checks(self, ctx):
        planted = inputs.planted_pairs(self.DOCS)
        res = []
        for k, floor in (("minhash", 0.8), ("winnow", 0.95)):
            recall = len(planted & self.found[k]) / len(planted)
            res.append((f"{k}_recall", recall >= floor, f"recall {recall:.3f}, floor {floor}"))
        return res

    def layers(self, ctx, spans, out):
        if out is None:
            return {}

        def t(name):
            return sum(s["end"] - s["start"] for s in spans if s["name"] == name)

        win = [s for s in spans if s["name"] == "operators.dedup.winnow_dup_pairs"]
        return {
            "dedup.minhash_s": t("operators.dedup.minhash_lsh_pairs"),
            "dedup.winnow_s": t("operators.dedup.winnow_dup_pairs"),
            "dedup.candidate_pairs": len(out["minhash"]),
            "dedup.winnow_chain_runs": sum(s["spark"]["scan_stages"] for s in win),
            "simsearch.knn_s": t("operators.simsearch.knn_brute_cosine"),
            "text.lang_id_s": t("operators.text.lang_id"),
        }


# ------------------------------------------- pipeline_job, pipeline_stages

JOB_STAGES = (
    "series_raw", "tier_1m", "tier_1h", "tier_1d", "filled_1h",
    "mp_profile", "motifs", "discords", "segments", "compressed",
)


class Stages:
    """Runs ``jobs/run_pipeline.py``'s stages in-process, one span per
    layer call and one per checkpoint: a stage's frame is built in a
    span of its layer, persisted and counted there, then (unless
    ``checkpoint=False``) written with ``plans.lineage.checkpoint_stage``
    and read back.  Calling a ``Stages`` returns (read-back frame or
    None, computed frame)."""

    def __init__(self, ctx, output: str):
        self.tr = ctx.tracer
        self.output = output
        self.rows: dict[str, int] = {}
        self.cached = []

    def __call__(self, name, layer, build, checkpoint=True):
        from go_matrixprofile_spark.plans.lineage import checkpoint_stage

        with self.tr.span(f"{layer}:{name}", layer) as c:
            df = build().persist()
            self.cached.append(df)
            c["rows"] = self.rows[name] = df.count()
        if not checkpoint:
            return None, df
        with self.tr.span(f"plans.lineage.checkpoint_stage:{name}", "plans.lineage") as c:
            out = checkpoint_stage(df, self.output, name)
            c["files"], c["bytes"] = _dir_stats(os.path.join(self.output, name))
        with self.tr.span(f"plans.lineage.readback:{name}", "plans.lineage") as c:
            c["rows"] = out.count()
        return out, df

    def close(self):
        for df in self.cached:
            df.unpersist()


def read_corpus(ctx, path: str):
    with ctx.tracer.span("sources.read_parquet", "sources"):
        return ctx.spark.read.parquet(path)


def write_corpus(ctx, users: int, path: str) -> int:
    """The seeded transcript corpus at ``path``; returns its turn count."""
    from go_matrixprofile_spark.sources.transcripts import transcripts_from_events

    ev = ctx.spark.createDataFrame(inputs.events(ctx.seed, users))
    with ctx.tracer.span("sources.transcripts_from_events", "sources"):
        transcripts_from_events(ev).write.mode("overwrite").parquet(path)
    return ctx.spark.read.parquet(path).count()


def lineage_checks(ctx, output: str, stages) -> list[tuple[str, bool, str]]:
    """Every stage present in the lineage table, and each stage's lineage
    row count equal to the stage read back."""
    from pyspark.sql import functions as F

    from go_matrixprofile_spark.plans.lineage import read_lineage

    lin = read_lineage(ctx.spark, output)
    got = {}
    if lin is not None:
        got = {r["stage"]: r["n"] for r in
               lin.groupBy("stage").agg(F.sum("row_count").alias("n")).collect()}
    missing = [s for s in stages if s not in got]
    res = [("every_stage_present", not missing, f"missing {missing}" if missing else "all")]
    for s, n in sorted(got.items()):
        back = ctx.spark.read.parquet(os.path.join(output, s)).count()
        res.append((f"lineage_rows[{s}]", back == n, f"lineage {n}, read back {back}"))
    return res


def stage_layers(spans) -> dict:
    """The per-layer metrics of the job stages run by ``Stages``."""

    def t(layer, prefix=""):
        return sum(s["end"] - s["start"] for s in spans
                   if s["layer"] == layer and s["name"].startswith(prefix))

    def rows(layer, name):
        return sum(s["counts"].get("rows", 0) for s in spans
                   if s["layer"] == layer and s["name"].endswith(name))

    lin = [s for s in spans if s["name"].startswith("plans.lineage.checkpoint_stage")]
    return {
        "series.derive_s": t("operators.series"),
        "series.rows_out": rows("operators.series", "series_raw"),
        "rollup.tiers_s": t("operators.rollup", "operators.rollup:tier_"),
        "rollup.tier_rows": sum(rows("operators.rollup", f"tier_{x}") for x in ("1m", "1h", "1d")),
        "rollup.gapfill_s": t("operators.rollup", "operators.rollup:filled_1h"),
        "rollup.gapfill_rows": rows("operators.rollup", "filled_1h"),
        "compress.s": t("functions.compress"),
        "lineage.write_s": sum(s["end"] - s["start"] for s in lin),
        "lineage.readback_s": t("plans.lineage", "plans.lineage.readback"),
        "lineage.files_written": sum(s["counts"].get("files", 0) for s in lin),
        "lineage.bytes_written": sum(s["counts"].get("bytes", 0) for s in lin),
    }


class PipelineJob(Workload):
    """``jobs/run_pipeline.py`` (time-series stages, ``--w 24``, a fresh
    ``--output`` per pass) run as a user runs it, from the repository
    root, over a seeded transcript corpus with decimal conv_ids."""

    name = "pipeline_job"
    item = "turns"
    USERS, W = 100, 24
    warm_passes = 0  # every pass is a fresh job process, as users run it
    in_session = False

    def build(self, ctx):
        self.input = os.path.join(ctx.work, "transcripts")
        self.items = write_corpus(ctx, self.USERS, self.input)
        self.n_pass = 0
        self.errors: list[str] = []

    def _fresh_output(self, ctx):
        self.n_pass += 1
        out = os.path.join(ctx.work, f"out{self.n_pass}")
        shutil.rmtree(out, ignore_errors=True)
        return out

    def call(self, ctx, traced):
        self.output = self._fresh_output(ctx)
        if traced:
            return self._traced(ctx)
        argv = [sys.executable, "jobs/run_pipeline.py", "--input", self.input,
                "--output", self.output, "--w", str(self.W), "--cores", str(ctx.cores)]
        self.invocation = "cd <repo root> && " + " ".join(
            ["python3", *[os.path.relpath(a, ROOT) if a.startswith(ROOT) else a for a in argv[1:]]]
        )
        log = os.path.join(ctx.work, f"job{self.n_pass}.log")
        with open(log, "w") as f:
            p = subprocess.Popen(argv, cwd=ROOT, stdout=subprocess.PIPE, stderr=f, text=True)
            ctx.sampler.roots.append(p.pid)
            stdout, _ = p.communicate()
            ctx.sampler.sample()
            ctx.sampler.roots.remove(p.pid)
        lines = stdout.strip().splitlines()
        if p.returncode != 0:
            with open(log) as f:
                err = [ln.strip() for ln in f if "Error:" in ln or "Exception:" in ln]
            msg = err[-1] if err else f"exit {p.returncode}"
            self.errors.append(msg)
            raise RuntimeError(f"run_pipeline.py exited {p.returncode}: {msg}")
        return json.loads(lines[-1])

    def _traced(self, ctx):
        """The job's stage sequence called in-process, each stage built
        from the previous stage's read-back, as the job does, so the
        stage times before an abort are kept."""
        from go_matrixprofile_spark.functions.compress_ops import compress_series
        from go_matrixprofile_spark.kernels.matrix_profile import MPOpts
        from go_matrixprofile_spark.operators import rollup as R
        from go_matrixprofile_spark.operators import series as S
        from go_matrixprofile_spark.operators.profile import discover, matrix_profile

        stage = Stages(ctx, self.output)
        try:
            with ctx.tracer.span("jobs.run_pipeline", "jobs"):
                t = read_corpus(ctx, self.input)
                series, _ = stage("series_raw", "operators.series", lambda: S.derive_series(t))
                t1m, _ = stage("tier_1m", "operators.rollup", lambda: R.rollup_raw(series, "1m"))
                t1h, _ = stage("tier_1h", "operators.rollup", lambda: R.rollup_tier(t1m, "1h"))
                stage("tier_1d", "operators.rollup", lambda: R.rollup_tier(t1h, "1d"))
                filled, _ = stage("filled_1h", "operators.rollup", lambda: R.gap_fill_locf(
                    t1h.where("metric = 'turn_rate'"), 3600, value_col="sum"))
                stage("mp_profile", "operators.profile", lambda: matrix_profile(
                    filled, w=self.W, opts=MPOpts(algorithm="mpx")))
                motifs, discords, segments, _ = discover(filled, w=self.W)
                stage("motifs", "operators.profile.discover",
                      lambda: motifs.withColumn("idx", motifs["idx"].cast("array<int>")))
                stage("discords", "operators.profile.discover", lambda: discords)
                stage("segments", "operators.profile.discover", lambda: segments)
                _, comp = stage("compressed", "functions.compress", lambda: compress_series(
                    series.where("metric = 'text_len'")))
                self.blob_bytes = comp.selectExpr(
                    "sum(length(ts_blob) + length(val_blob)) AS b", "sum(n) AS n").first()
            return {}
        except Exception as e:
            msg = error_line(e)
            self.errors.append(msg)
            raise RuntimeError(msg) from None
        finally:
            stage.close()

    def checks(self, ctx):
        """Exit status 0 (raised by ``call``) and the lineage checks."""
        return lineage_checks(ctx, self.output, JOB_STAGES)

    def layers(self, ctx, spans, out):
        prof = [s for s in spans if s["name"] == "operators.profile:mp_profile"]
        b = getattr(self, "blob_bytes", None)
        return stage_layers(spans) | profile_layer(
            prof, sum(s["counts"].get("rows", 0) for s in prof)
        ) | {
            "profile.discover_s": sum(s["end"] - s["start"] for s in spans
                                      if s["layer"] == "operators.profile.discover"),
            "compress.bytes_per_point": (b["b"] / b["n"]) if b and b["n"] else 0.0,
        }

    def kernel_shape(self):
        return self.USERS, 24 * 30, self.W  # hourly series over 30 days


class PipelineStages(Workload):
    """The job's non-profile stage functions in one in-session pass:
    transcripts -> series -> 1m/1h/1d tiers -> 1h gap-fill -> compressed
    series, then the doc_dedup set over the documents.  The gap-filled tier and the compressed series
    are checkpointed with ``checkpoint_stage`` into a fresh output; the
    other stages are forced in memory (a checkpoint costs ~1.5 s of
    fixed per-job work, and six of them would not fit a run)."""

    name = "pipeline_stages"
    item = "records"
    USERS, DOCS = 20, 300
    CHECKPOINTED = ("filled_1h", "compressed")
    # a pass (~20 s) outlasts a run, so each run times one pass, the
    # first of its session: a warm pass as well would not fit the gate
    warm_passes = 0

    def build(self, ctx):
        self.input = os.path.join(ctx.work, "transcripts")
        self.doc = DocDedup()
        self.doc.DOCS = self.DOCS
        self.items = write_corpus(ctx, self.USERS, self.input) + self.DOCS
        self.doc.build(ctx)
        self.n_pass = 0

    def call(self, ctx, traced):
        from go_matrixprofile_spark.functions.compress_ops import compress_series
        from go_matrixprofile_spark.operators import rollup as R
        from go_matrixprofile_spark.operators import series as S

        self.n_pass += 1
        shutil.rmtree(getattr(self, "output", ""), ignore_errors=True)
        self.output = os.path.join(ctx.work, f"out{self.n_pass}")
        stage = Stages(ctx, self.output)
        # each stage is built from the previous stage's computed frame:
        # the job's read-back chain fails on decimal conv_ids (see the
        # pipeline_job workload), and this workload has to complete
        try:
            t = read_corpus(ctx, self.input)
            _, series = stage("series_raw", "operators.series", lambda: S.derive_series(t),
                              checkpoint=False)
            _, t1m = stage("tier_1m", "operators.rollup", lambda: R.rollup_raw(series, "1m"),
                           checkpoint=False)
            _, t1h = stage("tier_1h", "operators.rollup", lambda: R.rollup_tier(t1m, "1h"),
                           checkpoint=False)
            stage("tier_1d", "operators.rollup", lambda: R.rollup_tier(t1h, "1d"),
                  checkpoint=False)
            stage("filled_1h", "operators.rollup", lambda: R.gap_fill_locf(
                t1h.where("metric = 'turn_rate'"), 3600, value_col="sum"))
            _, comp = stage("compressed", "functions.compress", lambda: compress_series(
                series.where("metric = 'text_len'")))
            with ctx.tracer.span("client.output_stats", "client"):
                blob = comp.selectExpr(
                    "sum(length(ts_blob) + length(val_blob)) AS b", "sum(n) AS n").first()
                text_len = series.where("metric = 'text_len'").count()
        finally:
            stage.close()
        out = self.doc.call(ctx, traced)
        out["stages"] = {"rows": dict(stage.rows), "blob": blob.asDict(), "text_len": text_len}
        return out

    def verify(self, ctx, out):
        st = out["stages"]
        ok = st["blob"]["n"] == st["text_len"]
        return self.doc.verify(ctx, out) + [
            ("compressed_points", ok, f"{st['blob']['n']} points compressed, "
                                      f"{st['text_len']} text_len points"),
        ]

    def checks(self, ctx):
        return lineage_checks(ctx, self.output, self.CHECKPOINTED) + self.doc.checks(ctx)

    def layers(self, ctx, spans, out):
        if out is None:
            return {}
        blob = out["stages"]["blob"]
        return stage_layers(spans) | self.doc.layers(ctx, spans, out) | {
            "compress.bytes_per_point": blob["b"] / blob["n"] if blob["n"] else 0.0,
        }


WORKLOADS = {w.name: w for w in (MpFleet16k, PipelineJob, IncrementalAppend, DocDedup,
                                 PipelineStages)}
