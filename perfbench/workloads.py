"""The workloads: warm-up, one timed pass, correctness checks, and one
traced pass (plus, for the backfill, an isolating pass) that yields the
per-layer metrics.

Each calls the engine only through its public functions. A traced pass
records driver spans around every call into a layer and attaches the
Spark stages that ran inside each span (read from the status store), so
self time is split between driver work and the stages it waited on.
"""

from __future__ import annotations

import contextlib
import importlib.util
import io
import json
import os
import shutil
import statistics
import time

from perfbench import checks, gen, sparkstats
from perfbench.spans import Tracer

# the kernel_timing_accumulators families; the metric names BENCHMARK.json
# fixes, so they are spelled out here rather than read from the engine
KERNEL_FAMILIES = ("cooc", "runlen", "xcooc", "shape", "window", "sidelookup")
# Two bucket groups: every group pays a fixed source rescan, side-table
# collect and manifest commit (about 4 s on local[4]), and a run must
# stay within the benchmark's time budget.
N_BUCKETS, BUCKETS_PER_JOB = 4, 2
FAIL_AFTER_JOBS = N_BUCKETS // BUCKETS_PER_JOB // 2  # half-way
WARMUP_TURNS = 50

# Every per-layer metric, with its unit; a layer a workload does not
# exercise reports 0.
LAYER_UNITS = {
    "session.start_s": "s",
    "session.driver_heap_peak_mb": "MB",
    "sources.scan_mb": "MB",
    "sources.scan_amplification": "ratio",
    "sources.write_s": "core-s",
    "sources.written_mb": "MB",
    "sources.bytes_per_row": "B",
    "sources.group_jobs": "count",
    "sources.group_s_p50": "s",
    "sources.resume_groups": "count",
    "partitioning.shuffle_write_mb": "MB",
    "partitioning.fetch_wait_s": "s",
    "partitioning.spill_mb": "MB",
    "partitioning.gc_s": "s",
    "partitioning.task_skew": "ratio",
    "partitioning.max_partition_share": "ratio",
    "plans.fused.plan_s": "s",
    "plans.fused.stage_core_s": "core-s",
    "plans.fused.boundary_core_s": "core-s",
    "plans.fused.arrow_out_mb": "MB",
    **{f"functions.kernels.{f}_s": "core-s" for f in KERNEL_FAMILIES},
    **{f"operators.dedup.{s}_s": "s"
       for s in ("exact", "minhash", "verify", "cc", "contamination")},
    "operators.dedup.candidate_pairs": "count",
    "operators.dedup.verify_yield": "ratio",
    "operators.dedup.lsh_cap_drops": "count",
    "operators.dedup.cc_rounds": "count",
    "operators.dedup.cc_plan_nodes": "count",
    "operators.dedup.spark_jobs": "count",
    "operators.text.quality_s": "s",
    "operators.text.langid_s": "s",
    "operators.sampling.split_pack_s": "s",
    "trace.wall_s": "s",
    "trace.overhead_s": "s",
    "trace.blocking_self_s": "s",
    "trace.blocking_share": "ratio",
}


def _table(path: str) -> tuple[int, float]:
    """(rows, MB on disk) of a parquet file, from its footer."""
    import pyarrow.parquet as pq

    return pq.ParquetFile(path).metadata.num_rows, os.path.getsize(path) / 1e6


def scan_metrics(scans: list[dict], table: tuple[int, float]) -> dict:
    """Scan volume of the stages that read the source table, from
    records read: the parquet reader here reports next to no
    ``inputBytes`` for local files, while input records are exact.
    Amplification is records read ÷ source rows; scan MB scales the
    source file's size by it."""
    amp = sum(s["input_records"] for s in scans) / table[0]
    return {"sources.scan_mb": amp * table[1], "sources.scan_amplification": amp}


def stages_in(tracer: Tracer, stage_recs: list[dict], name: str) -> list[dict]:
    """The stages submitted while a driver span called ``name`` was open."""
    spans = [s for s in tracer.spans if s["name"] == name]
    return [st for st in stage_recs if st["start"] is not None
            and any(s["start"] <= st["start"] <= s["end"] for s in spans)]


def _fixed_width_bytes(schema) -> int:
    """Bytes per row of the fixed-width columns of an Arrow batch."""
    from pyspark.sql import types as T

    width = {T.DoubleType: 8, T.LongType: 8, T.TimestampType: 8,
             T.IntegerType: 4, T.FloatType: 4}
    return sum(width.get(type(f.dataType), 0) for f in schema.fields)


def attach_stages(tracer: Tracer, stage_recs: list[dict], name_of) -> None:
    """Add each finished stage as a child of the innermost driver span
    open when it was submitted."""
    driver = list(tracer.spans)
    for st in stage_recs:
        if st["start"] is None or st["end"] is None:
            continue
        holders = [s for s in driver if s["start"] <= st["start"] <= s["end"]]
        parent = max(holders, key=lambda s: s["start"])["id"] if holders else None
        tracer.add(name_of(st), st["start"], st["end"], parent)


class _Base:
    name = ""

    def __init__(self, spark, meta: dict, work: str, seed: int):
        self.spark = spark
        self.meta = meta
        self.work = work
        self.seed = seed
        self.rows = int(meta["rows"])
        os.makedirs(work, exist_ok=True)

    def read(self, name: str):
        return self.spark.read.parquet(os.path.join(self.meta["dir"], name))

    def isolate(self, tracer, timers) -> None:
        """Traced runs only, after the traced pass: work run apart so a
        layer's cost can be told from the pass's other layers."""


class BackfillCheckpointed(_Base):
    """``CheckpointedWriter.run_pipeline(..., build_features_fused)`` to
    parquet with a failure injected half-way, then a fresh writer
    resumes — the path ``run_backfill.py --plan fused
    --checkpoint-dir`` takes."""

    name = "backfill_checkpointed"

    def __init__(self, spark, meta, work, seed):
        super().__init__(spark, meta, work, seed)
        self.src = self.read("transcripts.parquet")
        self.profile = self.read("side_user_profile.parquet")
        self.config = self.read("side_model_config.parquet")
        self.table = _table(os.path.join(meta["dir"], "transcripts.parquet"))

    def fused(self, df, timers=None, tracer=None):
        from nuclei_feature_extraction_spark.plans.fused import (
            build_features_fused,
        )

        ctx = tracer.span("plans.fused.build") if tracer else contextlib.nullcontext()
        with ctx:
            out = build_features_fused(
                df, side_profile=self.profile, side_config=self.config,
                kernel_timers=timers,
            )
        self.out_row_bytes = _fixed_width_bytes(out.schema)
        return out

    def warm_up(self) -> None:
        """First action: a fused pass into the noop sink over the first
        turns of every conversation (Python workers start, the compiled
        kernels load)."""
        from pyspark.sql import functions as F

        self.fused(self.src.filter(F.col("turn_idx") < WARMUP_TURNS)).write.format(
            "noop"
        ).mode("overwrite").save()

    def out_dir(self, i: int) -> str:
        return os.path.join(self.work, f"pass{i}")

    def run_pass(self, i: int, tracer=None) -> dict:
        # keep only the previous pass's table (checked after its pass)
        shutil.rmtree(self.out_dir(i - 2), ignore_errors=True)
        got = self.backfill(self.src, self.out_dir(i), tracer)
        self.last = {**got, "pass": i}
        return {"resume_s": got["resume_s"]}

    def isolate(self, tracer, timers) -> None:
        """``build_features_fused`` into the noop sink over the same input,
        with kernel timers. In the backfill the kernels and the parquet
        sink share one stage; this pass gives the kernel stage alone, so
        the sink's cost is the difference."""
        with tracer.span("plans.fused.noop_pass"):
            self.fused(self.src, timers).write.format("noop").mode(
                "overwrite"
            ).save()

    def backfill(self, src, out: str, tracer=None) -> dict:
        """Fail after half the bucket groups, then resume with a fresh
        writer; returns the final manifest, the buckets done before the
        resume and the resume's wall time."""
        from nuclei_feature_extraction_spark.sources.checkpoint import (
            CheckpointedWriter,
        )

        shutil.rmtree(out, ignore_errors=True)

        def pipeline(part):
            return self.fused(part, tracer=tracer)

        def writer():
            return CheckpointedWriter(
                out, n_buckets=N_BUCKETS, buckets_per_job=BUCKETS_PER_JOB
            )

        span = tracer.span if tracer else lambda _n: contextlib.nullcontext()
        with span("sources.checkpoint.first_attempt"):
            try:
                writer().run_pipeline(src, pipeline, fail_after_jobs=FAIL_AFTER_JOBS)
                raise AssertionError("the injected failure did not fire")
            except RuntimeError as e:
                if "injected failure" not in str(e):
                    raise
        before = writer().completed_buckets()
        t0 = time.perf_counter()
        with span("sources.checkpoint.resume"):
            manifest = writer().run_pipeline(src, pipeline)
        return {"manifest": manifest, "before": before,
                "resume_s": time.perf_counter() - t0}

    def check_pass(self, i: int) -> list[str]:
        return checks.check_manifest(self.last["manifest"], N_BUCKETS, self.rows)

    def check(self, parity: bool) -> tuple[list[str], dict]:
        """Every (conv_id, turn_idx) once with its input text; the sampled
        conversations equal the fused computation on the same rows; no
        as-of pick comes from the future. With ``parity`` (traced runs,
        which have the time) the sampled ordinary conversations must also
        equal the parity spec ``plans.pipeline.build_features(["all"])``;
        the spec skips the mega-conversations, whose composable window
        stack alone would outlast a run."""
        from pyspark.sql import Observation
        from pyspark.sql import functions as F

        from nuclei_feature_extraction_spark.plans.fused import (
            build_features_fused,
        )
        from nuclei_feature_extraction_spark.plans.pipeline import (
            build_features,
        )

        ids, spec_ids = self.meta["sample_convs"], self.meta["spec_convs"]
        t0 = time.perf_counter()
        obs = Observation("perfbench_rows")
        got = (
            self.spark.read.parquet(
                os.path.join(self.out_dir(self.last["pass"]), "data")
            )
            .observe(obs, *checks.row_digest_exprs())
            .filter(F.col("conv_id").isin(ids)).drop("bucket").toPandas()
        )
        want_digest = self.src.agg(*checks.row_digest_exprs()).first().asDict()
        errs = checks.check_rows(want_digest, obs.get)
        t1 = time.perf_counter()
        # one partition per sampled conversation: values do not depend
        # on the partitioning, and fewer tasks keep the check short
        want = build_features_fused(
            self.src.filter(F.col("conv_id").isin(ids)),
            side_profile=self.profile, side_config=self.config,
            num_partitions=len(ids),
        ).toPandas()
        errs += checks.compare_features(got, want)
        errs += checks.asof_leaks(
            got, self.profile.toPandas(), self.config.toPandas()
        )
        t2 = time.perf_counter()
        info = {"sample_convs": ids, "sample_rows": len(got)}
        if parity:
            spec = build_features(
                self.src.filter(F.col("conv_id").isin(spec_ids)), ["all"],
                side_profile=self.profile, side_config=self.config,
                num_partitions=len(spec_ids),
            ).toPandas()
            errs += checks.compare_features(
                got[got["conv_id"].isin(spec_ids)], spec
            )
            info.update(spec_convs=spec_ids, spec_rows=len(spec))
        info["seconds"] = {"rows": t1 - t0, "fused": t2 - t1,
                           "spec": time.perf_counter() - t2}
        return errs, info

    def layers(self, tracer, stage_recs, totals, timers) -> dict:
        """Sink, scan, partitioning and group numbers from the traced
        backfill; kernel and Arrow-boundary numbers from the noop pass."""
        from nuclei_feature_extraction_spark.lineage import partition_metrics

        backfill = stages_in(tracer, stage_recs, "pass")
        # one kernel + sink stage per bucket group: the only writers
        sink = [s for s in backfill if s["output_mb"] > 0]
        # the noop pass's kernel stage; its other shuffle readers are the
        # side-table collects, which take milliseconds
        kernel = max(
            (s for s in stages_in(tracer, stage_recs, "plans.fused.noop_pass")
             if s["shuffle_read_mb"] > 0),
            key=lambda s: s["core_s"],
        )
        fam = {f: float(timers[f].value) for f in KERNEL_FAMILIES}
        stage_core = kernel["core_s"]
        written = sum(s["output_mb"] for s in backfill)
        nparts = self.spark.sparkContext.defaultParallelism
        parts = partition_metrics(
            self.src.repartition(nparts, "conv_id")
        ).toPandas()
        done = self.last["manifest"]["completed"]
        groups = {v["version_completed"]: v["wall_seconds"] for v in done.values()}
        resumed = {v["version_completed"] for b, v in done.items()
                   if int(b) not in self.last["before"]}
        return {
            # the stages feeding the kernel + sink stages scan the source;
            # the manifest's re-reads of the written buckets do not
            **scan_metrics(sparkstats.feeders(backfill, sink), self.table),
            # kernel + sink stages less the same rows' kernel stage alone
            "sources.write_s": sum(s["core_s"] for s in sink) - stage_core,
            "sources.written_mb": written,
            "sources.bytes_per_row": written * 1e6 / self.rows,
            # the failed attempt's groups plus the resumed ones
            "sources.group_jobs": len(groups),
            "sources.group_s_p50": statistics.median(groups.values()),
            "sources.resume_groups": len(resumed),
            "partitioning.shuffle_write_mb": totals["shuffle_write_mb"],
            "partitioning.fetch_wait_s": totals["fetch_wait_seconds"],
            "partitioning.spill_mb": totals["spill_mb"],
            "partitioning.gc_s": totals["gc_seconds"],
            "partitioning.task_skew": sparkstats.task_skew(
                self.spark, max(sink, key=lambda s: s["core_s"], default=None)
            ),
            "partitioning.max_partition_share":
                float(parts["rows"].max() / parts["rows"].sum()),
            "plans.fused.plan_s": sum(
                s["end"] - s["start"] for s in tracer.spans
                if s["name"] == "plans.fused.build"
            ),
            "plans.fused.stage_core_s": stage_core,
            "plans.fused.boundary_core_s": stage_core - sum(fam.values()),
            "plans.fused.arrow_out_mb": self.rows * self.out_row_bytes / 1e6,
            **{f"functions.kernels.{f}_s": v for f, v in fam.items()},
        }

    @staticmethod
    def stage_name(st: dict) -> str:
        if st["shuffle_read_mb"] > 0:
            return "stage.kernel+sink" if st["output_mb"] > 0 else "stage.kernel"
        if st["shuffle_write_mb"] > 0:
            return "stage.scan+exchange"
        return "stage.other"


def _load_curation_job():
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    spec = importlib.util.spec_from_file_location(
        "run_curation", os.path.join(root, "jobs", "run_curation.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


class Curation(_Base):
    """``jobs/run_curation.main`` over the planted corpus."""

    name = "curation"

    def __init__(self, spark, meta, work, seed):
        super().__init__(spark, meta, work, seed)
        self.job = _load_curation_job()
        self.table = _table(os.path.join(meta["dir"], "docs.parquet"))

    def argv(self, docs: str, bench: str, out: str) -> list[str]:
        a = gen.CURATION_ARGS
        return [
            "--documents", docs, "--output", out, "--benchmark", bench,
            "--fuzzy-threshold", str(a["fuzzy_threshold"]),
            "--contamination-threshold", str(a["contamination_threshold"]),
            "--min-quality", str(a["min_quality"]), "--langs", *a["langs"],
            "--split-weights", *a["split_weights"],
            "--pack-budget", str(a["pack_budget"]),
            "--manifest", out + ".manifest.json", "--overwrite",
        ]

    def _main(self, docs: str, bench: str, out: str) -> dict:
        with contextlib.redirect_stdout(io.StringIO()):
            rc = self.job.main(self.argv(docs, bench, out))
        if rc != 0:
            raise RuntimeError(f"run_curation.main returned {rc}")
        with open(out + ".manifest.json") as fh:
            return json.load(fh)

    def warm_up(self) -> None:
        """First action: MinHash candidates of a 300-document corpus
        (Python workers start, the Arrow MinHash path loads). The rest of
        the chain's first-run cost stays in the timed pass, as in a fresh
        ``run_curation.py`` job."""
        from nuclei_feature_extraction_spark.operators.dedup import (
            minhash_lsh_pairs,
        )

        minhash_lsh_pairs(self.read("warmup_docs.parquet")).count()

    def out_dir(self, i: int) -> str:
        return os.path.join(self.work, f"pass{i}")

    def run_pass(self, i: int, tracer=None) -> dict:
        if tracer is not None:
            return self.traced_pass(i, tracer)
        d = self.meta["dir"]
        self.last = {"pass": i, "manifest": self._main(
            os.path.join(d, "docs.parquet"),
            os.path.join(d, "benchmark.parquet"), self.out_dir(i),
        )}
        return {}

    def survivors(self, out: str):
        return self.spark.read.parquet(out).select("doc_id").toPandas()["doc_id"]

    def check_pass(self, i: int) -> list[str]:
        return checks.check_survivors(
            self.survivors(self.out_dir(i)), self.meta["truth"]
        )

    def check(self, parity: bool) -> tuple[list[str], dict]:
        fuzzy = next(
            s for s in self.last["manifest"]["stages"] if s["stage"] == "fuzzy_dedup"
        )
        return [], {
            "lsh_cap_drops": fuzzy["lsh_audit"].get("n_dropped_members"),
            "cc_rounds": fuzzy["cc_audit"].get("cc_rounds"),
            "rows_out": self.last["manifest"]["rows_out"],
            "planted": self.meta["truth"]["planted"],
        }

    def traced_pass(self, i: int, tracer: Tracer) -> dict:
        """The job's stage chain called operator by operator, in the
        job's order and with its arguments, with a persist + count
        boundary after each stage so each span holds that stage's work."""
        from pyspark.sql import Observation
        from pyspark.sql import functions as F

        from nuclei_feature_extraction_spark.operators.dedup import (
            dup_groups, exact_dedup, harvest_lsh_audit, minhash_lsh_pairs,
            ngram_contamination, ngram_jaccard_verify,
        )
        from nuclei_feature_extraction_spark.operators.langid import LANGS
        from nuclei_feature_extraction_spark.operators.sampling import (
            pack_documents, with_split,
        )
        from nuclei_feature_extraction_spark.operators.text import (
            with_lang_id, with_quality_score,
        )

        a = gen.CURATION_ARGS
        held: list = []
        counts: dict = {}

        def boundary(df, key=None):
            df = df.persist()
            n = df.count()
            if key:
                counts[key] = n
            held.append(df)
            return df

        idc, txc = "doc_id", "text"
        with tracer.span("sources.read"):
            cur = boundary(self.read("docs.parquet"))
        jobs0 = sparkstats.job_count(self.spark)
        with tracer.span("operators.dedup.exact"):
            cur = boundary(exact_dedup(cur, idc, txc).filter("is_canonical")
                           .drop("dup_group_size", "is_canonical"))
        audit: dict = {}
        with tracer.span("operators.dedup.minhash"):
            cand = boundary(minhash_lsh_pairs(
                cur, idc, txc, audit=audit, observe_audit=True
            ), "candidates")
            harvest_lsh_audit(audit)
        with tracer.span("operators.dedup.verify"):
            pairs = boundary(ngram_jaccard_verify(
                cur, cand.select("id_a", "id_b"), idc, txc
            ).filter(F.col("jaccard") >= a["fuzzy_threshold"]), "verified")
        cc_audit: dict = {}
        with tracer.span("operators.dedup.cc"):
            groups = dup_groups(cur, pairs, idc, audit=cc_audit)
            plan_nodes = len(
                groups._jdf.queryExecution().analyzed().treeString().splitlines()
            )
            cur = boundary(cur.join(
                groups.filter("is_canonical").select(idc), idc, "inner"
            ))
        dedup_jobs = sparkstats.job_count(self.spark) - jobs0
        with tracer.span("operators.dedup.contamination"):
            cont = ngram_contamination(
                cur, self.read("benchmark.parquet"), idc, txc,
                threshold=a["contamination_threshold"], backend="arrow",
            )
            cur = boundary(cur.join(
                cont.filter("NOT is_contaminated").select(idc), idc, "inner"
            ))
        with tracer.span("operators.text.quality"):
            scored = with_quality_score(cur, txc)
            cur = boundary(cur.join(
                scored.filter(F.col("quality_score") >= a["min_quality"])
                .select(idc), idc, "inner",
            ))
        with tracer.span("operators.text.langid"):
            obs = Observation("perfbench_langs")
            lang = with_lang_id(cur, txc).observe(
                obs, *[F.sum((F.col("lang_pred") == lg).cast("long")).alias(lg)
                       for lg in (*LANGS, "unknown")],
            )
            cur = boundary(cur.join(
                lang.filter(F.col("lang_pred").isin(a["langs"])).select(idc),
                idc, "inner",
            ))
        with tracer.span("operators.sampling.split_pack"):
            weights = tuple(
                (w.split("=")[0], float(w.split("=")[1])) for w in a["split_weights"]
            )
            cur = boundary(pack_documents(
                with_split(cur, idc, weights, seed="s0"), a["pack_budget"], idc,
                text_col=txc,
            ))
        out = self.out_dir(i)
        with tracer.span("sources.sink"):
            cur.write.mode("overwrite").parquet(out)
        for df in held:
            df.unpersist()
        self.last = {"pass": i, "counts": counts,
                     "audit": audit, "cc_audit": cc_audit,
                     "plan_nodes": plan_nodes, "dedup_jobs": dedup_jobs}
        return {}

    def layers(self, tracer, stage_recs, totals, timers) -> dict:
        dur = {s["name"]: s["end"] - s["start"] for s in tracer.spans
               if s["parent"] is not None and not s["name"].startswith("stage.")}
        from nuclei_feature_extraction_spark.lineage import partition_metrics

        c = self.last["counts"]
        written = sum(s["output_mb"] for s in stage_recs)
        parts = partition_metrics(self.read("docs.parquet"), "doc_id").toPandas()
        biggest = max(stage_recs, key=lambda s: s["core_s"])
        return {
            # the chain persists the corpus after its one read; later
            # stages read that copy, not the source
            **scan_metrics(stages_in(tracer, stage_recs, "sources.read"),
                           self.table),
            "sources.write_s": sum(
                s["core_s"] for s in stages_in(tracer, stage_recs, "sources.sink")
            ),
            "sources.written_mb": written,
            "sources.bytes_per_row": written * 1e6 / self.rows,
            "sources.group_jobs": 0, "sources.group_s_p50": 0.0,
            "sources.resume_groups": 0,
            "partitioning.shuffle_write_mb": totals["shuffle_write_mb"],
            "partitioning.fetch_wait_s": totals["fetch_wait_seconds"],
            "partitioning.spill_mb": totals["spill_mb"],
            "partitioning.gc_s": totals["gc_seconds"],
            "partitioning.task_skew": sparkstats.task_skew(self.spark, biggest),
            "partitioning.max_partition_share":
                float(parts["rows"].max() / parts["rows"].sum()),
            **{f"operators.dedup.{k}_s": dur[f"operators.dedup.{k}"]
               for k in ("exact", "minhash", "verify", "cc", "contamination")},
            "operators.dedup.candidate_pairs": c["candidates"],
            "operators.dedup.verify_yield":
                c["verified"] / c["candidates"] if c["candidates"] else 0.0,
            "operators.dedup.lsh_cap_drops":
                int(self.last["audit"].get("n_dropped_members", 0)),
            "operators.dedup.cc_rounds": int(self.last["cc_audit"]["cc_rounds"]),
            "operators.dedup.cc_plan_nodes": self.last["plan_nodes"],
            "operators.dedup.spark_jobs": self.last["dedup_jobs"],
            "operators.text.quality_s": dur["operators.text.quality"],
            "operators.text.langid_s": dur["operators.text.langid"],
            "operators.sampling.split_pack_s": dur["operators.sampling.split_pack"],
        }

    @staticmethod
    def stage_name(st: dict) -> str:
        return "stage.sink" if st["output_mb"] > 0 else "stage"


WORKLOADS = {w.name: w for w in (BackfillCheckpointed, Curation)}
