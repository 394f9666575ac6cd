"""The traced run: each layer's public function called on its own, over its
upstream input materialized first, under its own Spark job group and inside
a span recorded by the benchmark.

Every workload runs the same layer chain over its own input files, so every
per-layer metric exists on every workload; a layer that the workload's job
does not run is still measured on that workload's data.
"""

from __future__ import annotations

import math
import os
import statistics
import time

import numpy as np
import pyarrow as pa
import pyarrow.dataset as ds

import checks
import probes
from workloads import Context, run_pipeline_once

FORMATS = ("plain", "markdown", "html", "json")
KERNEL_BATCH = 4096
PASSTHROUGH = ("role", "tool", "ts")


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


class Layers:
    def __init__(self, ctx: Context, input_dir: str, meta: dict):
        self.ctx = ctx
        self.spark = ctx.spark
        self.sc = ctx.spark.sparkContext
        self.input_dir = input_dir
        self.meta = meta
        self.tracer = probes.Tracer(f"{ctx.name}-{ctx.seed}-{os.getpid()}")
        self.m: dict[str, float] = {}

    def timed(self, name: str, fn, *args, **kwargs):
        """Run ``fn`` in a span and a job group both named ``name``; the
        span's duration lands in ``self.m[name + '_s']``."""
        self.sc.setJobGroup(name, name)
        try:
            with self.tracer.span(name) as sp:
                out = fn(*args, **kwargs)
        finally:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
        self.m[f"{name}_s"] = sp.seconds
        return out

    # -- L0: the batch kernel on one core ---------------------------------
    def kernel(self) -> None:
        from ocr_engine_spark.kernel.pipeline import extract_frame_arrow

        table = (ds.dataset(self.input_dir, format="parquet")
                 .to_table(columns=["conv_id", "turn_idx", "text"])
                 .combine_chunks())

        def run(tbl):
            outs, busy = [], 0.0
            for rb in tbl.to_batches(max_chunksize=KERNEL_BATCH):
                t0 = time.perf_counter()
                outs.append(extract_frame_arrow(rb))
                busy += time.perf_counter() - t0
            return outs, busy

        run(table.slice(0, 200))  # imports and regex caches, untimed
        with self.tracer.span("kernel"):
            outs, busy = run(table)
            out = pa.Table.from_batches(outs).combine_chunks().to_batches()[0]
            fmt = np.asarray(out.column("fmt").to_pylist(), dtype=object)
            for f in FORMATS:
                idx = np.flatnonzero(fmt == f)
                with self.tracer.span(f"kernel.fmt.{f}", rows=len(idx)):
                    _, f_busy = run(table.take(pa.array(idx)))
                self.m[f"kernel.fmt.{f}.rows"] = len(idx)
                self.m[f"kernel.fmt.{f}.turns_per_s"] = (
                    len(idx) / f_busy if len(idx) else 0.0)
        self.m["kernel.busy_s"] = busy
        self.m["kernel.turns_per_s_1core"] = table.num_rows / busy
        self.m["kernel.blank_rows"] = int(
            out.column("is_blank").to_numpy(zero_copy_only=False).sum())
        self.m["kernel.spans"] = int(out.column("n_spans").to_numpy().sum())
        texts = table.column("text").to_pylist()
        rows = checks.oracle_sample(out, self.ctx.seed)
        self.ctx.attempt("kernel vs extract_turn", checks.check_kernel_oracle,
                         texts, out, rows)

    # -- L1/L2: the Spark extraction stage --------------------------------
    def extract(self) -> None:
        from pyspark.sql import functions as F

        from ocr_engine_spark.operators.extract import (
            extract_transcripts, probe_layout_skew, salted_key,
        )

        scan = self.spark.read.parquet(self.input_dir)
        salted = probe_layout_skew(scan) or 0
        cached = scan.cache()
        n = cached.count()
        try:
            self.timed("extract.stage", lambda: noop(extract_transcripts(
                cached, num_partitions=salted or None,
                passthrough=PASSTHROUGH)))
            pruned = cached.select("conv_id", "turn_idx", "text", *PASSTHROUGH)
            if salted:
                pruned = pruned.repartition(salted, salted_key())
            self.timed("extract.boundary", lambda: noop(
                pruned.mapInArrow(lambda it: it, schema=pruned.schema)))
            sizes = sorted(r["count"] for r in pruned.groupBy(
                F.spark_partition_id().alias("pid")).count().collect())
        finally:
            cached.unpersist()
        cpus = self.sc.defaultParallelism
        self.m["extract.turns_per_s"] = n / self.m["extract.stage_s"]
        self.m["extract.scaling_ratio"] = self.m["extract.turns_per_s"] / (
            self.m["kernel.turns_per_s_1core"] * cpus)
        self.m["extract.salted"] = salted
        self.m["extract.partition_skew"] = sizes[-1] / statistics.median(sizes)

    # -- checkpointed extraction ------------------------------------------
    def checkpoint(self) -> str:
        from ocr_engine_spark.operators.checkpoint import run_extraction

        p = self.ctx.cfg["pipeline"]
        summary = self.timed(
            "checkpoint.run", run_extraction, self.spark,
            self.spark.read.parquet(self.input_dir), self.ctx.path("ckpt"),
            run_id="trace", n_buckets=p["n_buckets"],
            wave_buckets=p["wave_buckets"], passthrough=PASSTHROUGH)
        self.m["checkpoint.waves"] = math.ceil(p["n_buckets"]
                                               / p["wave_buckets"])
        self.m["checkpoint.bytes_written"] = sum(
            os.path.getsize(os.path.join(d, f))
            for d, _, fs in os.walk(summary["data_path"]) for f in fs
            if f.endswith(".parquet"))
        return summary["data_path"]

    # -- conversations: truncate + assemble, exact dedup ------------------
    def conversations(self, extracted_path: str):
        from ocr_engine_spark.operators.conversations import (
            assemble_conversations, dedup_conversations, truncate_to_budget,
        )

        budget = self.ctx.cfg["pipeline"]["char_budget"]
        extracted = self.spark.read.parquet(extracted_path)
        asm_path, surv_path = self.ctx.path("asm"), self.ctx.path("surv")
        self.timed("conversations.assemble", lambda: assemble_conversations(
            truncate_to_budget(extracted, budget)).write.parquet(asm_path))
        asm = self.spark.read.parquet(asm_path)
        self.timed("conversations.dedup", lambda: dedup_conversations(
            asm).write.parquet(surv_path))
        surv = self.spark.read.parquet(surv_path)
        asm_ids = {r[0] for r in asm.select("conv_id").collect()}
        surv_ids = {r[0] for r in surv.select("conv_id").collect()}
        self.m["conversations.turns_kept"] = truncate_to_budget(
            extracted, budget).count()
        self.m["conversations.docs"] = len(asm_ids)
        self.m["conversations.exact_drops"] = len(asm_ids - surv_ids)
        self.exact_ids = asm_ids - surv_ids
        return surv

    # -- MinHash near-dedup -----------------------------------------------
    def dedup(self, surv):
        from pyspark.sql import functions as F

        from ocr_engine_spark.operators.dedup import (
            canonical_drop_ids, minhash_lsh_pairs, minhash_signatures,
            persisted_artifact_count, release_persisted_artifacts,
        )

        thr = self.ctx.cfg["pipeline"]["near_threshold"]
        docs = surv.select(F.col("conv_id").alias("doc_id"),
                           F.col("doc_text").alias("text"))
        self.timed("dedup.signature", lambda: noop(
            minhash_signatures(docs, num_hashes=16, k=3)))
        mark = persisted_artifact_count()
        pairs_path = self.ctx.path("pairs")
        try:
            self.timed("dedup.lsh", lambda: minhash_lsh_pairs(
                docs, num_hashes=16, bands=8, k=3,
                jaccard_threshold=thr).write.parquet(pairs_path))
        finally:
            release_persisted_artifacts(keep=mark)
        pairs = self.spark.read.parquet(pairs_path)
        lengths = surv.select(F.col("conv_id").alias("doc_id"),
                              F.length("doc_text").cast("long")
                              .alias("doc_len"))
        near = self.timed("dedup.canonical", lambda: {
            r[0] for r in canonical_drop_ids(pairs, lengths=lengths).collect()})
        self.near_ids = near
        self.m["dedup.verified_pairs"] = pairs.count()
        self.m["dedup.near_drops"] = len(near)
        self.m["dedup.planted_recall"] = checks.plant_recall(
            self.meta["reruns"], set(surv.select("conv_id").toPandas()
                                     ["conv_id"]) - near)
        kept_path = self.ctx.path("kept")
        (surv.join(self.spark.createDataFrame(
            [(i,) for i in sorted(near)] or [("",)], "conv_id string"),
            "conv_id", "left_anti").write.parquet(kept_path))
        return self.spark.read.parquet(kept_path)

    # -- bigram-LM quality gate -------------------------------------------
    def quality(self, kept) -> None:
        from pyspark.sql import functions as F

        from ocr_engine_spark.operators.text_analysis import lm_quality_scored

        p = self.ctx.cfg["pipeline"]
        is_ref = F.pmod(F.xxhash64("conv_id"), F.lit(p["quality_ref_mod"])) == 0
        scored = lm_quality_scored(kept.select(
            F.col("conv_id").alias("doc_id"), F.col("doc_text").alias("text"),
            is_ref.alias("is_ref")))
        lowq = self.timed("quality.score", lambda: {
            r[0] for r in scored.where(F.col("oov_rate") > p["quality_max_oov"])
            .select("doc_id").collect()})
        self.lowq_ids = lowq
        self.m["quality.low_q_drops"] = len(lowq)
        kept_ids = set(kept.select("conv_id").toPandas()["conv_id"]) - lowq
        self.m["quality.gibberish_recall"] = checks.plant_recall(
            self.meta["gibberish"], kept_ids)

    # -- stream micro-batches ---------------------------------------------
    def stream_replay_of_input(self) -> list[dict]:
        """Pipelines: replay the workload's own input files through
        ``run_stream`` (availableNow, four micro-batches)."""
        from jobs.stream_job import run_stream

        from workloads import StreamWorkload

        n_files = len([f for f in os.listdir(self.input_dir)
                       if f.endswith(".parquet")])
        q = self.timed("stream.replay", run_stream, self.spark,
                       self.input_dir, self.ctx.path("trace_stream"),
                       max_files_per_trigger=math.ceil(n_files / 4),
                       available_now=True)
        q.awaitTermination()
        return StreamWorkload._batches(q)

    def stream_metrics(self, batches: list[dict], backlog_end: int) -> None:
        def med(key):
            return statistics.median(b[key] for b in batches) if batches else 0.0

        self.m.update({
            "stream.batches": len(batches),
            "stream.trigger_ms": med("triggerExecution"),
            "stream.add_batch_ms": med("addBatch"),
            "stream.wal_commit_ms": med("walCommit"),
            "stream.planning_ms": med("queryPlanning"),
            "stream.backlog_end_files": backlog_end,
        })

    def spark_accounting(self, group: str) -> None:
        acct = probes.SparkStatus(self.sc).account(group)
        for k in ("jobs", "stages", "tasks", "executor_run_s",
                  "shuffle_write_bytes", "spill_bytes", "task_skew"):
            self.m[f"spark.{k}"] = acct[k]

    def reconcile(self, summary: dict) -> list[str]:
        """Each layer's drop count matches the job's count for the same
        reason, and conversations minus drops by reason equals survivors."""
        m, errs = self.m, []
        full = self.ctx.name == "pipeline_full"
        near = m["dedup.near_drops"] if full else 0
        lowq = m["quality.low_q_drops"] if full else 0
        pairs = [("conversations", m["conversations.docs"]),
                 ("dropped_duplicates", m["conversations.exact_drops"]),
                 ("survivors", m["conversations.docs"]
                  - m["conversations.exact_drops"] - near - lowq)]
        if full:
            pairs += [("dropped_near_duplicates", near),
                      ("dropped_low_quality", lowq)]
        for key, want in pairs:
            if summary.get(key) != want:
                errs.append(f"job {key}={summary.get(key)} but layers give "
                            f"{want}")
        if full:
            errs += checks.check_drop_reasons(
                self.meta, self.exact_ids, self.near_ids, self.lowq_ids)
        return errs


def traced_run(ctx: Context, wl, e2e: dict, out_dir: str,
               seconds: float) -> dict:
    from workloads import StreamWorkload

    stream = isinstance(wl, StreamWorkload)
    if stream:
        input_dir = wl.last["in_dir"]
        meta = {"reruns": [], "gibberish": []}
    else:
        input_dir, meta = ctx.path("input"), wl.meta
    lay = Layers(ctx, input_dir, meta)
    m = lay.m

    # the workload's own job, traced: spans, a job group, REST accounting
    if stream:
        res = {}

        def job():
            res.update(wl.replay(seconds))
            return wl.check_output()

        with lay.tracer.span("job"):
            ctx.attempt("traced stream replay", job)
        traced_job_s = res.get("job_s", float("nan"))
        group = wl.last["run_id"]
    else:
        summary = {}

        def job():
            summary.update(run_pipeline_once(ctx, ctx.path("trace_out"),
                                             "trace"))
            return wl.check_output(summary)

        ctx.spark.sparkContext.setJobGroup("job", "traced job")
        with lay.tracer.span("job") as sp:
            ctx.attempt("traced run_pipeline", job)
        ctx.spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
        traced_job_s = sp.seconds
        group = "job"
    lay.spark_accounting(group)
    # compared with the untraced job just before it; the later of two jobs in
    # a session tends to be the faster, so this reads low rather than high
    m["trace.job_s"] = traced_job_s
    m["trace.overhead_s"] = traced_job_s - e2e["job_s"]

    with lay.tracer.span("layers"):
        lay.kernel()
        lay.extract()
        extracted = lay.checkpoint()
        surv = lay.conversations(extracted)
        kept = lay.dedup(surv)
        lay.quality(kept)
        if stream:
            lay.stream_metrics(wl.last["batches"],
                               wl.last["backlog_end_files"])
        else:
            lay.stream_metrics(lay.stream_replay_of_input(), 0)

    if stream:
        # time of the catch-up not spent inside a micro-batch
        catchup = [x for x in wl.last["batches"]
                   if x["commit"] <= wl.last["t_start"] + traced_job_s]
        m["pipeline.unattributed_s"] = traced_job_s - sum(
            x["triggerExecution"] for x in catchup) / 1e3
    else:
        full = ctx.name == "pipeline_full"
        stages = (["checkpoint.run_s", "dedup.lsh_s", "dedup.canonical_s",
                   "quality.score_s"] if full else ["extract.stage_s"])
        stages += ["conversations.assemble_s", "conversations.dedup_s"]
        m["pipeline.unattributed_s"] = traced_job_s - sum(m[s] for s in stages)
        ctx.attempt("layer reconciliation", lay.reconcile, summary)

    m["trace.spans"] = len(lay.tracer.spans)
    lay.tracer.write(os.path.join(
        out_dir, f"spans-{ctx.name}-{ctx.seed}-{os.getpid()}.jsonl"))
    return m
