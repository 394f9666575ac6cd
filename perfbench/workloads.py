"""The three workloads: inputs, warm-up, and the timed phase.

Each workload runs the jobs through their public entry points
(``jobs.pipeline_job.run_pipeline``, ``jobs.stream_job.run_stream``) on the
session ``ocr_engine_spark.session.build_session`` makes, as the CLI does.
"""

from __future__ import annotations

import os
import shutil
import statistics
import threading
import time
import traceback
from dataclasses import dataclass, field

import numpy as np
import pandas as pd

import checks
import corpus


@dataclass
class Context:
    spark: object
    work: str
    seed: int
    cfg: dict
    name: str
    default_seed: int
    corrupt: bool = False
    attempted: int = 0
    failures: list = field(default_factory=list)
    info: dict = field(default_factory=dict)

    def attempt(self, what: str, fn, *args, **kwargs):
        """Run one attempted unit of work; an exception or a failed output
        check (a non-empty list returned by ``fn``) counts it as failed."""
        self.attempted += 1
        try:
            errs = fn(*args, **kwargs)
        except Exception:  # a failing job is a measured outcome, not a crash
            errs = [traceback.format_exc()]
        if errs:
            self.failures.append({"what": what, "errors": errs})
        return errs

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)


def run_pipeline_once(ctx: Context, out_dir: str, run_id: str) -> dict:
    from jobs.pipeline_job import run_pipeline

    p = ctx.cfg["pipeline"]
    full = ctx.name == "pipeline_full"
    return run_pipeline(
        ctx.spark, ctx.spark.read.parquet(ctx.path("input")), out_dir,
        run_id=run_id, char_budget=p["char_budget"],
        seq_budget=p["seq_budget"], shards=p["shards"],
        checkpoint_extraction=full, n_buckets=p["n_buckets"],
        wave_buckets=p["wave_buckets"], near_dedup=full,
        near_threshold=p["near_threshold"], quality_filter=full,
        quality_max_oov=p["quality_max_oov"],
        quality_ref_mod=p["quality_ref_mod"])


class PipelineWorkload:
    """``pipeline_inline``: inline AUTO-salted extraction, no optional stage,
    over a multi-file whale corpus.  ``pipeline_full``: wave-committed
    extraction, near-dedup and the quality gate over the planted corpus."""

    def __init__(self, ctx: Context):
        self.ctx = ctx
        self.w = ctx.cfg[ctx.name]
        self.digests: list[str] = []

    def gibberish_ids(self) -> list[str] | None:
        """Gibberish conv_ids outside the LM reference slice (a reference
        document is never scored), chosen with the job's own hash."""
        if self.ctx.name != "pipeline_full":
            return None
        from pyspark.sql import functions as F

        n = max(3, round(self.w["turns"] / corpus.TURNS_PER_CONV
                         * corpus.GIBBERISH_SHARE))
        cands = corpus.gibberish_candidates(self.ctx.seed, n)
        mod = self.ctx.cfg["pipeline"]["quality_ref_mod"]
        rows = (self.ctx.spark.createDataFrame([(c,) for c in cands],
                                               "conv_id string")
                .select("conv_id", F.pmod(F.xxhash64("conv_id"), F.lit(mod))
                        .alias("h")).collect())
        ref = {r["conv_id"] for r in rows if r["h"] == 0}
        return [c for c in cands if c not in ref][:n]

    def make_inputs(self) -> None:
        ctx = self.ctx
        shutil.rmtree(ctx.path("input"), ignore_errors=True)
        df, self.meta = corpus.pipeline_corpus(
            self.w["turns"], ctx.seed, self.gibberish_ids())
        corpus.write_files(df, ctx.path("input"), self.w["files"])
        self.frame = df
        self.oracle_ids = checks.sample_conv_ids(df, ctx.seed)

    def warmup(self) -> None:
        for i in range(self.w["warmup_runs"]):
            run_pipeline_once(self.ctx, self.ctx.path("warm_out"), f"warm{i}")
            shutil.rmtree(self.ctx.path("warm_out"), ignore_errors=True)

    def check_output(self, summary: dict) -> list[str]:
        ctx = self.ctx
        packed = checks.read_packed(summary["data_path"])
        if ctx.corrupt:
            kept = packed["conv_id"].isin(self.oracle_ids)
            packed.loc[packed.index[kept][0], "doc_text"] += "!"
        errs = checks.check_summary(summary, packed, self.meta)
        errs += checks.check_sampled_docs(
            self.frame, packed, self.oracle_ids,
            ctx.cfg["pipeline"]["char_budget"])
        errs += checks.check_plants(self.meta, packed["conv_id"])
        digest = checks.packed_digest(packed)
        if self.digests and digest != self.digests[0]:
            errs.append(f"packed digest {digest} differs from the first run's "
                        f"{self.digests[0]}")
        pinned = ctx.cfg["digests"].get(ctx.name)
        if ctx.seed == ctx.default_seed and pinned and digest != pinned:
            errs.append(f"packed digest {digest} != pinned {pinned}")
        self.digests.append(digest)
        return errs

    def one_job(self, i: int, times: list, summaries: list) -> list[str]:
        out = self.ctx.path(f"out_{i}")
        t0 = time.perf_counter()
        summary = run_pipeline_once(self.ctx, out, f"bench{i}")
        times.append(time.perf_counter() - t0)
        summaries.append(summary)
        try:
            return self.check_output(summary)
        finally:
            shutil.rmtree(out, ignore_errors=True)

    def timed(self, seconds: float, min_runs: int, max_runs: int) -> dict:
        times: list[float] = []
        summaries: list[dict] = []
        end = time.perf_counter() + seconds
        i = 0
        while i < max_runs and (i < min_runs or time.perf_counter() < end):
            self.ctx.attempt(f"run_pipeline #{i}", self.one_job, i, times,
                             summaries)
            i += 1
        job_s = statistics.median(times) if times else float("nan")
        self.ctx.info.update(job_samples=times, digests=self.digests,
                             summary=summaries[-1] if summaries else None)
        return {"job_s": job_s, "turns_per_s": self.meta["turns"] / job_s,
                "latency_s": job_s}


class StreamWorkload:
    """``stream_replay``: a staged backlog, then an open-loop generator
    adding files at a fixed rate, through ``run_stream``."""

    def __init__(self, ctx: Context):
        self.ctx = ctx
        self.w = ctx.cfg["stream_replay"]
        self.phase = 0

    def make_inputs(self) -> None:
        self.frames = corpus.stream_corpus(
            self.w["files"], self.w["turns_per_file"], self.ctx.seed)
        self.tables = [corpus.to_table(f) for f in self.frames]
        # a warm-up corpus of its own, so warm-up never sees the timed files
        os.makedirs(self.ctx.path("warm_in"))
        for i, f in enumerate(corpus.stream_corpus(
                2, self.w["turns_per_file"], self.ctx.seed + 7919)):
            corpus.write_atomic(corpus.to_table(f), self.ctx.path("warm_in"),
                                f"w{i}.parquet")

    def warmup(self) -> None:
        from jobs.stream_job import run_stream

        q = run_stream(self.ctx.spark, self.ctx.path("warm_in"),
                       self.ctx.path("warm_out"),
                       max_files_per_trigger=self.w["max_files_per_trigger"],
                       available_now=True)
        q.awaitTermination()
        shutil.rmtree(self.ctx.path("warm_out"), ignore_errors=True)

    def _generate(self, in_dir: str, start: int, t0: float, stop_at: float,
                  sched: dict, late: list) -> None:
        """Open loop: file ``start + k`` is due at ``t0 + k / rate`` whether
        or not the stream keeps up; event ``ts`` is stamped at creation."""
        import pyarrow as pa

        rate = self.w["rate_files_per_s"]
        for k, i in enumerate(range(start, len(self.tables))):
            due = t0 + k / rate
            if due >= stop_at:
                break
            wait = due - time.time()
            if wait > 0:
                time.sleep(wait)
            late.append(max(0.0, time.time() - due))
            t = self.tables[i]
            now = pa.array(np.full(t.num_rows, np.datetime64(
                int(time.time() * 1e6), "us")), type=pa.timestamp("us"))
            t = t.set_column(t.schema.get_field_index("ts"), "ts", now)
            corpus.write_atomic(t, in_dir, f"f{i:05d}.parquet")
            sched[i] = due

    def replay(self, seconds: float) -> dict:
        """One stream run: catch-up over the staged backlog, then the open
        loop until ``seconds`` have passed since the query started, then a
        drain of what was written."""
        from jobs.stream_job import run_stream

        ctx = self.ctx
        self.phase += 1
        in_dir = ctx.path(f"stream_in_{self.phase}")
        out_dir = ctx.path(f"stream_out_{self.phase}")
        shutil.rmtree(in_dir, ignore_errors=True)
        shutil.rmtree(out_dir, ignore_errors=True)
        os.makedirs(in_dir)
        n_back = self.w["backlog_files"]
        sched: dict[int, float] = {}
        for i in range(n_back):
            corpus.write_atomic(self.tables[i], in_dir, f"f{i:05d}.parquet")
        backlog_turns = sum(t.num_rows for t in self.tables[:n_back])
        t_start = time.time()
        q = run_stream(ctx.spark, in_dir, out_dir,
                       max_files_per_trigger=self.w["max_files_per_trigger"])
        late: list[float] = []
        try:
            catchup_end = self._await_rows(q, backlog_turns, t_start + 120)
            gen = threading.Thread(target=self._generate, args=(
                in_dir, n_back, time.time(), t_start + seconds, sched, late))
            gen.start()
            gen.join()
            gen_stop = time.time()
            written = n_back + len(sched)
            total = sum(t.num_rows for t in self.tables[:written])
            self._await_rows(q, total, time.time() + 60)
        finally:
            q.stop()
        batches = self._batches(q)
        sink = (ctx.spark.read.parquet(os.path.join(out_dir, "extracted"))
                .select("conv_id", "turn_idx", "extracted_text", "batch_id")
                .toPandas())
        # each turn row belongs to one file; a file is read whole by one batch
        file_of = pd.concat([f[["conv_id", "turn_idx"]].assign(file=i)
                             for i, f in enumerate(self.frames[:written])])
        batch_of_file = (sink.merge(file_of, on=["conv_id", "turn_idx"])
                         .groupby("file")["batch_id"].min())
        commit = {b["batchId"]: b["commit"] for b in batches}
        lags = [commit[batch_of_file[i]] - due for i, due in sched.items()
                if i in batch_of_file.index]
        self.last = {"in_dir": in_dir, "sink": sink, "batches": batches,
                     "t_start": t_start,
                     "run_id": str(q.runId), "written": written,
                     "backlog_end_files": sum(
                         commit.get(batch_of_file.get(i), gen_stop) > gen_stop
                         for i in sched),
                     "generator_late_s": late}
        catchup_s = catchup_end - t_start
        return {"job_s": catchup_s, "turns_per_s": backlog_turns / catchup_s,
                "latency_s": statistics.median(lags) if lags else float("nan"),
                "lags": lags}

    @staticmethod
    def _batches(q) -> list[dict]:
        """Non-empty micro-batches from the query progress, with the commit
        time (trigger start + trigger duration) as epoch seconds."""
        seen = {}
        for p in q.recentProgress:
            if p["numInputRows"] > 0:
                start = pd.Timestamp(p["timestamp"]).timestamp()
                seen[p["batchId"]] = {
                    "batchId": p["batchId"], "rows": p["numInputRows"],
                    "commit": start + p["durationMs"]["triggerExecution"] / 1e3,
                    **{k: p["durationMs"].get(k, 0) for k in (
                        "triggerExecution", "addBatch", "walCommit",
                        "queryPlanning")}}
        return [seen[k] for k in sorted(seen)]

    def _await_rows(self, q, rows: int, deadline: float) -> float:
        """Commit time of the batch that brings the processed rows to ``rows``."""
        while time.time() < deadline:
            if q.exception() is not None:
                raise RuntimeError(f"stream failed: {q.exception()}")
            done = 0
            for b in self._batches(q):
                done += b["rows"]
                if done >= rows:
                    return b["commit"]
            time.sleep(0.05)
        raise TimeoutError(f"stream did not process {rows} rows in time")

    def check_output(self) -> list[str]:
        from ocr_engine_spark.operators.extract import extract_transcripts

        sink = self.last["sink"]
        if self.ctx.corrupt:
            sink.loc[sink.index[0], "extracted_text"] += "!"
        batch = (extract_transcripts(
            self.ctx.spark.read.parquet(self.last["in_dir"]))
            .select("conv_id", "turn_idx", "extracted_text").toPandas())
        return checks.check_stream_sink(sink, batch)

    def timed(self, seconds: float) -> dict:
        res = {}

        def run():
            res.update(self.replay(seconds))
            return self.check_output()

        self.ctx.attempt("stream replay", run)
        if not res:
            return {"job_s": float("nan"), "turns_per_s": float("nan"),
                    "latency_s": float("nan")}
        self.ctx.info.update(lags=res.pop("lags"),
                             generator_late_s=self.last["generator_late_s"],
                             batches=self.last["batches"])
        return res
