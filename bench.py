"""Benchmark harness (driver contract).

Runs the headline queries at ``$SPARK_GRAFT_SF_DIR`` (default /root/testdata/sf0.1) on
``local[$SPARK_GRAFT_CPUS]`` (default 32) and prints the result JSON line

    {"metric": ..., "value": total_sec, "unit": "sec", "queries": {name: sec, ...},
     "sf": ..., "extraction": {"turns": N, "sec": s, "turns_per_sec": r}}

twice: a full-precision detail line, then a compact (<1.9 KB) FINAL line with the
same contract fields, so a bounded tail capture of stdout always ends in one
complete parseable record (the r04 lesson: one 4.2 KB line truncates to nothing).

Every query is forced end-to-end with a ``noop``-format write (full execution, no
driver-side collect bottleneck).  The flagship extraction throughput (turns/sec, the
BASELINE.json metric) is measured over a deterministic synthetic transcript corpus
generated in-process (seeded — no external data).  The N->4N scaling-efficiency
evidence lives in ``tools/bench_scaling.py`` -> ``BENCH/BASELINE.md``.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

# Queries that define the headline number. ngram_jaccard_pairs / embedding pairwise
# queries are included: they are the quadratic training-data ops whose plans
# (broadcast self-join inside source/label blocks) must hold up at scale.
HEADLINE = [
    "extract_documents",
    "manifest_extract",
    "html_extract",
    "markdown_extract",
    "explode_parts",
    "explode_parts_range",
    "multi_source_union",
    "output_keys",
    "tsv_lines",
    "strip_ratio_by_source",
    "pricing_summary",
    "top_revenue_orders",
    "region_revenue",
    "parts_with_lineitems",
    "customers_without_orders",
    "event_windows",
    "hourly_event_rollup",
    "asof_last_order",
    "event_range_page",
    "rollup_revenue",
    "event_percentiles",
    "event_sessions",
    "event_rolling",
    "token_stats",
    "lang_id",
    "quality_score",
    "quality_filter",
    "shingle_count",
    "fingerprint",
    "vocab_stats",
    "tfidf",
    "pii_redact",
    "contamination_check",
    "stratified_sample",
    "repetition_stats",
    "token_budget",
    "sequence_pack",
    "exact_dedup",
    "paragraph_dedup",
    "boilerplate_strip",
    "ngram_jaccard_pairs",
    "dedup_clusters",
    "minhash_lsh_pairs",
    "simhash",
    "simhash_neardup",
    "dedup_canonical",
    "embedding_topk",
    "embedding_topk_blas",
    "kmeans_centroids",
    "ivf_assign",
    "ivf_topk",
    "ivf_topk_multiprobe",
    "embedding_neardup",
    "embedding_neardup_ivf",
    "binary_features",
    "media_frames",
    "media_decode",
    "tool_dispatch_extract",
    "kind_dispatch_extract",
    "stream_dedup_parity",
    "span_svg",
    "conv_assemble",
    "conv_dedup",
    "source_mix",
    "conv_assemble_capped",
    "conv_neardup",
    "conv_neardup_canonical",
    "conv_neardup_keep_longest",
    "pipeline_e2e",
    "lm_quality",
    "semantic_decontam",
    "domain_filter",
    "stream_window_parity",
    "stream_progress_parity",
]

# transcript corpus size for the extraction-throughput probe (~sf0.1 tier row count)
BENCH_CONVS = int(os.environ.get("SPARK_GRAFT_BENCH_CONVS", "6000"))


def build_spark(cpus: int):
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(f"ocr-engine-spark-bench-{cpus}")
        .config("spark.sql.shuffle.partitions", str(max(cpus, 2 * cpus)))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "4096")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "24g"))
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def force(df) -> int:
    """Fully execute a DataFrame without funneling rows through the driver."""
    df.write.format("noop").mode("overwrite").save()
    return 0


def _cpu_snapshot():
    """All 8 /proc/stat cpu jiffy fields (user nice system idle iowait irq
    softirq steal), or None off-Linux.  All fields go in the denominator —
    dropping iowait/irq would inflate every reported share."""
    try:
        f = open("/proc/stat").readline().split()
        return tuple(int(x) for x in f[1:9])
    except (OSError, IndexError, ValueError):
        return None


def machine_canaries(spark) -> dict:
    """Two fixed-work probes recorded per line so ANY line is comparable:

    - ``job_rtt_ms``: median wall of a trivial 1-row Spark job — the
      stage-scheduling round-trip.  The shared host injects scheduling
      latency that barely registers as steal share (threads park idle while
      a descheduled JVM thread holds the next stage), and the many-small-
      stage headline total tracks THIS number, not CPU speed.
    - ``kernel_tps_1core``: single-core extraction kernel rate over a fixed
      seeded 200-conversation corpus — pure compute speed.  Best of 3 reps:
      a single-shot reading is contention-noisy on this shared VM (the first
      r04 line read 10.6k vs the ~17-19k history), and "best" is the right
      estimator for a PURE-SPEED reference (contention only ever adds time).
    """
    import statistics

    from ocr_engine_spark.kernel.pipeline import extract_frame
    from ocr_engine_spark.sources.transcripts import generate_transcripts

    spark.range(1).count()  # JIT/worker warm
    rtts = []
    for _ in range(15):
        t0 = time.perf_counter()
        spark.range(1).count()
        rtts.append((time.perf_counter() - t0) * 1000)
    pdf = generate_transcripts(n_convs=200, seed=11)
    extract_frame(pdf.head(200))  # warm the kernel import/JIT paths
    best = float("inf")
    for _ in range(3):
        t0 = time.perf_counter()
        extract_frame(pdf)
        best = min(best, time.perf_counter() - t0)
    return {"job_rtt_ms": round(statistics.median(rtts), 1),
            "kernel_tps_1core": round(len(pdf) / best, 1)}


def cpu_shares(before, after) -> dict | None:
    """Host-contention attribution for this shared VM: the steal share says
    how much hypervisor time the run lost to co-tenants (measured 0-50%
    between runs on this box), so a slow history line can be blamed on the
    host instead of a plan change without re-measuring."""
    if not (before and after):
        return None
    d = [b - a for a, b in zip(before, after)]
    tot = sum(d) or 1
    # fields: user nice system idle iowait irq softirq steal
    return {"user": round((d[0] + d[1]) / tot, 3),
            "system": round((d[2] + d[5] + d[6]) / tot, 3),
            "idle": round(d[3] / tot, 3),
            "iowait": round(d[4] / tot, 3),
            "steal": round(d[7] / tot, 3)}


def bench_extraction(spark, n_convs: int, seed: int = 7) -> dict:
    """Flagship metric: turns/sec over the synthetic transcript corpus."""
    import pandas as pd  # noqa: F401

    from ocr_engine_spark.operators.extract import extract_transcripts
    from ocr_engine_spark.sources.transcripts import generate_transcripts

    pdf = generate_transcripts(n_convs=n_convs, seed=seed, whale_factor=100)
    n_turns = len(pdf)
    df = spark.createDataFrame(pdf)
    df = df.repartition(spark.sparkContext.defaultParallelism * 2).cache()
    df.count()  # materialize input outside the timed section
    # warmup: fork + import the Python workers once (steady-state throughput is the
    # number that scales to the real corpus; worker startup is a per-executor constant)
    force(extract_transcripts(df.limit(2000),
                              num_partitions=spark.sparkContext.defaultParallelism))
    t0 = time.perf_counter()
    # no-shuffle path: the cached input is already balanced across 2x cores
    force(extract_transcripts(df))
    sec = time.perf_counter() - t0
    df.unpersist()
    return {"turns": n_turns, "sec": round(sec, 3),
            "turns_per_sec": round(n_turns / sec, 1)}


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    sf = float(sf_dir.rstrip("/").rsplit("sf", 1)[-1]) if "sf" in sf_dir else 0.1

    import __spark_entry__ as entrymod

    cpu_before = _cpu_snapshot()
    spark = build_spark(cpus)

    # warm the Python workers once: worker fork + kernel import is a per-executor
    # constant, not a per-query cost, and would otherwise be charged to whichever
    # kernel query happens to run first
    import pandas as pd

    from ocr_engine_spark.operators.extract import extract_transcripts

    warm = spark.createDataFrame(pd.DataFrame({
        "conv_id": ["w"] * (4 * cpus), "turn_idx": list(range(4 * cpus)),
        "text": ["warm up"] * (4 * cpus)}))
    force(extract_transcripts(warm.repartition(cpus)))
    canary = machine_canaries(spark)

    qs = entrymod.queries()
    timings: dict[str, float] = {}
    raw_reps: dict[str, list[float]] = {}
    import gc

    from ocr_engine_spark.operators.dedup import (
        materialized_lsh_pairs, release_persisted_artifacts,
    )

    # The write-once LSH pairs artifact (the checkpoint a real dedup pipeline
    # materializes exactly once) is charged EXPLICITLY as its own row; the
    # three consumer queries then measure their consume-side plans.
    t0 = time.perf_counter()
    force(materialized_lsh_pairs(spark, sf_dir, jaccard_threshold=0.5,
                                 family="md5"))
    timings["lsh_pairs_artifact"] = round(time.perf_counter() - t0, 3)
    release_persisted_artifacts()
    spark.catalog.clearCache()

    # Likewise the IVF codebook: Lloyd's training runs ONCE per corpus (the
    # trained_centroids module cache mirrors a persisted codebook artifact), so
    # the training cost is charged explicitly here — otherwise best-of-2 would
    # let every consumer (kmeans_centroids + the ivf_* queries) measure only
    # the cached read and the training cost would vanish from the headline.
    from ocr_engine_spark.operators import similarity as _sim

    _sim._TRAINED_CACHE.clear()
    t0 = time.perf_counter()
    _sim.trained_centroids(spark, sf_dir)
    timings["ivf_train_codebook"] = round(time.perf_counter() - t0, 3)
    spark.catalog.clearCache()

    # The stream-parity replay source (multi-file parquet synthesized from the
    # documents corpus, built once per process) is charged explicitly too —
    # otherwise rep 1 pays the build and best-of-2 reports only the cached rep.
    from ocr_engine_spark.streaming.stream import (
        ensure_stream_parity_source, ensure_stream_progress_source,
        ensure_stream_window_source,
    )

    for key, build in (
        ("stream_parity_source", ensure_stream_parity_source),
        ("stream_window_source", ensure_stream_window_source),
        ("stream_progress_source", ensure_stream_progress_source),
    ):
        t0 = time.perf_counter()
        build(spark, sf_dir)
        timings[key] = round(time.perf_counter() - t0, 3)
        spark.catalog.clearCache()

    # The assembled-plant corpus artifacts (the persisted assembled table the
    # conversation near-dup rows fan out from) are charged explicitly too —
    # one kernel+assembly pass per plant kind, consumed by conv_neardup,
    # conv_neardup_canonical and conv_neardup_keep_longest.
    from ocr_engine_spark.operators.conversations import (
        materialized_planted_assembled,
    )

    t0 = time.perf_counter()
    for _kind in ("truncated", "extended"):
        materialized_planted_assembled(spark, sf_dir, _kind)
    timings["conv_asm_artifacts"] = round(time.perf_counter() - t0, 3)
    spark.catalog.clearCache()

    # ... and the verified LSH pair sets over those corpora (consumed by
    # conv_neardup and both canonical end-product rows)
    from ocr_engine_spark.operators.conversations import (
        materialized_conv_pairs,
    )

    t0 = time.perf_counter()
    for _kind in ("truncated", "extended"):
        materialized_conv_pairs(spark, sf_dir, _kind)
    timings["conv_pairs_artifacts"] = round(time.perf_counter() - t0, 3)
    release_persisted_artifacts()
    spark.catalog.clearCache()

    # Per-query wall time = BEST OF 2 back-to-back reps: this shared VM drifts
    # 4-6x on single-shot readings (BENCH/dedup_regression.md pinned exactly
    # that for r03), and the second rep also amortizes one-time plan analysis.
    # Both raw reps go to BENCH/query_history.jsonl for drift attribution.
    for name in HEADLINE:
        fn = qs[name]
        reps = []
        for _rep in range(2):
            t0 = time.perf_counter()
            force(fn(spark, sf_dir))
            reps.append(round(time.perf_counter() - t0, 3))
            # hygiene between reps/queries (untimed): drop query-local persists
            # and let the ContextCleaner reclaim checkpoint blocks, so one
            # run's working set never degrades the next measurement
            release_persisted_artifacts()
            spark.catalog.clearCache()
            gc.collect()
        raw_reps[name] = reps
        timings[name] = min(reps)

    extraction = bench_extraction(spark, BENCH_CONVS)
    # steady-state probe: 10x the corpus so per-job fixed overhead (~0.7s of
    # scheduler/stage setup) stops dominating the rate; `extraction` keeps the
    # round-1/2-comparable corpus, this one shows the sustained kernel rate
    # (protocol + per-level overhead decomposition: BENCH/BASELINE.md)
    extraction_steady = bench_extraction(spark, BENCH_CONVS * 10)
    total = round(sum(timings.values()), 3)
    result = {
        "metric": "headline_queries_total",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        "cpus": cpus,
        "extraction": extraction,
        "extraction_steady": extraction_steady,
        "cpu": cpu_shares(cpu_before, _cpu_snapshot()),
        "canary": canary,
    }
    # Two lines, detail first: the driver records only the LAST ~2000 bytes of
    # stdout, and the r04 detail line (4.2 KB) outgrew that window — the driver
    # recorded `parsed: null`.  The FINAL line is therefore a compact record
    # carrying the same contract fields (metric/value/unit/queries/sf plus the
    # headline extraction + canary), byte-budgeted to always survive tail
    # truncation; the detail line above it keeps full precision + cpu shares,
    # and BENCH/query_history.jsonl keeps everything including raw reps.
    print(json.dumps(result))
    print(_compact_line(result))
    _append_history(result, raw_reps)
    spark.stop()


def _compact_line(result: dict, budget: int = 1900) -> str:
    """Contract record guaranteed under ``budget`` bytes: round query timings
    progressively (2dp -> 1dp), then keep only the SLOWEST timings that fit
    (the informative tail — the full map still lives on the detail line and
    in query_history.jsonl), recorded with a ``_dropped`` count so a partial
    map can never be mistaken for the whole surface.  Raises ValueError when
    the fixed fields alone (zero queries) already exceed ``budget``."""
    def render(queries: dict) -> str:
        return json.dumps({
            "metric": result["metric"], "value": result["value"],
            "unit": result["unit"], "queries": queries,
            "sf": result["sf"], "cpus": result["cpus"],
            "extraction": result["extraction"],
            "extraction_steady": result["extraction_steady"],
            "canary": result.get("canary"),
        }, separators=(",", ":"))

    for decimals in (2, 1):
        rounded = {k: round(v, decimals)
                   for k, v in result["queries"].items()}
        line = render(rounded)
        if len(line) <= budget:
            return line
    # keep the slowest rows that fit; binary-search the cutoff count
    ranked = sorted(rounded.items(), key=lambda kv: (-kv[1], kv[0]))
    floor = len(render({"_dropped": len(ranked)}))
    if floor > budget:
        raise ValueError(f"compact bench line needs {floor} bytes with zero "
                         f"queries, over the {budget}-byte budget")
    lo, hi = 0, len(ranked)  # lo = always fits, hi+1 = never
    while lo < hi:
        mid = (lo + hi + 1) // 2
        kept = dict(ranked[:mid])
        kept["_dropped"] = len(ranked) - mid
        if len(render(kept)) <= budget:
            lo = mid
        else:
            hi = mid - 1
    kept = dict(ranked[:lo])
    kept["_dropped"] = len(ranked) - lo
    return render(kept)


def _append_history(result: dict, raw_reps: dict | None = None) -> None:
    """Per-query regression line (the kernel_history.jsonl pattern): one
    commit-stamped JSON line per bench run, so any future wall-time jump on an
    unchanged operator is attributable (VM drift vs plan change) by replaying
    the history instead of guessing."""
    import subprocess

    try:
        commit = subprocess.run(
            ["git", "rev-parse", "--short", "HEAD"],
            cwd=os.path.dirname(os.path.abspath(__file__)),
            capture_output=True, text=True, timeout=10).stdout.strip()
    except Exception:  # noqa: BLE001 — history is best-effort, never fail the bench
        commit = "unknown"
    line = {"ts": time.strftime("%Y-%m-%dT%H:%M:%S"), "commit": commit,
            "sf": result["sf"], "cpus": result["cpus"],
            "total": result["value"], "queries": result["queries"],
            "extraction": result["extraction"],
            "extraction_steady": result["extraction_steady"],
            "cpu": result.get("cpu"),
            "canary": result.get("canary"),
            "raw_reps": raw_reps}
    path = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                        "BENCH", "query_history.jsonl")
    try:
        with open(path, "a", encoding="utf-8") as fh:
            fh.write(json.dumps(line) + "\n")
    except OSError:
        pass


if __name__ == "__main__":
    main()
