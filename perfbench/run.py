"""Layered benchmark of the pipeline and stream jobs.

    python3 perfbench/run.py --workload pipeline_inline --seed 31 \
        --seconds 10 --trace 0

Workloads (see perfbench/README.md for why each was chosen):

- ``pipeline_full``: ``run_pipeline`` with wave-committed extraction,
  near-dedup and the quality gate over a corpus with planted re-runs and
  gibberish;
- ``stream_replay``: ``run_stream`` over a staged backlog, then an open-loop
  file generator;
- ``pipeline_inline``: ``run_pipeline`` with inline AUTO-salted extraction
  over a multi-file whale corpus.  Not in ``BENCHMARK.json``: 22 runs of a
  third workload do not fit the contract's time budget; run it by hand.

With ``--trace 0`` the last stdout line carries the end-to-end metrics; with
``--trace 1`` a traced run calls each layer on its own and the line carries
the per-layer metrics.  Every run appends a full record (samples, host
context, failures) to ``.bench_out/records.jsonl`` and, when traced, writes
its spans beside it.  ``--selftest`` runs every workload at toy size, plus
one run with a deliberately corrupted output that must count as failed.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("pipeline_inline", "pipeline_full", "stream_replay")
PROGRAM_FILES = ("jobs/pipeline_job.py", "jobs/stream_job.py",
                 "ocr_engine_spark/session.py", "bench.py")


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__,
                                 formatter_class=argparse.RawTextHelpFormatter)
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=None,
                    help="input seed (default: config.json default_seed)")
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--toy", action="store_true",
                    help="toy-size inputs (the self-test uses these)")
    ap.add_argument("--corrupt", action="store_true",
                    help="alter one output row before checking it; the run "
                         "must report it as failed")
    ap.add_argument("--selftest", action="store_true")
    args = ap.parse_args(argv)
    if not args.selftest and not args.workload:
        ap.error("--workload is required")
    return args


def load_config(toy: bool) -> dict:
    with open(os.path.join(HERE, "config.json")) as f:
        cfg = json.load(f)
    if toy:
        for name, over in cfg["toy"].items():
            cfg[name] = {**cfg[name], **over}
        cfg["digests"] = {}  # the pinned digests are of the full-size inputs
    return cfg


def prepare_env(work: str) -> None:
    """Keep every file Spark and its workers write inside the checkout, and
    keep the console progress bar off stdout's terminal."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # no JVM perf-data files under /tmp, from the launcher JVM or the driver
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        "--conf spark.ui.showConsoleProgress=false "
        f"--conf spark.sql.warehouse.dir={os.path.join(work, 'warehouse')} "
        "--driver-java-options '-XX:-UsePerfData "
        f"-Djava.io.tmpdir={tmp}' pyspark-shell")


def stop_spark(spark) -> None:
    """Stop the session, then the gateway JVM, and wait for it to exit."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def result_line(correct: bool, attempted: int, failed: int, metrics: dict,
                units: dict) -> str:
    return json.dumps({
        "correct": correct, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]}
                    for k, v in metrics.items()}})


def bench_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def run(args) -> int:
    missing = [p for p in PROGRAM_FILES
               if not os.path.isfile(os.path.join(ROOT, p))]
    if missing:
        print(f"program files missing from {ROOT}: {missing}", file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT, HERE]
    cfg = load_config(args.toy)
    seed = cfg["default_seed"] if args.seed is None else args.seed
    out_dir = os.path.join(ROOT, ".bench_out")
    work = os.path.join(ROOT, ".bench_work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(out_dir, exist_ok=True)
    prepare_env(work)
    try:
        return measure(args, cfg, seed, work, out_dir)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def measure(args, cfg, seed, work, out_dir) -> int:
    from bench import _cpu_snapshot, cpu_shares, machine_canaries
    from ocr_engine_spark.session import build_session

    import probes
    import workloads

    spec = bench_spec()
    cpus = os.cpu_count() or 1
    record = {"workload": args.workload, "seed": seed, "trace": args.trace,
              "seconds": args.seconds, "toy": args.toy, "cpus": cpus,
              "started": time.time()}
    t0 = time.perf_counter()
    spark = build_session(f"perfbench-{args.workload}", cpus=cpus,
                          shuffle_partitions=max(
                              cfg["pipeline"]["shards"], cpus))
    session_s = time.perf_counter() - t0
    try:
        ctx = workloads.Context(spark=spark, work=work, seed=seed, cfg=cfg,
                                name=args.workload,
                                default_seed=cfg["default_seed"],
                                corrupt=args.corrupt)
        wl = (workloads.StreamWorkload(ctx) if args.workload == "stream_replay"
              else workloads.PipelineWorkload(ctx))
        t0 = time.perf_counter()
        wl.make_inputs()
        input_s = time.perf_counter() - t0
        t0 = time.perf_counter()
        wl.warmup()
        warmup_s = time.perf_counter() - t0
        setup_s = session_s + input_s + warmup_s
        record.update(session_s=session_s, input_s=input_s,
                      warmup_s=warmup_s)

        cpu0 = _cpu_snapshot()
        with probes.RssSampler() as rss:
            rss.active.set()
            if args.workload == "stream_replay":
                e2e = wl.timed(args.seconds)
            elif args.trace:
                # one untraced job, the baseline of the tracing overhead
                e2e = wl.timed(0, min_runs=1, max_runs=1)
            else:
                e2e = wl.timed(args.seconds, min_runs=1, max_runs=50)
            rss.active.clear()
            if args.trace:
                import layers

                per_layer = layers.traced_run(ctx, wl, e2e, out_dir,
                                              args.seconds)
        record["cpu"] = cpu_shares(cpu0, _cpu_snapshot())
        record["host"] = machine_canaries(spark)
    finally:
        stop_spark(spark)

    record.update(e2e={k: v for k, v in e2e.items()}, info=ctx.info,
                  failures=ctx.failures, attempted=ctx.attempted)
    failed = len(ctx.failures)
    if args.trace:
        metrics = {**per_layer,
                   "host.job_rtt_ms": record["host"]["job_rtt_ms"],
                   "host.kernel_tps_1core": record["host"]["kernel_tps_1core"],
                   "host.steal_share": (record["cpu"] or {}).get("steal", 0.0)}
        wanted = spec["per_layer"]
    else:
        metrics = {**e2e, "setup_s": setup_s, "peak_rss_mb": rss.peak_mb}
        wanted = spec["end_to_end"]
    units = {m["name"]: m["unit"] for m in wanted}
    metrics = {k: metrics[k] for k in units}
    record["metrics"] = metrics
    with open(os.path.join(out_dir, "records.jsonl"), "a") as f:
        f.write(json.dumps(record, default=str) + "\n")
    for fail in ctx.failures:
        print(f"FAILED {fail['what']}: {fail['errors']}", file=sys.stderr)
    correct = failed == 0 and all(
        isinstance(v, (int, float)) and math.isfinite(v)
        for v in metrics.values())
    print(result_line(correct, max(ctx.attempted, 1), failed, metrics, units),
          flush=True)
    return 0


def selftest() -> int:
    """Every workload at toy size must pass; a corrupted output must not."""
    cases = [(w, False) for w in WORKLOADS] + [
        ("pipeline_inline", True), ("stream_replay", True)]
    bad = []
    for w, corrupt in cases:
        for trace in (0, 1):
            if corrupt and trace:
                continue
            cmd = [sys.executable, os.path.abspath(__file__), "--workload", w,
                   "--seed", "5", "--seconds", "8", "--trace", str(trace),
                   "--toy"] + (["--corrupt"] if corrupt else [])
            p = subprocess.run(cmd, capture_output=True, text=True,
                               timeout=600)
            lines = p.stdout.strip().splitlines()
            res = json.loads(lines[-1]) if p.returncode == 0 and lines else None
            ok = res is not None and (
                (res["failed"] > 0 and not res["correct"]) if corrupt
                else (res["failed"] == 0 and res["correct"]))
            print(f"selftest {w} trace={trace} corrupt={corrupt}: "
                  f"{'ok' if ok else 'FAIL'} {lines[-1] if lines else ''}",
                  flush=True)
            if not ok:
                bad.append((w, trace, corrupt))
                print(p.stderr[-4000:], file=sys.stderr)
    return 1 if bad else 0


def main() -> int:
    args = parse_args()
    if args.selftest:
        return selftest()
    return run(args)


if __name__ == "__main__":
    sys.exit(main())
