"""Streaming entry point: incremental transcript extraction with exactly-once sink.

The streaming twin of jobs/extract_job.py (the reference engine is strictly batch;
this wires the §2.9 streaming surface into a runnable job the way run.py:131-149
is the reference's runnable surface):

    spark-submit --py-files engine.zip jobs/stream_job.py \
        --input warehouse/transcripts --output /data/extract_stream \
        --max-files-per-trigger 8

Local smoke run (drain everything available, then exit):

    python jobs/stream_job.py --input BENCH/transcripts_bench.parquet \
        --output /tmp/stream_out --cpus 4 --available-now

Exactly-once protocol: every micro-batch lands in an output partition
``batch_id=N/`` keyed by its deterministic ``batch_id`` and overwritten inside
``foreachBatch`` — after a crash, Structured Streaming replays the uncommitted
batch with the SAME id, the overwrite makes redelivery idempotent, and the
checkpointLocation WAL guarantees no source file is consumed twice.  Kill the
process at any point and re-run the same command: it resumes from the
checkpoint.  The batch is written by ``operators.checkpoint.commit_by_key``, the
same data-then-metrics commit the checkpointed batch job runs per wave of
buckets.  A batch is one key, so Spark writes it into a hidden staging
directory and the driver renames that over ``batch_id=N/``.  The batch id is
never a column or a literal of the batch's plan, so the write's generated code
is compiled by the first batch and reused by every later one.  Per-batch
lineage metrics (conversations, turns, spans, strip ratio) are observed on the
data write, and the driver writes the batch's one metrics row AFTER it as a
small parquet file through the session's Hadoop ``FileSystem``, so a
micro-batch is one Spark job, the data write; nothing is persisted and the
written data is never read back.  The batch's distinct conversations are
observed as ``size(collect_set(conv_id))``, which ``--max-files-per-trigger``
bounds.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def write_batch(out_dir: str):
    """foreachBatch sink: data + metrics, both overwrite-keyed by batch_id."""
    from ocr_engine_spark.operators.checkpoint import commit_by_key

    data_path = os.path.join(out_dir, "extracted")
    metrics_path = os.path.join(out_dir, "batch_metrics")

    def fn(batch_df, batch_id: int):
        commit_by_key(batch_df, "batch_id", [int(batch_id)], data_path,
                      metrics_path)

    return fn


def run_stream(spark, input_path: str, out_dir: str, checkpoint: str | None = None,
               max_files_per_trigger: int = 8, available_now: bool = False,
               cfg=None):
    """Build and start the streaming query; returns the StreamingQuery handle."""
    from ocr_engine_spark.config import DEFAULT_CONFIG
    from ocr_engine_spark.operators.extract import extract_transcripts
    from ocr_engine_spark.streaming.stream import read_transcript_stream

    checkpoint = checkpoint or os.path.join(out_dir, "_checkpoint")
    stream = read_transcript_stream(
        spark, input_path, max_files_per_trigger=max_files_per_trigger)
    extracted = extract_transcripts(stream, cfg or DEFAULT_CONFIG)
    writer = (
        extracted.writeStream
        .foreachBatch(write_batch(out_dir))
        .option("checkpointLocation", checkpoint)
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--input", required=True, help="transcripts parquet dir/file")
    ap.add_argument("--output", required=True, help="output root dir")
    ap.add_argument("--checkpoint", default=None,
                    help="checkpointLocation (default {output}/_checkpoint)")
    ap.add_argument("--max-files-per-trigger", type=int, default=8)
    ap.add_argument("--cpus", type=int, default=0,
                    help="local[N] cores; 0 = use existing/spark-submit session")
    ap.add_argument("--available-now", action="store_true",
                    help="drain available input then exit (smoke/backfill mode)")
    ap.add_argument("--timeout-sec", type=int, default=0,
                    help="stop the query after N seconds (0 = run forever)")
    args = ap.parse_args()

    from ocr_engine_spark.session import build_session

    spark = build_session("extract-stream", cpus=args.cpus)

    q = run_stream(spark, args.input, args.output, checkpoint=args.checkpoint,
                   max_files_per_trigger=args.max_files_per_trigger,
                   available_now=args.available_now)
    if args.available_now:
        q.awaitTermination()
    elif args.timeout_sec:
        q.awaitTermination(args.timeout_sec)
        q.stop()
    else:
        q.awaitTermination()
    print(json.dumps({
        "input": args.input, "output": args.output,
        "last_progress": q.lastProgress["numInputRows"] if q.lastProgress else 0,
    }))
    spark.stop()


if __name__ == "__main__":
    main()
