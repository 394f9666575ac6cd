"""Measured skew evidence: salting bounds the whale conversation (north_rule).

The north_rule requires "partitioning / shuffle / skew handled explicitly".
extract_transcripts has a two-mode policy (its docstring): on byte-bounded
scans the default is NO exchange (task work is bounded by bytes, conversation
skew is irrelevant, a shuffle would only move every payload once); on
skew-prone SOURCE layouts — e.g. Iceberg ``bucket(conv_id)``, where a whale
conversation concentrates in one file — callers pass ``num_partitions`` to
get the salted exchange (key = hash(conv_id, turn_idx // SALT_BLOCK), so no
task owns more than SALT_BLOCK = 64 turns of one conversation).  Functional tests
pin the mechanism (test_extract_spark.py, test_plans.py); this bench pins the
EFFECT on the layout the salted mode exists for:

- corpus: seeded transcripts where ONE whale conversation holds ~45% of all
  turns, stored CLUSTERED BY conv_id (repartition(N, conv_id) — the
  bucket(conv_id) shape): the whale's turns all sit in one partition;
- variant "inherit": extract_transcripts() default — no exchange, the fused
  Python stage inherits the skewed layout (AQE cannot split a Python stage's
  hot partition);
- variant "salted":  extract_transcripts(num_partitions=2N);
- identical session (local[N]), Python workers warmed, full execution via
  noop write, interleaved best-of-REPS per variant.

Expected and observed: inherited wall ~= whale-on-one-core (parallelism
wasted), salted wall ~= total/N + one shuffle.  Writes BENCH/SKEW.md.

    python tools/bench_skew.py
"""

from __future__ import annotations

import json
import os
import pathlib
import sys
import time

REPO = pathlib.Path(__file__).resolve().parents[1]
sys.path.insert(0, str(REPO))

CPUS = int(os.environ.get("SPARK_GRAFT_SKEW_CPUS", "8"))
N_CONVS = int(os.environ.get("SPARK_GRAFT_SKEW_CONVS", "20000"))
WHALE_FACTOR = int(os.environ.get("SPARK_GRAFT_SKEW_WHALE", "20000"))
REPS = 3
NO_SALT = 2 ** 31


def main() -> None:
    from pyspark.sql import SparkSession

    from ocr_engine_spark.operators.extract import extract_transcripts
    from ocr_engine_spark.sources.transcripts import generate_transcripts

    spark = (
        SparkSession.builder.master(f"local[{CPUS}]")
        .config("spark.sql.shuffle.partitions", str(2 * CPUS))
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "4096")
        .config("spark.driver.memory", "8g")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    pdf = generate_transcripts(N_CONVS, seed=31, whale_factor=WHALE_FACTOR)
    whale_turns = int((pdf["conv_id"] == pdf["conv_id"].iloc[0]).sum())
    total_turns = len(pdf)
    from pyspark.sql import functions as F

    # the skew-prone source layout: clustered by conv_id (bucket(conv_id)),
    # so the whale conversation's turns all land in ONE input partition
    df = spark.createDataFrame(pdf).repartition(CPUS, F.col("conv_id"))
    df.persist()
    df.count()  # materialize the layout once, outside every timed region

    def run(num_partitions: int | None) -> float:
        t0 = time.perf_counter()
        extract_transcripts(df, num_partitions=num_partitions) \
            .write.format("noop").mode("overwrite").save()
        return time.perf_counter() - t0

    run(2 * CPUS)  # warm Python workers + JIT outside the timed region
    best = {"salted": float("inf"), "inherit": float("inf")}
    for _ in range(REPS):
        best["salted"] = min(best["salted"], run(2 * CPUS))
        best["inherit"] = min(best["inherit"], run(None))

    ratio = best["inherit"] / best["salted"]
    report = f"""# BENCH — measured skew handling (whale conversation vs salting)

Corpus: {total_turns:,} turns across {N_CONVS:,} conversations; the whale
conversation alone holds {whale_turns:,} turns ({whale_turns / total_turns:.0%}
of the corpus), and the input is CLUSTERED BY conv_id (the Iceberg
bucket(conv_id) layout) so the whale sits in one partition.  Identical
`local[{CPUS}]` session, workers warmed, full execution (noop write), best of
{REPS} interleaved reps per variant.

| variant | exchange | wall (s) |
| --- | --- | --- |
| inherit layout (default on byte-bounded scans) | none | {best['inherit']:.2f} |
| salted (num_partitions={2 * CPUS}) | hash(conv_id, turn_idx // 64) | {best['salted']:.2f} |

**The salted exchange is {ratio:.1f}x faster on this layout.**  Without it
the whale's {whale_turns:,} turns ride one task while {CPUS - 1} cores idle —
wall tracks the whale, not the corpus (and AQE cannot split a fused Python
stage's hot partition); salted, no task owns more than 64 turns of any
conversation, so wall tracks total/{CPUS} plus one shuffle pass.  On a
byte-bounded parquet/Iceberg scan the default no-exchange mode is already
skew-safe — that is why the salted exchange is opt-in (see
extract_transcripts's partitioning-policy docstring).  At 10^12-turn scale the same
mechanism bounds every task at SALT_BLOCK turns per conversation regardless
of how long the longest agent session grows — and because extraction is
strictly per-turn (each turn's payload is its own page; stitching happens
WITHIN a turn), splitting a conversation across tasks cannot change any
output byte (pinned by tests/test_extract_spark.py's salting goldens).

Generated by tools/bench_skew.py.
"""
    (REPO / "BENCH" / "SKEW.md").write_text(report)
    print(json.dumps({"salted_s": round(best["salted"], 2),
                      "inherit_s": round(best["inherit"], 2),
                      "speedup": round(ratio, 2),
                      "whale_share": round(whale_turns / total_turns, 3)}))
    spark.stop()


if __name__ == "__main__":
    main()
