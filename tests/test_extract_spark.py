"""Spark-layer extraction tests: golden byte-equality through Spark, salting, and the
plan shape (SURVEY.md §7 steps 3-4)."""

import json
import math

import pytest

from ocr_engine_spark.operators.extract import (
    SALT_BLOCK, extract_transcripts, salted_key,
)
from ocr_engine_spark.plans import python_stage_count
from ocr_engine_spark.sources.transcripts import generate_transcripts


@pytest.fixture(scope="module")
def transcripts_df(spark):
    pdf = generate_transcripts(40, seed=13, whale_factor=4)
    return spark.createDataFrame(pdf)


def test_spark_matches_golden_byte_for_byte(spark, transcripts_df, golden_turns):
    """north_rule invariant: per-turn text equality under stable (conv_id, turn_idx)
    ordering, Spark path vs frozen oracle fixtures."""
    got = extract_transcripts(transcripts_df).orderBy(
        "conv_id", "turn_idx").collect()
    want = sorted(golden_turns, key=lambda r: (r["conv_id"], r["turn_idx"]))
    assert len(got) == len(want)
    for g, w in zip(got, want):
        assert (g.conv_id, g.turn_idx) == (w["conv_id"], w["turn_idx"])
        assert g.extracted_text == w["extracted_text"]
        assert g.n_spans == w["n_spans"]
        got_spans = [
            {"start": s.start, "end": s.end, "kind": s.kind,
             "conf": s.conf, "text": s.text}
            for s in g.spans
        ]
        assert got_spans == w["spans"]


def test_salting_splits_whale_conversation(spark, transcripts_df):
    """The whale conversation must span multiple salt buckets (skew handling)."""
    from pyspark.sql import functions as F

    turns = 3 * SALT_BLOCK + 5  # longer than two blocks, ends mid-block
    whale = spark.range(turns).select(
        F.lit("whale").alias("conv_id"), F.col("id").cast("int").alias("turn_idx"))
    whale_keys = whale.select(salted_key()).distinct().count()
    assert whale_keys == math.ceil(turns / SALT_BLOCK)  # one key per block
    # a conversation shorter than one block keeps a single key
    df = transcripts_df.withColumn("k", salted_key())
    small = df.where(F.col("conv_id") == "conv-000001").select("k").distinct().count()
    assert small == 1


def test_output_row_count_and_schema(spark, transcripts_df):
    out = extract_transcripts(transcripts_df, num_partitions=8)
    assert out.count() == transcripts_df.count()
    names = [f.name for f in out.schema.fields]
    assert names[:6] == ["conv_id", "turn_idx", "extracted_text", "spans",
                         "n_spans", "strip_ratio"]


def test_plan_is_scan_exchange_pythoneval(spark, transcripts_df, tmp_path):
    """The physical plan must be scan -> one exchange -> one Arrow eval; the parquet
    scan must prune to the 3 needed columns (ReadSchema check)."""
    path = str(tmp_path / "t.parquet")
    transcripts_df.write.mode("overwrite").parquet(path)
    df = spark.read.parquet(path)
    out = extract_transcripts(df, num_partitions=4)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") == 1  # exactly the repartition-before-UDF shuffle
    assert python_stage_count(out) == 1
    scan_line = [l for l in plan.split("\n") if "Scan parquet" in l or "ReadSchema" in l]
    txt = "\n".join(scan_line)
    assert "role" not in txt and "ts" not in txt  # column pruning reached the scan


def test_empty_input(spark):
    empty = spark.createDataFrame([], "conv_id string, turn_idx int, text string")
    assert extract_transcripts(empty, num_partitions=2).count() == 0


def test_dispatch_flag_works_without_tool_in_passthrough(spark, transcripts_df):
    """dispatch_tool_json must not require callers to also pass `tool` through:
    the declared kind is derived BEFORE pruning (regression: UNRESOLVED_COLUMN)."""
    out = extract_transcripts(transcripts_df, dispatch_tool_json=True)
    rows = out.limit(5).collect()
    assert len(rows) == 5
    assert "payload_kind" not in out.columns  # consumed by the kernel, not emitted
