"""Property tests for the round-3 pipeline operators: Spark results vs
independent 20-line Python oracles on randomized inputs (not just the fixed
parquet corpus the contract checks)."""

from __future__ import annotations

import random
from collections import Counter
from datetime import datetime, timedelta

import pandas as pd
import pytest


@pytest.fixture(scope="module")
def random_events(spark):
    rng = random.Random(77)
    t0 = datetime(2024, 3, 1)
    rows = []
    for eid in range(600):
        uid = rng.randrange(12)
        # gaps cluster around the 30-min session boundary to stress it
        t0 += timedelta(seconds=rng.choice([5, 60, 1799, 1800, 1801, 7200]),
                        microseconds=rng.randrange(1_000_000))
        rows.append((eid, t0, uid, "e", rng.uniform(-5, 5)))
    pdf = pd.DataFrame(rows, columns=["event_id", "ts", "user_id",
                                      "event_type", "value"])
    return pdf


def _py_sessions(pdf, gap_us=1_800_000_000):
    """Independent sessionizer: sort per user, split on gap, count."""
    out = {}
    for uid, grp in pdf.groupby("user_id"):
        grp = grp.sort_values(["ts", "event_id"])
        us = grp["ts"].astype("int64")  # ns -> but ratios preserved; use us
        us = (us // 1000).tolist()
        seq = 0
        prev = None
        for micro, eid in zip(us, grp["event_id"]):
            if prev is None or micro - prev > gap_us:
                seq += 1
            out.setdefault((uid, seq), []).append(eid)
            prev = micro
    return out


def test_sessionization_matches_python_oracle(spark, random_events, tmp_path):
    from ocr_engine_spark.operators.relational import q_event_sessions

    sf = str(tmp_path / "sf")
    import os

    os.makedirs(sf, exist_ok=True)
    spark.createDataFrame(random_events).write.mode("overwrite") \
        .parquet(f"{sf}/events.parquet")
    got = q_event_sessions(spark, sf).collect()
    want = _py_sessions(random_events)
    assert len(got) == len(want)
    by_first = {(r["user_id"], r["session_seq"]): r for r in got}
    for (uid, seq), eids in want.items():
        r = by_first[(uid, seq)]
        assert r["n_events"] == len(eids), (uid, seq)
        assert r["first_event_id"] == min(eids)


def test_rolling_range_frame_matches_python(spark, random_events, tmp_path):
    from ocr_engine_spark.operators.relational import q_event_rolling

    sf = str(tmp_path / "sf")
    import os

    os.makedirs(sf, exist_ok=True)
    spark.createDataFrame(random_events).write.mode("overwrite") \
        .parquet(f"{sf}/events.parquet")
    got = {r["event_id"]: r["roll_n"] for r in q_event_rolling(spark, sf).collect()}
    pdf = random_events.copy()
    pdf["us"] = pdf["ts"].astype("int64") // 1000
    for uid, grp in pdf.groupby("user_id"):
        us = grp["us"].tolist()
        for i, (eid, m) in enumerate(zip(grp["event_id"], us)):
            n = sum(1 for x in us if m - 3_600_000_000 <= x <= m)
            assert got[eid] == n, eid


def test_repetition_stats_matches_counter(spark, tmp_path):
    from ocr_engine_spark.operators.text_analysis import q_repetition_stats

    rng = random.Random(5)
    vocab = ["a", "bb", "ccc", "dd", "e"]
    docs = [(i, " ".join(rng.choice(vocab)
                         for _ in range(rng.randrange(1, 40))), "s")
            for i in range(120)]
    pdf = pd.DataFrame(docs, columns=["doc_id", "text", "source"])
    sf = str(tmp_path / "sf")
    import os

    os.makedirs(sf, exist_ok=True)
    spark.createDataFrame(pdf).write.mode("overwrite") \
        .parquet(f"{sf}/documents.parquet")
    got = {r["doc_id"]: r for r in q_repetition_stats(spark, sf).collect()}
    for i, text, _ in docs:
        c = Counter(text.split(" "))
        top_count = max(c.values())
        top_tok = min(t for t, n in c.items() if n == top_count)
        r = got[i]
        assert r["n_tokens"] == sum(c.values())
        assert r["n_distinct"] == len(c)
        assert (r["top_tok"], r["top_count"]) == (top_tok, top_count), i


def test_token_budget_matches_python_packing(spark, tmp_path):
    from ocr_engine_spark.operators.text_analysis import q_token_budget

    rng = random.Random(9)
    docs = [(i, " ".join("w" for _ in range(rng.randrange(50, 400))),
             f"s{i % 4}") for i in range(80)]
    pdf = pd.DataFrame(docs, columns=["doc_id", "text", "source"])
    sf = str(tmp_path / "sf")
    import os

    os.makedirs(sf, exist_ok=True)
    spark.createDataFrame(pdf).write.mode("overwrite") \
        .parquet(f"{sf}/documents.parquet")
    got = {r["doc_id"]: r["cum_tokens"] for r in q_token_budget(spark, sf).collect()}
    for src in {d[2] for d in docs}:
        members = sorted((len(t.split(" ")), i) for i, t, s in docs if s == src)
        members = sorted(members, key=lambda x: (-x[0], x[1]))
        cum = 0
        for n, i in members:
            cum += n
            if cum <= 600:
                assert got[i] == cum, (src, i)
            else:
                assert i not in got, (src, i)


def test_stratified_sample_is_deterministic_and_respects_rates(spark, tmp_path):
    from ocr_engine_spark.operators.text_analysis import q_stratified_sample

    pdf = pd.DataFrame({
        "doc_id": range(400),
        "text": ["x"] * 400,
        "source": [f"s{i % 5}" for i in range(400)],
    })
    sf = str(tmp_path / "sf")
    import os

    os.makedirs(sf, exist_ok=True)
    spark.createDataFrame(pdf).write.mode("overwrite") \
        .parquet(f"{sf}/documents.parquet")
    a = sorted(r["doc_id"] for r in q_stratified_sample(spark, sf).collect())
    b = sorted(r["doc_id"] for r in q_stratified_sample(spark, sf).collect())
    assert a == b  # hash-based: no RNG, identical across runs
    rows = q_stratified_sample(spark, sf).collect()
    assert all(r["bucket"] < r["rate"] for r in rows)
    assert 0 < len(rows) < 400  # actually samples, not all/none


def test_sequence_packing_matches_python_packer(spark, tmp_path):
    """Grouped-map packing vs a reference packer on random token sizes, and
    determinism under repartitioning (state is per-group, order total)."""
    rng = random.Random(21)
    docs = [(i, " ".join("w" for _ in range(rng.choice([5, 60, 200, 400, 700]))),
             f"s{i % 3}") for i in range(150)]
    pdf = pd.DataFrame(docs, columns=["doc_id", "text", "source"])
    sf = str(tmp_path / "sf")
    import os

    os.makedirs(sf, exist_ok=True)
    spark.createDataFrame(pdf).write.mode("overwrite") \
        .parquet(f"{sf}/documents.parquet")

    from ocr_engine_spark.operators.text_analysis import pack_sequences

    loaded = spark.read.parquet(f"{sf}/documents.parquet")
    got = {r["doc_id"]: (r["seq_id"], r["seq_offset"])
           for r in pack_sequences(loaded, budget=512).collect()}
    got2 = {r["doc_id"]: (r["seq_id"], r["seq_offset"])
            for r in pack_sequences(loaded.repartition(13), budget=512).collect()}
    assert got == got2  # deterministic under partitioning

    for src in ("s0", "s1", "s2"):
        members = sorted((i, len(t.split(" "))) for i, t, s in docs if s == src)
        seq = fill = 0
        for i, n in members:
            if fill > 0 and fill + n > 512:
                seq += 1
                fill = 0
            assert got[i] == (seq, fill), (src, i)
            fill += n
        # oversized docs (700 > 512) sit alone at offset 0
    big = [i for i, t, s in docs if len(t.split(" ")) == 700]
    assert all(got[i][1] == 0 for i in big)
    packed = pack_sequences(loaded, budget=512)
    assert [(f.name, f.dataType.simpleString())
            for f in packed.schema] == [
        ("doc_id", "bigint"), ("source", "string"), ("n_tokens", "bigint"),
        ("seq_id", "int"), ("seq_offset", "bigint")]

    # the pipeline's spelling of the same packer: string conv_ids packed per
    # shard
    from pyspark.sql import functions as F

    from ocr_engine_spark.operators.text_analysis import pack_by_group

    shard_docs = packed.select(
        F.format_string("c%04d", "doc_id").alias("conv_id"),
        F.concat(F.lit("shard_"), F.substring("source", 2, 1)).alias("shard"),
        "n_tokens")
    by_shard = [
        {(r["conv_id"], r["shard"], r["n_tokens"], r["seq_id"],
          r["seq_offset"])
         for r in pack_by_group(frame, "shard", "conv_id", 512).collect()}
        for frame in (shard_docs, shard_docs.repartition(13))]
    assert by_shard[0] == by_shard[1]
    assert by_shard[0] == {(f"c{i:04d}", f"shard_{src[1]}", n, *got[i])
                           for i, t, src in docs
                           for n in [len(t.split(" "))]}


def test_arrow_packer_carries_state_across_batches(spark):
    """Two-row Arrow batches split every group across batches, and with more
    groups than shuffle partitions several groups share a partition: each row
    still gets the (seq_id, seq_offset) of the default-batch run and of a
    reference packer."""
    from ocr_engine_spark.operators.text_analysis import pack_by_group

    rng = random.Random(5)
    n_groups = 40
    assert n_groups > int(spark.conf.get("spark.sql.shuffle.partitions"))
    rows = [(f"c{i:04d}", f"g{rng.randrange(n_groups):02d}",
             rng.choice([1, 7, 30, 64, 90])) for i in range(600)]
    frame = spark.createDataFrame(rows, "conv_id string, shard string, "
                                        "n_tokens bigint")

    def packed():
        return {r["conv_id"]: (r["seq_id"], r["seq_offset"])
                for r in pack_by_group(frame, "shard", "conv_id", 64)
                .collect()}

    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    default = packed()
    old = spark.conf.get(key)
    spark.conf.set(key, "2")
    try:
        small = packed()
    finally:
        spark.conf.set(key, old)
    assert small == default

    expected = {}
    for g in {g for _, g, _ in rows}:
        seq = fill = 0
        for cid, _, n in sorted(r for r in rows if r[1] == g):
            if fill > 0 and fill + n > 64:
                seq, fill = seq + 1, 0
            expected[cid] = (seq, fill)
            fill += n
    assert default == expected
