"""Structured Streaming wrapper tests: the fused kernel on a streaming plan, with the
batch output as the oracle (same kernel -> equality by construction)."""

import pytest

from ocr_engine_spark.operators.extract import extract_transcripts
from ocr_engine_spark.sources.transcripts import generate_transcripts
from ocr_engine_spark.streaming.stream import (
    metrics_window_stream, read_transcript_stream,
)


@pytest.fixture(scope="module")
def stream_dir(spark, tmp_path_factory):
    from ocr_engine_spark.streaming.stream import TRANSCRIPTS_DDL

    path = str(tmp_path_factory.mktemp("stream") / "transcripts")
    pdf = generate_transcripts(15, seed=5, whale_factor=2)
    spark.createDataFrame(pdf, schema=TRANSCRIPTS_DDL).repartition(4).write.parquet(path)
    return path


def test_stream_extraction_matches_batch(spark, stream_dir):
    stream = read_transcript_stream(spark, stream_dir, max_files_per_trigger=2)
    assert stream.isStreaming
    q = (
        extract_transcripts(stream)
        .writeStream.format("memory").queryName("ext_stream")
        .outputMode("append").trigger(availableNow=True).start()
    )
    q.awaitTermination(120)
    got = (
        spark.table("ext_stream")
        .select("conv_id", "turn_idx", "extracted_text", "n_spans")
        .orderBy("conv_id", "turn_idx").collect()
    )
    batch = extract_transcripts(spark.read.parquet(stream_dir))
    want = (
        batch.select("conv_id", "turn_idx", "extracted_text", "n_spans")
        .orderBy("conv_id", "turn_idx").collect()
    )
    assert got == want


def test_metrics_window_stream(spark, stream_dir):
    stream = read_transcript_stream(spark, stream_dir, max_files_per_trigger=4)
    q = (
        # watermark covers the corpus's full ~4-month event-time span so no
        # cross-batch disorder drops as late data (total-count assertion below)
        metrics_window_stream(stream, watermark="365 days", window="30 minutes")
        .writeStream.format("memory").queryName("metrics_stream")
        # complete mode: append would hold back windows the final watermark never
        # passes (availableNow ends the stream before the last windows close)
        .outputMode("complete").trigger(availableNow=True).start()
    )
    q.awaitTermination(120)
    rows = spark.table("metrics_stream").collect()
    total = sum(r.turns for r in rows)
    assert total == spark.read.parquet(stream_dir).count()
    assert all(r.spans >= 0 for r in rows)


def test_conversation_progress_stateful(spark, stream_dir):
    """applyInPandasWithState: running per-conversation totals across
    micro-batches; the final update per conversation equals the batch answer."""
    from pyspark.sql import functions as F

    from ocr_engine_spark.streaming.stream import conversation_progress_stream

    stream = read_transcript_stream(spark, stream_dir, max_files_per_trigger=1)
    q = (
        conversation_progress_stream(extract_transcripts(stream))
        .writeStream.format("memory").queryName("conv_progress")
        .outputMode("update").trigger(availableNow=True).start()
    )
    # the production ProcessingTimeTimeout path: registered timers keep the
    # availableNow query alive well past the data (see the operator's CAVEAT),
    # so wait for the DATA to drain (sink row count goes quiescent AND the
    # source reports no unread files — an idle trigger between micro-batches
    # also reads 0 input rows), then stop — never block on termination here
    import time

    rows = -1
    for _ in range(60):
        time.sleep(2)
        n = spark.table("conv_progress").count()
        if (n == rows and n > 0
                and (q.lastProgress or {}).get("numInputRows", 1) == 0
                and q.status["isDataAvailable"] is False):
            break
        rows = n
    q.stop()
    # update mode emits one row per (conv, micro-batch); totals are monotonic so
    # the final state per conversation is the row-wise max
    got = {
        r["conv_id"]: (r["turns"], r["spans"], r["last_turn_idx"])
        for r in spark.table("conv_progress")
        .groupBy("conv_id")
        .agg(F.max("turns").alias("turns"), F.max("spans").alias("spans"),
             F.max("last_turn_idx").alias("last_turn_idx")).collect()
    }
    batch = extract_transcripts(spark.read.parquet(stream_dir))
    want = {
        r["conv_id"]: (r["turns"], r["spans"], r["last_turn_idx"])
        for r in batch.groupBy("conv_id")
        .agg(F.count(F.lit(1)).alias("turns"),
             F.sum("n_spans").cast("long").alias("spans"),
             F.max("turn_idx").alias("last_turn_idx")).collect()
    }
    assert got == want


class _StubState:
    """Minimal GroupState stand-in for unit-testing the update function."""

    def __init__(self, value=None, has_timed_out=False):
        self._value = value
        self.hasTimedOut = has_timed_out
        self.removed = False
        self.timeout_set = None

    @property
    def exists(self):
        return self._value is not None and not self.removed

    @property
    def get(self):
        return self._value

    def update(self, v):
        self._value = v

    def remove(self):
        self.removed = True
        self._value = None

    def setTimeoutDuration(self, ms):
        self.timeout_set = ms


def test_progress_update_timeout_drops_state_and_emits_nothing():
    """When ProcessingTimeTimeout fires, the update function is invoked with an
    empty batch iterator and hasTimedOut=True: state must be removed (bounded
    state) and NO stale row re-emitted."""
    from ocr_engine_spark.streaming.stream import _progress_update

    update = _progress_update(timeout_ms=60_000)
    state = _StubState(value=(5, 7, 4), has_timed_out=True)
    out = list(update(("conv-x",), iter([]), state))
    assert out == []                 # no duplicate stale progress row
    assert state.removed             # state actually dropped
    assert state.timeout_set is None  # timeout NOT re-armed


def test_progress_update_accumulates_and_rearms():
    import pandas as pd

    from ocr_engine_spark.streaming.stream import _progress_update

    update = _progress_update(timeout_ms=1234)
    state = _StubState(value=(2, 3, 1))
    pdf = pd.DataFrame({"turn_idx": [2, 5], "n_spans": [1, 4]})
    out = list(update(("conv-y",), iter([pdf]), state))
    assert len(out) == 1
    row = out[0].iloc[0]
    assert (row["turns"], row["spans"], row["last_turn_idx"]) == (4, 8, 5)
    assert state.get == (4, 8, 5)
    assert state.timeout_set == 1234


def test_stream_job_drain_and_resume(spark, tmp_path):
    """jobs/stream_job.py end-to-end: drain a directory with availableNow, then
    add more input and re-run against the SAME checkpoint — only the new files
    are processed, no duplicates (exactly-once by batch_id overwrite + WAL)."""
    import sys

    sys.path.insert(0, str(__import__("pathlib").Path(__file__).parents[1] / "jobs"))
    from stream_job import run_stream

    from ocr_engine_spark.streaming.stream import TRANSCRIPTS_DDL

    src = tmp_path / "src"
    out = tmp_path / "out"
    pdf = generate_transcripts(8, seed=21)
    first = spark.createDataFrame(pdf, schema=TRANSCRIPTS_DDL)
    first.repartition(3).write.mode("append").parquet(str(src))
    n_first = first.count()

    q = run_stream(spark, str(src), str(out), max_files_per_trigger=1,
                   available_now=True)
    q.awaitTermination(180)
    got1 = spark.read.parquet(str(out / "extracted"))
    assert got1.count() == n_first
    n_batches1 = got1.select("batch_id").distinct().count()
    assert n_batches1 >= 2  # maxFilesPerTrigger=1 -> several micro-batches

    # metrics rows exist per batch, written after data
    m = spark.read.parquet(str(out / "batch_metrics"))
    assert m.count() == n_batches1
    assert m.agg({"turns": "sum"}).collect()[0][0] == n_first

    # "kill and resume": a fresh run against the same checkpoint with NEW input
    more = spark.createDataFrame(generate_transcripts(4, seed=22),
                                 schema=TRANSCRIPTS_DDL)
    more.coalesce(1).write.mode("append").parquet(str(src))
    n_more = more.count()
    q2 = run_stream(spark, str(src), str(out), max_files_per_trigger=1,
                    available_now=True)
    q2.awaitTermination(180)
    got2 = spark.read.parquet(str(out / "extracted"))
    assert got2.count() == n_first + n_more  # old files NOT reprocessed
    # per-turn content equals the batch kernel on the union corpus
    want = extract_transcripts(spark.read.parquet(str(src))).select(
        "conv_id", "turn_idx", "extracted_text").orderBy("conv_id", "turn_idx")
    gotc = got2.select("conv_id", "turn_idx", "extracted_text").orderBy(
        "conv_id", "turn_idx")
    assert [tuple(r) for r in gotc.collect()] == [tuple(r) for r in want.collect()]


def test_dedup_stream_drops_cross_batch_duplicates(spark, tmp_path):
    """Streaming exact dedup: duplicates planted across micro-batch boundaries
    collapse to one row per distinct payload (watermark-bounded state)."""
    from ocr_engine_spark.streaming.stream import TRANSCRIPTS_DDL, dedup_stream

    import pandas as pd

    base = generate_transcripts(6, seed=33)
    dup = base.head(20).copy()
    dup["conv_id"] = dup["conv_id"] + "-dup"  # same text, different key
    src = str(tmp_path / "dsrc")
    spark.createDataFrame(base, schema=TRANSCRIPTS_DDL).coalesce(1) \
        .write.mode("append").parquet(src)
    spark.createDataFrame(pd.DataFrame(dup), schema=TRANSCRIPTS_DDL).coalesce(1) \
        .write.mode("append").parquet(src)

    stream = read_transcript_stream(spark, src, max_files_per_trigger=1)
    q = (
        dedup_stream(stream, watermark="365 days")
        .writeStream.format("memory").queryName("dedup_stream_t")
        .outputMode("append").trigger(availableNow=True).start()
    )
    q.awaitTermination(120)
    got = spark.table("dedup_stream_t")
    want_distinct = spark.read.parquet(src).select("text").distinct().count()
    assert got.count() == want_distinct
    assert got.select("text_md5").distinct().count() == got.count()


def test_session_metrics_stream_merges_by_gap(spark, stream_dir):
    """Native session windows: turns within the gap merge, totals equal the
    batch turn count (complete mode drains everything under availableNow)."""
    from ocr_engine_spark.streaming.stream import session_metrics_stream

    stream = read_transcript_stream(spark, stream_dir, max_files_per_trigger=2)
    # the watermark must cover the corpus's FULL event-time span (~4 months):
    # rows are scattered across files, so a micro-batch can carry timestamps
    # months behind the advancing watermark, and anything beyond it drops as
    # late data (the documented default) — a shorter watermark makes the
    # exact-total assertion below file-order-dependent
    q = (
        session_metrics_stream(stream, watermark="365 days", gap="10 minutes")
        .writeStream.format("memory").queryName("sessions_stream")
        .outputMode("complete").trigger(availableNow=True).start()
    )
    q.awaitTermination(120)
    rows = spark.table("sessions_stream").collect()
    total_turns = sum(r["turns"] for r in rows)
    assert total_turns == spark.read.parquet(stream_dir).count()
    # session windows are per conversation and non-degenerate
    assert all(r["turns"] >= 1 and r["last_turn"] >= r["first_turn"]
               for r in rows)
    assert len({r["conv_id"] for r in rows}) > 1


def test_stream_window_parity_accumulates_across_batches(spark, tmp_path):
    """q_stream_window_parity's core invariant at unit scale: every tumbling
    window's final (turns, spans) equals the batch rollup even when each
    window's rows arrive split across MULTIPLE micro-batches (files are
    written so every file carries rows of every hour; one file per
    trigger)."""
    import pandas as pd

    from ocr_engine_spark.streaming.stream import (
        TRANSCRIPTS_DDL, metrics_window_stream,
    )

    rows = []
    for f in range(3):                       # 3 files x 3 hours x 4 turns
        for h in range(3):
            for i in range(4):
                rows.append({
                    "conv_id": f"c{f}_{h}_{i}", "turn_idx": 0,
                    "role": "user", "text": f"turn {f} {h} {i}",
                    "tool": None,
                    "ts": pd.Timestamp(f"2026-01-01 {h:02d}:{f*15+i:02d}:00")})
    src = str(tmp_path / "tx")
    for f in range(3):                       # one parquet file per slice
        pdf = pd.DataFrame(rows[f * 12:(f + 1) * 12])
        (spark.createDataFrame(pdf, schema=TRANSCRIPTS_DDL)
         .coalesce(1).write.mode("append").parquet(src))

    stream = read_transcript_stream(spark, src, max_files_per_trigger=1)
    win = metrics_window_stream(stream, watermark="30 days", window="1 hour")
    q = (win.writeStream.format("memory").queryName("win_parity_t")
         .outputMode("complete").trigger(availableNow=True).start())
    assert q.awaitTermination(180), "stream did not finish within 180s"
    got = {r["win"]["start"].hour: (r["turns"], r["spans"])
           for r in spark.table("win_parity_t").collect()}
    spark.catalog.dropTempView("win_parity_t")
    # >= 3 micro-batches actually ran (one per file)
    assert len(q.recentProgress) >= 3
    assert got == {0: (12, 12), 1: (12, 12), 2: (12, 12)}


def test_progress_stream_no_timeout_terminates(spark, stream_dir):
    """timeout_ms=None (NoTimeout): an availableNow replay TERMINATES once the
    data drains — the regression guard for the timer-keeps-the-query-alive
    behavior the parity row works around (with ProcessingTimeTimeout,
    registered timers hold the query open past the data)."""
    from pyspark.sql import functions as F

    from ocr_engine_spark.streaming.stream import conversation_progress_stream

    stream = read_transcript_stream(spark, stream_dir, max_files_per_trigger=2)
    q = (
        conversation_progress_stream(extract_transcripts(stream), timeout_ms=None)
        .writeStream.format("memory").queryName("conv_progress_nt")
        .outputMode("update").trigger(availableNow=True).start()
    )
    assert q.awaitTermination(120), "NoTimeout replay did not terminate"
    got = {
        r["conv_id"]: (r["turns"], r["spans"], r["last_turn_idx"])
        for r in spark.table("conv_progress_nt")
        .groupBy("conv_id")
        .agg(F.max("turns").alias("turns"), F.max("spans").alias("spans"),
             F.max("last_turn_idx").alias("last_turn_idx")).collect()
    }
    batch = extract_transcripts(spark.read.parquet(stream_dir))
    want = {
        r["conv_id"]: (r["turns"], r["spans"], r["last_turn_idx"])
        for r in batch.groupBy("conv_id")
        .agg(F.count(F.lit(1)).alias("turns"),
             F.sum("n_spans").cast("long").alias("spans"),
             F.max("turn_idx").alias("last_turn_idx")).collect()
    }
    assert got == want
