"""Checkpoint/resume tests (SURVEY.md §5.2 item 5): a killed run resumed with the same
run_id yields output identical to a single run, with no duplicate rows."""

import shutil

import pytest
from pyspark.sql import functions as F

from ocr_engine_spark.operators.checkpoint import (
    METRICS_COLUMNS, done_buckets, run_extraction, with_bucket,
)
from ocr_engine_spark.sources.transcripts import generate_transcripts

N_BUCKETS = 8


@pytest.fixture(scope="module")
def transcripts_df(spark):
    return spark.createDataFrame(generate_transcripts(25, seed=21, whale_factor=8))


def _read_sorted(spark, path):
    return (
        spark.read.parquet(path)
        .select("conv_id", "turn_idx", "extracted_text", "n_spans")
        .orderBy("conv_id", "turn_idx")
        .collect()
    )


def test_full_run_then_resume_noop(spark, transcripts_df, tmp_path):
    out = str(tmp_path / "run1")
    s1 = run_extraction(spark, transcripts_df, out, "r1", n_buckets=N_BUCKETS)
    assert s1["buckets_run"] == N_BUCKETS
    baseline = _read_sorted(spark, s1["data_path"])
    assert len(baseline) == transcripts_df.count()

    # resume over a completed run touches nothing
    s2 = run_extraction(spark, transcripts_df, out, "r1", n_buckets=N_BUCKETS)
    assert s2["buckets_run"] == 0
    assert _read_sorted(spark, s2["data_path"]) == baseline


def test_kill_and_resume_exactly_once(spark, transcripts_df, tmp_path):
    out_full = str(tmp_path / "full")
    out_killed = str(tmp_path / "killed")

    full = run_extraction(spark, transcripts_df, out_full, "rA", n_buckets=N_BUCKETS)
    want = _read_sorted(spark, full["data_path"])

    # simulate a crash: run fully, then delete metrics AND data for 3 buckets
    killed = run_extraction(spark, transcripts_df, out_killed, "rA", n_buckets=N_BUCKETS)
    for p in (1, 4, 6):
        shutil.rmtree(f"{killed['metrics_path']}/p={p}")
        shutil.rmtree(f"{killed['data_path']}/p={p}")
    assert done_buckets(spark, killed["metrics_path"]) == set(range(N_BUCKETS)) - {1, 4, 6}

    resumed = run_extraction(spark, transcripts_df, out_killed, "rA", n_buckets=N_BUCKETS)
    assert resumed["buckets_done_before"] == N_BUCKETS - 3
    assert resumed["buckets_run"] == 3

    got = _read_sorted(spark, resumed["data_path"])
    assert got == want  # identical to the single-run output, no dupes, no gaps


def test_crash_between_data_and_metrics_reruns_bucket(spark, transcripts_df, tmp_path):
    """A bucket whose data committed but whose metrics row didn't must re-run (the
    done-marker is the metrics row, written strictly after the data)."""
    out = str(tmp_path / "partial")
    s = run_extraction(spark, transcripts_df, out, "rB", n_buckets=N_BUCKETS)
    want = _read_sorted(spark, s["data_path"])
    shutil.rmtree(f"{s['metrics_path']}/p=2")  # metrics lost, data present
    resumed = run_extraction(spark, transcripts_df, out, "rB", n_buckets=N_BUCKETS)
    assert resumed["buckets_run"] == 1
    assert _read_sorted(spark, resumed["data_path"]) == want


def test_metrics_lineage_content(spark, transcripts_df, tmp_path):
    out = str(tmp_path / "metrics")
    s = run_extraction(spark, transcripts_df, out, "rC", n_buckets=N_BUCKETS)
    m = spark.read.parquet(s["metrics_path"])
    assert m.count() == N_BUCKETS
    total_turns = m.agg(F.sum("turns")).collect()[0][0]
    assert total_turns == transcripts_df.count()
    row = m.first()
    assert row.run_id == "rC" and row.status == "done"
    assert row.n_buckets == N_BUCKETS and row.started <= row.finished
    assert m.columns == [*METRICS_COLUMNS, "p"]


def test_metrics_never_reread_fresh_output(spark, transcripts_df, tmp_path,
                                           monkeypatch):
    """The metrics aggregation must reuse the persisted kernel output, not
    spark.read.parquet() the dataset the run just wrote (at scale that re-read is a
    second full pass over everything written)."""
    from pyspark.sql import DataFrameReader

    out = str(tmp_path / "noreread")
    data_path = f"{out}/extracted"
    read_paths = []
    orig = DataFrameReader.parquet

    def spy(self, *paths, **kw):
        read_paths.extend(paths)
        return orig(self, *paths, **kw)

    monkeypatch.setattr(DataFrameReader, "parquet", spy)
    run_extraction(spark, transcripts_df, out, "rD", n_buckets=N_BUCKETS)
    assert all(p != data_path for p in read_paths), (
        f"run re-read its own output: {read_paths}")


def test_bucket_assignment_is_deterministic(spark, transcripts_df):
    a = with_bucket(transcripts_df, N_BUCKETS).select("conv_id", "turn_idx", "p")
    b = with_bucket(transcripts_df, N_BUCKETS).select("conv_id", "turn_idx", "p")
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0


def test_wave_mode_output_identical(spark, transcripts_df, tmp_path):
    """wave_buckets changes commit granularity, never results: data and
    done-markers match the single-wave run bucket for bucket."""
    s1 = run_extraction(spark, transcripts_df, str(tmp_path / "single"), "rW",
                        n_buckets=N_BUCKETS)
    s2 = run_extraction(spark, transcripts_df, str(tmp_path / "waved"), "rW",
                        n_buckets=N_BUCKETS, wave_buckets=3)
    assert s2["buckets_run"] == N_BUCKETS
    assert _read_sorted(spark, s2["data_path"]) == _read_sorted(spark, s1["data_path"])
    assert done_buckets(spark, s2["metrics_path"]) == set(range(N_BUCKETS))


def test_wave_mode_crash_keeps_committed_waves(spark, transcripts_df, tmp_path,
                                               monkeypatch):
    """A REAL mid-run failure (the commit call itself dies during wave 2) must
    durably keep wave 1 — resume then recomputes only what never committed."""
    import ocr_engine_spark.operators.checkpoint as cp

    out = str(tmp_path / "crashy")
    want = _read_sorted(
        spark,
        run_extraction(spark, transcripts_df, str(tmp_path / "baseline"), "rC",
                       n_buckets=N_BUCKETS)["data_path"])

    real_write = cp.overwrite_partitions
    calls = {"n": 0}

    def dying_write(df, target, partition_col, flavor="auto"):
        calls["n"] += 1
        if calls["n"] == 2:  # one data write per wave; die in wave 2
            raise RuntimeError("injected executor loss")
        return real_write(df, target, partition_col, flavor)

    monkeypatch.setattr(cp, "overwrite_partitions", dying_write)
    with pytest.raises(RuntimeError, match="injected"):
        run_extraction(spark, transcripts_df, out, "rC",
                       n_buckets=N_BUCKETS, wave_buckets=3)
    monkeypatch.setattr(cp, "overwrite_partitions", real_write)

    committed = done_buckets(spark, f"{out}/run_metrics")
    assert committed == {0, 1, 2}  # exactly wave 1 survived the crash

    resumed = run_extraction(spark, transcripts_df, out, "rC",
                             n_buckets=N_BUCKETS, wave_buckets=3)
    assert resumed["buckets_done_before"] == 3
    assert _read_sorted(spark, resumed["data_path"]) == want


def test_wave_buckets_below_one_raises(spark, transcripts_df, tmp_path):
    """wave_buckets < 1 would make the wave list empty and return a success
    summary with nothing written — it must raise instead (silent data loss)."""
    with pytest.raises(ValueError, match="wave_buckets"):
        run_extraction(spark, transcripts_df, str(tmp_path / "bad"), "rV",
                       n_buckets=N_BUCKETS, wave_buckets=0)


def test_resume_with_changed_n_buckets_raises(spark, transcripts_df, tmp_path):
    """Bucket ids depend on n_buckets: resuming a completed 4-bucket run with 8
    buckets would skip p=0..3 as done and recompute p=4..7 under the new
    layout on top, duplicating some turns and dropping others.  It must raise,
    naming both counts, and leave the committed output untouched."""
    out = str(tmp_path / "nb")
    s = run_extraction(spark, transcripts_df, out, "rN", n_buckets=4)
    want = _read_sorted(spark, s["data_path"])
    with pytest.raises(ValueError, match=r"n_buckets=4 .*n_buckets=8"):
        run_extraction(spark, transcripts_df, out, "rN", n_buckets=8)
    assert _read_sorted(spark, s["data_path"]) == want
    assert len(want) == transcripts_df.count()
    again = run_extraction(spark, transcripts_df, out, "rN", n_buckets=4)
    assert again["buckets_run"] == 0


def test_resume_over_metrics_without_n_buckets(spark, transcripts_df, tmp_path):
    """Metrics rows written before the n_buckets column existed skip the
    check (as rows without ``dispatch`` do): the resume is a no-op."""
    out = str(tmp_path / "old")
    s = run_extraction(spark, transcripts_df, out, "rO", n_buckets=N_BUCKETS)
    old = spark.read.parquet(s["metrics_path"]).drop("n_buckets").toPandas()
    (spark.createDataFrame(old).write.mode("overwrite").partitionBy("p")
     .parquet(s["metrics_path"]))
    assert "n_buckets" not in spark.read.parquet(s["metrics_path"]).columns
    resumed = run_extraction(spark, transcripts_df, out, "rO",
                             n_buckets=N_BUCKETS)
    assert resumed["buckets_run"] == 0


def test_checkpointed_run_with_dispatch_and_passthrough(spark, tmp_path):
    """run_extraction's declared-kind dispatch must match extract_transcripts'
    (each wave runs extract_transcripts), with passthrough columns surviving
    the wave commit."""
    from ocr_engine_spark.operators.extract import extract_transcripts

    pdf = generate_transcripts(20, seed=33)
    df = spark.createDataFrame(pdf).withColumn(
        "tool",
        F.when(F.crc32("conv_id") % 3 == 0, F.lit("search")))
    # declared tool turns wrap in the tool-JSON envelope so the JSON path runs
    df = df.withColumn(
        "text",
        F.when(F.col("tool").isNotNull(),
               F.concat(F.lit('{"result": "'), F.col("text"), F.lit('"}')))
        .otherwise(F.col("text")))

    out = str(tmp_path / "ck")
    run_extraction(spark, df, out, run_id="d1", n_buckets=4,
                   passthrough=("role", "tool", "ts"), dispatch_tool_json=True)
    ck = (spark.read.parquet(out + "/extracted")
          .select("conv_id", "turn_idx", "extracted_text", "fmt", "role",
                  "tool", "ts")
          .orderBy("conv_id", "turn_idx").toPandas())
    inline = (extract_transcripts(df, passthrough=("role", "tool", "ts"),
                                  dispatch_tool_json=True)
              .select("conv_id", "turn_idx", "extracted_text", "fmt", "role",
                      "tool", "ts")
              .orderBy("conv_id", "turn_idx").toPandas())
    assert ck.equals(inline)
    # declared rows take the JSON path; envelopes the corpus text breaks
    # (embedded quotes/backslashes -> invalid JSON) demote to the S4
    # permissive plain fallback — exactly the two declared outcomes
    declared = ck.loc[ck.tool.notna(), "fmt"]
    assert len(declared) > 0 and set(declared) <= {"json", "plain"}
    assert (declared == "json").sum() > 0
