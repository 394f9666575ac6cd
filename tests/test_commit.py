"""The observed data-then-metrics commit (``checkpoint.commit_by_key``) shared
by the checkpoint's waves and the stream job's micro-batches: one data write
observed for its metrics and the only Spark job of the commit, metrics rows
written by the driver from the observation, nothing persisted, and metrics
equal to the groupBy aggregation the commit used to run over the persisted
output."""

import math
import os
import pathlib
import sys

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

import ocr_engine_spark.operators.checkpoint as cp
from ocr_engine_spark.operators.checkpoint import (
    METRICS_COLUMNS, STAGING_PREFIX, ProfileMismatchError, commit_by_key,
    done_buckets, run_extraction, with_bucket,
)
from ocr_engine_spark.operators.extract import extract_transcripts
from ocr_engine_spark.sources.transcripts import generate_transcripts
from ocr_engine_spark.streaming.stream import TRANSCRIPTS_DDL

sys.path.insert(0, str(pathlib.Path(__file__).resolve().parents[1] / "jobs"))

N_BUCKETS = 8

# what Spark reads back from each metrics table, whichever writer wrote it
RUN_METRICS_DTYPES = [
    ("run_id", "string"), ("conv_ids", "bigint"), ("turns", "bigint"),
    ("spans", "bigint"), ("strip_ratio", "double"),
    ("started", "timestamp"), ("finished", "timestamp"),
    ("status", "string"), ("dispatch", "string"), ("n_buckets", "int"),
    ("p", "int")]
BATCH_METRICS_DTYPES = [
    ("conv_ids", "bigint"), ("turns", "bigint"), ("spans", "bigint"),
    ("strip_ratio", "double"), ("status", "string"), ("batch_id", "int")]


@pytest.fixture(scope="module")
def transcripts_df(spark):
    return spark.createDataFrame(
        generate_transcripts(20, seed=41, whale_factor=4),
        schema=TRANSCRIPTS_DDL)


def _persisted(spark) -> set[int]:
    """Ids of persisted RDDs other than local checkpoints."""
    m = spark.sparkContext._jsc.getPersistentRDDs()
    return {int(k) for k in m.keySet()
            if not m[k].rdd().isLocallyCheckpointed()}


def _oracle(extracted, key):
    """The groupBy aggregation the commit ran over its persisted output
    before metrics were observed on the write."""
    return (extracted.groupBy(key)
            .agg(F.countDistinct("conv_id").alias("conv_ids"),
                 F.count(F.lit(1)).alias("turns"),
                 F.sum("n_spans").cast("long").alias("spans"),
                 F.avg("strip_ratio").alias("strip_ratio")))


def _assert_metrics_match(metrics, oracle, key):
    cols = ["conv_ids", "turns", "spans", "strip_ratio", key]
    got = metrics.select(*cols)
    want = oracle.select(*cols)
    assert got.dtypes == want.dtypes
    got_rows = sorted(got.collect(), key=lambda r: r[key])
    want_rows = sorted(want.collect(), key=lambda r: r[key])
    assert len(got_rows) == len(want_rows) > 0
    for g, w in zip(got_rows, want_rows):
        assert (g[key], g.conv_ids, g.turns, g.spans) == (
            w[key], w.conv_ids, w.turns, w.spans)
        assert math.isclose(g.strip_ratio, w.strip_ratio, rel_tol=1e-12)


def test_commit_is_one_spark_job(spark, transcripts_df, tmp_path):
    """A micro-batch-shaped commit runs exactly one Spark job (the data
    write; the driver writes the metrics row) and persists nothing."""
    src = str(tmp_path / "src")
    transcripts_df.coalesce(2).write.parquet(src)
    batch = extract_transcripts(spark.read.parquet(src)).withColumn(
        "batch_id", F.lit(7))
    sc = spark.sparkContext
    before = _persisted(spark)
    group = f"commit-{tmp_path.name}"
    sc.setJobGroup(group, "commit_by_key under test")
    try:
        commit_by_key(batch, "batch_id", [7], str(tmp_path / "data"),
                      str(tmp_path / "metrics"))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert _persisted(spark) == before
    tracker = sc.statusTracker()
    jobs = tracker.getJobIdsForGroup(group)
    assert len(jobs) == 1, jobs
    m = spark.read.parquet(str(tmp_path / "metrics")).collect()
    assert [(r.batch_id, r.turns, r.status) for r in m] == [
        (7, transcripts_df.count(), "done")]


def test_run_metrics_match_groupby_oracle(spark, transcripts_df, tmp_path):
    s = run_extraction(spark, transcripts_df, str(tmp_path / "run"), "rP",
                       n_buckets=N_BUCKETS, wave_buckets=3)
    metrics = spark.read.parquet(s["metrics_path"])
    assert metrics.dtypes == RUN_METRICS_DTYPES
    _assert_metrics_match(
        metrics, _oracle(spark.read.parquet(s["data_path"]), "p"), "p")


def test_batch_metrics_match_groupby_oracle(spark, transcripts_df, tmp_path):
    from stream_job import run_stream

    src = str(tmp_path / "src")
    transcripts_df.repartition(3).write.parquet(src)
    out = tmp_path / "out"
    q = run_stream(spark, src, str(out), max_files_per_trigger=1,
                   available_now=True)
    q.awaitTermination(180)
    assert q.exception() is None
    metrics = spark.read.parquet(str(out / "batch_metrics"))
    assert metrics.dtypes == BATCH_METRICS_DTYPES
    _assert_metrics_match(
        metrics,
        _oracle(spark.read.parquet(str(out / "extracted")), "batch_id"),
        "batch_id")


def _part_files(path):
    return [os.path.join(d, f) for d, _, files in os.walk(path)
            for f in files if f.endswith(".parquet")]


def test_metrics_table_mixing_spark_and_driver_files(spark, transcripts_df,
                                                     tmp_path):
    """A partition in the format Spark wrote metrics in (INT96 timestamps)
    and the driver-written ones read back as one table with the pinned
    types, in either file order, and the resume sees every bucket done."""
    out = str(tmp_path / "mixed")
    s = run_extraction(spark, transcripts_df, out, "rX", n_buckets=N_BUCKETS)
    path = s["metrics_path"]
    want = sorted(spark.read.parquet(path).collect())
    first = min(r.p for r in want)
    spark_rows = (spark.read.parquet(path).where(F.col("p") == first)
                  .drop("p").collect())
    schema = spark.read.parquet(path).drop("p").schema
    for f in _part_files(f"{path}/p={first}"):
        os.remove(f)
    (spark.createDataFrame(spark_rows, schema).coalesce(1).write
     .mode("overwrite").parquet(f"{path}/p={first}"))

    started = METRICS_COLUMNS.index("started")
    written = [pq.ParquetFile(f).schema.column(started).physical_type
               for f in _part_files(path)]
    assert written.count("INT96") == 1
    assert set(written) == {"INT64", "INT96"}
    others = [f"{path}/p={r.p}" for r in want if r.p != first]
    for paths in ([path], [*others, f"{path}/p={first}"]):
        m = spark.read.option("basePath", path).parquet(*paths)
        assert m.dtypes == RUN_METRICS_DTYPES
        assert sorted(m.collect()) == want
    done = {r.p for r in want}
    assert done_buckets(spark, path, expect={"n_buckets": N_BUCKETS}) == done
    again = run_extraction(spark, transcripts_df, out, "rX",
                           n_buckets=N_BUCKETS)
    assert again["buckets_done_before"] == len(done)


class _FailingFs:
    """A Hadoop FileSystem whose first ``delete`` of a committed partition
    (``at="delete"``: every file staged, nothing replaced yet) or first
    ``rename`` (``at="rename"``: the partition deleted, not yet replaced)
    raises instead."""

    def __init__(self, fs, at):
        self._fs, self._at = fs, at

    def __getattr__(self, name):
        return getattr(self._fs, name)

    def delete(self, path, recursive):
        if (self._at == "delete"
                and not path.getName().startswith(STAGING_PREFIX)):
            raise RuntimeError("injected crash before the delete")
        return self._fs.delete(path, recursive)

    def rename(self, src, dst):
        if self._at == "rename":
            raise RuntimeError("injected crash before the rename")
        return self._fs.rename(src, dst)


@pytest.mark.parametrize("at", ["delete", "rename"])
def test_marker_crash_after_data_write_redoes_the_wave(
        spark, transcripts_df, tmp_path, monkeypatch, at):
    """A crash in wave 2's marker step, after its data write, leaves that
    wave undone and stale staging directories that Spark's reads skip; the
    resume clears them and converges on the single-run output."""
    want = (spark.read.parquet(
        run_extraction(spark, transcripts_df, str(tmp_path / "base"), "rK",
                       n_buckets=N_BUCKETS)["data_path"])
        .select("conv_id", "turn_idx", "extracted_text")
        .orderBy("conv_id", "turn_idx").collect())
    filled = sorted(r.p for r in with_bucket(transcripts_df, N_BUCKETS)
                    .select("p").distinct().collect())
    wave1 = set(filled[:3])
    assert len(filled) > 3

    markers = {"n": 0}
    real_markers, real_fs = cp._write_markers, cp._hadoop_fs

    def counted(*a):
        markers["n"] += 1
        return real_markers(*a)

    def fs_of(*a):
        fs, jpath, root = real_fs(*a)
        return (_FailingFs(fs, at) if markers["n"] == 2 else fs), jpath, root

    out = str(tmp_path / "crash")
    metrics = f"{out}/run_metrics"
    monkeypatch.setattr(cp, "_write_markers", counted)
    monkeypatch.setattr(cp, "_hadoop_fs", fs_of)
    with pytest.raises(RuntimeError, match="injected"):
        run_extraction(spark, transcripts_df, out, "rK", n_buckets=N_BUCKETS,
                       wave_buckets=3)
    monkeypatch.undo()

    assert done_buckets(spark, metrics) == wave1
    assert [d for d in os.listdir(metrics)
            if d.startswith(STAGING_PREFIX)] != []
    assert {r.p for r in spark.read.parquet(metrics).collect()} == wave1

    resumed = run_extraction(spark, transcripts_df, out, "rK",
                             n_buckets=N_BUCKETS, wave_buckets=3)
    assert resumed["buckets_done_before"] == len(wave1)
    assert [d for d in os.listdir(metrics)
            if d.startswith(STAGING_PREFIX)] == []
    assert done_buckets(spark, metrics) == set(filled)
    got = (spark.read.parquet(resumed["data_path"])
           .select("conv_id", "turn_idx", "extracted_text")
           .orderBy("conv_id", "turn_idx").collect())
    assert got == want


def test_first_wave_marker_crash_resumes(spark, transcripts_df, tmp_path,
                                         monkeypatch):
    """When the metrics path holds nothing but stale staging directories,
    the resume finds no done bucket rather than failing to read the
    table."""
    out = str(tmp_path / "first")
    real_fs = cp._hadoop_fs

    def fs_of(*a):
        fs, jpath, root = real_fs(*a)
        return _FailingFs(fs, "rename"), jpath, root

    monkeypatch.setattr(cp, "_hadoop_fs", fs_of)
    with pytest.raises(RuntimeError, match="injected"):
        run_extraction(spark, transcripts_df, out, "rF", n_buckets=N_BUCKETS)
    monkeypatch.undo()
    stale = os.listdir(f"{out}/run_metrics")
    assert stale and all(d.startswith(STAGING_PREFIX) for d in stale)
    assert done_buckets(spark, f"{out}/run_metrics") == set()
    resumed = run_extraction(spark, transcripts_df, out, "rF",
                             n_buckets=N_BUCKETS)
    assert resumed["buckets_done_before"] == 0
    assert (spark.read.parquet(resumed["data_path"]).count()
            == transcripts_df.count())


def test_stream_zero_row_file_commits_nothing(spark, transcripts_df,
                                              tmp_path):
    """A zero-row parquet file makes an empty micro-batch: no data partition,
    no metrics row, and the observation of the empty write still reads."""
    from stream_job import run_stream

    src = str(tmp_path / "src")
    spark.createDataFrame([], TRANSCRIPTS_DDL).coalesce(1).write.parquet(src)
    transcripts_df.coalesce(1).write.mode("append").parquet(src)
    out = tmp_path / "out"
    q = run_stream(spark, src, str(out), max_files_per_trigger=1,
                   available_now=True)
    q.awaitTermination(180)
    assert q.exception() is None
    data = spark.read.parquet(str(out / "extracted"))
    metrics = spark.read.parquet(str(out / "batch_metrics"))
    batches = {r.batch_id for r in data.select("batch_id").distinct().collect()}
    assert len(batches) == 1
    assert data.count() == transcripts_df.count()
    (batch,) = batches
    assert [(r.batch_id, r.turns) for r in metrics.collect()] == [
        (batch, transcripts_df.count())]
    # the empty batch left no partition, and the one-key commit left neither
    # a _SUCCESS file nor a staging directory
    for table in ("extracted", "batch_metrics"):
        assert os.listdir(out / table) == [f"batch_id={batch}"]
    _assert_only_part_files(out / "extracted" / f"batch_id={batch}")


def _assert_only_part_files(path):
    """``path`` holds parquet part files and their checksums, nothing else."""
    names = os.listdir(path)
    assert names
    for name in names:
        assert (name.startswith("part-")
                or name.startswith(".part-") and name.endswith(".crc")), name


def _rows(df):
    return sorted((r.conv_id, r.turn_idx, r.extracted_text)
                  for r in df.collect())


@pytest.fixture(scope="module")
def halves(transcripts_df):
    """Two extracted frames with no turn in common."""
    return [extract_transcripts(transcripts_df.where(F.col("turn_idx") % 2 == i))
            for i in (0, 1)]


def test_one_key_commit_replaces_the_key(spark, halves, tmp_path):
    """Committing one key twice leaves exactly the second frame's rows under
    ``key=value/`` and one marker, with no staging leftovers."""
    data, metrics = tmp_path / "data", tmp_path / "metrics"
    for frame in halves:
        commit_by_key(frame, "batch_id", [3], str(data), str(metrics))
    got = spark.read.parquet(str(data))
    assert {r.batch_id for r in got.select("batch_id").collect()} == {3}
    assert _rows(got) == _rows(halves[1])
    assert [(r.batch_id, r.turns) for r in
            spark.read.parquet(str(metrics)).collect()] == [
        (3, halves[1].count())]
    assert os.listdir(data) == os.listdir(metrics) == ["batch_id=3"]
    _assert_only_part_files(data / "batch_id=3")


def test_one_key_crash_before_the_swap_keeps_the_previous_data(
        spark, halves, tmp_path, monkeypatch):
    """A one-key commit that dies after staging its data, before replacing
    ``key=value/``, leaves the previous partition and marker readable; the
    next commit clears the stale staging directory."""
    data, metrics = tmp_path / "data", tmp_path / "metrics"
    first, second = halves
    commit_by_key(first, "batch_id", [3], str(data), str(metrics))
    real_fs = cp._hadoop_fs

    def fs_of(*a):
        fs, jpath, root = real_fs(*a)
        return _FailingFs(fs, "delete"), jpath, root

    monkeypatch.setattr(cp, "_hadoop_fs", fs_of)
    with pytest.raises(RuntimeError, match="injected"):
        commit_by_key(second, "batch_id", [3], str(data), str(metrics))
    monkeypatch.undo()
    assert [d for d in os.listdir(data)
            if d.startswith(STAGING_PREFIX)] != []
    assert _rows(spark.read.parquet(str(data))) == _rows(first)
    assert [r.turns for r in spark.read.parquet(str(metrics)).collect()] == [
        first.count()]

    commit_by_key(second, "batch_id", [3], str(data), str(metrics))
    assert os.listdir(data) == ["batch_id=3"]
    assert _rows(spark.read.parquet(str(data))) == _rows(second)


def test_stream_micro_batches_after_the_first_compile_nothing(
        spark, transcripts_df, tmp_path, codegen_compiles):
    """The batch id never enters a micro-batch's plan, so once one batch has
    run, later batches of the same query shape reuse its compiled code."""
    from stream_job import run_stream

    src, out = str(tmp_path / "src"), str(tmp_path / "out")

    def drain():
        q = run_stream(spark, src, out, max_files_per_trigger=1,
                       available_now=True)
        q.awaitTermination(180)
        assert q.exception() is None
        return [p["batchId"] for p in q.recentProgress if p["numInputRows"]]

    transcripts_df.coalesce(1).write.parquet(src)
    assert drain() == [0]
    transcripts_df.repartition(3).write.mode("append").parquet(src)
    before = codegen_compiles()
    assert drain() == [1, 2, 3]
    assert codegen_compiles() - before == 0


def test_empty_bucket_gets_no_metrics_row_and_resume_skips_it(
        spark, tmp_path, monkeypatch):
    df = spark.createDataFrame(generate_transcripts(2, seed=43),
                               schema=TRANSCRIPTS_DDL)
    n_buckets = 16
    filled = {r.p for r in with_bucket(df, n_buckets)
              .select("p").distinct().collect()}
    assert len(filled) < n_buckets  # the fixture leaves buckets empty
    out = str(tmp_path / "sparse")
    s = run_extraction(spark, df, out, "rE", n_buckets=n_buckets,
                       wave_buckets=2)
    assert done_buckets(spark, s["metrics_path"]) == filled
    assert spark.read.parquet(s["data_path"]).count() == df.count()

    calls = []
    real_write = cp.overwrite_partitions
    monkeypatch.setattr(cp, "overwrite_partitions",
                        lambda *a, **k: calls.append(a[1]) or real_write(*a, **k))
    again = run_extraction(spark, df, out, "rE", n_buckets=n_buckets,
                           wave_buckets=2)
    assert again["buckets_done_before"] == len(filled)
    assert calls == []  # the empty buckets are profiled, not committed


def test_profile_mismatch_raises_before_metrics(spark, transcripts_df,
                                                tmp_path, monkeypatch):
    """Turns observed on a wave's write that differ from the run's profile
    raise a named error with no metrics row written, so a resume redoes the
    wave and converges on the single-run output."""
    want = (spark.read.parquet(
        run_extraction(spark, transcripts_df, str(tmp_path / "base"), "rM",
                       n_buckets=N_BUCKETS)["data_path"])
        .select("conv_id", "turn_idx", "extracted_text")
        .orderBy("conv_id", "turn_idx").collect())
    real_profile = cp.bucket_profile

    def off_by_one(*args):
        return {p: (c, t + 1) for p, (c, t) in real_profile(*args).items()}

    out = str(tmp_path / "drift")
    monkeypatch.setattr(cp, "bucket_profile", off_by_one)
    with pytest.raises(ProfileMismatchError, match="profile counted"):
        run_extraction(spark, transcripts_df, out, "rM", n_buckets=N_BUCKETS,
                       wave_buckets=4)
    monkeypatch.setattr(cp, "bucket_profile", real_profile)
    assert done_buckets(spark, f"{out}/run_metrics") == set()

    resumed = run_extraction(spark, transcripts_df, out, "rM",
                             n_buckets=N_BUCKETS, wave_buckets=4)
    assert resumed["buckets_done_before"] == 0
    got = (spark.read.parquet(resumed["data_path"])
           .select("conv_id", "turn_idx", "extracted_text")
           .orderBy("conv_id", "turn_idx").collect())
    assert got == want


def test_run_profiles_once_instead_of_probing_each_wave(
        spark, transcripts_df, tmp_path, monkeypatch):
    """A waved run counts its buckets in one profile and never probes a
    wave for emptiness."""
    from pyspark.sql.classic.dataframe import DataFrame

    profiles = []
    real_profile = cp.bucket_profile
    monkeypatch.setattr(cp, "bucket_profile",
                        lambda *a: profiles.append(a) or real_profile(*a))

    def no_probe(self):
        raise AssertionError("isEmpty probe in a checkpointed run")

    monkeypatch.setattr(DataFrame, "isEmpty", no_probe)
    s = run_extraction(spark, transcripts_df, str(tmp_path / "w"), "rO",
                       n_buckets=N_BUCKETS, wave_buckets=3)
    assert len(profiles) == 1
    assert s["buckets_run"] == N_BUCKETS


def test_waves_are_bounded_by_the_observed_keys(spark, transcripts_df,
                                                tmp_path, monkeypatch):
    """However many buckets a run or its wave_buckets asks for, one commit
    observes at most OBSERVED_KEYS of them, so the aggregates each written
    row evaluates stay bounded; the split run matches the oracle."""
    monkeypatch.setattr(cp, "OBSERVED_KEYS", 3)
    widths = []
    real_commit = cp.commit_by_key
    monkeypatch.setattr(cp, "commit_by_key",
                        lambda df, key, keys, *a, **k:
                        widths.append(len(keys)) or
                        real_commit(df, key, keys, *a, **k))
    s = run_extraction(spark, transcripts_df, str(tmp_path / "b"), "rB",
                       n_buckets=N_BUCKETS, wave_buckets=N_BUCKETS)
    filled = with_bucket(transcripts_df, N_BUCKETS).select("p").distinct()
    assert max(widths) == 3 and sum(widths) == filled.count() > 3
    _assert_metrics_match(
        spark.read.parquet(s["metrics_path"]),
        _oracle(spark.read.parquet(s["data_path"]), "p"), "p")
    with pytest.raises(ValueError, match="at most 3"):
        real_commit(spark.range(1), "id", [0, 1, 2, 3],
                    str(tmp_path / "d"), str(tmp_path / "m"))


def test_zero_buckets_fails_before_any_spark_job(spark, transcripts_df,
                                                tmp_path, spark_job_ids):
    """n_buckets < 1 makes no wave: rather than a success summary with
    nothing written, the run is rejected before any Spark job."""
    out = tmp_path / "zero"
    with pytest.raises(ValueError, match="n_buckets must be >= 1"):
        run_extraction(spark, transcripts_df, str(out), "rZ", n_buckets=0)
    assert spark_job_ids() == []
    assert not out.exists()
