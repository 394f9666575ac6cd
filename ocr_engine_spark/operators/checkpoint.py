"""Checkpoint/resume + per-partition lineage & metrics (north_rule requirement).

Protocol (SURVEY.md §4.2.3):

- The corpus is bucketed into ``n_buckets`` deterministic partitions:
  p = pmod(salted_key(), n_buckets), i.e. xxhash64(conv_id, turn_idx // SALT_BLOCK).
- Output and metrics are parquet tables partitioned by ``p``, and a commit
  overwrites the partitions it writes, so re-running a bucket is idempotent
  (exactly-once by overwrite, the Iceberg overwritePartitions analogue —
  Parquet-local here, catalog pluggable).  A commit of many keys (a wave) is a
  DYNAMIC partition overwrite.  A commit of one key (every micro-batch of the
  stream job) writes the frame without its key into a hidden staging
  directory, and the driver renames that over ``key=value/``: the key value
  never enters the write's plan, so its generated code is the same for every
  key value and Spark compiles it once per session, not once per commit.
- A bucket is DONE iff its metrics row (status='done') exists; metrics are written
  AFTER the bucket's data (``commit_by_key``, the one data-then-metrics commit
  shared with the stream job's micro-batches), so a crash between the two re-runs
  that bucket.  The metrics are observed on the data write itself
  (``DataFrame.observe``), and the driver writes them as one small parquet file
  per bucket through the session's Hadoop ``FileSystem`` (the Iceberg split:
  executors write data, the driver commits metadata).  The data write is the
  commit's one Spark action: nothing is persisted and the fresh output is
  never read back.
- Resume = anti-join pending buckets against the done-set — only undone buckets are
  recomputed (left_anti on p).  Metrics rows record ``n_buckets`` and the dispatch
  policy; a resume under a different value of either raises instead of mixing
  bucket layouts or dispatch policies in one table.
- One per-run profile (``bucket_profile``) counts each pending bucket's
  conversations and turns from ``conv_id``/``turn_idx`` alone, in the JVM.
  Empty buckets are skipped (they never get a metrics row, so a resume skips
  them again), the profile supplies each bucket's exact ``conv_ids``, and a
  wave whose written turns differ from the profile raises
  ``ProfileMismatchError`` before its metrics write.
- Spark's job commit is all-or-nothing, so durability granularity == job
  granularity: a run is split into per-wave data+metrics commits of at most
  ``wave_buckets`` and at most ``OBSERVED_KEYS`` buckets (a crash loses at
  most one in-flight wave; see run_extraction's docstring).

Metrics schema follows FIXTURES.md §3 run_metrics: the graft of the reference's
per-stage Timer instrumentation (/root/reference/src/utils.py:45-56) and manifest
accumulation (/root/reference/run.py:91-118) — metrics written as data, not logs.
"""

from __future__ import annotations

import io
import json
import os
import uuid
from datetime import datetime, timezone

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, Observation, SparkSession, functions as F

from ocr_engine_spark.config import DEFAULT_CONFIG, EngineConfig
from ocr_engine_spark.operators.extract import extract_transcripts, salted_key
from ocr_engine_spark.sources.io import overwrite_partitions


def derive_output_keys(df: DataFrame, out_dir: str, ext: str = ".tsv") -> DataFrame:
    """E14 output-key construction (construct_file_path/get_name,
    /root/reference/src/utils.py:251-269): key = {out_dir}/{conv_id}/{turn_idx}{ext},
    derived as a pure column expression so the sink layer never round-trips
    through Python for naming."""
    return df.withColumn(
        "output_key",
        F.concat(
            F.concat_ws("/", F.lit(out_dir.rstrip("/")),
                        F.col("conv_id"), F.col("turn_idx").cast("string")),
            F.lit(ext),
        ),
    )


def with_bucket(df: DataFrame, n_buckets: int) -> DataFrame:
    return df.withColumn(
        "p", F.pmod(salted_key(), F.lit(n_buckets)).cast("int"))


def done_buckets(spark: SparkSession, metrics_path: str,
                 expect: dict[str, object] | None = None) -> set[int]:
    """Bucket ids whose metrics row says status='done'.

    ``expect`` maps metrics columns to this run's value.  A resume under
    another ``n_buckets`` would duplicate and drop turns, and one under
    another ``dispatch`` would mix sniffed and declared-kind buckets, so a
    committed row holding a different value raises (the fix is a fresh
    out_dir or the original flags).  Rows written before a column existed
    (absent or null) skip its check.  The done set and the checks share one
    read.
    """
    fs, jpath, root = _hadoop_fs(spark, metrics_path)
    # a marker write cut before its first rename leaves only hidden staging
    # directories, which hold no key=value partition for Spark to read
    if not fs.globStatus(jpath(root, "*=*")):
        return set()
    m = spark.read.parquet(metrics_path).where(F.col("status") == "done")
    checked = [c for c in (expect or {}) if c in m.columns]
    rows = m.select("p", *checked).distinct().collect()
    for c in checked:
        bad = sorted({r[c] for r in rows} - {expect[c], None})
        if bad:
            raise ValueError(
                f"resume {c} mismatch: committed buckets were written with "
                f"{c}={bad[0]!r} but this run requests {c}={expect[c]!r}; use "
                f"a fresh out_dir or rerun with the original {c}")
    return {r["p"] for r in rows}


# metrics row layout: run_metrics (FIXTURES.md §3) writes every column, the
# stream job's batch_metrics the untagged ones; the commit key is the
# partition directory, so Spark reads it back last.  The types are the ones
# Spark itself gives these columns; a timestamp without its zone would read
# back as timestamp_ntz.
METRICS_SCHEMA = pa.schema([
    ("run_id", pa.string()), ("conv_ids", pa.int64()), ("turns", pa.int64()),
    ("spans", pa.int64()), ("strip_ratio", pa.float64()),
    ("started", pa.timestamp("us", tz="UTC")),
    ("finished", pa.timestamp("us", tz="UTC")),
    ("status", pa.string()), ("dispatch", pa.string()),
    ("n_buckets", pa.int32())])
METRICS_COLUMNS = tuple(METRICS_SCHEMA.names)

# prefix of the hidden directories a commit stages its files in, under the
# metrics path for the markers and under the data path for a one-key data
# write: Spark's file listing skips names that start with "."
STAGING_PREFIX = ".markers-"


# the most key values one commit observes: every row of its data write
# evaluates three or four aggregates per key value, so a wave of buckets is
# capped at this many and the cost per row does not grow with ``n_buckets``
OBSERVED_KEYS = 64


class ProfileMismatchError(RuntimeError):
    """A wave wrote a different number of turns to a bucket than the run's
    profile counted in it (the input changed between the two reads).  Raised
    before the wave's metrics write, so a resume redoes the wave."""


def bucket_profile(transcripts: DataFrame, n_buckets: int,
                   buckets: list[int]) -> dict[int, tuple[int, int]]:
    """``{p: (conv_ids, turns)}`` for the non-empty buckets among ``buckets``.

    One aggregation that reads only ``conv_id`` and ``turn_idx`` and runs in
    the JVM; the driver holds at most ``n_buckets`` rows.  ``conv_ids`` is
    exact (``countDistinct``), whatever the size of the run.
    """
    bucketed = with_bucket(transcripts.select("conv_id", "turn_idx"),
                           n_buckets)
    if len(buckets) < n_buckets:
        bucketed = bucketed.where(F.col("p").isin(buckets))
    rows = (bucketed.groupBy("p")
            .agg(F.countDistinct("conv_id").alias("conv_ids"),
                 F.count(F.lit(1)).alias("turns"))
            .collect())
    return {r["p"]: (r["conv_ids"], r["turns"]) for r in rows}


def commit_by_key(df: DataFrame, key: str,
                  keys: list[int] | dict[int, tuple[int, int]],
                  data_path: str, metrics_path: str,
                  tags: dict | None = None) -> None:
    """The one data-then-metrics commit, shared by the checkpoint's waves and
    the stream job's micro-batches (the reference writes each result and its
    manifest row in one place, reference run.py:91-118).

    Overwrite ``df``'s data partitions by ``key`` (whose values are among
    ``keys``), observing per key value the turns, ``sum`` of ``n_spans`` and
    ``avg`` of ``strip_ratio`` on that one write, the commit's only Spark
    action.  Then the driver writes one metrics row per key value that has
    turns (status='done' plus ``tags``, plain Python values of other
    ``METRICS_COLUMNS``) as ``metrics_path/key=value/`` (see
    ``_write_markers``).  A commit tagged with ``started`` is also stamped
    ``finished``, the driver's clock once the data write returns.  The
    metrics are the done-markers, strictly after the data, so a crash
    anywhere between the two redoes the key.  Nothing is persisted and the
    fresh output is never read back.

    The number of keys picks the write.  Many keys (a wave) run one dynamic
    partition overwrite partitioned by ``key``, observing ``count_if(key ==
    k)`` and the like per key value.  One key (every micro-batch) is
    ``_write_one_key``: every row of ``df`` belongs to it, so the write
    drops ``key``, observes plain aggregates and is swapped into
    ``key=value/`` by the driver.  No key literal may enter that plan:
    Spark inlines literals into its generated code, so a plan that named the
    batch id would compile new classes for every micro-batch and run them
    cold.

    ``keys`` may map each key value to its ``(conv_ids, turns)`` counted
    before the write (``bucket_profile``): ``conv_ids`` then comes from it,
    and observed turns that differ from it raise ``ProfileMismatchError``
    before any metrics row is written.  A plain list observes ``conv_ids`` as
    ``size(collect_set(conv_id))``, which holds a key's distinct ids in
    memory: fine for a micro-batch, which ``maxFilesPerTrigger`` bounds, but
    not for an unbounded wave.  Each key value adds three or four aggregates
    to every row of the write, so one commit takes at most ``OBSERVED_KEYS``
    of them.
    """
    if len(keys) > OBSERVED_KEYS:
        raise ValueError(f"one commit observes at most {OBSERVED_KEYS} "
                         f"{key} values, got {len(keys)}")
    profiled = keys if isinstance(keys, dict) else None
    tags = tags or {}
    if len(keys) == 1:
        got = _write_one_key(df, key, next(iter(keys)), data_path,
                             convs=profiled is None)
    else:
        exprs = []
        for i, k in enumerate(keys):
            on = F.col(key) == k
            exprs += [F.count_if(on).alias(f"turns{i}"),
                      F.sum(F.when(on, F.col("n_spans"))).alias(f"spans{i}"),
                      F.avg(F.when(on, F.col("strip_ratio")))
                      .alias(f"ratio{i}")]
            if profiled is None:
                exprs.append(F.size(F.collect_set(F.when(on, F.col("conv_id"))))
                             .alias(f"convs{i}"))
        seen = Observation()
        overwrite_partitions(df.observe(seen, *exprs), data_path, key)
        got = seen.get
    if "started" in tags:
        tags = {**tags, "finished": datetime.now(timezone.utc)}

    rows = {}
    for i, k in enumerate(keys):
        turns = got[f"turns{i}"]
        if profiled is None:
            conv_ids = got[f"convs{i}"]
        else:
            conv_ids, want = profiled[k]
            if turns != want:
                raise ProfileMismatchError(
                    f"{key}={k}: the write saw {turns} turns but the run's "
                    f"profile counted {want}; the input changed during the "
                    "run, so this wave stays undone and a resume redoes it")
        if turns:
            rows[k] = {"conv_ids": conv_ids, "turns": turns,
                       "spans": got[f"spans{i}"],
                       "strip_ratio": got[f"ratio{i}"], "status": "done",
                       **tags}
    if rows:
        _write_markers(df.sparkSession, metrics_path, key, rows)


def _write_one_key(df: DataFrame, key: str, value: int, data_path: str,
                   convs: bool) -> dict:
    """Overwrite ``data_path/key=value/`` with ``df`` (all of whose rows
    belong to that key value) and return what the write observed, keyed as
    ``commit_by_key`` reads it.

    Spark writes ``df`` without ``key`` into a fresh hidden directory of
    ``data_path``, with no ``_SUCCESS`` file.  If the write saw turns, the
    driver deletes ``key=value/`` and renames the staged directory over it;
    otherwise it deletes the staged directory, so an empty commit leaves no
    partition.  A crash before the delete leaves the previous ``key=value/``
    readable and a stale staging directory, which Spark's listing skips and
    the next one-key commit clears."""
    fs, jpath, root = _hadoop_fs(df.sparkSession, data_path)
    _clear_staging(fs, jpath, root)
    stage = jpath(root, f"{STAGING_PREFIX}{uuid.uuid4().hex}")
    exprs = [F.count(F.lit(1)).alias("turns0"),
             F.sum("n_spans").alias("spans0"),
             F.avg("strip_ratio").alias("ratio0")]
    if convs:
        exprs.append(F.size(F.collect_set("conv_id")).alias("convs0"))
    seen = Observation()
    (df.drop(key).observe(seen, *exprs).write
     .mode("errorifexists")
     .option("mapreduce.fileoutputcommitter.marksuccessfuljobs", "false")
     .parquet(stage.toString()))
    got = seen.get
    if got["turns0"]:
        _replace(fs, stage, jpath(root, f"{key}={value}"))
    else:
        fs.delete(stage, True)
    return got


def _clear_staging(fs, jpath, root) -> None:
    """Delete the staging directories a crashed commit left under ``root``."""
    for stale in fs.globStatus(jpath(root, STAGING_PREFIX + "*")) or ():
        fs.delete(stale.getPath(), True)


def _replace(fs, stage, final) -> None:
    """Delete ``final`` and rename the staged directory ``stage`` to it."""
    fs.delete(final, True)
    if not fs.rename(stage, final):
        raise OSError(f"could not rename {stage.toString()} to "
                      f"{final.toString()}")


def _hadoop_fs(spark: SparkSession, path: str):
    """``(FileSystem, Path class, root Path)`` of ``path`` under the session's
    Hadoop config, so file, hdfs and s3a targets resolve as the job's own
    writes do."""
    jpath = spark._jvm.org.apache.hadoop.fs.Path
    root = jpath(path)
    return root.getFileSystem(spark._jsc.hadoopConfiguration()), jpath, root


def _write_markers(spark: SparkSession, metrics_path: str, key: str,
                   rows: dict) -> None:
    """Commit one metrics row per key value from the driver, with no Spark
    job.  Each row becomes an in-memory parquet file (``METRICS_SCHEMA``
    types, named ``part-….parquet``) staged in a hidden directory of
    ``metrics_path``; once every file is staged, each key value's
    ``key=value/`` is deleted and its staged directory renamed over it.  A
    crash before a key's rename leaves that key without a marker (a resume
    redoes it) and stale staging directories, which Spark's listing skips
    and the next commit clears.  One writer owns a metrics path at a time,
    as with the data path."""
    fs, jpath, root = _hadoop_fs(spark, metrics_path)
    _clear_staging(fs, jpath, root)
    staged = {}
    for k, row in rows.items():
        schema = pa.schema([f for f in METRICS_SCHEMA if f.name in row])
        buf = io.BytesIO()
        pq.write_table(pa.Table.from_pylist([row], schema=schema), buf)
        name = uuid.uuid4()
        staged[k] = jpath(root, f"{STAGING_PREFIX}{name.hex}")
        out = fs.create(
            jpath(staged[k], f"part-00000-{name}.c000.snappy.parquet"), False)
        try:
            out.write(buf.getvalue())
        finally:
            out.close()
    for k, stage in staged.items():
        _replace(fs, stage, jpath(root, f"{key}={k}"))


def _dispatch_desc(dispatch_tool_json: bool,
                   tool_kind_map: dict[str, str] | None) -> str:
    return json.dumps(
        {"dispatch_tool_json": dispatch_tool_json,
         "tool_kind_map": tool_kind_map},
        sort_keys=True)


def run_extraction(spark: SparkSession, transcripts: DataFrame, out_dir: str,
                   run_id: str, n_buckets: int = 32,
                   cfg: EngineConfig = DEFAULT_CONFIG,
                   wave_buckets: int | None = None,
                   passthrough: tuple[str, ...] = (),
                   dispatch_tool_json: bool = False,
                   tool_kind_map: dict[str, str] | None = None) -> dict:
    """Checkpointed, resumable extraction run.

    Layout: {out_dir}/extracted/p=*/   (data, overwritten by p)
            {out_dir}/run_metrics/p=*/ (lineage rows, written after data)

    ``passthrough`` columns ride through the kernel into the checkpointed
    output (e.g. ("role", "tool", "ts") so downstream conversation assembly
    can consume the committed extraction without re-joining the source);
    ``dispatch_tool_json`` / ``tool_kind_map`` enable the same S1 declared-kind
    dispatch as ``extract_transcripts``, which every wave runs.

    ``wave_buckets``: commit granularity.  The pending non-empty buckets are
    processed in waves of ``wave_buckets``, each wave its own
    data-then-metrics commit: a crash loses at most the in-flight wave and
    resume restarts exactly there.  A wave holds at most ``OBSERVED_KEYS``
    buckets (the most one commit observes), which is also the default (None):
    fewest waves, but Spark's job commit is all-or-nothing, so a crash
    durably keeps nothing of the in-flight wave.  At the default
    ``n_buckets`` that is one wave for the whole run.  Each wave re-scans the
    input (the bucket id is a hash, not a pushable predicate), so at cluster
    scale either keep ``n_buckets`` to a few waves or seed from a
    p-partitioned staging table (``write_bucketed``) so each wave's scan
    prunes.

    Resuming with a different ``n_buckets`` or dispatch policy than the
    committed buckets used raises ``ValueError`` (see ``done_buckets``).

    Returns a summary dict {run_id, buckets_total, buckets_done_before, buckets_run}.
    """
    if n_buckets < 1:
        # no bucket means no wave: a success summary with nothing written
        raise ValueError(f"n_buckets must be >= 1, got {n_buckets}")
    if wave_buckets is not None and wave_buckets < 1:
        # a non-positive wave size would make `waves` empty and silently skip
        # every bucket while still returning a success summary
        raise ValueError(f"wave_buckets must be >= 1, got {wave_buckets}")
    data_path = os.path.join(out_dir, "extracted")
    metrics_path = os.path.join(out_dir, "run_metrics")

    tags = {"dispatch": _dispatch_desc(dispatch_tool_json, tool_kind_map),
            "n_buckets": n_buckets}
    done = done_buckets(spark, metrics_path, expect=tags)
    bucketed = with_bucket(transcripts, n_buckets)
    pending_ids = [p for p in range(n_buckets) if p not in done]
    # empty buckets never get a metrics row: each run profiles them again
    # and skips them
    profile = (bucket_profile(transcripts, n_buckets, pending_ids)
               if pending_ids else {})
    pending_ids = [p for p in pending_ids if p in profile]
    size = min(wave_buckets or OBSERVED_KEYS, OBSERVED_KEYS)
    waves = [pending_ids[i:i + size] for i in range(0, len(pending_ids), size)]
    for wave in waves:
        pending = bucketed
        if len(wave) < n_buckets:
            pending = bucketed.where(F.col("p").isin(wave))
        _run_wave(pending, {p: profile[p] for p in wave}, data_path,
                  metrics_path, {"run_id": run_id, **tags}, cfg, passthrough,
                  dispatch_tool_json, tool_kind_map)

    ran = n_buckets - len(done)
    return {
        "run_id": run_id,
        "buckets_total": n_buckets,
        "buckets_done_before": len(done),
        "buckets_run": ran,
        "data_path": data_path,
        "metrics_path": metrics_path,
    }


def _run_wave(pending: DataFrame, profiled: dict[int, tuple[int, int]],
              data_path: str, metrics_path: str, tags: dict, cfg: EngineConfig,
              passthrough: tuple[str, ...], dispatch_tool_json: bool,
              tool_kind_map: dict[str, str] | None) -> None:
    """One durable commit unit: extract `pending` (the rows of the profiled,
    non-empty buckets ``profiled``), hash-partitioned by bucket, then commit
    its data and its metrics rows."""
    started = datetime.now(timezone.utc)
    # every task of the write sets up the observation's aggregates for each
    # key, so a wave takes at most a few tasks per core, not one per bucket
    tasks = min(len(profiled),
                3 * pending.sparkSession.sparkContext.defaultParallelism)
    extracted = extract_transcripts(
        pending.repartition(tasks, "p"), cfg,
        passthrough=(*passthrough, "p"),
        dispatch_tool_json=dispatch_tool_json, tool_kind_map=tool_kind_map)
    # `extracted` holds only pending buckets, so every metrics row is new
    commit_by_key(
        extracted, "p", profiled, data_path, metrics_path,
        tags={**tags, "started": started})
