"""Checkpoint/resume + per-partition lineage & metrics (north_rule requirement).

Protocol (SURVEY.md §4.2.3):

- The corpus is bucketed into ``n_buckets`` deterministic partitions:
  p = pmod(salted_key(), n_buckets), i.e. xxhash64(conv_id, turn_idx // SALT_BLOCK).
- Output and metrics are parquet tables partitioned by ``p`` with DYNAMIC partition
  overwrite, so re-running a bucket is idempotent (exactly-once by overwrite, the
  Iceberg overwritePartitions analogue — Parquet-local here, catalog pluggable).
- A bucket is DONE iff its metrics row (status='done') exists; metrics are written
  AFTER the bucket's data (``commit_by_key``, the one data-then-metrics commit
  shared with the stream job's micro-batches), so a crash between the two re-runs
  that bucket.
- Resume = anti-join pending buckets against the done-set — only undone buckets are
  recomputed (left_anti on p).  Metrics rows record ``n_buckets`` and the dispatch
  policy; a resume under a different value of either raises instead of mixing
  bucket layouts or dispatch policies in one table.
- Spark's job commit is all-or-nothing, so durability granularity == job
  granularity: ``wave_buckets`` splits a run into per-wave data+metrics commits
  (a crash loses at most one in-flight wave; see run_extraction's docstring).

Metrics schema follows FIXTURES.md §3 run_metrics: the graft of the reference's
per-stage Timer instrumentation (/root/reference/src/utils.py:45-56) and manifest
accumulation (/root/reference/run.py:91-118) — metrics written as data, not logs.
"""

from __future__ import annotations

import json
import os
import time

from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession, functions as F

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
    if not os.path.exists(metrics_path):
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
# stream job's batch_metrics the untagged ones; the commit key comes last
METRICS_COLUMNS = ("run_id", "conv_ids", "turns", "spans", "strip_ratio",
                   "started", "finished", "status", "dispatch", "n_buckets")


def commit_by_key(df: DataFrame, key: str, data_path: str, metrics_path: str,
                  tags: dict | None = None) -> None:
    """The one data-then-metrics commit, shared by the checkpoint's waves and
    the stream job's micro-batches (the reference writes each result and its
    manifest row in one place, reference run.py:91-118).

    Persist ``df``, overwrite its data partitions by ``key``, then overwrite
    its per-key metrics rows (status='done' plus ``tags``: other
    ``METRICS_COLUMNS`` as constants, or constant Columns such as
    ``F.current_timestamp()``, resolved after the data commit).  The metrics
    are the done-markers, strictly after the data, so a crash between the two
    redoes the key.  The data write and the metrics share one
    materialization: the input is scanned once and the fresh output is never
    read back.  DISK_ONLY, not MEMORY_AND_DISK: memory caching unrolls a
    whole partition into storage memory and OOMs small heaps on fat buckets
    and on the fat micro-batches of an ``availableNow`` backfill, while disk
    blocks stream out incrementally (measured: a 1.1M-turn / 4-bucket run
    OOMs a default 1g driver with memory caching and passes with disk-only).
    """
    tags = tags or {}
    df.persist(StorageLevel.DISK_ONLY)
    try:
        overwrite_partitions(df, data_path, key)
        metrics = (
            df.groupBy(key)
            .agg(
                F.countDistinct("conv_id").alias("conv_ids"),
                F.count(F.lit(1)).alias("turns"),
                F.sum("n_spans").cast("long").alias("spans"),
                F.avg("strip_ratio").alias("strip_ratio"),
            )
            .withColumn("status", F.lit("done"))
            .withColumns({c: F.lit(v) for c, v in tags.items()})
        )
        layout = [c for c in METRICS_COLUMNS if c in metrics.columns]
        overwrite_partitions(metrics.select(*layout, key), metrics_path, key)
    finally:
        df.unpersist()


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

    Layout: {out_dir}/extracted/p=*/   (data, dynamic-overwrite by p)
            {out_dir}/run_metrics/p=*/ (lineage rows, written after data)

    ``passthrough`` columns ride through the kernel into the checkpointed
    output (e.g. ("role", "tool", "ts") so downstream conversation assembly
    can consume the committed extraction without re-joining the source);
    ``dispatch_tool_json`` / ``tool_kind_map`` enable the same S1 declared-kind
    dispatch as ``extract_transcripts``, which every wave runs.

    ``wave_buckets``: commit granularity.  Default (None) processes every
    pending bucket in one data write + one metrics write — fastest, but
    Spark's job commit is all-or-nothing, so a mid-run crash durably keeps
    NOTHING and resume recomputes the whole run.  With ``wave_buckets=k`` the
    pending buckets are processed in waves of k, each wave its own
    data-then-metrics commit: a crash loses at most the in-flight wave and
    resume restarts exactly there.  Each wave re-scans the input (the bucket
    id is a hash, not a pushable predicate), so at cluster scale either size
    waves to cluster capacity (few waves) or seed from a p-partitioned
    staging table (``write_bucketed``) so each wave's scan prunes.

    Resuming with a different ``n_buckets`` or dispatch policy than the
    committed buckets used raises ``ValueError`` (see ``done_buckets``).

    Returns a summary dict {run_id, buckets_total, buckets_done_before, buckets_run}.
    """
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
    if wave_buckets and wave_buckets < len(pending_ids):
        waves = [pending_ids[i:i + wave_buckets]
                 for i in range(0, len(pending_ids), wave_buckets)]
    else:
        waves = [pending_ids] if pending_ids else []
    for wave in waves:
        pending = bucketed
        if len(wave) < n_buckets:
            pending = bucketed.where(F.col("p").isin(wave))
        _run_wave(pending, len(wave), data_path, metrics_path,
                  {"run_id": run_id, **tags}, cfg, passthrough,
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


def _run_wave(pending: DataFrame, n_partitions: int, data_path: str,
              metrics_path: str, tags: dict, cfg: EngineConfig,
              passthrough: tuple[str, ...], dispatch_tool_json: bool,
              tool_kind_map: dict[str, str] | None) -> None:
    """One durable commit unit: extract `pending`, repartitioned by bucket, then
    commit its data and its metrics rows."""
    started = time.time()
    if pending.isEmpty():  # short-circuit probe, no extra full-count job
        return
    extracted = extract_transcripts(
        pending.repartition(n_partitions, "p"), cfg,
        passthrough=(*passthrough, "p"),
        dispatch_tool_json=dispatch_tool_json, tool_kind_map=tool_kind_map)
    # `extracted` holds only pending buckets, so every metrics row is new
    commit_by_key(
        extracted, "p", data_path, metrics_path,
        tags={**tags, "started": F.lit(started).cast("timestamp"),
              "finished": F.current_timestamp()})
