"""Seeded benchmark inputs.

Every input is a function of the workload seed alone; the jobs under test
receive only the files written here.  Conversations are split across files
whole (the ``bucket(conv_id)`` layout of a table), so the whale conversation
makes its file the largest one.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from ocr_engine_spark.sources.transcripts import generate_transcripts

SCHEMA = pa.schema([
    ("conv_id", pa.string()), ("turn_idx", pa.int32()), ("role", pa.string()),
    ("text", pa.string()), ("tool", pa.string()), ("ts", pa.timestamp("us")),
])

# near-dedup / quality plants, at the PIPELINE_RUN.md proportions
# (200 truncated re-runs and 30 gibberish conversations per 6000)
RERUN_SHARE = 200 / 6000
GIBBERISH_SHARE = 30 / 6000
RERUN_PREFIX = "rerun_"
GIBBERISH_PREFIX = "gibberish_"
GIBBERISH_TURNS = 4
TURNS_PER_CONV = 9.5  # generator mean, whale included


def rerun_plants(base: pd.DataFrame, n: int, rng: np.random.RandomState
                 ) -> pd.DataFrame:
    """``n`` conversations re-uploaded minus their last turn.  Bases have at
    least six turns, so dropping one keeps shingle Jaccard above the 0.5
    near-dedup threshold; the whale is never a base."""
    turns = base.groupby("conv_id")["turn_idx"].max()
    eligible = sorted(turns[(turns >= 5) & (turns < 100)].index)
    picked = set(rng.choice(eligible, size=min(n, len(eligible)),
                            replace=False))
    last = base["conv_id"].map(turns)
    rows = base[base["conv_id"].isin(picked)
                & (base["turn_idx"] < last)].copy()
    rows["conv_id"] = RERUN_PREFIX + rows["conv_id"]
    return rows


def gibberish_plants(conv_ids: list[str]) -> pd.DataFrame:
    """Conversations of per-conversation unique tokens: no bigram is shared
    with any other document, so each scores OOV rate 1.0 at the LM gate."""
    rows = []
    for c, cid in enumerate(conv_ids):
        for t in range(GIBBERISH_TURNS):
            text = " ".join(f"zq{c}x{t}w{j}v" for j in range(12))
            rows.append((cid, t, "user", text, None,
                         np.datetime64("2026-01-01T00:00:00")))
    df = pd.DataFrame(rows, columns=SCHEMA.names)
    df["turn_idx"] = df["turn_idx"].astype("int32")
    return df


def gibberish_candidates(seed: int, n: int) -> list[str]:
    """Twice the needed ids; the caller keeps those outside the LM
    reference slice (a reference document is never scored)."""
    return [f"{GIBBERISH_PREFIX}{seed}_{i:04d}" for i in range(2 * n + 8)]


def whole_conversations(turns: int, seed: int, whale_factor: int
                        ) -> pd.DataFrame:
    """The seeded corpus cut after the first conversation that brings it to
    ``turns`` turns, so every seed has the same size to within one
    conversation."""
    n_convs = turns // 8 + 16
    while True:
        df = generate_transcripts(n_convs, seed=seed,
                                  whale_factor=whale_factor)
        ends = df.groupby("conv_id", sort=True).size().cumsum()
        if ends.iloc[-1] >= turns:
            keep = ends.index[:int((ends < turns).sum()) + 1]
            return df[df["conv_id"].isin(keep)].reset_index(drop=True)
        n_convs *= 2


def pipeline_corpus(turns: int, seed: int, gibberish_ids: list[str] | None
                    ) -> tuple[pd.DataFrame, dict]:
    """The seeded whale corpus of about ``turns`` turns; with
    ``gibberish_ids`` (not None) also the truncated re-run and gibberish
    plants."""
    df = whole_conversations(turns, seed, whale_factor=100)
    n_convs = df["conv_id"].nunique()
    meta = {"reruns": [], "gibberish": []}
    if gibberish_ids is not None:
        rng = np.random.RandomState(seed + 1)
        reruns = rerun_plants(df, max(1, round(n_convs * RERUN_SHARE)), rng)
        gib = gibberish_plants(gibberish_ids)
        meta = {"reruns": sorted(reruns["conv_id"].unique()),
                "gibberish": list(gibberish_ids)}
        df = pd.concat([df, reruns, gib], ignore_index=True)
    meta["convs"] = int(df["conv_id"].nunique())
    meta["turns"] = len(df)
    return df, meta


def stream_corpus(n_files: int, turns_per_file: int, seed: int
                  ) -> list[pd.DataFrame]:
    """One frame of exactly ``turns_per_file`` turns per stream file, cut
    from one seeded corpus in (conv_id, turn_idx) order, so every seed
    streams the same number of turns per file."""
    need = n_files * turns_per_file
    df = whole_conversations(need, seed, whale_factor=1).iloc[:need]
    return [df.iloc[i * turns_per_file:(i + 1) * turns_per_file]
            .reset_index(drop=True) for i in range(n_files)]


def to_table(df: pd.DataFrame) -> pa.Table:
    return pa.Table.from_pandas(df, schema=SCHEMA, preserve_index=False)


def write_files(df: pd.DataFrame, out_dir: str, n_files: int) -> None:
    """Split ``df`` by conversation into ``n_files`` parquet files."""
    os.makedirs(out_dir, exist_ok=True)
    table = to_table(df)
    codes, _ = pd.factorize(df["conv_id"], sort=True)
    bucket = codes % n_files
    for i in range(n_files):
        pq.write_table(table.filter(pa.array(bucket == i)),
                       os.path.join(out_dir, f"part-{i:04d}.parquet"))


def write_atomic(table: pa.Table, out_dir: str, name: str) -> None:
    """Write under a hidden name, then rename: the file stream source never
    lists a half-written file."""
    tmp = os.path.join(out_dir, f".{name}.tmp")
    pq.write_table(table, tmp)
    os.rename(tmp, os.path.join(out_dir, name))
