"""Output checks.  Each returns a list of failure messages (empty = pass);
a failed check counts the run it belongs to as failed."""

from __future__ import annotations

import hashlib
import json
import re

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.dataset as ds

PACKED_COLS = ["shard", "conv_id", "doc_text", "n_tokens", "seq_id",
               "seq_offset"]
ORACLE_PER_FMT = 25
ORACLE_DOCS = 15


def read_packed(path: str) -> pd.DataFrame:
    table = ds.dataset(path, format="parquet", partitioning="hive").to_table()
    df = table.to_pandas()
    df["shard"] = df["shard"].astype(str)
    return df[PACKED_COLS]


def packed_digest(df: pd.DataFrame) -> str:
    """md5 over every (shard, conv_id, doc_text, n_tokens, seq_id,
    seq_offset) row in total order (conv_id is unique)."""
    h = hashlib.md5()
    for row in df.sort_values(["shard", "conv_id"]).itertuples(index=False):
        h.update(json.dumps([str(row[0]), row[1], row[2], int(row[3]),
                             int(row[4]), int(row[5])]).encode())
        h.update(b"\n")
    return h.hexdigest()


def check_summary(summary: dict, packed: pd.DataFrame, meta: dict) -> list[str]:
    """Conversations minus drops by reason equals survivors, and both ends
    agree with the input and with the rows actually written."""
    errs = []
    drops = {k: summary.get(k) or 0 for k in (
        "dropped_duplicates", "dropped_near_duplicates", "dropped_low_quality")}
    if summary["conversations"] != meta["convs"]:
        errs.append(f"conversations {summary['conversations']} != input "
                    f"{meta['convs']}")
    if summary["conversations"] - sum(drops.values()) != summary["survivors"]:
        errs.append(f"drops {drops} do not reconcile to survivors")
    if min(drops.values()) < 0:
        errs.append(f"negative drop count {drops}")
    if len(packed) != summary["survivors"] or packed["conv_id"].duplicated().any():
        errs.append(f"packed rows {len(packed)} != survivors "
                    f"{summary['survivors']} or conv_id repeats")
    if int(packed["n_tokens"].sum()) != summary["tokens"]:
        errs.append("packed tokens do not match the summary")
    return errs


def sample_conv_ids(frame: pd.DataFrame, seed: int, n: int = ORACLE_DOCS
                    ) -> list[str]:
    """Seeded sample of input conversations, always with the whale (the
    conversation the char budget truncates)."""
    ids = sorted(frame["conv_id"].unique())
    rng = np.random.RandomState(seed)
    picks = set(rng.choice(ids, size=min(n, len(ids)), replace=False))
    whale = frame["conv_id"].value_counts().idxmax()
    return sorted(picks | {whale})


def oracle_doc(turns: pd.DataFrame, char_budget: int) -> str:
    """The packed document of one conversation, rebuilt from the per-turn
    oracle ``extract_turn``: '<role>: <text>' lines in turn order, cut to
    the longest prefix whose newline-joined length fits the budget."""
    from ocr_engine_spark.kernel.pipeline import extract_turn

    lines, used = [], -1
    for row in turns.sort_values("turn_idx").itertuples(index=False):
        line = f"{row.role}: {extract_turn(row.text)['extracted_text']}"
        used += len(line) + 1
        if used > char_budget:
            break
        lines.append(line)
    return "\n".join(lines)


def check_sampled_docs(frame: pd.DataFrame, packed: pd.DataFrame,
                       ids: list[str], char_budget: int) -> list[str]:
    """Sampled packed documents equal their oracle rebuild, and their token
    counts match the text."""
    errs = []
    got = packed.set_index("conv_id")
    for cid in ids:
        if cid not in got.index:
            continue  # dropped by a dedup or quality stage
        want = oracle_doc(frame[frame["conv_id"] == cid], char_budget)
        doc = got.at[cid, "doc_text"]
        if doc != want:
            errs.append(f"packed document of {cid} differs from its oracle "
                        "rebuild")
        if got.at[cid, "n_tokens"] != len(re.split(" +", doc.strip(" "))):
            errs.append(f"n_tokens of {cid} does not match its text")
    return errs


def plant_recall(plants: list[str], kept_ids) -> float:
    if not plants:
        return 0.0
    kept = set(kept_ids)
    return sum(p not in kept for p in plants) / len(plants)


RERUN_RECALL_MIN = 0.9  # LSH is probabilistic per pair; gibberish is not


def check_plants(meta: dict, kept_ids) -> list[str]:
    errs = []
    if meta["reruns"] and plant_recall(meta["reruns"], kept_ids) < RERUN_RECALL_MIN:
        errs.append("truncated re-runs survived near-dedup: recall "
                    f"{plant_recall(meta['reruns'], kept_ids):.3f}")
    if meta["gibberish"] and plant_recall(meta["gibberish"], kept_ids) < 1.0:
        errs.append("gibberish survived the quality gate")
    return errs


def check_drop_reasons(meta: dict, exact: set, near: set, lowq: set
                       ) -> list[str]:
    """Traced run: each plant is dropped by the stage meant to drop it."""
    errs = []
    if meta["reruns"]:
        hit = sum(r in exact or r in near for r in meta["reruns"])
        if hit / len(meta["reruns"]) < RERUN_RECALL_MIN:
            errs.append(f"only {hit}/{len(meta['reruns'])} re-runs dropped "
                        "as duplicates")
        if any(r in lowq for r in meta["reruns"]):
            errs.append("a re-run was dropped by the quality gate")
    if meta["gibberish"] and not set(meta["gibberish"]) <= lowq:
        errs.append("gibberish not dropped by the quality gate")
    return errs


def check_stream_sink(sink: pd.DataFrame, batch: pd.DataFrame) -> list[str]:
    """Each (conv_id, turn_idx) exactly once, with the text a batch
    extraction of the same files gives."""
    errs = []
    keys = ["conv_id", "turn_idx"]
    if sink.duplicated(keys).any():
        errs.append(f"{int(sink.duplicated(keys).sum())} turns delivered twice")
    m = batch.merge(sink.drop_duplicates(keys), on=keys, how="left",
                    suffixes=("", "_sink"), indicator=True)
    missing = int((m["_merge"] != "both").sum())
    if missing:
        errs.append(f"{missing} turns missing from the stream sink")
    diff = int((m["extracted_text"] != m["extracted_text_sink"]).sum()) - missing
    if diff:
        errs.append(f"{diff} stream turns differ from batch extraction")
    if len(sink.drop_duplicates(keys)) != len(batch):
        errs.append("stream sink holds turns absent from the input")
    return errs


def oracle_sample(arrow_out: pa.RecordBatch, seed: int) -> np.ndarray:
    """Stratified sample: up to ORACLE_PER_FMT row indices per format."""
    fmt = np.asarray(arrow_out.column("fmt").to_pylist(), dtype=object)
    rng = np.random.RandomState(seed)
    picks = []
    for f in sorted(set(fmt)):
        idx = np.flatnonzero(fmt == f)
        picks.extend(rng.choice(idx, size=min(ORACLE_PER_FMT, len(idx)),
                                replace=False))
    return np.sort(np.asarray(picks, dtype=np.int64))


def check_kernel_oracle(texts: list, arrow_out: pa.RecordBatch,
                        rows: np.ndarray) -> list[str]:
    """The batch kernel's rows are byte-equal to the per-turn oracle."""
    from ocr_engine_spark.kernel.pipeline import extract_turn

    errs = []
    out = arrow_out.take(pa.array(rows)).to_pylist()
    for r, got in zip(rows, out):
        want = extract_turn(texts[r])
        for k in ("extracted_text", "fmt", "n_spans", "is_blank"):
            if got[k] != want[k]:
                errs.append(f"kernel row {r}: {k} differs from extract_turn")
        if [s["text"] for s in got["spans"]] != [s["text"] for s in want["spans"]]:
            errs.append(f"kernel row {r}: spans differ from extract_turn")
    return errs
