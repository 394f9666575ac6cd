"""Pin the one batch kernel (extract_frame_arrow, run by Spark through
mapInArrow) row by row to the per-turn oracle extract_turn — frame level and
Spark level.

What can diverge from the oracle is the closed-form routing and vote, the
winner-row filtering per format, the slow-path span flattening, the
list<struct> assembly and the zero-copy conv_id/turn_idx/passthrough columns —
all covered here, including the empty batch, null text, declared-kind
dispatch and passthrough columns.  extract_frame, the pandas spelling, is
pinned by the surrogate test below and by the fast-path and dispatch suites.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyarrow as pa
import pytest

from ocr_engine_spark.config import DEFAULT_CONFIG, EngineConfig
from ocr_engine_spark.kernel.pipeline import (
    OUTPUT_COLUMNS, extract_frame, extract_frame_arrow, extract_turn,
)
from ocr_engine_spark.operators.extract import extract_transcripts
from ocr_engine_spark.sources.transcripts import generate_transcripts


def _oracle(text, cfg: EngineConfig = DEFAULT_CONFIG, kind=None) -> dict:
    # null text extracts like the empty payload
    return extract_turn("" if text is None else text, cfg, kind or None)


def _assert_matches_oracle(pdf_in: pd.DataFrame, cfg: EngineConfig):
    rb = pa.RecordBatch.from_pandas(pdf_in, preserve_index=False)
    out = extract_frame_arrow(rb, cfg).to_pydict()
    assert list(out) == OUTPUT_COLUMNS
    assert out["conv_id"] == list(pdf_in["conv_id"])
    assert out["turn_idx"] == [int(x) for x in pdf_in["turn_idx"]]
    kinds = (pdf_in["payload_kind"] if "payload_kind" in pdf_in.columns
             else [None] * len(pdf_in))
    for i, (text, kind) in enumerate(zip(pdf_in["text"], kinds)):
        want = _oracle(text, cfg, kind)
        for c in OUTPUT_COLUMNS[2:]:
            assert out[c][i] == want[c], (i, c, text)


def test_frame_equivalence_generator_corpus():
    pdf = generate_transcripts(n_convs=300, seed=23)
    _assert_matches_oracle(pdf[["conv_id", "turn_idx", "text"]], DEFAULT_CONFIG)


def test_frame_equivalence_edge_rows():
    pdf = pd.DataFrame({
        "conv_id": [f"c{i}" for i in range(9)],
        "turn_idx": np.arange(9, dtype="int32"),
        "text": [
            None, "", "   \n \n", "plain\ntwo lines",
            "> quoted\nplain", "# md\n- item\n[l](u)",
            "<p>html &amp; stuff</p><script>x</script>",
            '{"k": "v", "n": [1, 2.5]}',
            "✪✪ placeholder only ✪",
        ]})
    _assert_matches_oracle(pdf, DEFAULT_CONFIG)


def test_frame_equivalence_slow_path_config():
    # nonzero margins force the per-turn oracle for EVERY row: covers the
    # slow-path span flattening wholesale
    cfg = EngineConfig(extend_span_start=0.1, extend_span_end=0.1)
    pdf = generate_transcripts(n_convs=40, seed=29)
    _assert_matches_oracle(pdf[["conv_id", "turn_idx", "text"]], cfg)


def test_frame_equivalence_declared_kind():
    pdf = generate_transcripts(n_convs=60, seed=31)[
        ["conv_id", "turn_idx", "text"]].reset_index(drop=True)
    kinds = np.array(["", "json", "html", "markdown", "plain", "weird"])
    pdf["payload_kind"] = kinds[np.arange(len(pdf)) % len(kinds)]
    _assert_matches_oracle(pdf, DEFAULT_CONFIG)


def test_lone_surrogates_take_the_oracle_path():
    # PEP 383 surrogateescape decodes produce valid Python str that is
    # INVALID UTF-8: the pandas kernel must process such rows (per-turn
    # oracle), not crash building the Arrow array, and the clean rows in the
    # same batch must keep their closed-form outputs
    from ocr_engine_spark.kernel.pipeline import extract_turn

    pdf = pd.DataFrame({
        "conv_id": ["c0", "c1", "c2", "c3"],
        "turn_idx": np.arange(4, dtype="int32"),
        "text": ["clean one\nline two", "bad \udce9 surrogate\nmore",
                 "# md stays fast", "\udc80\udc81"]})
    out = extract_frame(pdf)
    for i in range(4):
        o = extract_turn(pdf["text"].iloc[i])
        assert out.iloc[i]["extracted_text"] == o["extracted_text"], i
        assert out.iloc[i]["spans"] == o["spans"], i
        assert out.iloc[i]["fmt"] == o["fmt"], i
    assert out.iloc[1]["extracted_text"]  # surrogate row still extracted


def test_empty_batch():
    pdf = pd.DataFrame({"conv_id": pd.Series([], dtype=object),
                        "turn_idx": pd.Series([], dtype="int32"),
                        "text": pd.Series([], dtype=object)})
    rb = pa.RecordBatch.from_pandas(pdf, preserve_index=False)
    out = extract_frame_arrow(rb)
    assert out.num_rows == 0
    assert out.schema.names == OUTPUT_COLUMNS


@pytest.mark.usefixtures("spark")
def test_spark_boundary_equivalence(spark):
    pdf = generate_transcripts(n_convs=120, seed=37)
    df = spark.createDataFrame(pdf)
    got = extract_transcripts(df, passthrough=("role",)).collect()
    assert len(got) == len(pdf)
    by_key = {(r.conv_id, r.turn_idx): r for r in got}
    assert len(by_key) == len(pdf)
    for conv_id, turn_idx, text, role in pdf[
            ["conv_id", "turn_idx", "text", "role"]].itertuples(index=False):
        row = by_key[(conv_id, int(turn_idx))]
        want = _oracle(text)
        assert row.role == role
        assert [s.asDict() for s in row.spans] == want["spans"]
        for c in OUTPUT_COLUMNS[2:]:
            if c != "spans":
                assert row[c] == want[c], (conv_id, turn_idx, c)
