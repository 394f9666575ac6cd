"""SQL-registered per-stage UDFs (SURVEY.md §2.10) agree with the kernel oracle."""

import pandas as pd
import pytest


@pytest.fixture(scope="module")
def registered(spark):
    from ocr_engine_spark.functions import register_all

    register_all(spark)
    return spark


@pytest.fixture(scope="module")
def corpus_view(registered):
    from ocr_engine_spark.sources.transcripts import generate_transcripts

    pdf = generate_transcripts(n_convs=12, seed=21, whale_factor=1)
    registered.createDataFrame(pdf).createOrReplaceTempView("tx_funcs")
    return pdf


def test_sql_extract_matches_kernel(registered, corpus_view):
    from ocr_engine_spark.kernel.pipeline import extract_turn

    got = registered.sql("""
        SELECT conv_id, turn_idx, ocr_extract(text) AS r FROM tx_funcs
    """).select("conv_id", "turn_idx", "r.extracted_text", "r.n_spans", "r.fmt") \
        .toPandas().sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)

    want = corpus_view.sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    oracle = [extract_turn(t if t is not None else "") for t in want["text"]]
    assert list(got["extracted_text"]) == [r["extracted_text"] for r in oracle]
    assert list(got["n_spans"]) == [r["n_spans"] for r in oracle]
    assert list(got["fmt"]) == [r["fmt"] for r in oracle]


def test_sql_stage_functions(registered):
    row = registered.sql("""
        SELECT ocr_canonicalize('a b\r\nc') AS canon,
               ocr_detect_format('<html><body><p>hello world there</p></body></html>') AS fmt,
               ocr_content_conf('abc€€') AS conf
    """).collect()[0]
    assert row["canon"] == "a b\nc"
    assert row["fmt"] == "html"
    assert row["conf"] == pytest.approx(3 / 5)  # € is not in the texty class


def test_null_and_empty_inputs(registered):
    df = registered.createDataFrame(
        pd.DataFrame({"text": [None, "", "   "]}))
    df.createOrReplaceTempView("tx_null")
    out = registered.sql(
        "SELECT ocr_extract(text).n_spans AS n FROM tx_null").toPandas()
    assert list(out["n"]) == [0, 0, 0]


def test_ocr_recognize_sql_matches_kernel(spark):
    """ocr_recognize registered UDF == kernel recognize_one on decode/remap/
    numeric-rekind cases."""
    import pandas as pd

    from ocr_engine_spark.config import DEFAULT_CONFIG
    from ocr_engine_spark.functions import register_all
    from ocr_engine_spark.kernel.normalize import recognize_one

    register_all(spark)
    cases = [("a &amp; b", "html"), ("[link](url) **bold**", "markdown"),
             ("esc\\nline", "json"), ("1,234.56", "text"), ("plain ✪ here", "text")]
    df = spark.createDataFrame(pd.DataFrame(cases, columns=["raw", "kind"]))
    df.createOrReplaceTempView("recog_in")
    got = [
        (r["r"]["text"], r["r"]["conf"], r["r"]["kind"])
        for r in spark.sql(
            "SELECT ocr_recognize(raw, kind) AS r FROM recog_in").collect()
    ]
    want = [recognize_one(raw, kind, DEFAULT_CONFIG.placeholder_char,
                          DEFAULT_CONFIG.max_seq_len) for raw, kind in cases]
    assert got == [tuple(w) for w in want]


# every batch-kernel function is checked row by row against its per-row oracle
# over the corpus plus edge rows: null, empty, CRLF, quoted lines, a non-NFC
# "é" (e + combining acute), tag-only HTML
EDGE_ROWS = [None, "", "one\r\ntwo\rthree", "> quoted\n>> deeper\nplain line",
             "cafe\u0301 au lait here", "<div><span></span></div>"]


@pytest.fixture(scope="module")
def oracle_texts(registered, corpus_view):
    texts = list(corpus_view["text"]) + EDGE_ROWS
    registered.createDataFrame(
        pd.DataFrame({"i": range(len(texts)), "text": texts})
    ).createOrReplaceTempView("tx_oracle")
    return texts


def _sql_column(spark, expr):
    rows = spark.sql(f"SELECT i, {expr} AS r FROM tx_oracle ORDER BY i").collect()
    return [r["r"] for r in rows]


def _canon(t):
    from ocr_engine_spark.config import DEFAULT_CONFIG
    from ocr_engine_spark.kernel.canonicalize import canonicalize, deskew

    return deskew(canonicalize(t if t is not None else "",
                               DEFAULT_CONFIG.max_chars))[0]


def test_sql_canonicalize_matches_oracle(registered, oracle_texts):
    got = _sql_column(registered, "ocr_canonicalize(text)")
    assert got == [_canon(t) for t in oracle_texts]


def test_sql_detect_format_matches_oracle(registered, oracle_texts):
    from ocr_engine_spark.config import DEFAULT_CONFIG as cfg
    from ocr_engine_spark.kernel.detect import detect_spans

    got = _sql_column(registered, "ocr_detect_format(text)")
    assert got == [detect_spans(_canon(t), cfg.score_thr, cfg.iou_thr)[0]
                   for t in oracle_texts]


def test_sql_content_conf_matches_oracle(registered, oracle_texts):
    from ocr_engine_spark.kernel.detect import content_conf

    got = _sql_column(registered, "ocr_content_conf(text)")
    assert got == [content_conf(t if t is not None else "")
                   for t in oracle_texts]


def test_sql_extract_matches_oracle_all_fields(registered, oracle_texts):
    from ocr_engine_spark.kernel.pipeline import extract_turn

    got = _sql_column(registered, "ocr_extract(text)")
    for r, t in zip(got, oracle_texts):
        want = extract_turn(t if t is not None else "")
        assert r.asDict() == {c: want[c] for c in
                              ("extracted_text", "n_spans", "strip_ratio",
                               "fmt")}, t


def test_stage_functions_are_scalar_arrow_udfs():
    from pyspark.util import PythonEvalType

    from ocr_engine_spark.functions import REGISTRY, ocr_extract

    assert ocr_extract.evalType == PythonEvalType.SQL_SCALAR_ARROW_UDF
    assert {fn.evalType for fn in REGISTRY.values()} == {
        PythonEvalType.SQL_SCALAR_ARROW_UDF}
