"""Unit tests for the round-5 pipeline-filter operators: CCNet-style bigram-LM
quality bucketing (lm_quality), URL/domain blocklist filtering (domain_filter),
and embedding-space benchmark decontamination (semantic_decontam).

Each test plants data whose correct output is known by construction, so the
operator's DISCRIMINATING behavior is pinned (not just its plumbing): the LM
model prunes by min-count and scores OOV mass exactly; the blocklist drops
exactly the planted blocked domains; the decontam flag fires on exactly the
planted leaks and on nothing organic.
"""

from __future__ import annotations

import pandas as pd
import pytest

from ocr_engine_spark.operators.similarity import (
    BENCH_MOD, BENCH_RESIDUE, LEAK_OFFSET, semantic_decontam,
)
from ocr_engine_spark.operators.text_analysis import (
    BLOCKED_DOMAINS, DOMAIN_MOD, domain_filter, lm_quality,
)


# --- lm_quality ---------------------------------------------------------------


@pytest.fixture(scope="module")
def lm_docs(spark):
    """doc_id % 5 == 0 rows are the reference slice.  Reference text 'a b c a b'
    gives bigrams {a b: 2(x2 docs = 4), b c: 2, c a: 2} — all survive min_count=2.
    Scored docs hit the model fully ('a b c'), partially ('a b x'), or not at
    all ('x y z')."""
    rows = [
        (0, "a b c a b"), (5, "a b c a b"),      # reference slice
        (1, "a b c"),                              # 2 bigrams, both in model
        (2, "a b x y"),                            # 3 bigrams, 1 in model
        (3, "x y z"),                              # 2 bigrams, 0 in model
        (4, ""),                                   # one empty-string shingle
        (6, None),                                 # NULL text == '' (coalesced)
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_lm_quality_scores_exact(spark, lm_docs):
    out = {r["doc_id"]: r for r in lm_quality(lm_docs).collect()}
    # doc 1: bigrams [a b, b c]; model counts a b=4, b c=2 -> mass 6, oov 0
    assert out[1]["n_bigrams"] == 2 and out[1]["n_oov"] == 0
    assert out[1]["ref_mass"] == 6 and out[1]["bucket"] == "head"
    assert out[1]["familiarity"] == 3.0
    # doc 2: bigrams [a b, b x, x y]; only a b known -> oov 2/3 -> tail
    assert out[2]["n_bigrams"] == 3 and out[2]["n_oov"] == 2
    assert out[2]["bucket"] == "tail"
    # doc 3: all OOV
    assert out[3]["n_oov"] == 2 and out[3]["ref_mass"] == 0
    assert out[3]["oov_rate"] == 1.0 and out[3]["bucket"] == "tail"
    # reference docs are absent; empty and NULL docs score their single
    # empty-string shingle (the _shingle_sql floor of greatest(n-1, 1), with
    # NULL coalesced to '' — DuckDB's greatest skips NULLs and does the same)
    # as one OOV bigram
    assert set(out) == {1, 2, 3, 4, 6}
    for d in (4, 6):
        assert out[d]["n_bigrams"] == 1 and out[d]["n_oov"] == 1
        assert out[d]["bucket"] == "tail"


def test_lm_quality_min_count_prunes(spark):
    """A bigram seen once in the reference is NOT in the model (min_count=2)."""
    docs = spark.createDataFrame(
        [(0, "p q"), (1, "p q")], "doc_id long, text string")
    out = lm_quality(docs).collect()
    assert len(out) == 1 and out[0]["doc_id"] == 1
    assert out[0]["n_oov"] == 1 and out[0]["ref_mass"] == 0


def test_lm_quality_buckets_nonvacuous_sf001(spark):
    """All three buckets are populated on the real corpus at sf0.01 (the
    cutpoints are chosen for this; a collapsed bucket means the contract row
    stopped discriminating)."""
    from ocr_engine_spark.operators.relational import load

    docs = load(spark, "/root/testdata/sf0.01", "documents")
    counts = dict(
        lm_quality(docs.select("doc_id", "text"))
        .groupBy("bucket").count().collect())
    assert set(counts) == {"head", "middle", "tail"}
    assert min(counts.values()) > 0


# --- domain_filter --------------------------------------------------------------


def test_domain_filter_drops_exactly_blocklist(spark):
    """Covers NULL text too: the payload coalesces, so the planted URL (and
    the blocklist decision) is unconditional — a NULL-text doc on a blocked
    residue still drops, on a clean residue still survives."""
    docs = spark.createDataFrame(
        [(i, None if i % 11 == 0 else f"doc {i}", 10 + i)
         for i in range(2 * DOMAIN_MOD)],
        "doc_id long, text string, n_chars long")
    out = domain_filter(docs).toPandas()
    blocked_ids = {i for i in range(2 * DOMAIN_MOD)
                   if f"d{i % DOMAIN_MOD}.example" in BLOCKED_DOMAINS}
    assert set(out["doc_id"]) == set(range(2 * DOMAIN_MOD)) - blocked_ids
    # survivors carry the parsed domain and their n_chars untouched
    assert (out["domain"] == out["doc_id"].map(
        lambda i: f"d{i % DOMAIN_MOD}.example")).all()
    assert (out["n_chars"] == out["doc_id"] + 10).all()


def test_domain_filter_blocklist_is_every_residue3_domain():
    assert BLOCKED_DOMAINS == tuple(
        f"d{i}.example" for i in range(DOMAIN_MOD) if i % 7 == 3)
    assert len(BLOCKED_DOMAINS) == 5


# --- semantic_decontam -----------------------------------------------------------


def test_semantic_decontam_flags_exactly_the_leaks(spark):
    """On the real sf0.01 table: every planted leak (halved benchmark copy)
    flags at score 1.0 against ITS OWN source item; no organic vector flags
    (max organic cosine vs the benchmark slice is ~0.41)."""
    from ocr_engine_spark.operators.similarity import q_semantic_decontam

    out = q_semantic_decontam(spark, "/root/testdata/sf0.01").toPandas()
    flagged = out[out["contaminated"] == 1]
    leaks = flagged[flagged["vec_id"] >= LEAK_OFFSET]
    organic = out[out["vec_id"] < LEAK_OFFSET]
    # every leak flags, against its own source, at rounded score 1.0
    assert (leaks["vec_id"] - LEAK_OFFSET == leaks["bench_id"]).all()
    assert (leaks["score"] == 1.0).all()
    assert (leaks["vec_id"] % BENCH_MOD == BENCH_RESIDUE).all()
    # no organic row flags; every leak row flags (flag set == leak set)
    assert (organic["contaminated"] == 0).all()
    assert len(flagged) == len(out) - len(organic)


def test_semantic_decontam_argmax_tiebreak(spark):
    """Two benchmark items at identical cosine to a corpus vector: min bench_id
    wins (the total order the oracle's window replays)."""
    bench = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [1.0, 0.0])], "vec_id long, embedding array<double>")
    corpus = spark.createDataFrame(
        [(10, [2.0, 0.0])], "vec_id long, embedding array<double>")
    row = semantic_decontam(corpus, bench).collect()[0]
    assert row["bench_id"] == 1 and row["score"] == 1.0
    assert row["contaminated"] == 1



def test_semantic_decontam_rejects_organic_id_past_leak_offset(spark,
                                                              tmp_path):
    """An organic vec_id at LEAK_OFFSET + 1 would share its id with the leak
    planted for benchmark item 1 and merge the two in the argmax: the scan
    raises instead of returning merged rows."""
    from ocr_engine_spark.operators.similarity import q_semantic_decontam

    big = LEAK_OFFSET + 1
    assert big % BENCH_MOD != BENCH_RESIDUE  # an organic row
    spark.createDataFrame(
        [(BENCH_RESIDUE, [1.0, 0.0], 0), (1, [0.0, 1.0], 0),
         (big, [1.0, 1.0], 0)],
        "vec_id long, embedding array<float>, label int",
    ).write.parquet(str(tmp_path / "embeddings.parquet"))
    with pytest.raises(Exception, match="LEAK_OFFSET"):
        q_semantic_decontam(spark, str(tmp_path)).collect()


# --- property-based: lm_quality vs a pure-Python oracle -------------------------

from hypothesis import HealthCheck, given, settings, strategies as st  # noqa: E402

_LM_WORDS = [f"w{i}" for i in range(10)] + ["the", "of"]


@st.composite
def _lm_corpora(draw):
    n_docs = draw(st.integers(min_value=2, max_value=10))
    docs = []
    for i in range(n_docs):
        n_tok = draw(st.integers(min_value=0, max_value=8))
        toks = [draw(st.sampled_from(_LM_WORDS)) for _ in range(n_tok)]
        docs.append((i, " ".join(toks)))
    return docs


def _py_bigrams(text: str) -> list[str]:
    """The _shingle_sql k=2 semantics: zip of shifted slices with a floor of
    one shingle (a 0/1-token doc yields its single, possibly-empty token)."""
    toks = text.strip().split(" ") if text.strip() else [""]
    if len(toks) == 1:
        return [toks[0]]
    return [f"{toks[i]} {toks[i+1]}" for i in range(len(toks) - 1)]


@settings(max_examples=6, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(docs=_lm_corpora())
def test_lm_quality_matches_python_oracle(spark, docs):
    """lm_quality == an independent pure-Python replay on random corpora:
    model = bigram counts of the ref slice pruned at min_count, per-doc
    n_bigrams / n_oov / ref_mass computed by dict lookups."""
    from collections import Counter

    from ocr_engine_spark.operators.text_analysis import lm_quality

    model = Counter()
    for i, text in docs:
        if i % 5 == 0:
            model.update(_py_bigrams(text))
    model = {b: c for b, c in model.items() if c >= 2}
    want = {}
    for i, text in docs:
        if i % 5 == 0:
            continue
        bgs = _py_bigrams(text)
        n_oov = sum(1 for b in bgs if b not in model)
        want[i] = (len(bgs), n_oov, sum(model.get(b, 0) for b in bgs))

    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {r["doc_id"]: (r["n_bigrams"], r["n_oov"], r["ref_mass"])
           for r in lm_quality(df).collect()}
    assert got == want
