"""operators/doc_features and kernel/xxh64: the pipeline's one Arrow feature
pass for near-dedup and the LM gate, checked against Spark itself.

- numpy XXH64 == ``F.xxhash64`` bit for bit (strings of every length class
  of the algorithm, multi-byte text, tabs, newlines), and the
  ``xxhash64(h, j)`` chain of the MinHash family;
- the pass's signature, verification set and bigram hashes == the contract
  functions' (``dedup.minhash_signatures``, ``minhash_lsh_pairs``' ``sset``,
  ``text_analysis.lm_quality_scored``'s bigram stream) on edge documents and
  random ones;
- the drop sets ``run_pipeline`` computes through the pass == the contract
  path's (``canonical_drop_ids(minhash_lsh_pairs(...))`` and
  ``lm_quality_scored``) on a planted corpus, for every flag combination.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pytest
from hypothesis import HealthCheck, given, settings, strategies as st
from pyspark.sql import functions as F

from ocr_engine_spark.kernel import xxh64
from ocr_engine_spark.operators import doc_features as fx

ALPHABET = "ab z\t\néα日\U0001f642"
# UTF-8 byte lengths around every branch of XXH64: the 4-byte and 1-byte
# tails, the 8-byte word loop, and the 32-byte stripe loop
EDGE_LENGTHS = (0, 1, 3, 4, 7, 8, 15, 31, 32, 33, 63, 64, 65, 100, 257)


def _np_hashes(strings):
    """numpy XXH64 of each string's UTF-8 (one flat buffer, as the pass)."""
    enc = [s.encode() for s in strings]
    lens = np.array([len(b) for b in enc], dtype=np.int64)
    starts = np.concatenate([[0], np.cumsum(lens)[:-1]]).astype(np.int64)
    buf = np.frombuffer(b"".join(enc), dtype=np.uint8)
    return xxh64.hash_ranges(buf, starts, lens)


def _assert_spark_equal(spark, strings):
    """One Spark job: ``xxhash64(s)`` and ``xxhash64(xxhash64(s), j)`` for
    j in 0..15 against the numpy kernel."""
    df = spark.createDataFrame(list(enumerate(strings)), "i int, s string")
    rows = (df.select("i", F.xxhash64("s").alias("h"),
                      F.array(*[F.xxhash64(F.xxhash64("s"), F.lit(j))
                                for j in range(16)]).alias("chain"))
            .orderBy("i").collect())
    base = _np_hashes(strings)
    assert base.view(np.int64).tolist() == [r["h"] for r in rows]
    seed = xxh64.hash_long(base)
    for j in range(16):
        got = xxh64.hash_int(j, seed).view(np.int64).tolist()
        assert got == [r["chain"][j] for r in rows], f"j={j}"


def test_xxh64_matches_spark_on_edge_lengths(spark):
    strings = []
    for n in EDGE_LENGTHS:
        strings += ["x" * n, "\t\n" * (n // 2) + "y" * (n % 2),
                    # 2-, 3- and 4-byte characters straddling the lengths
                    "é" * (n // 2) + "a" * (n % 2),
                    "日" * (n // 3) + "b" * (n % 3),
                    "\U0001f642" * (n // 4) + "c" * (n % 4)]
    assert {len(s.encode()) for s in strings} >= set(EDGE_LENGTHS)
    _assert_spark_equal(spark, strings)


@settings(max_examples=3, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(strings=st.lists(st.text(alphabet=ALPHABET, max_size=90),
                        min_size=100, max_size=300))
def test_xxh64_matches_spark_on_random_strings(spark, strings):
    _assert_spark_equal(spark, strings)


def test_hash_ranges_of_nothing():
    assert len(xxh64.hash_ranges(np.zeros(0, np.uint8), [], [])) == 0


# --- the feature pass vs the contract functions ------------------------------

EDGE_DOCS = [
    "", " ", "   ", "one", "two tokens", "  leading and trailing  ",
    "runs   of    spaces  here", "tab\tonly\tseparators", "tab\t and space",
    "\tedge tabs\t",
    "new\nline words here", "été 日本 \U0001f642 αβ",
    "a b c d e f g h i j k l m n o p q r s t u v w x y z",
    "longtoken" * 20 + " " + "x" * 40 + " tail",
]


def _contract_features(spark, docs):
    """Per doc_id: the contract functions' signature, distinct 3-shingle
    hashes and bigram hashes (with multiplicity)."""
    from ocr_engine_spark.operators.dedup import (
        _shingle_array, minhash_signatures,
    )

    df = spark.createDataFrame(list(enumerate(docs)),
                               "doc_id int, text string")
    sig = {r["doc_id"]: r["minhash"] for r in
           minhash_signatures(df, num_hashes=16, k=3).collect()}
    rows = (df.withColumn("sh3", _shingle_array(k=3))
            .withColumn("sh2", _shingle_array("coalesce(text, '')", k=2))
            .select("doc_id",
                    F.expr("array_distinct(transform(sh3, s -> xxhash64(s)))")
                    .alias("sset"),
                    F.expr("transform(sh2, s -> xxhash64(s))").alias("bg"))
            .collect())
    return sig, {r["doc_id"]: r for r in rows}


def _pass_features(spark, docs):
    df = spark.createDataFrame(list(enumerate(docs)),
                               "doc_id int, text string")
    return {r["doc_id"]: r for r in
            fx.doc_features(df, signature=True, bigrams=True).collect()}


def _assert_features_equal(spark, docs):
    sig, ref = _contract_features(spark, docs)
    got = _pass_features(spark, docs)
    assert set(got) == set(range(len(docs)))
    for i, text in enumerate(docs):
        g = got[i]
        if text is None:
            # no shingle row in minhash_signatures; '' for the LM side
            assert i not in sig and g["minhash"] is None and g["sset"] is None
        else:
            assert g["minhash"] == sig[i], repr(text)
            assert sorted(g["sset"]) == sorted(ref[i]["sset"]), repr(text)
        assert g["bg"] == ref[i]["bg"], repr(text)


def test_features_match_contract_on_edge_docs(spark):
    _assert_features_equal(spark, EDGE_DOCS + [None])


@st.composite
def documents(draw):
    tok = st.text(alphabet="ab\t\né日", min_size=1, max_size=6)
    sep = st.sampled_from([" ", "  ", "   "])
    docs = []
    for _ in range(draw(st.integers(min_value=1, max_value=25))):
        parts = draw(st.lists(tok, max_size=12))
        text = "".join(p + draw(sep) for p in parts)
        docs.append(draw(sep) * draw(st.integers(0, 1)) + text)
    return docs


@settings(max_examples=3, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(docs=documents())
def test_features_match_contract_on_random_docs(spark, docs):
    _assert_features_equal(spark, docs)


def test_oov_rates_are_exact_ratios():
    model = np.array([-5, 3, 9], dtype=np.int64)
    bg = pa.array([[3, 4], [9], [-6, -5, 0, 9], [7]], pa.list_(pa.int64()))
    assert fx.oov_rates(bg, model).tolist() == [1 / 2, 0 / 1, 2 / 4, 1 / 1]


def test_feature_batch_reads_large_strings():
    """Spark's large-var-types mode sends ``large_string`` text."""
    texts = ["a  b c", "", " x y ", "é日 z\tq  w", None]
    out = []
    for t in (pa.string(), pa.large_string()):
        b = pa.RecordBatch.from_arrays(
            [pa.array(range(len(texts))), pa.array(texts, t)],
            names=["doc_id", "text"])
        out.append(fx.feature_batch(b, signature=True, bigrams=True))
    assert out[0].equals(out[1])


def test_features_slice_large_batches(monkeypatch):
    """A batch is featurized in slices of bounded text: the slices' rows
    equal one whole-batch pass, and a document over the bound goes alone."""
    texts = ["a b c", None, "x" * 30, "", "é z q w e", "p q", "r s t u"]
    b = pa.RecordBatch.from_arrays(
        [pa.array(range(len(texts))), pa.array(texts, pa.large_string())],
        names=["doc_id", "text"])
    monkeypatch.setattr(fx, "SLICE_BYTES", 12)
    pieces = list(fx.features(iter([b]), signature=True, bigrams=True))
    assert [p.column("doc_id").to_pylist() for p in pieces] == [
        [0, 1], [2], [3, 4], [5, 6]]
    whole = fx.feature_batch(b, signature=True, bigrams=True)
    assert pa.Table.from_batches(pieces).to_pylist() == whole.to_pylist()


def test_low_quality_slices_large_batches(monkeypatch):
    model = np.array([-5, 3, 9], dtype=np.int64)
    bg = pa.array([[3, 4], [9], [-6, -5, 0, 9], [7], [3, 9]],
                  pa.list_(pa.int64()))
    b = pa.RecordBatch.from_arrays([pa.array(range(5)), bg],
                                   names=["doc_id", "bg"])
    monkeypatch.setattr(fx, "SLICE_BIGRAMS", 3)
    pieces = list(fx.low_quality(iter([b]), model, 0.4))
    assert len(pieces) == 3  # [2, 1] [4] [1, 2] bigrams
    assert pa.Table.from_batches(pieces).column("doc_id").to_pylist() == [
        0, 2, 3]


# --- run_pipeline through the pass vs the contract path ----------------------

REF_MOD = 3
MAX_OOV = 0.98


@pytest.fixture(scope="module")
def planted(spark):
    """Transcripts with every shape the two stages act on: truncated re-runs
    (a conversation minus its last turn, ids sorting first), gibberish
    conversations of unique tokens, and a hot LSH bucket of 200
    near-identical conversations."""
    import pandas as pd

    from ocr_engine_spark.sources.transcripts import generate_transcripts

    base = generate_transcripts(n_convs=30, seed=5)
    n_turns = base.groupby("conv_id")["turn_idx"].transform("max")
    rerun = base[(n_turns >= 5) & (base["turn_idx"] < n_turns)].copy()
    rerun["conv_id"] = "aaa_" + rerun["conv_id"]
    words = "order design tool slow salt part group merge scan window".split()
    rows = []
    for i in range(200):
        for t in range(3):
            text = " ".join(words[(t + j) % len(words)] for j in range(24))
            rows.append((f"hot_{i:03d}", t, "user",
                         text + (f" v{i}" if t == 2 else ""), None, None))
    for i in range(6):
        for t in range(3):
            rows.append((f"garbage_{i}", t, "user",
                         " ".join(f"zq{i}x{t}w{j}" for j in range(10)),
                         None, None))
    extra = pd.DataFrame(rows, columns=list(base.columns))
    extra["turn_idx"] = extra["turn_idx"].astype("int32")
    extra["ts"] = pd.NaT
    pdf = pd.concat([base, rerun, extra], ignore_index=True)
    return spark.createDataFrame(pdf, spark.createDataFrame(base).schema)


def _persisted(spark) -> set[int]:
    """Ids of persisted RDDs other than local checkpoints (whose blocks the
    context cleaner reclaims with the RDD)."""
    m = spark.sparkContext._jsc.getPersistentRDDs()
    return {int(k) for k in m.keySet()
            if not m[k].rdd().isLocallyCheckpointed()}


def _run(spark, df, out, **flags):
    from jobs.pipeline_job import run_pipeline

    before = _persisted(spark)
    s = run_pipeline(spark, df, out, run_id="fx", char_budget=100_000,
                     seq_budget=256, shards=4, near_threshold=0.5,
                     quality_max_oov=MAX_OOV, quality_ref_mod=REF_MOD,
                     **flags)
    assert _persisted(spark) <= before, "run_pipeline left a persisted RDD"
    ids = {r[0] for r in
           spark.read.parquet(s["data_path"]).select("conv_id").collect()}
    return s, ids


def test_pipeline_drop_sets_match_contract_path(spark, planted, tmp_path):
    from ocr_engine_spark.operators.dedup import (
        canonical_drop_ids, minhash_lsh_pairs, release_persisted_artifacts,
    )
    from ocr_engine_spark.operators.text_analysis import lm_quality_scored

    off, surv = _run(spark, planted, str(tmp_path / "off"))
    docs = (spark.read.parquet(off["data_path"])
            .select(F.col("conv_id").alias("doc_id"),
                    F.col("doc_text").alias("text")))
    lengths = docs.select("doc_id",
                          F.length("text").cast("long").alias("doc_len"))
    near = {r[0] for r in canonical_drop_ids(
        minhash_lsh_pairs(docs, num_hashes=16, bands=8, k=3,
                          jaccard_threshold=0.5),
        lengths=lengths).collect()}
    release_persisted_artifacts()

    def lowq(d):
        is_ref = F.pmod(F.xxhash64("doc_id"), F.lit(REF_MOD)) == 0
        return {r[0] for r in lm_quality_scored(d.withColumn("is_ref", is_ref))
                .where(F.col("oov_rate") > MAX_OOV).select("doc_id").collect()}

    lowq_alone = lowq(docs)
    lowq_after_near = lowq(docs.where(~F.col("doc_id").isin(*near)))
    # non-vacuous: re-runs and 199 of the hot family drop, gibberish drops
    assert sum(c.startswith("hot_") for c in near) == 199
    assert any(c.startswith("aaa_") for c in near)
    assert lowq_after_near and all(c.startswith("garbage_")
                                   for c in lowq_after_near)

    s, ids = _run(spark, planted, str(tmp_path / "near"), near_dedup=True)
    assert ids == surv - near and s["dropped_near_duplicates"] == len(near)
    s, ids = _run(spark, planted, str(tmp_path / "q"), quality_filter=True)
    assert ids == surv - lowq_alone
    assert s["dropped_low_quality"] == len(lowq_alone)
    s, ids = _run(spark, planted, str(tmp_path / "both"), near_dedup=True,
                  quality_filter=True)
    assert ids == surv - near - lowq_after_near
    assert s["dropped_near_duplicates"] == len(near)
    assert s["dropped_low_quality"] == len(lowq_after_near)

