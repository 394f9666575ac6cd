"""The dedup SQL expressions match plain-Python oracles on edge cases.

The zip_with/aggregate spellings exist for per-row single-evaluation (see
operators/dedup.py); these tests pin that the refactored expressions still compute
the textbook definitions.
"""

import pandas as pd
import pytest


def py_shingles(text: str, k: int = 3) -> list[str]:
    toks = [t for t in text.strip().split() if t != ""] or [""]
    if text.strip() == "":
        toks = [""]
    if len(toks) < k:
        return [" ".join(toks)]
    return [" ".join(toks[i:i + k]) for i in range(len(toks) - k + 1)]


CASES = [
    "",
    "   ",
    "one",
    "one two",
    "one two three",
    "one two three four five",
    "a  b   c    d",  # runs of spaces collapse like split(' +')
    "x " * 40,
]


def test_shingle_expr_matches_python(spark):
    from pyspark.sql import functions as F

    from ocr_engine_spark.operators.dedup import _shingle_array

    df = spark.createDataFrame(pd.DataFrame({"text": CASES}))
    got = [r["sh"] for r in
           df.select(_shingle_array().alias("sh")).collect()]
    want = [py_shingles(t) for t in CASES]
    assert got == want


def test_minhash_signature_definition(spark):
    """sig[j] == min over shingles of xxhash64(xxhash64(shingle), j), checked by
    recomputing with independent SQL per (row, j)."""
    from pyspark.sql import functions as F

    from ocr_engine_spark.operators.dedup import minhash_signatures

    docs = spark.createDataFrame(pd.DataFrame({
        "doc_id": [1, 2], "text": ["one two three four", "alpha beta gamma"]}))
    sigs = {r["doc_id"]: r["minhash"]
            for r in minhash_signatures(docs, num_hashes=4).collect()}
    for doc_id, text in ((1, "one two three four"), (2, "alpha beta gamma")):
        for j in range(4):
            want = spark.sql(
                "SELECT min(xxhash64(xxhash64(s), {j})) AS m FROM "
                "(SELECT explode(transform(sequence(0, size(split('{t}', ' ')) - 3), "
                " i -> concat_ws(' ', slice(split('{t}', ' '), i + 1, 3)))) AS s)"
                .format(j=j, t=text)).collect()[0]["m"]
            assert sigs[doc_id][j] == want, (doc_id, j)


def _md5_a(s: str) -> int:
    import hashlib
    return int(hashlib.md5(s.encode()).hexdigest()[0:15], 16)


def _md5_b(s: str) -> int:
    import hashlib
    return int(hashlib.md5(s.encode()).hexdigest()[16:30], 16)


def test_md5_family_minhash_matches_hashlib(spark):
    """The md5-affine signature (the cross-engine-verifiable family) equals an
    independent hashlib computation: sig[j] = min over shingles of a + j*b."""
    from ocr_engine_spark.operators.dedup import minhash_signatures

    texts = ["one two three four five", "alpha beta gamma delta", "x", ""]
    docs = spark.createDataFrame(pd.DataFrame(
        {"doc_id": range(len(texts)), "text": texts}))
    got = {r["doc_id"]: r["minhash"] for r in
           minhash_signatures(docs, num_hashes=16, family="md5").collect()}
    for i, t in enumerate(texts):
        shingles = py_shingles(t)
        want = [min(_md5_a(s) + j * _md5_b(s) for s in shingles)
                for j in range(16)]
        assert got[i] == want, i


def test_md5_family_simhash_matches_hashlib(spark):
    from ocr_engine_spark.operators.dedup import simhash

    text = "spark engine extract content span spark the the"
    docs = spark.createDataFrame(pd.DataFrame({"doc_id": [1], "text": [text]}))
    fp = simhash(docs, family="md5").collect()[0]["simhash"]
    hashes = [_md5_a(t) for t in text.split()]  # duplicates kept, like the expr
    want = 0
    for b in range(60):
        votes = sum(1 if (h >> b) & 1 else -1 for h in hashes)
        if votes > 0:
            want |= 1 << b
    assert fp == want


def test_minhash_families_reject_unknown(spark):
    from ocr_engine_spark.operators.dedup import minhash_signatures, simhash

    docs = spark.createDataFrame(pd.DataFrame({"doc_id": [1], "text": ["a b c"]}))
    with pytest.raises(ValueError):
        minhash_signatures(docs, family="sha9")
    with pytest.raises(ValueError):
        simhash(docs, family="sha9")


def test_prefix_filter_exact_vs_brute_force(spark):
    """Prefix-filtered candidate generation loses NO pair: output equals the
    all-pairs brute force on a corpus built to stress it — every doc shares the
    stop tokens ('the', 'of'), near-dup pairs differ in one rare token."""
    from pyspark.sql import functions as F

    from ocr_engine_spark.operators.dedup import ngram_jaccard_pairs

    rows = []
    for i in range(30):
        rare = f"w{i}a w{i}b w{i}c w{i}d"
        rows.append((2 * i, "s", f"the of and {rare} common tail"))
        rows.append((2 * i + 1, "s", f"the of and {rare} common tip"))  # J = 8/10
    rows.append((1000, "s", "the of and totally different words here now"))
    docs = spark.createDataFrame(
        pd.DataFrame(rows, columns=["doc_id", "source", "text"]))

    got = sorted(map(tuple, ngram_jaccard_pairs(docs, 3, 5).collect()))

    d = docs.withColumn("wset", F.array_distinct(F.split(F.trim("text"), " +")))
    brute = (
        d.alias("a").join(d.alias("b"),
                          (F.col("a.source") == F.col("b.source"))
                          & (F.col("a.doc_id") < F.col("b.doc_id")))
        .withColumn("inter", F.size(
            F.array_intersect("a.wset", "b.wset")).cast("double"))
        .withColumn("jaccard", F.round(
            F.col("inter") / (F.size("a.wset") + F.size("b.wset")
                              - F.col("inter")), 6))
        .where(F.col("jaccard") >= 0.6)
        .select(F.col("a.doc_id"), F.col("b.doc_id"), "jaccard")
    )
    want = sorted(map(tuple, brute.collect()))
    assert got == want and len(got) == 30  # each rare-pair qualifies, odd doc none


def test_prefix_postings_drop_stop_tokens(spark):
    """The stop tokens every doc shares must NOT appear among the prefix join keys
    (they sort last by df), so the df^2 candidate blowup is structurally gone."""
    from pyspark.sql import functions as F

    docs = spark.createDataFrame(pd.DataFrame({
        "doc_id": list(range(20)), "source": ["s"] * 20,
        "text": [f"the of and unique{i} spare{i} extra{i} more{i} token{i} "
                 f"pad{i} fill{i}" for i in range(20)],
    }))
    d = docs.withColumn("wset", F.array_distinct(F.split(F.trim("text"), " +")))
    postings = d.select("doc_id", "source", F.size("wset").alias("n"),
                        F.explode("wset").alias("tok"))
    tok_df = postings.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    from pyspark.sql.window import Window
    w = Window.partitionBy("doc_id").orderBy(F.asc("df"), F.asc("tok"))
    prefix_toks = {
        r["tok"] for r in postings.join(tok_df, "tok")
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= F.col("n") - F.expr("((3 * n + 4) div 5)") + 1)
        .select("tok").distinct().collect()
    }
    assert not prefix_toks & {"the", "of", "and"}


def test_simhash_majority_definition(spark):
    """Each fingerprint bit is the majority vote of that token-hash bit."""
    from ocr_engine_spark.operators.dedup import simhash

    docs = spark.createDataFrame(pd.DataFrame({
        "doc_id": [1], "text": ["spark engine extract content span"]}))
    fp = simhash(docs).collect()[0]["simhash"]
    toks = "spark engine extract content span".split()
    hashes = [r["h"] for r in docs.sparkSession.sql(
        "SELECT xxhash64(t) AS h FROM (SELECT explode(array({})) AS t)".format(
            ",".join(f"'{t}'" for t in toks))).collect()]
    for b in range(64):
        votes = sum(1 if (h >> b) & 1 else -1 for h in hashes)
        assert ((fp >> b) & 1) == (1 if votes > 0 else 0), b


def test_duplicate_clusters_chain_and_isolates(spark):
    """Min-label propagation merges transitive chains (a-b, b-c -> one cluster)
    and keeps disjoint pairs separate; cluster_id is the component minimum."""
    from ocr_engine_spark.operators.dedup import duplicate_clusters

    pairs = spark.createDataFrame(pd.DataFrame({
        "doc_id_a": [1, 2, 10, 30],
        "doc_id_b": [2, 3, 11, 31],
        "jaccard": [0.9, 0.9, 0.8, 0.7],
    }))
    got = {r["doc_id"]: r["cluster_id"]
           for r in duplicate_clusters(pairs).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10, 30: 30, 31: 30}


def test_duplicate_clusters_long_chain_converges(spark):
    """A path graph needs O(diameter) rounds; the loop + convergence check must
    reach the fixpoint, not stop early."""
    from ocr_engine_spark.operators.dedup import duplicate_clusters

    n = 12  # chain 0-1-2-...-12
    pairs = spark.createDataFrame(pd.DataFrame({
        "doc_id_a": list(range(n)), "doc_id_b": list(range(1, n + 1)),
        "jaccard": [0.9] * n,
    }))
    got = {r["doc_id"]: r["cluster_id"]
           for r in duplicate_clusters(pairs).collect()}
    assert got == {i: 0 for i in range(n + 1)}


def test_duplicate_clusters_checkpoints_edges_and_one_round(spark,
                                                            monkeypatch):
    """A clique and a star centred on its minimum converge in the seeded
    round: the components checkpoint the edges and the one merge round that
    shows no label changed, nothing else.  The edges read the pairs once:
    their plan has no Union of two copies of the pair computation."""
    from pyspark.sql.classic.dataframe import DataFrame

    from ocr_engine_spark.operators.dedup import duplicate_clusters

    clique = [(a, b) for a in range(1, 5) for b in range(a + 1, 5)]
    star = [(10, leaf) for leaf in range(11, 16)]
    pairs = spark.createDataFrame(pd.DataFrame(
        clique + star, columns=["doc_id_a", "doc_id_b"]))
    plans = []
    real = DataFrame.localCheckpoint
    monkeypatch.setattr(
        DataFrame, "localCheckpoint",
        lambda self, *a, **k: plans.append(
            self._jdf.queryExecution().executedPlan().toString())
        or real(self, *a, **k))
    got = {r["doc_id"]: r["cluster_id"]
           for r in duplicate_clusters(pairs).collect()}
    assert len(plans) == 2
    assert "Generate inline" in plans[0] and "Union" not in plans[0]
    assert got == {**{i: 1 for i in range(1, 5)},
                   **{i: 10 for i in range(10, 16)}}


def test_simhash_neardup_matches_brute_force(spark):
    """Band blocking (4 x 15-bit slices) has provably perfect recall for
    Hamming <= 3 (pigeonhole): banded output equals brute-force all-pairs."""
    from pyspark.sql import functions as F

    from ocr_engine_spark.operators.dedup import simhash, simhash_neardup_pairs

    rows = []
    for i in range(12):
        base = f"alpha beta gamma delta epsilon zeta{i} eta theta iota kappa"
        rows.append((2 * i, base))
        rows.append((2 * i + 1, base.replace("kappa", "kappb")))  # tiny edit
    docs = spark.createDataFrame(pd.DataFrame(rows, columns=["doc_id", "text"]))

    got = sorted(map(tuple, simhash_neardup_pairs(docs, max_hamming=3).collect()))

    fp = simhash(docs, bits=60, family="md5").select("doc_id", "simhash")
    brute = (
        fp.alias("a").join(fp.alias("b"), F.col("a.doc_id") < F.col("b.doc_id"))
        .select(F.col("a.doc_id").alias("doc_id_a"),
                F.col("b.doc_id").alias("doc_id_b"),
                F.expr("cast(bit_count(a.simhash ^ b.simhash) as int)")
                .alias("hamming"))
        .where(F.col("hamming") <= 3)
    )
    want = sorted(map(tuple, brute.collect()))
    assert got == want


def test_simhash_neardup_rejects_weak_banding(spark):
    from ocr_engine_spark.operators.dedup import simhash_neardup_pairs

    docs = spark.createDataFrame(pd.DataFrame({"doc_id": [1], "text": ["a b"]}))
    with pytest.raises(ValueError, match="pigeonhole"):
        simhash_neardup_pairs(docs, max_hamming=4, bands=4)


def test_duplicate_clusters_raises_when_unconverged(spark):
    """A component whose diameter exceeds max_iterations must fail loudly —
    silently returning partially-propagated labels would be wrong clusters."""
    import pytest as _pytest

    from ocr_engine_spark.operators.dedup import duplicate_clusters

    n = 8  # path graph 0-1-...-8, diameter 8 > 2 rounds
    pairs = spark.createDataFrame(pd.DataFrame({
        "doc_id_a": list(range(n)), "doc_id_b": list(range(1, n + 1)),
        "jaccard": [0.9] * n,
    }))
    with _pytest.raises(RuntimeError, match="fixpoint"):
        duplicate_clusters(pairs, max_iterations=2).collect()


def test_banded_pairs_semantics(spark):
    """The one LSH band/join/verify on a hand-built signature frame (4 hashes
    in 2 bands of 2): a pair colliding in both bands comes out once, a Jaccard
    exactly at the threshold is kept, a NULL-minhash row is ignored, and a
    pair with identical sets but no shared band is never a candidate."""
    from pyspark.sql.types import (
        ArrayType, LongType, StructField, StructType,
    )

    from ocr_engine_spark.operators.dedup import banded_pairs

    longs = ArrayType(LongType())
    schema = StructType([StructField("doc_id", LongType()),
                         StructField("minhash", longs),
                         StructField("sset", longs)])
    sigs = spark.createDataFrame([
        (1, [1, 2, 3, 4], [1, 2, 3]),
        (2, [1, 2, 3, 4], [1, 2, 3, 4]),      # both bands = doc 1; J = 3/4
        (3, None, [1, 2, 3]),                 # no signature: skipped
        (4, [5, 6, 7, 8], [9, 10]),
        (5, [5, 0, 0, 8], [9, 10]),           # J = 1 but no band matches 4
        (6, [1, 2, 9, 9], [1, 20, 21, 22]),   # band 0 = doc 1; J = 1/6
    ], schema)
    got = [tuple(r) for r in banded_pairs(sigs, 4, 2, 0.75).collect()]
    assert got == [(1, 2, 0.75)]


def test_release_persisted_artifacts(spark):
    """Build-side caches registered by the LSH/ppjoin builders are released
    (and the registry drained) by the public cleanup handle."""
    from pyspark import StorageLevel

    from ocr_engine_spark.operators import artifacts, dedup

    docs = spark.createDataFrame(pd.DataFrame({
        "doc_id": [1, 2], "source": ["s", "s"],
        "text": ["alpha beta gamma delta", "alpha beta gamma delta"],
    }))
    pairs = dedup.minhash_lsh_pairs(docs, jaccard_threshold=0.5, family="xxhash64")
    pairs.count()
    assert len(artifacts._PERSISTED) >= 1
    cached = list(artifacts._PERSISTED)
    n = dedup.release_persisted_artifacts()
    assert n == len(cached)
    assert artifacts._PERSISTED == []
    assert all(df.storageLevel == StorageLevel.NONE for df in cached)


def test_canonical_drop_ids_policies(spark):
    """min-id rule (contract rows) vs keep-longest rule (production stage):
    same pair graph, different canonical member."""
    from ocr_engine_spark.operators.dedup import canonical_drop_ids

    pairs = spark.createDataFrame(pd.DataFrame({
        "doc_id_a": [1, 2, 7],
        "doc_id_b": [2, 3, 8],
        "jaccard": [0.9, 0.8, 0.7],
    }))
    # min-id: clusters {1,2,3} and {7,8} keep 1 and 7
    assert {r["doc_id"] for r in canonical_drop_ids(pairs).collect()} \
        == {2, 3, 8}
    # keep-longest: 2 is the longest of {1,2,3}; 7/8 tie -> min id 7 kept
    lengths = spark.createDataFrame(pd.DataFrame({
        "doc_id": [1, 2, 3, 7, 8],
        "doc_len": [10, 50, 10, 4, 4],
    }))
    assert {r["doc_id"]
            for r in canonical_drop_ids(pairs, lengths=lengths).collect()} \
        == {1, 3, 8}


def test_release_persisted_artifacts_scoped_keep(spark):
    """release(keep=mark) pops only artifacts registered after the mark."""
    from ocr_engine_spark.operators import dedup

    docs = spark.createDataFrame(pd.DataFrame({
        "doc_id": [1, 2],
        "text": ["alpha beta gamma delta", "alpha beta gamma delta"],
    }))
    dedup.release_persisted_artifacts()
    dedup.minhash_lsh_pairs(docs, jaccard_threshold=0.5,
                            family="xxhash64").count()
    mark = dedup.persisted_artifact_count()
    assert mark >= 1
    dedup.minhash_lsh_pairs(docs, jaccard_threshold=0.6,
                            family="xxhash64").count()
    assert dedup.persisted_artifact_count() > mark
    released = dedup.release_persisted_artifacts(keep=mark)
    assert released >= 1
    assert dedup.persisted_artifact_count() == mark
    dedup.release_persisted_artifacts()
