"""Deduplication operators: exact, MinHash+LSH, SimHash, n-gram Jaccard, clusters.

Scale design (100 TB corpus):
- exact dedup is one hash-groupBy (map-side combinable, single shuffle on the digest);
- MinHash signatures are computed per-row with array expressions (NO explode -> no
  shuffle for the signature); only the tiny banded keys shuffle for bucketing;
- candidate pairs come from LSH band buckets (self-join within buckets only), then are
  verified with exact Jaccard — the quadratic step never touches the full corpus;
- n-gram Jaccard uses ppjoin-style PREFIX FILTERING (df-ordered per-doc prefixes) so
  corpus-stopword tokens never enter candidate generation — exact, no df^2 blowup;
- SimHash is a per-row fold, usable for Hamming-radius blocking downstream;
- duplicate_clusters collapses pair graphs into components by iterative min-label
  propagation (O(diameter) rounds, lineage truncated per round);
- hash family is pluggable: xxhash64 (fast production default) or md5-affine
  (bit-identical in DuckDB -> signatures and pairs value-checkable by the SQL
  oracle); both families band through the one ``banded_pairs`` join.

Everything is built-in SQL expressions (hashing, aggregate, transform) — JVM-side,
codegen-friendly, no Python in the hot path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

# the registry handles stay importable from here for the bench harnesses
from ocr_engine_spark.operators.artifacts import (  # noqa: F401
    _persist_tracked, persisted_artifact_count, release_persisted_artifacts,
    write_once,
)
from ocr_engine_spark.operators.relational import load

LONG_MAX = (1 << 63) - 1

# Planted-duplicate recipe shared by every de-vacuated oracle query: each
# doc_id % PLANT_MOD == PLANT_RESIDUE document reappears under
# doc_id + PLANT_OFFSET.  The SQL oracles in __spark_entry__.py interpolate
# THESE constants, so engine and oracle cannot drift apart.
PLANT_MOD = 20
PLANT_RESIDUE = 7
PLANT_OFFSET = 1_000_000

def spread(df: DataFrame, factor: int = 2) -> DataFrame:
    """Spread a small single-file scan across all cores before expression-heavy
    projections.  The bench tables arrive as one parquet file = one input split, which
    would serialize the whole hash computation onto one task.  Conditional: when the
    scan already has enough splits (the cluster-scale case — thousands of byte-bounded
    splits), this is a no-op, so a well-laid-out source never pays a gratuitous
    full-corpus shuffle.

    Caveat the guard cannot see: byte-range splits beyond the file's ROW GROUP count
    are empty (a parquet split only reads row groups whose start offset falls inside
    it), so a file with giant row groups can report many partitions while the scan
    effectively runs on a handful of tasks.  Parallelism through this no-op is
    therefore bounded by row-group granularity — lay out hash-heavy corpora with
    small row groups (our sinks use 8192 rows), as tools/bench_cluster.py does.

    The split estimate uses SCAN METADATA only (``inputFiles`` + local file
    sizes / ``files.maxPartitionBytes``), not ``df.rdd.getNumPartitions()`` —
    the RDD probe forced a full physical-plan + RDD conversion at plan time.
    Non-local storage (hdfs/s3) short-circuits to no-op: those sources are
    byte-bounded by the scanner itself, which is exactly the case the guard
    existed to protect."""
    spark = df.sparkSession
    target = spark.sparkContext.defaultParallelism * factor
    splits = _estimated_scan_splits(df)
    if splits is not None and splits >= spark.sparkContext.defaultParallelism:
        return df
    return df.repartition(target)


def _size_bytes(conf_val: str) -> int:
    """Parse Spark byte-size config strings ('134217728', '128m', '1g')."""
    v = conf_val.strip().lower().removesuffix("b")
    mult = {"k": 1 << 10, "m": 1 << 20, "g": 1 << 30, "t": 1 << 40}
    if v and v[-1] in mult:
        return int(float(v[:-1]) * mult[v[-1]])
    return int(v)


def _estimated_scan_splits(df: DataFrame) -> int | None:
    """Byte-bounded split count of a plain file scan, from metadata alone.

    Returns None when the estimate cannot be made cheaply (non-scan input,
    stat failure) — callers treat None as "don't know".  Remote files return
    a large sentinel instead: a laid-out hdfs/s3 corpus is the no-op case by
    design (docstring above)."""
    from ocr_engine_spark.sources.io import scan_file_sizes

    kind, sizes = scan_file_sizes(df)
    if kind == "remote":
        return 1 << 30  # remote byte-bounded scan: always "enough splits"
    if kind != "ok":
        return None  # non-scan input or failed local stat: don't know
    max_pb = _size_bytes(df.sparkSession.conf.get(
        "spark.sql.files.maxPartitionBytes", "134217728"))
    return sum(max(1, -(-s // max_pb)) for s in sizes)


def q_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact duplicate groups by md5 digest; dup_rank orders members deterministically.

    The corpus has no organic exact duplicates at any test scale factor, which
    made the oracle row a vacuous 0-row match.  The contract query therefore
    PLANTS duplicates inside the query itself (the q_html_extract pattern:
    SQL-constructible derivations both engines replay): every doc_id % 20 == 7
    document reappears under doc_id + 1_000_000, so the digest groupBy, the
    n_copies > 1 gate, and the dup_rank ordering all produce verified non-empty
    output.  Production callers run the same operator on the raw corpus."""
    from pyspark.sql.window import Window

    base = load(spark, sf_dir, "documents").select("doc_id", "text")
    planted = base.where(F.col("doc_id") % PLANT_MOD == PLANT_RESIDUE).select(
        (F.col("doc_id") + PLANT_OFFSET).alias("doc_id"), "text")
    docs = base.unionByName(planted)
    h = docs.withColumn("text_md5", F.md5("text"))
    w = Window.partitionBy("text_md5")
    return (
        h.withColumn("n_copies", F.count(F.lit(1)).over(w))
        .withColumn(
            "dup_rank",
            F.row_number().over(Window.partitionBy("text_md5").orderBy("doc_id")),
        )
        .where(F.col("n_copies") > 1)
        .select("doc_id", "text_md5", "n_copies", "dup_rank")
    )


def _shingle_sql(col: str = "text", k: int = 3) -> str:
    """SQL for word k-gram shingles as an array (no explode).

    Built with ``zip_with`` over shifted slices rather than
    ``transform(sequence(...), i -> slice(toks, ...))``: higher-order-function
    *operands* are evaluated once per row, while expressions inside a lambda body are
    re-evaluated per element — the transform spelling re-ran ``split`` once per
    shingle (O(tokens^2) per row).  Shorter slices zip as NULL and ``concat_ws``
    skips NULLs, which reproduces the truncated final shingles exactly.
    """
    toks = f"split(trim({col}), ' +')"
    m = f"greatest(size({toks}) - {k - 1}, 1)"
    e = f"slice({toks}, 1, {m})"
    for i in range(2, k + 1):
        e = f"zip_with({e}, slice({toks}, {i}, {m}), (a, b) -> concat_ws(' ', a, b))"
    return e


def _shingle_array(col: str = "text", k: int = 3):
    return F.expr(_shingle_sql(col, k))


# --- hash families ----------------------------------------------------------
#
# "xxhash64": fastest JVM path (one xxhash64 per shingle + numeric rehash per j) —
#   the production default; NOT reproducible outside Spark.
# "md5": cross-engine-verifiable family.  For a string s with m = md5(s) hex:
#   a(s) = int(m[0:15], 16)   (60 bits)     b(s) = int(m[16:30], 16)  (56 bits)
#   h_j(s) = a + j*b  — an affine one-hash family; max value 2^60 + 15*2^56 < 2^62,
#   so the arithmetic never overflows int64 in either engine.  DuckDB computes the
#   identical integers via CAST('0x' || substr(md5(s), ...) AS BIGINT), which is
#   what makes the signatures, verification sets and pairs value-checkable
#   against the SQL oracle (band bucket ids are engine-local: see banded_pairs).

HASH_FAMILIES = ("xxhash64", "md5")


def _md5_prefix_sql(expr: str, start: int = 1, length: int = 15) -> str:
    """60-bit (default) integer from an md5-hex substring — same in DuckDB."""
    return f"cast(conv(substr(md5({expr}), {start}, {length}), 16, 10) as bigint)"


def _hashed_shingles(docs: DataFrame, num_hashes: int, k: int,
                     family: str) -> DataFrame:
    """``docs`` rows with at least one shingle, plus ``minhash`` (sig[j] = min
    over shingles of a j-seeded hash) and ``sset`` (the distinct base shingle
    hashes, the exact-Jaccard verification set) of one hash family.

    Each shingle string is hashed ONCE into ``hp``: the ``num_hashes`` family
    derives numerically (xxhash64(h, j) rehash or the md5-affine a + j*b), and
    the signature is a single ``aggregate`` fold whose input array sits in
    operand position, so the shingle build + base hashing run once per row (a
    ``transform(sequence(0, H-1), j -> aggregate(shingles, ...))`` spelling
    re-evaluated the shingle pipeline per hash index: 16x the work).  When both
    outputs are read, ``hp`` is referenced twice and stays one materialized
    column (CollapseProject does not duplicate it).  The sets hold hashed
    shingles: bigint array_intersect is far cheaper than string intersect, and
    Jaccard over distinct shingle hashes equals string-set Jaccard up to hash
    collisions (~2^-60 per pair).
    """
    if family not in HASH_FAMILIES:
        raise ValueError(f"family must be one of {HASH_FAMILIES}")
    seq = f"sequence(0, {num_hashes - 1})"
    if family == "xxhash64":
        hp = "transform(shingles, s -> xxhash64(s))"
        fold = f"(acc, h) -> zip_with(acc, {seq}, (m, j) -> least(m, xxhash64(h, j)))"
        sset = "array_distinct(hp)"
    else:
        # chained transforms: md5(s) is computed once per shingle, then both
        # affine coefficients slice the same hex (a lambda computing md5 twice
        # would double the crypto work per element)
        hp = ("transform(transform(shingles, s -> md5(s)),"
              " m -> named_struct("
              "'a', cast(conv(substr(m, 1, 15), 16, 10) as bigint),"
              " 'b', cast(conv(substr(m, 17, 14), 16, 10) as bigint)))")
        fold = f"(acc, p) -> zip_with(acc, {seq}, (m, j) -> least(m, p.a + j * p.b))"
        sset = "array_distinct(transform(hp, p -> p.a))"
    sig = f"aggregate(hp, array_repeat({LONG_MAX}L, {num_hashes}), {fold})"
    return (
        docs.withColumn("shingles", _shingle_array(k=k))
        .where(F.size("shingles") > 0)
        .withColumn("hp", F.expr(hp))
        .withColumn("minhash", F.expr(sig))
        .withColumn("sset", F.expr(sset))
        .drop("shingles", "hp")
    )


def minhash_signatures(docs: DataFrame, num_hashes: int = 16, k: int = 3,
                       family: str = "xxhash64") -> DataFrame:
    """Per-row MinHash signature (``_hashed_shingles``' ``minhash``): ``docs``
    rows with at least one shingle plus ``minhash``.  One array expression per
    row; zero shuffles."""
    return _hashed_shingles(docs, num_hashes, k, family).drop("sset")


def banded_pairs(sigs: DataFrame, num_hashes: int, bands: int,
                 jaccard_threshold: float) -> DataFrame:
    """LSH over precomputed signatures: band buckets over ``minhash`` ->
    per-bucket self-join -> pair dedup -> exact Jaccard over ``sset``.

    ``sigs`` is a (doc_id, minhash array<bigint> of ``num_hashes``, sset
    array<bigint>) frame; rows with NULL ``minhash`` are skipped.  Band ``b``'s
    bucket is ``xxhash64`` of its ``num_hashes // bands`` longs — bucket ids are
    only compared with each other, so any hash of the band serves, and two docs
    share a bucket exactly when the band matches (up to 64-bit collisions).
    Candidates are verified as ``round(inter/union, 6) >= jaccard_threshold``.
    Returns (doc_id_a, doc_id_b, jaccard) with doc_id_a < doc_id_b.
    """
    rows = num_hashes // bands
    sigs = sigs.where(F.col("minhash").isNotNull())
    buckets = [F.xxhash64(*[F.col("minhash")[b * rows + r]
                            for r in range(rows)]) for b in range(bands)]
    banded = sigs.select("doc_id", F.posexplode(F.array(*buckets))
                         .alias("band", "bucket"))
    cand = (
        banded.alias("a")
        .join(banded.alias("b"),
              (F.col("a.band") == F.col("b.band"))
              & (F.col("a.bucket") == F.col("b.bucket"))
              & (F.col("a.doc_id") < F.col("b.doc_id")))
        # map-side-combinable pair dedup (bands can collide more than once)
        .groupBy(F.col("a.doc_id").alias("doc_id_a"),
                 F.col("b.doc_id").alias("doc_id_b"))
        .agg(F.count(F.lit(1)).alias("_hits"))
        .drop("_hits")
    )
    sets = sigs.select("doc_id", "sset")  # column pruning drops minhash here
    inter = F.size(F.array_intersect("set_a", "set_b")).cast("double")
    return (
        cand.join(sets.withColumnRenamed("doc_id", "doc_id_a")
                  .withColumnRenamed("sset", "set_a"), "doc_id_a")
        .join(sets.withColumnRenamed("doc_id", "doc_id_b")
              .withColumnRenamed("sset", "set_b"), "doc_id_b")
        .withColumn("jaccard", F.round(
            inter / (F.size("set_a") + F.size("set_b") - inter), 6))
        .where(F.col("jaccard") >= jaccard_threshold)
        .select("doc_id_a", "doc_id_b", "jaccard")
    )


def minhash_lsh_pairs(docs: DataFrame, num_hashes: int = 16, bands: int = 8,
                      k: int = 3, jaccard_threshold: float = 0.7,
                      family: str = "xxhash64") -> DataFrame:
    """MinHash LSH near-dup pairs: ``_hashed_shingles`` -> ``banded_pairs``.

    Returns (doc_id_a, doc_id_b, jaccard) with doc_id_a < doc_id_b.  The
    signature frame is persisted (banding and verification both read it: the
    write-once / join-twice LSH artifact; a cluster job would checkpoint it)
    and registered for ``release_persisted_artifacts``.  Both families band
    with ``banded_pairs``' one bucket spelling, xxhash64 of the band's longs.
    The DuckDB oracle buckets by an md5 prefix of the band instead: bucket ids
    differ between the engines, but both put two docs in one bucket exactly
    when their band matches, so the candidate and verified pairs agree.
    """
    sigs = _persist_tracked(
        _hashed_shingles(docs.select("doc_id", "text"), num_hashes, k, family)
        .select("doc_id", "minhash", "sset"))
    return banded_pairs(sigs, num_hashes, bands, jaccard_threshold)


# (sf_dir, threshold, family, documents mtime) -> parquet path of the pairs
_PAIRS_ARTIFACT: dict[tuple, str] = {}


def materialized_lsh_pairs(spark: SparkSession, sf_dir: str,
                           jaccard_threshold: float = 0.5,
                           family: str = "md5") -> DataFrame:
    """Write-once MinHash-LSH pairs artifact over the documents table.

    A real dedup pipeline CHECKPOINTS the verified near-dup pairs table once and
    fans out to clustering + canonicalization from the checkpoint — it never
    rebuilds the signature -> band -> bucket-join -> verify subtree per
    consumer.  This mirrors that: the first caller per (sf_dir, threshold,
    family, table-mtime) materializes the pairs to parquet
    (``artifacts.write_once``); ``q_minhash_lsh_pairs``, ``q_dedup_clusters``
    and ``q_dedup_canonical`` all consume the artifact, so a session running
    the whole suite computes the LSH pipeline exactly once.  (doc_id bigint,
    doc_id bigint, jaccard double) round-trips parquet exactly, so consumers
    see bit-identical pairs either way.
    """
    return spark.read.parquet(write_once(
        _PAIRS_ARTIFACT, sf_dir, (jaccard_threshold, family),
        "ocr_engine_lsh_pairs_",
        lambda path: minhash_lsh_pairs(
            spread(load(spark, sf_dir, "documents").select("doc_id", "text")),
            jaccard_threshold=jaccard_threshold, family=family,
        ).write.parquet(path)))


def q_minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contract spelling uses the md5-affine family so signatures, candidate
    pairs and exact-Jaccard verification replay in the DuckDB oracle (its md5
    band buckets match exactly the bands the engine's xxhash64 buckets match)
    and the result is value-checked, not rows-only.  Production
    corpora that don't need cross-engine verification use family='xxhash64'.
    Reads the write-once pairs artifact (materialized_lsh_pairs)."""
    return materialized_lsh_pairs(spark, sf_dir, jaccard_threshold=0.5,
                                  family="md5")


def ngram_jaccard_pairs(docs: DataFrame, threshold_num: int = 3,
                        threshold_den: int = 5) -> DataFrame:
    """Exact word-set Jaccard >= t within same-source blocks, via PREFIX-FILTERED
    inverted-index candidate generation (the ppjoin argument, kept exact).

    The naive token-postings self-join costs sum over tokens of df(token)^2 —
    corpus-stopwords ("the") make that quadratic in corpus size.  Prefix filtering
    bounds it: order every doc's tokens by GLOBAL document frequency ascending
    (rarest first, ties by token), and keep only the first ``n - ceil(t*n) + 1``
    tokens as join keys.  Any pair with J(A,B) >= t has overlap >= ceil(t*|A|)
    (since i >= t*(a+b-i) and b >= i imply i >= t*a), so the globally-smallest
    shared token lies inside BOTH prefixes — candidate generation over prefixes
    alone has perfect recall, and stop-frequency tokens (sorted last) almost never
    appear in a prefix.  Candidates are then verified with the full exact
    intersection, so the output is byte-identical to the all-pairs oracle.

    ``t = threshold_num/threshold_den`` is kept rational so the prefix length uses
    exact integer ceil (no float-boundary risk): ceil(t*n) = (num*n + den-1) div den.
    """
    from pyspark.sql.window import Window

    t = threshold_num / threshold_den
    docs = (
        docs.withColumn("wset", F.array_distinct(F.split(F.trim("text"), " +")))
        .select("doc_id", "source", "wset")
    )
    # document frequency via map-side-combinable groupBy: the shuffle carries one
    # row per DISTINCT token (the vocabulary), not the corpus-sized postings; the
    # join back is auto-broadcast whenever the vocabulary is genuinely small and
    # degrades gracefully to a shuffle join when it isn't (no forced hint)
    postings = docs.select(
        "doc_id", "source", F.size("wset").alias("n"), F.explode("wset").alias("tok"))
    tok_df = postings.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    ranked = (
        postings.join(tok_df, "tok")
        .withColumn("rn", F.row_number().over(
            Window.partitionBy("doc_id").orderBy(F.asc("df"), F.asc("tok"))))
    )
    # persist the two reused build sides: the self-join and the two-sided verify
    # would otherwise recompute their whole subtrees per side (on a cluster these
    # are the standard write-once/join-twice LSH artifacts)
    prefix = _persist_tracked(
        ranked.where(F.col("rn") <= F.col("n")
                     - F.expr(f"(({threshold_num} * n + {threshold_den - 1})"
                              f" div {threshold_den})") + 1)
        .select("doc_id", "source", "tok", "n", "rn")
    )
    # verification sets hold hashed tokens: bigint array_intersect is ~3x cheaper
    # than string intersect and shuffles a fraction of the bytes; Jaccard over
    # distinct 64-bit token hashes equals string-set Jaccard up to xxhash64
    # collisions (~2^-64 per pair), the same argument as minhash verification
    sets = _persist_tracked(docs.select(
        "doc_id", F.expr("transform(wset, t -> xxhash64(t))").alias("wset"),
    ))
    num, den = threshold_num, threshold_den
    # ppjoin's two additional exact candidate filters, applied inside the join:
    # - LENGTH: J >= t forces t * max(|A|,|B|) <= min(|A|,|B|);
    # - POSITIONAL: for the pair's globally-smallest shared token at prefix
    #   positions (i, j), every shared token sits at position >= i in A and >= j
    #   in B, so overlap <= 1 + min(nA - i, nB - j); a true pair's minimal-token
    #   join event always passes (its overlap >= ceil(t/(1+t)(nA+nB))), so
    #   keeping a pair iff ANY of its events passes is exact — only
    #   provably-unqualifiable candidates are dropped before verification.
    length_ok = (F.lit(num) * F.greatest(F.col("a.n"), F.col("b.n"))
                 <= F.lit(den) * F.least(F.col("a.n"), F.col("b.n")))
    overlap_needed = F.expr(
        f"({num} * (a.n + b.n) + {num + den} - 1) div {num + den}")
    positional_ok = (
        F.lit(1) + F.least(F.col("a.n") - F.col("a.rn"),
                           F.col("b.n") - F.col("b.rn")) >= overlap_needed)
    cand = (
        prefix.alias("a")
        .join(prefix.alias("b"),
              (F.col("a.source") == F.col("b.source"))
              & (F.col("a.tok") == F.col("b.tok"))
              & (F.col("a.doc_id") < F.col("b.doc_id"))
              & length_ok & positional_ok)
        # map-side-combinable pair dedup (a groupBy, not a distinct over 3 cols)
        .groupBy(F.col("a.doc_id").alias("doc_id_a"),
                 F.col("b.doc_id").alias("doc_id_b"))
        .agg(F.count(F.lit(1)).alias("_hits"))
        .drop("_hits")
    )
    return (
        cand.join(sets.withColumnRenamed("doc_id", "doc_id_a")
                  .withColumnRenamed("wset", "set_a"), "doc_id_a")
        .join(sets.withColumnRenamed("doc_id", "doc_id_b")
              .withColumnRenamed("wset", "set_b"), "doc_id_b")
        .withColumn("inter",
                    F.size(F.array_intersect("set_a", "set_b")).cast("double"))
        .withColumn("jaccard",
                    F.round(F.col("inter") / (F.size("set_a") + F.size("set_b")
                                              - F.col("inter")), 6))
        .where(F.col("jaccard") >= t)
        .select("doc_id_a", "doc_id_b", "jaccard")
    )


def q_ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spread(load(spark, sf_dir, "documents").select("doc_id", "source", "text"))
    return ngram_jaccard_pairs(docs, threshold_num=3, threshold_den=5)


def simhash(docs: DataFrame, col: str = "text", bits: int = 64,
            family: str = "xxhash64") -> DataFrame:
    """Per-row SimHash: bit b of the fingerprint = majority vote of token-hash
    bit b (bitwise weighted sum fold, one expression, no shuffle).

    Single pass over the tokens: each token is hashed once and its bit-votes are
    folded into an accumulator array (``aggregate`` input in operand position — the
    previous per-bit outer fold re-split and re-hashed the text 64 times per row).

    family='md5' uses the 60-bit md5-prefix hash (bits capped at 60) so the
    fingerprint is reproducible in the DuckDB oracle; 'xxhash64' is the fast
    64-bit production default.
    """
    if family not in HASH_FAMILIES:
        raise ValueError(f"family must be one of {HASH_FAMILIES}")
    toks = f"split(trim({col}), ' +')"
    if family == "xxhash64":
        tok_hash = f"transform({toks}, t -> xxhash64(t))"
    else:
        bits = min(bits, 60)  # the md5-prefix hash carries 60 bits
        tok_hash = f"transform({toks}, t -> {_md5_prefix_sql('t')})"
    votes = (
        f"aggregate({tok_hash},"
        f" array_repeat(0, {bits}),"
        f" (acc, h) -> zip_with(acc, sequence(0, {bits - 1}),"
        f"  (v, b) -> v + (case when (h & shiftleft(1L, b)) != 0 then 1 else -1 end)))"
    )
    fp = F.expr(
        f"aggregate(zip_with({votes}, sequence(0, {bits - 1}),"
        "  (v, b) -> case when v > 0 then shiftleft(1L, b) else 0L end),"
        " 0L, (acc, x) -> acc | x)"
    )
    return docs.withColumn("simhash", fp)


def q_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """md5 family (60-bit) so the majority-fold fingerprint is value-checked
    against the DuckDB oracle; see q_minhash_lsh_pairs."""
    docs = spread(load(spark, sf_dir, "documents").select("doc_id", "text"))
    return simhash(docs, family="md5").select("doc_id", "simhash")


def duplicate_clusters(pairs: DataFrame, max_iterations: int = 20) -> DataFrame:
    """Connected components over near-dup pairs -> (doc_id, cluster_id) with
    cluster_id = min doc_id of the component (the canonical-document rule of a
    dedup pipeline: keep the cluster minimum, drop the rest).

    Iterative min-label propagation: label(v) <- min(label(v), min over
    neighbors) until a fixpoint, converging in O(component diameter) rounds
    (near-dup clusters are shallow).  Round 1 is seeded from the symmetric
    edges in one aggregation (every node is a ``src``).  Each later round is
    one join + one map-side combinable aggregation that also carries each
    node's previous label as ``old`` (NULL on neighbor rows), so the round's
    ``localCheckpoint`` — which keeps the plan from growing, the standard
    Spark shape for iterative graph algorithms without a graph library —
    shows whether any label changed.
    """
    # both directions from one row: a union of two selects would plan (and
    # run) the whole pair computation twice
    edges = pairs.select(F.inline(F.array(
        F.struct(F.col("doc_id_a").alias("src"), F.col("doc_id_b").alias("dst")),
        F.struct(F.col("doc_id_b").alias("src"), F.col("doc_id_a").alias("dst")),
    ))).localCheckpoint(eager=True)
    labels = edges.groupBy("src").agg(
        F.least(F.col("src"), F.min("dst")).alias("cluster_id")
    ).withColumnRenamed("src", "doc_id")
    converged = False
    for _ in range(max_iterations - 1):
        nbr = (
            edges.join(labels.withColumnRenamed("doc_id", "src"), "src")
            .select(F.col("dst").alias("doc_id"), "cluster_id")
        )
        merged = (
            labels.withColumn("old", F.col("cluster_id"))
            .unionByName(nbr, allowMissingColumns=True)
            .groupBy("doc_id")
            .agg(F.min("cluster_id").alias("cluster_id"),
                 F.max("old").alias("old"))
        ).localCheckpoint(eager=True)
        labels = merged.select("doc_id", "cluster_id")
        if merged.where(F.col("cluster_id") != F.col("old")).isEmpty():
            converged = True
            break
    if not converged:
        # Returning partially-propagated labels would be silently WRONG clusters.
        # A component's diameter exceeding max_iterations is pathological for
        # near-dup graphs (they are shallow), so fail loudly instead.
        raise RuntimeError(
            f"duplicate_clusters did not reach a fixpoint within "
            f"{max_iterations} label-propagation rounds; a component's diameter "
            f"exceeds the cap — raise max_iterations for chain-shaped graphs")
    return labels


def canonical_drop_ids(pairs: DataFrame,
                       lengths: DataFrame | None = None) -> DataFrame:
    """The (doc_id) rows a canonical-dedup pass DROPS: every near-dup cluster
    member except the cluster's canonical document.

    Default policy (the contract rows `dedup_canonical` /
    `conv_neardup_canonical`): canonical = minimum ``doc_id`` — deterministic
    and oracle-replayable, but id-order is content-blind.  With ``lengths``
    (``doc_id``, ``doc_len``): canonical = the LONGEST document, tie-broken by
    minimum ``doc_id`` — the production rule, so a truncated re-run can never
    displace its fuller original no matter how the ids happen to sort.

    Scale shape: the cluster frame holds only documents that appear in a
    near-dup pair (sparse at real duplicate rates); the length join and the
    per-cluster argmin are over that sparse set, never the corpus (verified:
    both plan as BroadcastHashJoin at contract scale).  The returned drop set
    is deliberately NOT broadcast-hinted for the consumer's anti-join: AQE
    converts the exchange to a broadcast join at runtime whenever the drop
    set is actually small, while at web-corpus dup volumes (30-50% of 10^12
    docs) the drop set itself is shuffle-sized and the sort-merge anti-join
    is the correct plan — a static hint would pick wrong at one end.
    """
    clusters = duplicate_clusters(pairs)
    if lengths is None:
        return clusters.where(
            F.col("cluster_id") != F.col("doc_id")).select("doc_id")
    m = clusters.join(lengths, "doc_id")
    # algebraic per-cluster argmin of (-doc_len, doc_id): one map-side
    # combinable aggregation, no window sort
    keep = m.groupBy("cluster_id").agg(
        F.min(F.struct((-F.col("doc_len")).alias("nl"),
                       F.col("doc_id").alias("id"))).alias("w"))
    return (m.join(keep, "cluster_id")
            .where(F.col("doc_id") != F.col("w.id"))
            .select("doc_id"))


def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup clustering: MinHash-LSH pairs (md5 family, Jaccard >= 0.5)
    collapsed into connected components; cluster_id is the canonical keeper.

    LSH pairs are the realistic clustering input — the pair graph a dedup
    pipeline materializes is the sparse LSH output, not the dense exact
    all-similarity graph (at sf0.1 the exact graph has ~70 pairs per doc; the
    LSH graph is ~0.05 per doc — clustering cost follows the edge count).
    Consumes the write-once pairs artifact (materialized_lsh_pairs)."""
    pairs = materialized_lsh_pairs(spark, sf_dir, jaccard_threshold=0.5,
                                   family="md5")
    return duplicate_clusters(pairs)


def simhash_neardup_pairs(docs: DataFrame, max_hamming: int = 3,
                          bits: int = 60, bands: int = 4,
                          family: str = "md5") -> DataFrame:
    """SimHash Hamming-radius near-dup pairs with PROVABLY exact band blocking.

    Fingerprints are split into ``bands`` equal bit-slices; candidates must share
    at least one identical slice.  By pigeonhole, any pair within Hamming
    distance ``max_hamming`` < ``bands`` differs in at most ``bands - 1`` slices,
    so it shares one — band blocking has perfect recall for the radius, and every
    candidate is verified with the exact popcount.  Cost is the classic LSH
    shape: per-band bucket self-joins, never all-pairs.
    """
    if max_hamming >= bands:
        raise ValueError("exact recall needs max_hamming < bands (pigeonhole)")
    width = bits // bands
    mask = (1 << width) - 1
    fp = simhash(docs, bits=bits, family=family).select("doc_id", "simhash")
    banded = fp.select(
        "doc_id", "simhash",
        F.posexplode(F.expr(
            f"transform(sequence(0, {bands - 1}),"
            f" b -> shiftright(simhash, b * {width}) & {mask}L)"
        )).alias("band", "chunk"),
    )
    return (
        banded.alias("a")
        .join(banded.alias("b"),
              (F.col("a.band") == F.col("b.band"))
              & (F.col("a.chunk") == F.col("b.chunk"))
              & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("doc_id_a"),
                 F.col("b.doc_id").alias("doc_id_b"))
        .agg(F.first(F.expr("bit_count(a.simhash ^ b.simhash)")).alias("hamming"))
        .where(F.col("hamming") <= max_hamming)
        .select("doc_id_a", "doc_id_b", F.col("hamming").cast("int").alias("hamming"))
    )


def q_simhash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spread(load(spark, sf_dir, "documents").select("doc_id", "text"))
    return simhash_neardup_pairs(docs, max_hamming=3)


def q_dedup_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The END PRODUCT of near-dedup: the corpus with non-canonical cluster
    members dropped (keep each cluster's minimum doc_id — the rule a training
    pipeline applies before tokenization).  LSH pairs -> connected components ->
    one anti-join against the drop set; emits (doc_id, text_md5) so content
    identity of every survivor is value-checked.  Consumes the write-once
    pairs artifact (materialized_lsh_pairs) like a real pipeline resuming from
    its pairs checkpoint."""
    docs = spread(load(spark, sf_dir, "documents").select("doc_id", "text"))
    pairs = materialized_lsh_pairs(spark, sf_dir, jaccard_threshold=0.5,
                                   family="md5")
    return (
        docs.join(canonical_drop_ids(pairs), "doc_id", "left_anti")
        .select("doc_id", F.md5("text").alias("text_md5"))
    )


# ---------------------------------------------------------------------------
# Sub-document granularity: chunk-level (paragraph-analog) dedup.
#
# The corpus documents are single-line word streams, so the "paragraph" unit is
# a deterministic non-overlapping CHUNK_WORDS-word window — the same role
# newline-delimited paragraphs/lines play in a C4/RefinedWeb-style cleaning
# pass.  Two classic sub-document operators build on it:
#   * paragraph_dedup     — keep the FIRST occurrence of every chunk corpus-wide
#                           (global keep-first line dedup);
#   * boilerplate_strip   — remove chunks appearing in >= min_docs DISTINCT
#                           documents from EVERYWHERE (frequency boilerplate).
# Reference stake: this is the crop -> filter -> regroup shape of the span
# pipeline (/root/reference/src/ocr.py:131-152 crop+validity filtering,
# src/word_formation.py regroup) applied one level below the document.
# ---------------------------------------------------------------------------

CHUNK_WORDS = 8


def chunk_documents(docs: DataFrame, width: int = CHUNK_WORDS) -> DataFrame:
    """Explode documents into (doc_id, cidx, chunk) non-overlapping word chunks.

    Tokenization and chunk assembly are single-pass array expressions (split ->
    transform(sequence) -> posexplode): per-row JVM work, no shuffle, no Python.
    The trailing partial chunk (< width words) is kept; empty chunks (blank
    documents) are dropped — the F7 blank-text filter at chunk granularity.
    """
    toks = docs.select("doc_id", F.split(F.trim(F.col("text")), " +").alias("tk"))
    chunk_expr = (
        f"transform(sequence(0, cast(floor((size(tk)-1)/{width}) as int)),"
        f" i -> array_join(slice(tk, i*{width}+1, {width}), ' '))"
    )
    return (
        toks.select("doc_id", F.posexplode(F.expr(chunk_expr)).alias("cidx", "chunk"))
        .where(F.length("chunk") > 0)
    )


def paragraph_dedup(docs: DataFrame, width: int = CHUNK_WORDS) -> DataFrame:
    """Global keep-first chunk dedup; returns (doc_id, n_chunks, n_kept, dedup_text).

    100 TB shape — two shuffles, both skew-free, no per-key sort:
      1. groupBy(md5(chunk)) with min(struct(doc_id, cidx, chunk)): the map-side
         combiner collapses duplicate chunks BEFORE the exchange, so a chunk
         occurring a billion times ships one row per map task, and the winning
         occurrence (corpus-order minimum) rides out of the aggregate with its
         text — no join back to the chunk set (the window/row_number spelling
         would sort every occurrence of a hot chunk in one task; min is
         algebraic, so it never does).
      2. regroup the surviving occurrences by doc_id to reassemble the cleaned
         text in cidx order (array_sort over struct with unique first key —
         total order, partition-independent).
    Documents whose every chunk lost to an earlier document survive with
    n_kept = 0 and empty text (left join from per-doc totals).
    """
    ch = chunk_documents(docs, width)
    totals = ch.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_chunks"))
    winners = (
        ch.groupBy(F.md5("chunk").alias("digest"))
        .agg(F.min(F.struct("doc_id", "cidx", "chunk")).alias("w"))
        .select(F.col("w.doc_id").alias("doc_id"), F.col("w.cidx").alias("cidx"),
                F.col("w.chunk").alias("chunk"))
    )
    kept = winners.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.array_join(
            F.expr("transform(array_sort(collect_list(struct(cidx, chunk))),"
                   " s -> s.chunk)"),
            " ",
        ).alias("dedup_text"),
    )
    return (
        totals.join(kept, "doc_id", "left")
        .select(
            "doc_id",
            "n_chunks",
            F.coalesce(F.col("n_kept"), F.lit(0)).cast("bigint").alias("n_kept"),
            F.coalesce(F.col("dedup_text"), F.lit("")).alias("dedup_text"),
        )
    )


def boilerplate_strip(docs: DataFrame, width: int = CHUNK_WORDS,
                      min_docs: int = 2) -> DataFrame:
    """Remove chunks appearing in >= min_docs DISTINCT documents from every
    document; returns (doc_id, n_chunks, n_removed, clean_text).

    100 TB shape — two chunk-set scans total, one regroup, no join-back:
      1. frequency pass: groupBy(digest) with count_distinct(doc_id), map-side
         combinable; the surviving boilerplate set (chunks crossing the
         threshold) is orders of magnitude smaller than the chunk set, so it
         broadcasts.  When it outgrows the broadcast threshold Spark falls
         back to a shuffled join on the same plan; AQE picks per its runtime
         size estimate (the hint is advisory, not forced).
      2. flag pass: broadcast LEFT join marks each chunk removed/kept, then a
         SINGLE groupBy(doc_id) computes totals, removed count, and the
         cleaned text in one aggregate — the separate totals scan and the
         totals⋈kept join a naive spelling would add never materialize.
    """
    ch = chunk_documents(docs, width).withColumn("digest", F.md5("chunk"))
    boiler = (
        ch.groupBy("digest")
        .agg(F.count_distinct("doc_id").alias("n_docs"))
        .where(F.col("n_docs") >= min_docs)
        .select("digest", F.lit(True).alias("is_boiler"))
    )
    flagged = ch.join(F.broadcast(boiler), "digest", "left")
    return flagged.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_chunks"),
        F.count("is_boiler").cast("bigint").alias("n_removed"),
        F.array_join(
            F.expr("transform(array_sort(collect_list("
                   "  CASE WHEN is_boiler IS NULL"
                   "       THEN struct(cidx, chunk) END)),"
                   " s -> s.chunk)"),
            " ",
        ).alias("clean_text"),
    )


def q_paragraph_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contract row: corpus-wide keep-first chunk dedup over documents.

    The corpus has ~5% organically duplicated 8-word chunks at every test SF
    (Zipfian small-vocabulary text), so no plants are needed — the oracle row
    is non-vacuous on the raw table."""
    docs = spread(load(spark, sf_dir, "documents").select("doc_id", "text"))
    return paragraph_dedup(docs)


def q_boilerplate_strip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contract row: frequency-threshold boilerplate removal over documents."""
    docs = spread(load(spark, sf_dir, "documents").select("doc_id", "text"))
    return boilerplate_strip(docs, min_docs=2)
