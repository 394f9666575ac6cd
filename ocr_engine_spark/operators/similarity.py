"""Similarity search over embedding columns (array<float>).

- brute-force cosine top-k: the exact baseline (broadcast the query set, one pass over
  the corpus, per-partition top-k via window rank) — correct at any scale, O(N*Q);
  two interchangeable scorers: the F.aggregate/F.zip_with expression path (JVM-side,
  oracle-identical fold order) and the BLAS path (`brute_force_topk_blas`: one numpy
  matmul per Arrow batch, local top-k per batch so the shuffle never carries the full
  score matrix);
- IVF-style bucketed ANN: assign every vector to its nearest ``probes`` centroids
  (broadcast centroid table), probe only matching buckets at query time — the scale
  path that turns O(N*Q) into O(N/C * Q) per probe;
- embedding near-dup: exact within label blocks (no forced broadcast), or bucketed by
  (label, IVF cell) for corpora whose label blocks are themselves huge.

Scores are rounded before ranking with total-order tie-breaks for cross-engine
determinism.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.functions import broadcast

from ocr_engine_spark.operators.artifacts import _table_mtime
from ocr_engine_spark.operators.relational import load


def _cosine(a: str, b: str):
    """Sequential-fold cosine similarity between two array<double> columns (the same
    left-to-right accumulation order in Spark and the DuckDB oracle)."""
    dot = F.expr(f"aggregate(zip_with({a}, {b}, (x, y) -> x * y), 0.0D, (s, v) -> s + v)")
    na = F.sqrt(F.expr(f"aggregate({a}, 0.0D, (s, v) -> s + v * v)"))
    nb = F.sqrt(F.expr(f"aggregate({b}, 0.0D, (s, v) -> s + v * v)"))
    return dot / (na * nb)


def _as_double(df: DataFrame, col: str = "embedding") -> DataFrame:
    return df.withColumn(col, F.col(col).cast("array<double>"))


def brute_force_topk(corpus: DataFrame, queries: DataFrame, k: int = 5) -> DataFrame:
    """Exact cosine top-k: broadcast queries x corpus, rank with rounded-score +
    id tie-break (total order -> deterministic across engines and runs)."""
    from pyspark.sql.window import Window

    c = _as_double(corpus).select(
        F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("emb_c"))
    q = _as_double(queries).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("emb_q"))
    scored = (
        c.crossJoin(broadcast(q))
        .where(F.col("neighbor_id") != F.col("query_id"))
        .withColumn("score", F.round(_cosine("emb_q", "emb_c"), 6))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "score")
    )


def q_embedding_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < 5)
    return brute_force_topk(emb, queries, k=5)


def ivf_assign(corpus: DataFrame, centroids: DataFrame,
               probes: int = 1) -> DataFrame:
    """IVF coarse quantization: nearest ``probes`` centroids per vector (broadcast
    centroids — a genuinely bounded side — argmax by rounded cosine with centroid-id
    tie-break).  ``probes > 1`` is the multi-probe assignment used for bucketed
    near-dup blocking (a vector belongs to its top-k buckets, so near neighbors that
    straddle a Voronoi boundary still share a bucket)."""
    from pyspark.sql.window import Window

    c = _as_double(corpus).select("vec_id", F.col("embedding").alias("emb"))
    cent = _as_double(centroids).select(
        F.col("vec_id").alias("centroid_id"), F.col("embedding").alias("cemb"))
    scored = c.crossJoin(broadcast(cent)).withColumn(
        "score", F.round(_cosine("emb", "cemb"), 6))
    w = Window.partitionBy("vec_id").orderBy(F.desc("score"), F.asc("centroid_id"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= probes)
        .select("vec_id", "centroid_id", F.col("score").alias("centroid_score"))
    )


# centroid-mean quantization: component means are computed over integer-quantized
# inputs so the numerator is an EXACT bigint sum (order-independent -> the DuckDB
# oracle reproduces the trained centroids bit-for-bit); the only float op per
# component is one final double division by (count * QUANT).
CENTROID_QUANT = 10_000_000


def train_centroids(corpus: DataFrame, k: int = 8, iterations: int = 3,
                    quant: int = CENTROID_QUANT) -> DataFrame:
    """Seeded deterministic Lloyd's iteration — real k-means for the IVF coarse
    quantizer (replaces the round-2 ``vec_id < k`` pseudo-seeds).

    - seeds: the ``k`` lowest vec_ids (deterministic, replayable);
    - assignment: nearest centroid by rounded cosine with centroid-id tie-break
      (the exact total order every IVF query uses);
    - update: element-wise mean over members, computed on inputs quantized to
      ``round(x * quant)`` bigints so the sum is exact integer arithmetic —
      no float-accumulation order dependence, hence bit-identical across
      engines/partitionings; empty clusters keep their previous centroid.
      Cosine assignment is scale-invariant, so the un-normalized mean scores
      identically to the spherical-k-means normalized mean.

    Each round is one broadcast-centroid pass over the corpus plus a (k x dim)-row
    aggregation; only k*dim sums ever reach the driver, so training scales to any
    corpus (sample upstream for very large N, as production IVF training does).
    Returns (centroid_id, embedding array<double>).
    """
    from pyspark import StorageLevel

    spark = corpus.sparkSession
    q = _as_double(corpus).select(
        "vec_id", "embedding",
        F.expr(f"transform(embedding, x -> cast(floor(x * {quant} + 0.5d)"
               " as bigint))").alias("qcomps"),
    ).persist(StorageLevel.MEMORY_AND_DISK)
    try:
        seeds = (q.orderBy("vec_id").limit(k)
                 .select("vec_id", "embedding").collect())
        cents = [(i_row["vec_id"], list(i_row["embedding"])) for i_row in seeds]
        # cluster ids are the seed vec_ids (stable across rounds)
        for _ in range(iterations):
            cent_df = spark.createDataFrame(
                cents, "vec_id long, embedding array<double>")
            assigned = ivf_assign(q, cent_df, probes=1).select(
                "vec_id", "centroid_id")
            members = assigned.join(q.select("vec_id", "qcomps"), "vec_id")
            sums = (
                members.select("centroid_id",
                               F.posexplode("qcomps").alias("pos", "v"))
                .groupBy("centroid_id", "pos")
                .agg(F.sum("v").alias("s"), F.count(F.lit(1)).alias("n"))
                .collect()
            )
            by_cid: dict = {}
            for r in sums:
                by_cid.setdefault(r["centroid_id"], {})[r["pos"]] = (r["s"], r["n"])
            new_cents = []
            for cid, emb in cents:
                comp = by_cid.get(cid)
                if not comp:  # empty cluster: keep the previous centroid
                    new_cents.append((cid, emb))
                    continue
                dim = len(emb)
                new_cents.append((cid, [
                    comp[p][0] / (comp[p][1] * float(quant)) for p in range(dim)
                ]))
            cents = new_cents
    finally:
        q.unpersist()
    return spark.createDataFrame(
        cents, "centroid_id long, embedding array<double>")


# (sf_dir, k, T, table mtime) -> plain centroid rows (no session refs)
_TRAINED_CACHE: dict = {}


def trained_centroids(spark: SparkSession, sf_dir: str, k: int = 8,
                      iterations: int = 3) -> DataFrame:
    """Trained centroids for the contract embeddings table, cached per (sf_dir,
    k, T, table-mtime) as PLAIN rows — every IVF contract query shares one
    training run, and the cache stays valid across SparkSessions (a cached
    DataFrame would hold a reference to a possibly-stopped session).  The
    mtime key invalidates the codebook if the table under ``sf_dir`` is
    rewritten within a process; an UNCHANGED path+mtime is assumed to mean
    unchanged data (parquet writers bump mtime on rewrite)."""
    key = (sf_dir, k, iterations, _table_mtime(sf_dir, "embeddings"))
    if key not in _TRAINED_CACHE:
        emb = load(spark, sf_dir, "embeddings")
        cents = train_centroids(emb, k=k, iterations=iterations)
        _TRAINED_CACHE[key] = [
            (r["centroid_id"], list(r["embedding"])) for r in cents.collect()]
    return spark.createDataFrame(
        _TRAINED_CACHE[key], "vec_id long, embedding array<double>")


def q_kmeans_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The trained coarse-quantizer codebook itself, value-checked: the DuckDB
    oracle replays the identical seeded Lloyd's rounds (exact integer means)."""
    cents = trained_centroids(spark, sf_dir)
    return cents.select(
        F.col("vec_id").alias("centroid_id"),
        F.round(F.expr("aggregate(embedding, 0.0d, (s, v) -> s + v * v)"),
                6).alias("sq_norm"),
        F.round(F.element_at("embedding", 1), 6).alias("c0"),
        F.round(F.element_at("embedding", 2), 6).alias("c1"),
    )


def q_ivf_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF coarse assignment under the TRAINED codebook (train_centroids): the
    oracle replays the same seeded Lloyd's rounds before assigning."""
    emb = load(spark, sf_dir, "embeddings")
    return ivf_assign(emb, trained_centroids(spark, sf_dir))


def ivf_topk(corpus_assigned: DataFrame, queries_assigned: DataFrame,
             k: int = 5) -> DataFrame:
    """ANN probe: top-k restricted to the query's centroid bucket (1-probe IVF)."""
    from pyspark.sql.window import Window

    c = corpus_assigned.select(
        F.col("vec_id").alias("neighbor_id"), F.col("emb").alias("emb_c"), "centroid_id")
    q = queries_assigned.select(
        F.col("vec_id").alias("query_id"), F.col("emb").alias("emb_q"),
        F.col("centroid_id").alias("q_centroid"))
    scored = (
        c.join(broadcast(q), c.centroid_id == q.q_centroid)
        .where(F.col("neighbor_id") != F.col("query_id"))
        .withColumn("score", F.round(_cosine("emb_q", "emb_c"), 6))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "score")
    )


def q_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-probe IVF ANN search: queries (vec_id < 5) search only their own centroid
    bucket — the O(N/C) scale path next to q_embedding_topk's exact O(N) baseline."""
    emb = _as_double(load(spark, sf_dir, "embeddings"))
    vecs = emb.select("vec_id", F.col("embedding").alias("emb"))
    centroids = trained_centroids(spark, sf_dir)
    assigned = (
        ivf_assign(emb, centroids)
        .join(vecs, "vec_id")
        .select("vec_id", "emb", "centroid_id")
    )
    queries = assigned.where(F.col("vec_id") < 5)
    return ivf_topk(assigned, queries, k=5)


# Planted-twin recipe for the embedding near-dup oracles; the SQL oracles in
# __spark_entry__.py interpolate THESE constants so engine and oracle cannot
# drift apart.
TWIN_MOD = 25
TWIN_RESIDUE = 3
TWIN_OFFSET = 1_000_000


def _with_planted_twins(emb: DataFrame, modulus: int = TWIN_MOD,
                        residue: int = TWIN_RESIDUE,
                        id_offset: int = TWIN_OFFSET) -> DataFrame:
    """Union deterministic scaled twins into an (already double-cast) embedding
    corpus: every ``vec_id % modulus == residue`` vector reappears under
    ``vec_id + id_offset`` with components halved.

    The synthetic corpus has no organic pairs above the 0.9 cosine threshold at
    ANY scale factor, so the near-dup oracle rows matched on empty output — a
    vacuous check.  Scaling by 0.5 is exact in IEEE binary (mantissas are
    unchanged), so cosine(v, v/2) evaluates to the SAME bits as cosine(v, v)
    under the sequential fold in both engines, rounds to 1.0, and the planted
    pair must survive the threshold filter; every cross pair still exercises
    the reject path.  The twin keeps its label so label blocking is exercised
    too.  Production near-dup runs the operator on the raw corpus."""
    planted = emb.where(F.col("vec_id") % modulus == residue).select(
        (F.col("vec_id") + id_offset).alias("vec_id"),
        F.expr("transform(embedding, x -> x * 0.5d)").alias("embedding"),
        "label")
    return emb.unionByName(planted)


def q_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs, blocked by label (the coarse bucket).

    Exact within label blocks.  NO broadcast hint: the corpus side is unbounded, and
    a forced broadcast of the full embedding table OOMs the driver at any realistic
    corpus size — ``autoBroadcastJoinThreshold``/AQE pick the strategy from actual
    size stats instead (sort-merge at scale, broadcast only when genuinely tiny).
    For corpora where label blocks themselves are huge, use the bucketed
    ``q_embedding_neardup_ivf`` scale path.  Twins are planted in-query so the
    threshold filter is verified on non-empty output (see _with_planted_twins).
    """
    emb = _with_planted_twins(_as_double(load(spark, sf_dir, "embeddings")))
    a = emb.select(F.col("vec_id").alias("id_a"), F.col("embedding").alias("emb_a"),
                   F.col("label").alias("lbl"))
    b = emb.select(F.col("vec_id").alias("id_b"), F.col("embedding").alias("emb_b"),
                   F.col("label").alias("lbl"))
    return (
        a.join(b, "lbl")
        .where(F.col("id_a") < F.col("id_b"))
        .withColumn("score", F.round(_cosine("emb_a", "emb_b"), 6))
        .where(F.col("score") >= 0.9)
        .select("id_a", "id_b", "score")
    )


def embedding_neardup_ivf(emb: DataFrame, centroids: DataFrame,
                          probes: int = 2, threshold: float = 0.9) -> DataFrame:
    """Bucketed near-dup: candidates must share a (label, IVF-bucket) block.

    The 100 TB path: each vector is assigned to its top-``probes`` centroid buckets
    (multi-probe, so boundary-straddling neighbors still collide), pairs are
    generated ONLY within (label, bucket) — never across the full label block — and
    every candidate is verified with the exact cosine.  Pair-generation cost drops
    from sum over labels of N_label^2 to sum over (label, bucket) cells of
    N_cell^2 ~ N_label^2 * probes^2 / C, tunable by centroid count C.  The bucketing
    is deterministic (rounded-score argmax, centroid-id tie-break), so the whole
    pipeline — including candidate generation — replays exactly in the SQL oracle.
    """
    vecs = _as_double(emb).select(
        "vec_id", F.col("embedding").alias("emb"), "label")
    assigned = (
        ivf_assign(vecs.select("vec_id", F.col("emb").alias("embedding")),
                   centroids, probes=probes)
        .join(vecs, "vec_id")
        .select("vec_id", "emb", "label", "centroid_id")
    )
    a = assigned.select(F.col("vec_id").alias("id_a"), F.col("emb").alias("emb_a"),
                        F.col("label").alias("lbl"), "centroid_id")
    b = assigned.select(F.col("vec_id").alias("id_b"), F.col("emb").alias("emb_b"),
                        F.col("label").alias("lbl"), "centroid_id")
    cand = (
        a.join(b, ["lbl", "centroid_id"])
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "emb_a", "id_b", "emb_b")
        .dropDuplicates(["id_a", "id_b"])  # multi-probe can collide in >1 bucket
    )
    return (
        cand.withColumn("score", F.round(_cosine("emb_a", "emb_b"), 6))
        .where(F.col("score") >= threshold)
        .select("id_a", "id_b", "score")
    )


def q_embedding_neardup_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketed near-dup under the TRAINED codebook, with twins planted in-query
    (see _with_planted_twins).  Cosine is scale-invariant bit-for-bit under the
    exact 0.5 scaling, so a twin lands in the SAME multi-probe buckets as its
    original — the (label, bucket) candidate join, the dropDuplicates collapse,
    and the verify filter are all exercised on non-empty output.  Centroids stay
    trained on the raw corpus (training upstream of dedup, as in production)."""
    emb = _with_planted_twins(_as_double(load(spark, sf_dir, "embeddings")))
    centroids = trained_centroids(spark, sf_dir)
    return embedding_neardup_ivf(emb, centroids, probes=2, threshold=0.9)


def brute_force_topk_blas(corpus: DataFrame, queries: DataFrame,
                          k: int = 5) -> DataFrame:
    """Vectorized exact top-k: the Pandas-UDF/BLAS scale path for brute-force
    scoring.  The bounded query set is collected into one numpy matrix and closed
    over (the broadcast side); each Arrow batch of the corpus scores against it
    with a single float64 matmul and emits only its local top-k candidates per
    query, so the shuffle carries O(batches * q * k) rows — never the full
    O(N * Q) score matrix.  A final window keeps the global top-k under the same
    total order as ``brute_force_topk`` (rounded score desc, neighbor id asc).

    The local buffer is PROVABLY sufficient: the global order rounds scores to
    6 dp (in Spark, so the value path stays engine-exact), and two raw scores
    can only collapse to one rounded value when they differ by < 1e-6.  Each
    batch keeps every row whose raw score is >= (k-th best raw) - 1e-6, so any
    dropped row rounds strictly below at least k kept rows and no id tie-break
    can promote it into the global top-k — exact on adversarial/tie-heavy
    inputs, ~k rows per batch in practice.
    """
    import numpy as np
    import pandas as pd

    from pyspark.sql.window import Window

    q_rows = (_as_double(queries).select("vec_id", "embedding")
              .orderBy("vec_id").collect())
    qids = np.array([r["vec_id"] for r in q_rows], dtype=np.int64)
    qmat = np.array([r["embedding"] for r in q_rows], dtype=np.float64)
    qnorm = np.sqrt((qmat * qmat).sum(axis=1))

    def kernel(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            ids = pdf["vec_id"].to_numpy(dtype=np.int64)
            cmat = np.array(list(pdf["embedding"]), dtype=np.float64)
            cnorm = np.sqrt((cmat * cmat).sum(axis=1))
            scores = (cmat @ qmat.T) / (cnorm[:, None] * qnorm[None, :])
            out_q, out_n, out_s = [], [], []
            for j, qid in enumerate(qids):
                keep = ids != qid
                kcol = scores[:, j][keep]
                kids = ids[keep]
                order = np.lexsort((kids, -kcol))
                if len(order) > k:
                    # rounding-tie-safe cut: the raw-descending prefix within
                    # 1e-6 of the k-th best raw score
                    order = order[kcol[order] >= kcol[order[k - 1]] - 1e-6]
                sel_ids = kids[order]
                sel_scores = kcol[order]
                out_q.extend([qid] * len(sel_ids))
                out_n.extend(sel_ids.tolist())
                out_s.extend(sel_scores.tolist())
            yield pd.DataFrame({"query_id": out_q, "neighbor_id": out_n,
                                "score_raw": out_s})

    cand = _as_double(corpus).select("vec_id", "embedding").mapInPandas(
        kernel, schema="query_id long, neighbor_id long, score_raw double")
    w = Window.partitionBy("query_id").orderBy(F.desc("score"),
                                               F.asc("neighbor_id"))
    return (
        cand.withColumn("score", F.round("score_raw", 6))
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "score")
    )


def q_embedding_topk_blas(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < 5)
    return brute_force_topk_blas(emb, queries, k=5)


def q_ivf_topk_multiprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-probe IVF ANN search: each query probes its top-2 centroid buckets
    (the standard recall lever when the nearest neighbor straddles a Voronoi
    boundary), corpus vectors keep single-bucket assignment, duplicate
    (query, neighbor) hits across probes collapse before ranking."""
    from pyspark.sql.window import Window

    emb = _as_double(load(spark, sf_dir, "embeddings"))
    vecs = emb.select("vec_id", F.col("embedding").alias("emb"))
    centroids = trained_centroids(spark, sf_dir)
    corpus = (
        ivf_assign(emb, centroids, probes=1)
        .join(vecs, "vec_id")
        .select(F.col("vec_id").alias("neighbor_id"),
                F.col("emb").alias("emb_c"), "centroid_id")
    )
    queries = (
        ivf_assign(emb.where(F.col("vec_id") < 5), centroids, probes=2)
        .join(vecs, "vec_id")
        .select(F.col("vec_id").alias("query_id"),
                F.col("emb").alias("emb_q"),
                F.col("centroid_id").alias("q_centroid"))
    )
    scored = (
        corpus.join(broadcast(queries), corpus.centroid_id == queries.q_centroid)
        .where(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id",
                F.round(_cosine("emb_q", "emb_c"), 6).alias("score"))
        .dropDuplicates(["query_id", "neighbor_id"])
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= 5)
        .select("query_id", "neighbor_id", "rank", "score")
    )


# --- semantic decontamination --------------------------------------------------

# benchmark slice + leak plant: every benchmark vector (vec_id % BENCH_MOD ==
# BENCH_RESIDUE) also "leaks" into the corpus at vec_id + LEAK_OFFSET with
# components halved (exact in IEEE: cosine(v, v/2) folds to the same bits as
# cosine(v, v) and rounds to 1.0) — the corpus has no organic vector within
# 0.52 cosine of the benchmark slice at any sf, so the flag would otherwise be
# verified on all-false output
BENCH_MOD = 40
BENCH_RESIDUE = 3
LEAK_OFFSET = 2_000_000
DECONTAM_THRESHOLD = 0.99


def semantic_decontam(corpus: DataFrame, bench: DataFrame,
                      threshold: float = DECONTAM_THRESHOLD) -> DataFrame:
    """Embedding-space benchmark decontamination: for every corpus vector, its
    nearest benchmark item by cosine and a contaminated flag at ``threshold``
    — the semantic complement of the exact 5-gram ``contamination_check``
    (paraphrased eval leakage that shares no shingle).

    Plan shape: the benchmark side is BOUNDED (eval suites are ~1e4 items), so
    it broadcasts; the corpus streams through once and the per-vector argmax
    is a map-side-combinable ``max(struct(score, -bench_id))`` — the shuffle
    carries one row per (vector, task), never the N x B score matrix.  The
    (score DESC, bench_id ASC) tie-break is total, so the reduction is
    order-independent and replays exactly in the SQL oracle's window spelling.
    At 100 TB nothing changes: broadcast + scan + partial agg is the flat
    optimum for a bounded query set (the brute_force_topk scale argument).
    """
    c = _as_double(corpus).select("vec_id", F.col("embedding").alias("emb_c"))
    q = _as_double(bench).select(
        F.col("vec_id").alias("bench_id"), F.col("embedding").alias("emb_b"))
    scored = (
        c.crossJoin(broadcast(q))
        .withColumn("score", F.round(_cosine("emb_c", "emb_b"), 6)))
    best = (
        scored.groupBy("vec_id")
        .agg(F.max(F.struct(F.col("score"), (-F.col("bench_id")).alias("nb")))
             .alias("m"))
        .select("vec_id", F.col("m.score").alias("score"),
                (-F.col("m.nb")).alias("bench_id")))
    return best.select(
        "vec_id", "bench_id", "score",
        F.when(F.col("score") >= threshold, 1).otherwise(0)
        .cast("int").alias("contaminated"))


def q_semantic_decontam(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decontamination scan with planted leaks: benchmark = the
    ``vec_id % BENCH_MOD == BENCH_RESIDUE`` slice; corpus = everything else
    PLUS a halved copy of each benchmark vector at ``vec_id + LEAK_OFFSET``
    (the _with_planted_twins construction), so the ``contaminated`` flag is
    value-checked on true AND false rows.  An organic ``vec_id`` at or past
    ``LEAK_OFFSET`` would share an id with a leak and merge the two in the
    argmax, so the scan of the organic rows raises on one."""
    emb = _as_double(load(spark, sf_dir, "embeddings"))
    bench = emb.where(F.col("vec_id") % BENCH_MOD == BENCH_RESIDUE)
    leaks = bench.select(
        (F.col("vec_id") + LEAK_OFFSET).alias("vec_id"),
        F.expr("transform(embedding, x -> x * 0.5d)").alias("embedding"),
        "label")
    organic = emb.where(F.col("vec_id") % BENCH_MOD != BENCH_RESIDUE).where(
        F.assert_true(F.col("vec_id") < LEAK_OFFSET,
                      f"organic vec_id >= LEAK_OFFSET ({LEAK_OFFSET})")
        .isNull())
    corpus = organic.unionByName(leaks)
    return semantic_decontam(corpus, bench)
