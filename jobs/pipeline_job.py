"""Production entry point: the full pretraining-data pipeline as ONE job.

Chains the stages a real training-data run chains (the composition pinned by
the ``pipeline_e2e`` contract row), over a transcript table:

    extraction (fused Arrow kernel, declared-kind dispatch, AUTO skew salt)
    -> truncate_to_budget       (context cap in chars, prefix-only)
    -> assemble_conversations   (one training document per conversation)
    -> dedup_conversations      (one survivor per exact-duplicate family)
    -> [feature pass]           (with either flag below: ONE mapInArrow
                                 pass tokenizes each survivor once,
                                 vectorized over its Arrow batch, and emits
                                 what the enabled stages read — the MinHash
                                 signature, bit-identical to the contract's
                                 minhash_signatures through Spark's XXH64 in
                                 numpy; the distinct 3-shingle hashes; the
                                 word-bigram hashes — persisted once)
    -> [--near-dedup]           (MinHash-LSH near-dup clusters over the
                                 signatures; keep each cluster's LONGEST
                                 document, tie-break min conv_id — catches
                                 truncated/perturbed re-runs exact dedup
                                 cannot; the conv_neardup_canonical contract
                                 row run as a pipeline stage, with the
                                 content-aware canonical rule production needs)
    -> [--quality-filter]       (CCNet-style bigram-LM gate: a hashed held-in
                                 slice trains the min-count-pruned model over
                                 HASHED bigrams, collected as a sorted array
                                 and probed with np.searchsorted; documents
                                 whose OOV-bigram rate exceeds
                                 --quality-max-oov drop — the lm_quality
                                 contract row run as a pipeline stage.  Two
                                 distinct bigrams collide with probability
                                 about n^2/2^65 for n distinct bigrams)
    -> pack_by_group            (greedy token packing into training
                                 sequences: one mapInArrow over the rows
                                 hashed by shard and sorted by conv_id, its
                                 fill state carried across Arrow batches)

Every Python stage above (the kernel, the feature pass, the LM scorer and the
packer) is a mapInArrow, so each holds one Arrow batch
(spark.sql.execution.arrow.maxRecordsPerBatch rows) at a time, and none of
the modules their closures load imports pandas (pyarrow 16 still loads it
lazily, at its first conversion of Python or numpy data to Arrow).

Cluster launch (the reference CLI lifecycle, /root/reference/run.py:24-45,
extended to the pipeline the extracted text feeds):

    zip -r engine.zip ocr_engine_spark/
    spark-submit --py-files engine.zip jobs/pipeline_job.py \
        --input warehouse/transcripts --output /data/pretrain_run1 \
        --run-id r1 --char-budget 16000 --seq-budget 2048 --shards 1024 \
        --checkpoint-extraction --n-buckets 4096 --wave-buckets 64

Local smoke run:

    python jobs/pipeline_job.py --input tx.parquet --output /tmp/pipe_out \
        --run-id local --cpus 8 --shards 8

Resume model: the kernel stage dominates cost, so with
``--checkpoint-extraction`` it runs through the wave-committed
``run_extraction`` checkpoint (role/tool/ts ride through as passthrough
columns) — a crashed re-run resumes extraction from the last committed wave
and recomputes only the cheap downstream stages (the committed buckets also
pin --n-buckets and the dispatch policy — resuming with a different value is
an error, not a silent mixed corpus).  Without the flag the whole pipeline is one
lineage (fastest when restarts are acceptable).  The packed output is derived
data and is FULLY replaced on each run (a re-run with a different --shards
cannot leave stale partitions behind).
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def run_pipeline(spark, transcripts, out_dir: str, run_id: str,
                 char_budget: int = 16000, seq_budget: int = 2048,
                 shards: int = 64, tool_kind_map: dict[str, str] | None = None,
                 dispatch_tool_json: bool = False,
                 checkpoint_extraction: bool = False, n_buckets: int = 32,
                 wave_buckets: int | None = None,
                 near_dedup: bool = False, near_threshold: float = 0.5,
                 quality_filter: bool = False, quality_max_oov: float = 0.98,
                 quality_ref_mod: int = 20, cfg=None) -> dict:
    """The composable core (the CLI below is a thin wrapper).  Returns a
    summary dict with per-stage counts.

    Stage counts cost one extra aggregation over the ASSEMBLED frame (one row
    per conversation — orders of magnitude smaller than the turn corpus); the
    packed counts are observed on the packed write itself.  The turn-level
    corpus is scanned once (in checkpoint mode: once per wave, plus one
    profile scan of its ``conv_id``/``turn_idx`` columns).
    """
    from pyspark import StorageLevel
    from pyspark.sql import Observation, functions as F

    from ocr_engine_spark.config import DEFAULT_CONFIG
    from ocr_engine_spark.operators.conversations import (
        assemble_conversations, dedup_conversations, truncate_to_budget,
    )
    from ocr_engine_spark.operators.extract import AUTO, extract_transcripts
    from ocr_engine_spark.operators.text_analysis import pack_by_group

    if shards < 1:
        # checked before any Spark action: the shard hash pmod(…, 0) fails
        # only at the pack, after every stage upstream has run
        raise ValueError(f"--shards must be >= 1, got {shards}")
    if quality_filter and quality_ref_mod < 2:
        # checked before any Spark action, so a degenerate config cannot fail
        # only after extraction waves are written: mod 1 marks EVERY document
        # as reference (nothing scored, the gate silently no-ops); mod <= 0
        # makes pmod() NULL (is_ref NULL everywhere — no model AND no corpus)
        raise ValueError(
            f"--quality-ref-mod must be >= 2, got {quality_ref_mod}")
    cfg = cfg or DEFAULT_CONFIG
    passthrough = ("role", "tool", "ts")
    if checkpoint_extraction:
        from ocr_engine_spark.operators.checkpoint import run_extraction

        ext_summary = run_extraction(
            spark, transcripts, os.path.join(out_dir, "extraction"),
            run_id=run_id, n_buckets=n_buckets, cfg=cfg,
            wave_buckets=wave_buckets,
            passthrough=passthrough, dispatch_tool_json=dispatch_tool_json,
            tool_kind_map=tool_kind_map)
        extracted = spark.read.parquet(ext_summary["data_path"])
    else:
        ext_summary = {"mode": "inline"}
        extracted = extract_transcripts(
            transcripts, cfg=cfg, num_partitions=AUTO, passthrough=passthrough,
            dispatch_tool_json=dispatch_tool_json, tool_kind_map=tool_kind_map)

    asm = assemble_conversations(truncate_to_budget(extracted, char_budget))
    # assembled = one row per conversation; persist so the dedup survivors
    # and the conversation count reuse one materialization
    asm.persist(StorageLevel.DISK_ONLY)
    feats = None
    try:
        n_convs = asm.count()
        surv = dedup_conversations(asm)
        n_near = n_lowq = None
        if near_dedup or quality_filter:
            # ONE text pass for both corpus-level stages: each survivor is
            # tokenized once, vectorized over its Arrow batch, into the
            # columns the enabled stages read (MinHash signature and distinct
            # 3-shingle hashes; bigram hashes) and persisted once, so no
            # stage below re-derives text
            from ocr_engine_spark.operators import doc_features as fx

            cols = [F.col("conv_id").alias("doc_id"),
                    F.col("doc_text").alias("text")]
            if near_dedup:
                cols.append(F.length("doc_text").cast("long").alias("doc_len"))
            if quality_filter:
                cols.append((F.pmod(F.xxhash64("conv_id"),
                                    F.lit(quality_ref_mod)) == 0)
                            .alias("is_ref"))
            # the pass runs on the dedup shuffle's partitions, which AQE
            # already coalesces by size
            feats = fx.doc_features(surv.select(*cols),
                                    signature=near_dedup,
                                    bigrams=quality_filter)
            feats.persist(StorageLevel.MEMORY_AND_DISK)
            kept = feats
        if near_dedup:
            # Near-duplicate conversations (truncated/perturbed re-runs of
            # the same session) survive exact dedup; drop every LSH cluster
            # member except the canonical one = the LONGEST document,
            # tie-broken by min conv_id — a truncated re-run can never
            # displace its fuller original no matter how the ids sort.  The
            # signatures are bit-identical to dedup.minhash_signatures (Spark's
            # XXH64 in numpy), and banding, the per-bucket self-join and the
            # exact-Jaccard verification are dedup.banded_pairs, the same join
            # the contract's minhash_lsh_pairs runs: pairs come from band
            # buckets, never an all-pairs join, and clustering runs over the
            # sparse verified-pair edge set only.  The drop set is
            # localCheckpointed (tiny), so its count and the anti-joins share
            # one LSH execution.
            from ocr_engine_spark.operators.dedup import (
                banded_pairs, canonical_drop_ids,
            )

            pairs = banded_pairs(feats, fx.NUM_HASHES, fx.BANDS,
                                 near_threshold)
            drop = (canonical_drop_ids(
                        pairs, lengths=feats.select("doc_id", "doc_len"))
                    .localCheckpoint(eager=True))
            n_near = drop.count()
            kept = feats.join(drop, "doc_id", "left_anti")
            surv = surv.join(drop.withColumnRenamed("doc_id", "conv_id"),
                             "conv_id", "left_anti")
        if quality_filter:
            # CCNet-style bigram-LM quality gate over the deduped corpus
            # (dedup first, so duplicate families don't vote their own
            # bigrams into the model): a deterministic hashed held-in slice
            # (1/quality_ref_mod of conversations) trains the min-count-
            # pruned model; documents whose OOV-bigram rate exceeds
            # --quality-max-oov drop.  Reference-slice documents are not
            # scored and always survive — the slice is the model's
            # definition of typical, not a sample under test.  The model is
            # lm_quality_scored's over HASHED bigrams: one aggregation,
            # collected as a sorted int64 array and broadcast; scoring is a
            # vectorized np.searchsorted probe per Arrow batch.  Two distinct
            # bigrams collide with probability about n^2/2^65 for n distinct
            # bigrams (strings cannot); a collision can only merge counts.
            from ocr_engine_spark.operators.text_analysis import LM_MIN_COUNT

            ref = kept.where("is_ref")
            model = fx.bigram_model(ref)
            # guard the degenerate models: with zero reference docs, or with
            # every reference bigram below the model's min count, the model
            # is empty, every document scores oov_rate 1.0, and the gate
            # would silently drop the ENTIRE corpus — fail loudly instead.
            # Which of the two it is costs one more action, on this failure
            # path only (an observed count on the model's own action is not
            # reported once AQE prunes the emptied plan)
            if len(model) == 0 and ref.isEmpty():
                raise ValueError(
                    "--quality-filter reference slice is empty (no conv_id "
                    f"hashes to 0 mod {quality_ref_mod}); lower "
                    "--quality-ref-mod so the bigram model has training "
                    "documents")
            if len(model) == 0:
                raise ValueError(
                    "--quality-filter bigram model is empty: no reference "
                    f"bigram occurs {LM_MIN_COUNT} times (the model's min "
                    "count); lower --quality-ref-mod so the reference slice "
                    "is larger")
            bc = spark.sparkContext.broadcast(model)
            try:
                lowq = (fx.low_quality_ids(kept.where(~F.col("is_ref")), bc,
                                           quality_max_oov)
                        .withColumnRenamed("doc_id", "conv_id")
                        .localCheckpoint(eager=True))
            finally:
                bc.destroy()
            n_lowq = lowq.count()
            surv = surv.join(lowq, "conv_id", "left_anti")
        # packing carries conv_id + doc_text THROUGH the Arrow map (no
        # numeric surrogate key, no join-back): conv_id is unique, so the
        # per-shard sort is a total order and the output is deterministic
        # under any partitioning — and a hash collision cannot fan out rows
        docs = surv.select(
            "conv_id",
            F.concat(F.lit("shard_"),
                     F.pmod(F.xxhash64("conv_id"), F.lit(shards))
                     .cast("string")).alias("shard"),
            "doc_text",
            F.size(F.split(F.trim("doc_text"), " +")).cast("bigint")
            .alias("n_tokens"))
        data_path = os.path.join(out_dir, "packed")
        seen = Observation()
        # FULL overwrite, not dynamic-by-shard: the job always computes every
        # shard, and a re-run with a different --shards must not leave stale
        # partitions behind (packed output is derived data — the resumable
        # stage is the extraction checkpoint upstream).  Offset 0 counts the
        # sequences, since every document has n_tokens >= 1 ('' gives 1)
        (pack_by_group(docs, "shard", "conv_id", seq_budget)
         .observe(seen, F.count(F.lit(1)).alias("n_docs"),
                  F.count_if(F.col("seq_offset") == 0).alias("n_sequences"),
                  F.sum("n_tokens").alias("n_tokens"))
         .write.mode("overwrite").partitionBy("shard").parquet(data_path))
        # zero conversations is the only way to zero survivors (each dedup
        # stage keeps one document per family, the quality gate keeps its
        # reference slice); AQE prunes that empty plan, losing the observation
        stats = (seen.get if n_convs
                 else {"n_docs": 0, "n_sequences": 0, "n_tokens": 0})
        summary = {
            "run_id": run_id, "extraction": ext_summary,
            "conversations": n_convs,
            "survivors": stats["n_docs"],
            "dropped_duplicates": (n_convs - stats["n_docs"]
                                   - (n_near or 0) - (n_lowq or 0)),
            "sequences": stats["n_sequences"],
            "tokens": stats["n_tokens"],
            "data_path": data_path,
        }
        if n_near is not None:
            summary["dropped_near_duplicates"] = n_near
        if n_lowq is not None:
            summary["dropped_low_quality"] = n_lowq
    finally:
        asm.unpersist()
        if feats is not None:
            feats.unpersist()
    return summary


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--input", required=True)
    ap.add_argument("--input-flavor", choices=("parquet", "table", "auto"),
                    default="auto")
    ap.add_argument("--output", required=True)
    ap.add_argument("--run-id", required=True)
    ap.add_argument("--char-budget", type=int, default=16000)
    ap.add_argument("--seq-budget", type=int, default=2048)
    ap.add_argument("--shards", type=int, default=64)
    ap.add_argument("--tool-kind-map", default=None,
                    help='JSON {tool value -> payload kind}, e.g. '
                         '\'{"render_html": "html"}\'')
    ap.add_argument("--dispatch-tool-json", action="store_true")
    ap.add_argument("--checkpoint-extraction", action="store_true",
                    help="run the kernel stage through the wave-committed "
                         "checkpoint (resumable); see module docstring")
    ap.add_argument("--n-buckets", type=int, default=32)
    ap.add_argument("--wave-buckets", type=int, default=None)
    ap.add_argument("--near-dedup", action="store_true",
                    help="after exact dedup, drop MinHash-LSH near-duplicate "
                         "conversations (keep each cluster's longest document,"
                         " tie-break min conv_id)")
    ap.add_argument("--near-threshold", type=float, default=0.5,
                    help="verified-Jaccard threshold for --near-dedup")
    ap.add_argument("--quality-filter", action="store_true",
                    help="after dedup, drop documents whose OOV-bigram rate "
                         "against a hashed held-in LM slice exceeds "
                         "--quality-max-oov (CCNet-style quality gate)")
    ap.add_argument("--quality-max-oov", type=float, default=0.98,
                help="drop documents whose OOV-bigram rate exceeds this; the\n"
                     "default drops only near-zero-overlap garbage — calibrate\n"
                     "per corpus (measured transcript corpora score 0.5-0.96\n"
                     "against a 1/20 hashed slice; gibberish scores 1.0)")
    ap.add_argument("--quality-ref-mod", type=int, default=20,
                    help="1/N of conversations (by xxhash64) train the "
                         "bigram model")
    ap.add_argument("--cpus", type=int, default=0,
                    help="local[N] cores; 0 = use existing/spark-submit session")
    args = ap.parse_args()

    from ocr_engine_spark.session import build_session
    from ocr_engine_spark.sources.io import read_table

    spark = build_session(f"pipeline-{args.run_id}", cpus=args.cpus,
                          shuffle_partitions=max(args.shards, args.cpus))

    transcripts = read_table(spark, args.input, flavor=args.input_flavor)
    summary = run_pipeline(
        spark, transcripts, args.output, run_id=args.run_id,
        char_budget=args.char_budget, seq_budget=args.seq_budget,
        shards=args.shards,
        tool_kind_map=json.loads(args.tool_kind_map) if args.tool_kind_map
        else None,
        dispatch_tool_json=args.dispatch_tool_json,
        checkpoint_extraction=args.checkpoint_extraction,
        n_buckets=args.n_buckets, wave_buckets=args.wave_buckets,
        near_dedup=args.near_dedup, near_threshold=args.near_threshold,
        quality_filter=args.quality_filter,
        quality_max_oov=args.quality_max_oov,
        quality_ref_mod=args.quality_ref_mod)
    print(json.dumps(summary))
    spark.stop()


if __name__ == "__main__":
    main()
