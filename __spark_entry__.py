"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship fused-kernel extraction over documents at sf0.001.
``queries()`` exposes every implemented operator from SURVEY.md §2 plus the
training-data-pipeline suite (dedup / similarity / text analysis / multimodal);
``oracle_sql()`` carries the DuckDB-equivalent SQL for each SQL-expressible query.

Determinism conventions (so value-hashes match across engines):
- double sums go through DECIMAL (order-independent), or are ratios of exact int sums;
- score columns are rounded to 6 dp before ranking; every ORDER BY has a total order;
- aggregate/computed columns carry identical aliases on both sides.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from ocr_engine_spark.operators import (  # noqa: E402
    conversations, dedup, documents, multimodal, relational, similarity,
    text_analysis, visualize,
)
from ocr_engine_spark.operators.conversations import (  # noqa: E402
    CONV_DUP_MOD, CONV_DUP_RESIDUE,
)
from ocr_engine_spark.operators.dedup import (  # noqa: E402
    PLANT_MOD, PLANT_OFFSET, PLANT_RESIDUE,
)
from ocr_engine_spark.operators.similarity import (  # noqa: E402
    BENCH_MOD, BENCH_RESIDUE, DECONTAM_THRESHOLD, LEAK_OFFSET, TWIN_MOD,
    TWIN_OFFSET, TWIN_RESIDUE,
)
from ocr_engine_spark.operators.text_analysis import (  # noqa: E402
    _URL_RE, BLOCKED_DOMAINS, DOMAIN_MOD, LM_HEAD_MAX_OOV, LM_MID_MAX_OOV,
    LM_MIN_COUNT, LM_REF_MOD, LM_REF_RESIDUE,
)
from ocr_engine_spark.streaming.stream import (  # noqa: E402
    WINDOW_SPREAD_MIN,
)


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    return documents.extract_documents(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Dict ORDER is load-bearing: the driver's correctness gate checks the
    first 50 entries, so never-checked / newest / recently-changed queries sit
    at the FRONT and only long-stable rows (driver-green in r02 AND r03
    unchanged) sit past the window at the tail."""
    from ocr_engine_spark.streaming import stream as streaming_mod

    return {
        # — new / changed in r05 —
        "lm_quality": text_analysis.q_lm_quality,
        "semantic_decontam": similarity.q_semantic_decontam,
        "domain_filter": text_analysis.q_domain_filter,
        "paragraph_dedup": dedup.q_paragraph_dedup,
        "boilerplate_strip": dedup.q_boilerplate_strip,
        "conv_neardup": conversations.q_conv_neardup,
        "conv_neardup_canonical": conversations.q_conv_neardup_canonical,
        "conv_neardup_keep_longest": conversations.q_conv_neardup_keep_longest,
        "kind_dispatch_extract": documents.q_kind_dispatch_extract,
        "pipeline_e2e": conversations.q_pipeline_e2e,
        "stream_window_parity": streaming_mod.q_stream_window_parity,
        "stream_progress_parity": streaming_mod.q_stream_progress_parity,
        # — never driver-checked before r04 / changed in r04 —
        "conv_assemble": conversations.q_conv_assemble,
        "conv_dedup": conversations.q_conv_dedup,
        "source_mix": text_analysis.q_source_mix,
        "conv_assemble_capped": conversations.q_conv_assemble_capped,
        "span_svg": visualize.q_span_svg,
        "embedding_neardup": similarity.q_embedding_neardup,
        "embedding_neardup_ivf": similarity.q_embedding_neardup_ivf,
        "tool_dispatch_extract": documents.q_tool_dispatch_extract,
        "stream_dedup_parity": streaming_mod.q_stream_dedup_parity,
        "exact_dedup": dedup.q_exact_dedup,
        "minhash_lsh_pairs": dedup.q_minhash_lsh_pairs,
        "dedup_clusters": dedup.q_dedup_clusters,
        "dedup_canonical": dedup.q_dedup_canonical,
        # — extraction pipeline (fused Arrow kernel) —
        "extract_documents": documents.q_extract_documents,
        "manifest_extract": documents.q_manifest_extract,
        "html_extract": documents.q_html_extract,
        "markdown_extract": documents.q_markdown_extract,
        "explode_parts": documents.q_explode_parts,
        "explode_parts_range": documents.q_explode_parts_range,
        "output_keys": documents.q_output_keys,
        "tsv_lines": documents.q_tsv_lines,
        "strip_ratio_by_source": documents.q_strip_ratio_by_source,
        "multi_source_union": documents.q_multi_source_union,
        # — text analysis —
        "token_stats": text_analysis.q_token_stats,
        "lang_id": text_analysis.q_lang_id,
        "quality_score": text_analysis.q_quality_score,
        "quality_filter": text_analysis.q_quality_filter,
        "shingle_count": text_analysis.q_shingle_count,
        "fingerprint": text_analysis.q_fingerprint,
        "vocab_stats": text_analysis.q_vocab_stats,
        "sequence_pack": text_analysis.q_sequence_pack,
        "pii_redact": text_analysis.q_pii_redact,
        "contamination_check": text_analysis.q_contamination_check,
        # — deduplication —
        "ngram_jaccard_pairs": dedup.q_ngram_jaccard_pairs,
        # — similarity search —
        "kmeans_centroids": similarity.q_kmeans_centroids,
        "ivf_assign": similarity.q_ivf_assign,
        "ivf_topk": similarity.q_ivf_topk,
        "ivf_topk_multiprobe": similarity.q_ivf_topk_multiprobe,
        # — tail: long-stable rows past the driver's 50-query window.
        #   Membership is MECHANICAL now: tools/check_window.py (run by
        #   tests/test_contract_tail.py) fails if any query whose
        #   implementing module (transitively) or oracle text changed since
        #   the last round boundary parks past position 50.  The window
        #   itself ends at ivf_topk_multiprobe: stratified_sample onward
        #   sits in the tail (clean since the last round boundary;
        #   oracle-checked per pytest run by tests/test_contract_tail.py) —
        "stratified_sample": text_analysis.q_stratified_sample,
        "repetition_stats": text_analysis.q_repetition_stats,
        "token_budget": text_analysis.q_token_budget,
        "tfidf": text_analysis.q_tfidf,
        "simhash": dedup.q_simhash,
        "simhash_neardup": dedup.q_simhash_neardup,
        "embedding_topk_blas": similarity.q_embedding_topk_blas,
        "embedding_topk": similarity.q_embedding_topk,
        "binary_features": multimodal.q_binary_features,
        "media_frames": multimodal.q_media_frames,
        "media_decode": multimodal.q_media_decode,
        "customers_without_orders": relational.q_customers_without_orders,
        "event_sessions": relational.q_event_sessions,
        "event_rolling": relational.q_event_rolling,
        "event_windows": relational.q_event_windows,
        "asof_last_order": relational.q_asof_last_order,
        "event_percentiles": relational.q_event_percentiles,
        "pricing_summary": relational.q_pricing_summary,
        "top_revenue_orders": relational.q_top_revenue_orders,
        "region_revenue": relational.q_region_revenue,
        "parts_with_lineitems": relational.q_parts_with_lineitems,
        "event_range_page": relational.q_event_range_page,
        "hourly_event_rollup": relational.q_hourly_event_rollup,
        "rollup_revenue": relational.q_rollup_revenue,
    }


# ---------------------------------------------------------------------------
# DuckDB oracle SQL


def _lang_id_sql() -> str:
    from ocr_engine_spark.operators.text_analysis import LANG_ORDER, LANG_STOPWORDS

    score_cols = ",\n  ".join(
        "len(list_intersect(list_distinct(string_split_regex(trim(text), ' +')), ["
        + ", ".join(f"'{w}'" for w in LANG_STOPWORDS[lang])
        + f"])) AS score_{lang}"
        for lang in LANG_ORDER
    )
    pred = f"'{LANG_ORDER[0]}'"
    best = f"score_{LANG_ORDER[0]}"
    for lang in LANG_ORDER[1:]:
        pred = f"CASE WHEN score_{lang} > {best} THEN '{lang}' ELSE {pred} END"
        best = f"greatest({best}, score_{lang})"
    return (
        f"WITH s AS (SELECT doc_id,\n  {score_cols}\nFROM documents)\n"
        f"SELECT doc_id, {pred} AS pred_lang, CAST({best} AS BIGINT) AS best_score FROM s"
    )


_COSINE = (
    "round(list_sum([{a}[i] * {b}[i] for i in generate_series(1, len({a}))])"
    " / (sqrt(list_sum([x * x for x in {a}])) * sqrt(list_sum([x * x for x in {b}]))), 6)"
)

_EMB = "SELECT vec_id, [CAST(x AS DOUBLE) for x in embedding] AS emb, label FROM embeddings"

# precision chosen so the product (26,12) stays under the 38-digit cap in BOTH
# engines -> exact, order-independent accumulation.  Oracle-side decimal->double goes
# VARCHAR-mediated: DuckDB's direct int128-decimal->double cast is not correctly
# rounded (1-ULP drift vs Spark's BigDecimal.doubleValue); string->double is.
_REV = ("sum(CAST(l_extendedprice AS DECIMAL(18,6))"
        " * (CAST(1 AS DECIMAL(8,6)) - CAST(l_discount AS DECIMAL(8,6))))")

# SimHash fingerprint pipeline as a CTE chain ending in ``fp(doc_id, simhash)``
# (md5-prefix 60-bit token hashes, majority bit fold) — shared by the simhash
# query and the Hamming near-dup oracle.
_SIMHASH_CTES = """h AS (
              SELECT doc_id, CAST('0x' || substr(md5(t), 1, 15) AS BIGINT) AS hv
              FROM (SELECT doc_id, string_split_regex(trim(text), ' +') AS tk
                    FROM documents), unnest(tk) AS u(t)),
            votes AS (
              SELECT doc_id, b,
                     sum(CASE WHEN ((hv >> CAST(b AS INTEGER)) & 1) = 1
                         THEN 1 ELSE -1 END) AS v
              FROM h, unnest(generate_series(0, 59)) AS g(b)
              GROUP BY doc_id, b),
            fp AS (
              SELECT doc_id,
                     CAST(sum(CASE WHEN v > 0
                          THEN (CAST(1 AS BIGINT) << CAST(b AS INTEGER))
                          ELSE 0 END) AS BIGINT) AS simhash
              FROM votes GROUP BY doc_id)"""

# Sub-document chunking shared by the paragraph_dedup / boilerplate_strip
# oracles (mirrors operators/dedup.chunk_documents with width=8): documents
# tokenized and re-chunked into non-overlapping 8-word windows, trailing
# partial chunk kept, empty chunks dropped; ends in ``nchunks``.
_CHUNK_CTES = """tok AS (
              SELECT doc_id, string_split_regex(trim(text), ' +') AS tk
              FROM documents),
            chunks AS (
              SELECT doc_id, g.i AS cidx,
                     array_to_string(tk[(g.i*8+1):(g.i*8+8)], ' ') AS chunk
              FROM tok, LATERAL unnest(
                generate_series(0, CAST(floor((len(tk)-1)/8) AS BIGINT))) AS g(i)),
            nchunks AS (
              SELECT doc_id, cidx, chunk FROM chunks WHERE length(chunk) > 0)"""

# The full MinHash-LSH pair pipeline as a CTE chain ending in ``mh_pairs``
# (md5-affine hash family; mirrors operators/dedup.minhash_lsh_pairs with
# num_hashes=16, bands=8, k=3, threshold 0.5).  Its band buckets are an md5
# prefix where the engine's are xxhash64 of the band's longs: bucket ids
# differ, the pairs agree (both match exactly the equal bands).  Shared by the pairs query,
# the connected-components clustering oracle, and (parametrized over its
# source relation via _minhash_ctes) the conversation-level near-dup oracle.
_MINHASH_CTES = """sh AS (
              SELECT doc_id,
                     [concat_ws(' ', tk[CAST(i AS INTEGER)], tk[CAST(i+1 AS INTEGER)],
                                tk[CAST(i+2 AS INTEGER)])
                      for i in generate_series(1, greatest(len(tk) - 2, 1))] AS shingles
              FROM (SELECT doc_id, string_split_regex(trim(text), ' +') AS tk
                    FROM documents)),
            ab AS (
              SELECT doc_id,
                     [CAST('0x' || substr(m, 1, 15) AS BIGINT) for m in ms] AS av,
                     [CAST('0x' || substr(m, 17, 14) AS BIGINT) for m in ms] AS bv
              FROM (SELECT doc_id, [md5(s) for s in shingles] AS ms FROM sh)),
            sset AS (SELECT doc_id, list_distinct(av) AS s FROM ab),
            sigj AS (
              SELECT doc_id, j,
                     min(av[CAST(i AS INTEGER)] + j * bv[CAST(i AS INTEGER)]) AS mh
              FROM ab,
                   unnest(generate_series(0, 15)) AS gj(j),
                   unnest(generate_series(1, len(av))) AS gi(i)
              GROUP BY doc_id, j),
            sig AS (SELECT doc_id, list(mh ORDER BY j) AS minhash
                    FROM sigj GROUP BY doc_id),
            banded AS (
              SELECT doc_id, b AS band,
                     CAST('0x' || substr(md5(concat_ws(',',
                          minhash[CAST(2*b+1 AS INTEGER)],
                          minhash[CAST(2*b+2 AS INTEGER)])), 1, 15) AS BIGINT) AS bucket
              FROM sig, unnest(generate_series(0, 7)) AS gb(b)),
            cand AS (
              SELECT DISTINCT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b
              FROM banded a JOIN banded b
                ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id),
            mh_pairs AS (
              SELECT doc_id_a, doc_id_b, jaccard FROM (
                SELECT doc_id_a, doc_id_b,
                       round(CAST(len(list_intersect(sa.s, sb.s)) AS DOUBLE)
                             / (len(sa.s) + len(sb.s)
                                - CAST(len(list_intersect(sa.s, sb.s)) AS DOUBLE)), 6)
                         AS jaccard
                FROM cand JOIN sset sa ON sa.doc_id = doc_id_a
                          JOIN sset sb ON sb.doc_id = doc_id_b)
              WHERE jaccard >= 0.5)"""


def _minhash_ctes(src: str = "documents") -> str:
    """The mh_pairs CTE chain over an arbitrary (doc_id, text) relation —
    the template's single scan swaps from the documents table to e.g. the
    assembled-conversations CTE of the conv_neardup oracle."""
    return _MINHASH_CTES.replace("FROM documents", f"FROM {src}")


def _conv_plant_ctes(prefix: str, residue: int, plant_kind: str) -> str:
    """t/tsel/p/asmn/convdocs chain shared by the conversation near-dup
    oracles (the SQL replay of operators/conversations._planted_assembled):
    the transcript corpus plus plant conversations '<prefix>_<N>' for every
    base suffix N % CONV_NEAR_MOD == residue — 'truncated' = base minus its
    LAST turn, 'extended' = base plus a copy of its FIRST turn at max+1 —
    assembled per conversation and keyed (doc_id, conv_id, text) with plant
    ids at N + CONV_NEAR_OFFSET.  convdocs is MATERIALIZED: DuckDB inlines
    CTEs, so a recursive consumer would otherwise re-execute the whole
    assembly chain per iteration."""
    sfx = "string_split(conv_id, '_')[2]"
    plant = {
        "truncated": f"""p AS (
              SELECT '{prefix}_' || {sfx} AS conv_id,
                     turn_idx, role, extracted_text
              FROM (SELECT *, max(turn_idx) OVER (PARTITION BY conv_id) AS mx
                    FROM tsel)
              WHERE turn_idx < mx)""",
        "extended": f"""p AS (
              SELECT '{prefix}_' || {sfx} AS conv_id,
                     turn_idx, role, extracted_text
              FROM tsel
              UNION ALL
              SELECT '{prefix}_' || {sfx}, mx + 1, role, extracted_text
              FROM (SELECT *, max(turn_idx) OVER (PARTITION BY conv_id) AS mx
                    FROM tsel)
              WHERE turn_idx = 0)""",
    }[plant_kind]
    return f"""t AS (
              SELECT 'conv_' || CAST(doc_id % 50 AS VARCHAR) AS conv_id,
                     CAST(doc_id // 50 AS INTEGER) AS turn_idx,
                     CASE CAST(doc_id % 3 AS INTEGER) WHEN 0 THEN 'user'
                          WHEN 1 THEN 'assistant' ELSE 'tool' END AS role,
                     text AS extracted_text
              FROM documents),
            tsel AS (
              SELECT * FROM t
              WHERE CAST({sfx} AS INTEGER)
                    % {conversations.CONV_NEAR_MOD} = {residue}),
            {plant},
            asmn AS (
              SELECT conv_id,
                     string_agg(role || ': ' || extracted_text,
                          chr(10) ORDER BY turn_idx) AS doc_text
              FROM (SELECT * FROM t UNION ALL SELECT * FROM p)
              GROUP BY conv_id),
            convdocs AS MATERIALIZED (
              SELECT CASE WHEN conv_id LIKE '{prefix}_%'
                          THEN CAST({sfx} AS BIGINT)
                               + {conversations.CONV_NEAR_OFFSET}
                          ELSE CAST({sfx} AS BIGINT)
                     END AS doc_id,
                     conv_id,
                     doc_text AS text
              FROM asmn)"""


# connected components over mh_pairs: bidirectional MATERIALIZED edge set
# (DuckDB would re-execute the inlined MinHash chain per recursive iteration
# otherwise) + label-reach fixpoint; min reachable label = cluster canonical.
_REACH_CTES = """e AS MATERIALIZED (
                  SELECT doc_id_a AS s, doc_id_b AS tt FROM mh_pairs
                  UNION ALL SELECT doc_id_b, doc_id_a FROM mh_pairs),
            reach(v, l) AS (
              SELECT s, s FROM e
              UNION
              SELECT e.tt, r.l FROM reach r JOIN e ON e.s = r.v)"""

# the min-id canonical rule's drop set (every member that is not its
# component's minimum label)
_DROPPED_MIN_ID = """dropped AS (
              SELECT v AS doc_id FROM reach GROUP BY v
              HAVING CAST(min(l) AS BIGINT) != v)"""


# Seeded deterministic Lloyd's rounds (operators/similarity.train_centroids)
# replayed as a CTE chain ending in ``cent(centroid_id, emb)``.  The centroid
# update sums INTEGER-quantized components (floor(x*quant + 0.5) bigints), so the
# mean's numerator is exact order-independent arithmetic in both engines; the one
# float op per component is the final double division by (count * quant).
def _kmeans_ctes(k: int = 8, iterations: int = 3,
                 quant: int = 10_000_000) -> str:
    cos_vc = _COSINE.format(a="v.emb", b="c.emb")
    parts = [
        f"""qz AS (SELECT vec_id, emb,
              [CAST(floor(x * {quant} + 0.5) AS BIGINT) for x in emb] AS qc
            FROM e)""",
        f"c0 AS (SELECT vec_id AS centroid_id, emb FROM e ORDER BY vec_id LIMIT {k})",
    ]
    for r in range(iterations):
        parts.append(f"""a{r} AS (
              SELECT vec_id, centroid_id FROM (
                SELECT v.vec_id, c.centroid_id,
                       row_number() OVER (PARTITION BY v.vec_id
                         ORDER BY {cos_vc} DESC, c.centroid_id) AS rn
                FROM qz v JOIN c{r} c ON true) WHERE rn = 1)""")
        parts.append(f"""s{r} AS (
              SELECT a.centroid_id, i, sum(v.qc[CAST(i AS INTEGER)]) AS s,
                     count(*) AS n
              FROM a{r} a JOIN qz v USING (vec_id),
                   unnest(generate_series(1, len(v.qc))) AS g(i)
              GROUP BY a.centroid_id, i)""")
        parts.append(f"""c{r + 1} AS (
              SELECT p.centroid_id, COALESCE(m.emb2, p.emb) AS emb
              FROM c{r} p LEFT JOIN (
                SELECT centroid_id,
                       list(CAST(s AS DOUBLE) / (n * {quant}.0) ORDER BY i) AS emb2
                FROM s{r} GROUP BY centroid_id) m USING (centroid_id))""")
    parts.append(f"cent AS (SELECT centroid_id, emb FROM c{iterations})")
    return ",\n            ".join(parts)


def oracle_sql() -> dict[str, str]:
    cos_qc = _COSINE.format(a="q.emb", b="c.emb")
    cos_ab = _COSINE.format(a="a.emb", b="b.emb")
    cos_vc = _COSINE.format(a="v.emb", b="c.emb")
    cos_cb = _COSINE.format(a="c.emb", b="b.emb")
    km = _kmeans_ctes()
    return {
        "extract_documents": """
            SELECT doc_id,
                   regexp_replace(trim(text), '\\s+', ' ', 'g') AS extracted_text,
                   CASE WHEN length(trim(text)) = 0 THEN 0 ELSE 1 END AS n_spans,
                   CASE WHEN length(text) = 0 THEN 0.0
                        ELSE 1.0 - length(regexp_replace(trim(text), '\\s+', ' ', 'g')) * 1.0 / length(text)
                   END AS strip_ratio
            FROM documents
        """,
        "manifest_extract": """
            SELECT doc_id,
                   regexp_replace(trim(text), '\\s+', ' ', 'g') AS extracted_text,
                   CASE WHEN length(trim(text)) = 0 THEN 0 ELSE 1 END AS n_spans
            FROM documents WHERE doc_id % 20 = 3
        """,
        # S1 payload-kind dispatch over the full six-column input contract:
        # tool turns (doc_id % 3 == 2) carry a '{"result": "<text>"}' envelope
        # and a non-null tool column; the engine parses them on the declared
        # JSON path (no content sniff, no E4 vote).  The corpus is verified
        # trim/collapse-invariant with no JSON-special chars, so both closed
        # forms reduce to exact column formulas.
        "tool_dispatch_extract": """
            SELECT 'conv_' || CAST(doc_id % 50 AS VARCHAR) AS conv_id,
                   CAST(doc_id // 50 AS INTEGER) AS turn_idx,
                   CASE CAST(doc_id % 3 AS INTEGER) WHEN 0 THEN 'user'
                        WHEN 1 THEN 'assistant' ELSE 'tool' END AS role,
                   CASE WHEN doc_id % 3 = 2 THEN 'search' END AS tool,
                   TIMESTAMP '2026-01-01' + doc_id * INTERVAL 1 SECOND AS ts,
                   text AS extracted_text,
                   CASE WHEN doc_id % 3 = 2 THEN 'json' ELSE 'plain' END AS fmt,
                   CAST(1 AS INTEGER) AS n_spans,
                   CASE WHEN doc_id % 3 = 2
                        THEN 1.0 - CAST(length(text) AS DOUBLE)
                                   / CAST(length(text) + 14 AS DOUBLE)
                        ELSE 0.0 END AS strip_ratio
            FROM documents
        """,
        # conversation assembly: the dispatch transcripts (same synthesis as
        # tool_dispatch_extract) run through the kernel, then one training
        # document per conversation — turns in turn_idx order with role
        # prefixes, tool-turn counts, and the ts span all value-checked.
        "conv_assemble": """
            WITH t AS (
              SELECT 'conv_' || CAST(doc_id % 50 AS VARCHAR) AS conv_id,
                     CAST(doc_id // 50 AS INTEGER) AS turn_idx,
                     CASE CAST(doc_id % 3 AS INTEGER) WHEN 0 THEN 'user'
                          WHEN 1 THEN 'assistant' ELSE 'tool' END AS role,
                     CASE WHEN doc_id % 3 = 2 THEN 'search' END AS tool,
                     TIMESTAMP '2026-01-01' + doc_id * INTERVAL 1 SECOND AS ts,
                     text AS extracted_text
              FROM documents)
            SELECT conv_id,
                   CAST(count(*) AS INTEGER) AS n_turns,
                   CAST(count(tool) AS INTEGER) AS n_tool_turns,
                   CAST(date_diff('second', min(ts), max(ts)) AS BIGINT)
                     AS span_seconds,
                   CAST(length(string_agg(role || ': ' || extracted_text,
                        chr(10) ORDER BY turn_idx)) AS BIGINT) AS doc_chars,
                   string_agg(role || ': ' || extracted_text,
                        chr(10) ORDER BY turn_idx) AS doc_text
            FROM t GROUP BY conv_id
        """,
        # context-budget truncation before assembly: keep each conversation's
        # longest turn prefix whose assembled doc fits 1200 chars (cumsum of
        # len(role)+2+len(text)+1 minus the final joiner), then assemble.
        "conv_assemble_capped": """
            WITH t AS (
              SELECT 'conv_' || CAST(doc_id % 50 AS VARCHAR) AS conv_id,
                     CAST(doc_id // 50 AS INTEGER) AS turn_idx,
                     CASE CAST(doc_id % 3 AS INTEGER) WHEN 0 THEN 'user'
                          WHEN 1 THEN 'assistant' ELSE 'tool' END AS role,
                     CASE WHEN doc_id % 3 = 2 THEN 'search' END AS tool,
                     text AS extracted_text
              FROM documents),
            c AS (
              SELECT *,
                     sum(length(role) + 2 + length(extracted_text) + 1)
                       OVER (PARTITION BY conv_id ORDER BY turn_idx
                             ROWS UNBOUNDED PRECEDING) - 1 AS prefix_len
              FROM t),
            k AS (SELECT * FROM c WHERE prefix_len <= 1200)
            SELECT conv_id,
                   CAST(count(*) AS INTEGER) AS n_turns,
                   CAST(count(tool) AS INTEGER) AS n_tool_turns,
                   CAST(length(string_agg(role || ': ' || extracted_text,
                        chr(10) ORDER BY turn_idx)) AS BIGINT) AS doc_chars,
                   string_agg(role || ': ' || extracted_text,
                        chr(10) ORDER BY turn_idx) AS doc_text
            FROM k GROUP BY conv_id
        """,
        # conversation-granularity exact dedup over the assembled documents,
        # with planted duplicate conversations (suffix % CONV_DUP_MOD ==
        # CONV_DUP_RESIDUE reappears under 'dup_<N>') so the digest groupBy,
        # the n_copies > 1 gate, and dup_rank verify on non-empty output.
        "conv_dedup": f"""
            WITH t AS (
              SELECT 'conv_' || CAST(doc_id % 50 AS VARCHAR) AS conv_id,
                     CAST(doc_id // 50 AS INTEGER) AS turn_idx,
                     CASE CAST(doc_id % 3 AS INTEGER) WHEN 0 THEN 'user'
                          WHEN 1 THEN 'assistant' ELSE 'tool' END AS role,
                     text AS extracted_text
              FROM documents),
            asm AS (
              SELECT conv_id,
                     string_agg(role || ': ' || extracted_text,
                          chr(10) ORDER BY turn_idx) AS doc_text
              FROM t GROUP BY conv_id),
            all_docs AS (
              SELECT conv_id, doc_text FROM asm
              UNION ALL
              SELECT 'dup_' || string_split(conv_id, '_')[2], doc_text
              FROM asm
              WHERE CAST(string_split(conv_id, '_')[2] AS INTEGER)
                    % {CONV_DUP_MOD} = {CONV_DUP_RESIDUE}),
            g AS (
              SELECT conv_id, md5(doc_text) AS doc_md5,
                     CAST(count(*) OVER (PARTITION BY md5(doc_text))
                          AS INTEGER) AS n_copies,
                     CAST(row_number() OVER (PARTITION BY md5(doc_text)
                          ORDER BY conv_id) AS INTEGER) AS dup_rank
              FROM all_docs)
            SELECT conv_id, doc_md5, n_copies, dup_rank
            FROM g WHERE n_copies > 1
        """,
        # conversation-granularity NEAR-dup (fuzzy twin of conv_dedup):
        # transcript-level plants drop each marked conversation's LAST turn
        # (a truncated re-run) under 'ndup_<N>'; assembly then the md5-family
        # MinHash-LSH chain replays end-to-end, pairing each plant with its
        # base at the true shared-shingle Jaccard.
        "conv_neardup": f"""
            WITH {_conv_plant_ctes('ndup', conversations.CONV_NEAR_RESIDUE,
                                   'truncated')},
            {_minhash_ctes("convdocs")}
            SELECT doc_id_a, doc_id_b, jaccard FROM mh_pairs
        """,
        # conversation-level near-dedup END PRODUCT: the same plant + assembly
        # + MinHash-LSH chain as conv_neardup, then connected components over
        # the pair graph (recursive min-label reach, the dedup_clusters
        # oracle pattern) and an anti-join dropping every non-minimum cluster
        # member — each truncated re-run loses to its base conversation.
        "conv_neardup_canonical": f"""
            WITH RECURSIVE
            {_conv_plant_ctes('ndup', conversations.CONV_NEAR_RESIDUE,
                              'truncated')},
            {_minhash_ctes("convdocs")},
            {_REACH_CTES},
            {_DROPPED_MIN_ID}
            SELECT doc_id, conv_id, md5(text) AS doc_md5 FROM convdocs
            WHERE doc_id NOT IN (SELECT doc_id FROM dropped)
        """,
        # the PRODUCTION canonical rule (pipeline_job --near-dedup): keep each
        # cluster's LONGEST document, tie-break min doc_id.  Plants are
        # EXTENDED re-runs ('xdup_<N>' = base plus a copy of its first turn
        # appended) at doc_id N + offset: the higher id is the longer doc, so
        # this row discriminates keep-longest from keep-min-id.
        "conv_neardup_keep_longest": f"""
            WITH RECURSIVE
            {_conv_plant_ctes('xdup', conversations.CONV_EXT_RESIDUE,
                              'extended')},
            {_minhash_ctes("convdocs")},
            {_REACH_CTES},
            comp AS (
              SELECT v AS doc_id, CAST(min(l) AS BIGINT) AS cluster_id
              FROM reach GROUP BY v),
            rk AS (
              SELECT m.doc_id,
                     row_number() OVER (PARTITION BY m.cluster_id
                                        ORDER BY length(d.text) DESC,
                                                 m.doc_id ASC) AS rn
              FROM comp m JOIN convdocs d ON d.doc_id = m.doc_id),
            dropped AS (SELECT doc_id FROM rk WHERE rn > 1)
            SELECT doc_id, conv_id, md5(text) AS doc_md5 FROM convdocs
            WHERE doc_id NOT IN (SELECT doc_id FROM dropped)
        """,
        # end-to-end composition: dispatch extraction -> 1200-char budget
        # truncation -> assembly -> conversation dedup (rank-1 survivor per
        # digest; plants at suffix % CONV_DUP_MOD == CONV_DUP_RESIDUE ride the
        # whole chain) -> greedy 512-token sequence packing per 4-way shard.
        # The corpus is trim/collapse-invariant, so extraction passes text
        # through and every stage is an exact SQL replay.
        "pipeline_e2e": f"""
            WITH RECURSIVE t AS (
              SELECT 'conv_' || CAST(doc_id % 50 AS VARCHAR) AS conv_id,
                     CAST(doc_id // 50 AS INTEGER) AS turn_idx,
                     CASE CAST(doc_id % 3 AS INTEGER) WHEN 0 THEN 'user'
                          WHEN 1 THEN 'assistant' ELSE 'tool' END AS role,
                     text AS extracted_text
              FROM documents),
            tp AS (
              SELECT * FROM t
              UNION ALL
              SELECT 'dup_' || string_split(conv_id, '_')[2], turn_idx, role,
                     extracted_text
              FROM t
              WHERE CAST(string_split(conv_id, '_')[2] AS INTEGER)
                    % {CONV_DUP_MOD} = {CONV_DUP_RESIDUE}),
            c AS (
              SELECT *,
                     sum(length(role) + 2 + length(extracted_text) + 1)
                       OVER (PARTITION BY conv_id ORDER BY turn_idx
                             ROWS UNBOUNDED PRECEDING) - 1 AS prefix_len
              FROM tp),
            asm AS (
              SELECT conv_id,
                     string_agg(role || ': ' || extracted_text,
                          chr(10) ORDER BY turn_idx) AS doc_text
              FROM c WHERE prefix_len <= 1200 GROUP BY conv_id),
            surv AS (
              SELECT conv_id, doc_text FROM (
                SELECT *, row_number() OVER (PARTITION BY md5(doc_text)
                          ORDER BY conv_id) AS rk
                FROM asm) WHERE rk = 1),
            n AS (
              SELECT conv_id,
                     CAST(string_split(conv_id, '_')[2] AS BIGINT) AS doc_id,
                     'shard_' || CAST(CAST(string_split(conv_id, '_')[2]
                          AS BIGINT) % 4 AS VARCHAR) AS source,
                     CAST(len(string_split_regex(trim(doc_text), ' +'))
                          AS BIGINT) AS n_tokens,
                     row_number() OVER (
                       PARTITION BY CAST(string_split(conv_id, '_')[2]
                                         AS BIGINT) % 4
                       ORDER BY CAST(string_split(conv_id, '_')[2] AS BIGINT))
                       AS rn
              FROM surv),
            p AS (
              SELECT conv_id, doc_id, source, n_tokens, rn,
                     CAST(0 AS INTEGER) AS seq_id,
                     CAST(0 AS BIGINT) AS seq_offset,
                     n_tokens AS fill
              FROM n WHERE rn = 1
              UNION ALL
              SELECT n.conv_id, n.doc_id, n.source, n.n_tokens, n.rn,
                     CAST(CASE WHEN p.fill > 0 AND p.fill + n.n_tokens > 512
                          THEN p.seq_id + 1 ELSE p.seq_id END AS INTEGER),
                     CAST(CASE WHEN p.fill > 0 AND p.fill + n.n_tokens > 512
                          THEN 0 ELSE p.fill END AS BIGINT),
                     CASE WHEN p.fill > 0 AND p.fill + n.n_tokens > 512
                          THEN n.n_tokens ELSE p.fill + n.n_tokens END
              FROM n JOIN p ON n.source = p.source AND n.rn = p.rn + 1)
            SELECT conv_id, doc_id, source, n_tokens, seq_id, seq_offset
            FROM p
        """,
        # the streaming dedup surface, batch-verified: one row per distinct
        # digest of the planted-duplicate corpus, n_rows == 1 iff the stream
        # dropped every duplicate (see streaming.stream.q_stream_dedup_parity)
        "stream_dedup_parity": f"""
            WITH corpus AS (
              SELECT text FROM documents
              UNION ALL
              SELECT text FROM documents
              WHERE doc_id % {PLANT_MOD} = {PLANT_RESIDUE})
            SELECT md5(text) AS text_md5, CAST(1 AS INTEGER) AS n_rows
            FROM corpus GROUP BY md5(text)
        """,
        # windowed-rollup streaming parity: replay the spread-timestamp
        # single-turn construction (WINDOW_TS_SQL) and the 1-hour tumbling
        # aggregation batch-side; spans replays the plain-route kernel count
        # (the extract_documents oracle's 0/1 CASE)
        "stream_window_parity": f"""
            WITH tx AS (
              SELECT TIMESTAMP '2026-01-01 00:00:00'
                       + INTERVAL (CAST(doc_id % {WINDOW_SPREAD_MIN}
                                        AS INTEGER)) MINUTE AS ts,
                     text
              FROM documents)
            SELECT date_trunc('hour', ts) AS win_start,
                   count(*) AS turns,
                   CAST(sum(CASE WHEN length(trim(text)) = 0 THEN 0 ELSE 1
                            END) AS BIGINT) AS spans
            FROM tx GROUP BY 1
        """,
        # custom-stateful-operator parity: replay the chunked multi-turn
        # construction (the paragraph_dedup chunk CTEs) and the final
        # per-conversation cumulative state batch-side; spans replays the
        # plain-route kernel 0/1 CASE per turn
        "stream_progress_parity": f"""
            WITH {_CHUNK_CTES}
            SELECT CAST(doc_id AS VARCHAR) AS conv_id,
                   count(*) AS turns,
                   CAST(sum(CASE WHEN length(trim(chunk)) = 0 THEN 0 ELSE 1
                            END) AS BIGINT) AS spans,
                   CAST(max(cidx) AS INTEGER) AS last_turn_idx
            FROM nchunks GROUP BY doc_id
        """,
        # S1 polymorphic declared-kind dispatch (tool value -> parser table):
        # doc_id % 4 picks payload format + declaring tool value; all four
        # parsers run on their DECLARED path (no sniff, no E4 vote).  k=0 is
        # the visibility plant: '- ' || text would vote markdown, but the
        # declared plain kind keeps the literal marker (extracted keeps '- ',
        # fmt='plain', strip_ratio exactly 0).  k=1/2/3 replay the markdown /
        # html / json-envelope closed forms of the sibling extract oracles.
        "kind_dispatch_extract": """
            SELECT doc_id,
                   CASE CAST(doc_id % 4 AS INTEGER)
                        WHEN 0 THEN 'render_plain' WHEN 1 THEN 'render_markdown'
                        WHEN 2 THEN 'render_html' ELSE 'tool_json'
                   END AS tool,
                   CASE CAST(doc_id % 4 AS INTEGER)
                        WHEN 0 THEN '- ' || text
                        WHEN 1 THEN source || chr(10) || text
                        WHEN 2 THEN text || ' ' || source
                        ELSE text
                   END AS extracted_text,
                   CASE CAST(doc_id % 4 AS INTEGER)
                        WHEN 0 THEN 'plain' WHEN 1 THEN 'markdown'
                        WHEN 2 THEN 'html' ELSE 'json'
                   END AS fmt,
                   CAST(CASE WHEN doc_id % 4 IN (1, 2) THEN 2 ELSE 1 END
                        AS INTEGER) AS n_spans,
                   CASE CAST(doc_id % 4 AS INTEGER)
                        WHEN 0 THEN 0.0
                        WHEN 1 THEN 1.0
                             - CAST(length(source) + 1 + length(text) AS DOUBLE)
                             / CAST(5 + length(source) + length(text) AS DOUBLE)
                        WHEN 2 THEN 1.0
                             - CAST(length(text) + 1 + length(source) AS DOUBLE)
                             / CAST(63 + length(text) + length(source) AS DOUBLE)
                        ELSE 1.0 - CAST(length(text) AS DOUBLE)
                             / CAST(length(text) + 14 AS DOUBLE)
                   END AS strip_ratio
            FROM documents
        """,
        # kernel detect->NMS->stitch path over an SQL-constructed HTML payload:
        # '<html><script>var x = 1;</script><p>' || text || '</p><a href="u">'
        # || source || '</a></html>'.  The script block drops wholesale, tags
        # block, the <a> zone halves detection conf (1.0 -> 0.5, still kept),
        # and the two same-row runs stitch into one space-joined line.  The
        # corpus is fully texty/single-line (verified), so trim/collapse are
        # identity and every offset is a closed form of the column lengths.
        "html_extract": """
            WITH base AS (
              SELECT doc_id, text, source,
                     text || ' ' || source AS extracted_text,
                     1.0 - CAST(length(text) + 1 + length(source) AS DOUBLE)
                         / CAST(63 + length(text) + length(source) AS DOUBLE)
                       AS strip_ratio
              FROM documents)
            SELECT doc_id, extracted_text, 'html' AS fmt, strip_ratio,
                   CAST(0 AS INTEGER) AS span_idx,
                   CAST(36 AS INTEGER) AS start,
                   CAST(36 + length(text) AS INTEGER) AS "end",
                   'html' AS kind, text AS span_text
            FROM base
            UNION ALL
            SELECT doc_id, extracted_text, 'html' AS fmt, strip_ratio,
                   CAST(1 AS INTEGER) AS span_idx,
                   CAST(52 + length(text) AS INTEGER) AS start,
                   CAST(52 + length(text) + length(source) AS INTEGER) AS "end",
                   'html' AS kind, source AS span_text
            FROM base
        """,
        # markdown path: '# ' || source || '\n' || '- ' || text.  Markers are
        # excluded from spans; markdown must WIN THE TIE with the plain parser
        # (both find 2 passing spans; first-parser-wins keeps markdown); the two
        # rows stitch into two lines in top-y order.
        "markdown_extract": """
            WITH base AS (
              SELECT doc_id, text, source,
                     source || chr(10) || text AS extracted_text,
                     1.0 - CAST(length(source) + 1 + length(text) AS DOUBLE)
                         / CAST(5 + length(source) + length(text) AS DOUBLE)
                       AS strip_ratio
              FROM documents)
            SELECT doc_id, extracted_text, 'markdown' AS fmt, strip_ratio,
                   CAST(0 AS INTEGER) AS span_idx,
                   CAST(2 AS INTEGER) AS start,
                   CAST(2 + length(source) AS INTEGER) AS "end",
                   'markdown' AS kind, source AS span_text
            FROM base
            UNION ALL
            SELECT doc_id, extracted_text, 'markdown' AS fmt, strip_ratio,
                   CAST(1 AS INTEGER) AS span_idx,
                   CAST(5 + length(source) AS INTEGER) AS start,
                   CAST(5 + length(source) + length(text) AS INTEGER) AS "end",
                   'markdown' AS kind, text AS span_text
            FROM base
        """,
        # S10 visualization sink: the SVG rendering of the markdown payload's
        # span geometry (two rows per doc, reading order = row order).  The
        # oracle rebuilds the byte-exact SVG from the markdown closed forms
        # (span0 = [2, 2+len(source)), span1 = [5+len(source), +len(text))),
        # CHAR_W=8 / ROW_H=18 / BOX_H=16 pseudo-geometry, XML-escaped labels.
        "span_svg": """
            WITH base AS (
              SELECT doc_id, length(source) AS ls, length(text) AS lt,
                     replace(replace(replace(source, '&', '&amp;'), '<', '&lt;'),
                             '>', '&gt;') AS esrc,
                     replace(replace(replace(text, '&', '&amp;'), '<', '&lt;'),
                             '>', '&gt;') AS etxt
              FROM documents)
            SELECT doc_id,
                   '<svg xmlns="http://www.w3.org/2000/svg" width="'
                   || CAST(8 * (5 + ls + lt) AS VARCHAR) || '" height="36">'
                   || '<g><rect x="16" y="0" width="' || CAST(8 * ls AS VARCHAR)
                   || '" height="16" class="markdown"/><text x="18" y="12">'
                   || esrc || '</text></g>'
                   || '<g><rect x="' || CAST(8 * (5 + ls) AS VARCHAR)
                   || '" y="18" width="' || CAST(8 * lt AS VARCHAR)
                   || '" height="16" class="markdown"/><text x="'
                   || CAST(8 * (5 + ls) + 2 AS VARCHAR) || '" y="30">'
                   || etxt || '</text></g></svg>' AS svg
            FROM base
        """,
        "explode_parts": r"""
            WITH p AS (SELECT doc_id, string_split(text, ' table ') AS parts FROM documents)
            SELECT doc_id, CAST(i - 1 AS INTEGER) AS part_idx,
                   CAST(length(parts[CAST(i AS INTEGER)]) AS BIGINT) AS part_len
            FROM p, unnest(generate_series(1, len(parts))) AS t(i)
        """,
        "explode_parts_range": r"""
            WITH p AS (SELECT doc_id, string_split(text, ' table ') AS parts FROM documents)
            SELECT doc_id, CAST(i - 1 AS INTEGER) AS part_idx,
                   CAST(length(parts[CAST(i AS INTEGER)]) AS BIGINT) AS part_len
            FROM p, unnest(generate_series(2, least(len(parts), 3))) AS t(i)
        """,
        # the documents corpus is single-line plain prose, so the kernel's one
        # span per doc has start = leading-space count, end = rtrim length, the
        # plain-text kind, and the collapsed text — the S8 sink format exactly
        "tsv_lines": r"""
            SELECT doc_id,
                   concat(CAST(length(text) - length(ltrim(text)) AS VARCHAR),
                          chr(9), CAST(length(rtrim(text)) AS VARCHAR),
                          chr(9), 'text', chr(9),
                          regexp_replace(trim(text), '\s+', ' ', 'g')) AS tsv_line
            FROM documents WHERE length(trim(text)) > 0
        """,
        "output_keys": """
            SELECT doc_id, concat('out/run1/', CAST(doc_id AS VARCHAR), '/0.tsv')
                   AS output_key
            FROM documents
        """,
        "multi_source_union": """
            SELECT doc_id, source, n_chars, CAST(NULL AS BIGINT) AS text_chars
            FROM documents WHERE doc_id % 2 = 0
            UNION ALL
            SELECT doc_id, NULL, NULL, CAST(length(text) AS BIGINT)
            FROM documents WHERE doc_id % 2 = 1
        """,
        "strip_ratio_by_source": """
            SELECT source,
                   count(*) AS n_docs,
                   CAST(sum(length(regexp_replace(trim(text), '\\s+', ' ', 'g'))) AS BIGINT) AS extracted_chars,
                   CAST(sum(length(text)) AS BIGINT) AS raw_chars,
                   1.0 - CAST(sum(length(regexp_replace(trim(text), '\\s+', ' ', 'g'))) AS DOUBLE)
                       / CAST(sum(length(text)) AS DOUBLE) AS strip_ratio
            FROM documents GROUP BY source
        """,
        "pricing_summary": f"""
            SELECT l_returnflag, l_linestatus,
                   CAST(CAST(sum(CAST(l_quantity AS DECIMAL(30,6))) AS VARCHAR) AS DOUBLE) AS sum_qty,
                   CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(30,6))) AS VARCHAR) AS DOUBLE) AS sum_base_price,
                   CAST(CAST({_REV} AS VARCHAR) AS DOUBLE) AS sum_disc_price,
                   count(*) AS count_order
            FROM lineitem WHERE l_shipdate <= TIMESTAMP '2024-09-01 00:00:00'
            GROUP BY l_returnflag, l_linestatus
        """,
        "top_revenue_orders": f"""
            SELECT o_orderkey, CAST(CAST({_REV} AS VARCHAR) AS DOUBLE) AS revenue
            FROM lineitem JOIN orders ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            WHERE c_mktsegment = 'BUILDING'
            GROUP BY o_orderkey ORDER BY revenue DESC, o_orderkey ASC LIMIT 10
        """,
        "region_revenue": f"""
            SELECT r_name, CAST(CAST({_REV} AS VARCHAR) AS DOUBLE) AS revenue, count(*) AS n_items
            FROM lineitem JOIN orders ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            JOIN nation ON c_nationkey = n_nationkey
            JOIN region ON n_regionkey = r_regionkey
            GROUP BY r_name
        """,
        "parts_with_lineitems": """
            SELECT p_brand, count(*) AS n_parts FROM part
            WHERE EXISTS (SELECT 1 FROM lineitem WHERE l_partkey = p_partkey)
            GROUP BY p_brand
        """,
        "customers_without_orders": """
            SELECT c_mktsegment, count(*) AS n_customers FROM customer
            WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
                              AND o_orderdate >= TIMESTAMP '2000-01-01')
            GROUP BY c_mktsegment
        """,
        "event_windows": """
            SELECT user_id, event_id, rn, prev_value FROM (
              SELECT user_id, event_id,
                     CAST(row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS INTEGER) AS rn,
                     lag(value) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_value
              FROM events) WHERE rn <= 3
        """,
        "hourly_event_rollup": """
            SELECT date_trunc('hour', ts) AS hour, event_type,
                   count(*) AS n_events,
                   CAST(CAST(sum(CAST(value AS DECIMAL(30,6))) AS VARCHAR) AS DOUBLE) AS sum_value
            FROM events GROUP BY 1, 2
        """,
        "asof_last_order": """
            SELECT e.event_id, max(o.o_orderdate) AS last_order_ts,
                   count(o.o_orderkey) AS n_prior_orders
            FROM events e LEFT JOIN orders o
              ON e.user_id = o.o_custkey AND o.o_orderdate <= e.ts
            WHERE e.event_type = 'purchase'
            GROUP BY e.event_id
        """,
        "event_percentiles": """
            SELECT event_type, count(*) AS n_events,
                   round(quantile_cont(value, 0.5), 6) AS p50,
                   round(quantile_cont(value, 0.95), 6) AS p95,
                   round(quantile_cont(value, 0.99), 6) AS p99
            FROM events GROUP BY event_type
        """,
        "rollup_revenue": """
            SELECT r_name, n_name,
                   CAST(CAST(sum(CAST(o_totalprice AS DECIMAL(30,6))) AS VARCHAR) AS DOUBLE) AS revenue,
                   count(*) AS n_orders,
                   CAST(CASE WHEN GROUPING(r_name) > 0 THEN 1 ELSE 0 END AS INTEGER) AS g_region,
                   CAST(CASE WHEN GROUPING(n_name) > 0 THEN 1 ELSE 0 END AS INTEGER) AS g_nation
            FROM orders JOIN customer ON o_custkey = c_custkey
            JOIN nation ON c_nationkey = n_nationkey
            JOIN region ON n_regionkey = r_regionkey
            GROUP BY ROLLUP (r_name, n_name)
        """,
        # sessionization: gap math in exact integer microseconds
        # (Spark unix_micros == DuckDB epoch_us), session numbering by running
        # sum over the (ts, event_id) total order
        "event_sessions": """
            WITH g AS (
              SELECT user_id, event_id, ts, value,
                     CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
                               OR epoch_us(ts) - lag(epoch_us(ts)) OVER w
                                  > 1800000000
                          THEN 1 ELSE 0 END AS new_sess
              FROM events
              WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
            s AS (
              SELECT *, CAST(sum(new_sess) OVER (PARTITION BY user_id
                       ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING)
                     AS INTEGER) AS session_seq
              FROM g)
            SELECT user_id, session_seq,
                   count(*) AS n_events,
                   min(event_id) AS first_event_id,
                   min(ts) AS session_start,
                   max(ts) AS session_end,
                   CAST(CAST(sum(CAST(value AS DECIMAL(30,6))) AS VARCHAR)
                        AS DOUBLE) AS sum_value,
                   CAST(epoch_us(max(ts)) - epoch_us(min(ts)) AS BIGINT)
                     AS duration_us
            FROM s GROUP BY user_id, session_seq
        """,
        # trailing-1h RANGE frame over integer microseconds; DECIMAL frame sum
        # (order-independent, peers included identically), one double division
        "event_rolling": """
            WITH r AS (
              SELECT event_id, user_id,
                     CAST(count(*) OVER w AS BIGINT) AS roll_n,
                     CAST(CAST(sum(CAST(value AS DECIMAL(30,6))) OVER w
                          AS VARCHAR) AS DOUBLE) AS roll_sum
              FROM events
              WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
                           RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW))
            SELECT event_id, user_id, roll_n, roll_sum,
                   roll_sum / CAST(roll_n AS DOUBLE) AS roll_avg
            FROM r
        """,
        "event_range_page": """
            SELECT event_id, ts, user_id, event_type, value FROM events
            WHERE ts >= TIMESTAMP '2024-01-10 00:00:00' AND ts < TIMESTAMP '2024-01-11 00:00:00'
            ORDER BY ts, event_id LIMIT 100
        """,
        "token_stats": r"""
            SELECT doc_id,
                   CAST(len(string_split_regex(trim(text), ' +')) AS BIGINT) AS n_tokens,
                   CAST(len(string_split_regex(trim(regexp_replace(text, '([^\w\s])', ' \1 ', 'g')), '\s+')) AS BIGINT) AS n_bpe_tokens,
                   CAST(length(text) AS BIGINT) AS n_chars
            FROM documents
        """,
        "lang_id": _lang_id_sql(),
        "quality_score": r"""
            WITH t AS (SELECT doc_id,
                    CAST(length(text) AS DOUBLE) AS n_chars,
                    CAST(length(text) - length(regexp_replace(text, '[.,;:!?]', '', 'g')) AS DOUBLE) AS n_punct,
                    CAST(len(string_split_regex(trim(text), ' +')) AS DOUBLE) AS n_tok,
                    CAST(len(list_intersect(list_distinct(string_split_regex(trim(text), ' +')),
                         ['the', 'a', 'and', 'of', 'to'])) AS DOUBLE) AS n_stop
              FROM documents)
            SELECT doc_id,
                   round(n_punct / n_chars, 6) AS punct_ratio,
                   round(n_stop / greatest(n_tok, 1.0), 6) AS stop_ratio,
                   round((n_chars - n_tok + 1) / n_tok, 6) AS mean_token_len,
                   CAST(n_tok AS BIGINT) AS n_tokens
            FROM t
        """,
        "quality_filter": r"""
            WITH t AS (SELECT doc_id, source,
                    CAST(length(text) AS DOUBLE) AS n_chars,
                    CAST(length(text) - length(regexp_replace(text, '[.,;:!?]', '', 'g')) AS DOUBLE) AS n_punct,
                    CAST(len(string_split_regex(trim(text), ' +')) AS DOUBLE) AS n_tok,
                    CAST(len(list_intersect(list_distinct(string_split_regex(trim(text), ' +')),
                         ['the', 'a', 'and', 'of', 'to'])) AS DOUBLE) AS n_stop
              FROM documents)
            SELECT doc_id, source, CAST(n_tok AS BIGINT) AS n_tokens,
                   round(n_punct / n_chars, 6) AS punct_ratio,
                   round(n_stop / greatest(n_tok, 1.0), 6) AS stop_ratio
            FROM t
            WHERE CAST(n_tok AS BIGINT) >= 10
              AND round(n_punct / n_chars, 6) <= 0.1
              AND round(n_stop / greatest(n_tok, 1.0), 6) >= 0.02
        """,
        "shingle_count": """
            SELECT doc_id, CAST(count(DISTINCT substr(substr(text, 1, 200), CAST(i AS INTEGER), 8)) AS BIGINT) AS n_shingles
            FROM documents, unnest(generate_series(1, greatest(length(substr(text, 1, 200)) - 7, 1))) AS t(i)
            GROUP BY doc_id
        """,
        "fingerprint": """
            SELECT doc_id, md5(substr(text, 1, 64)) AS md5_head,
                   list_reduce(
                     list_prepend(CAST(0 AS BIGINT),
                       [CAST(ascii(substr(text, CAST(i AS INTEGER), 1)) AS BIGINT)
                        for i in generate_series(1, least(length(text), 64))]),
                     (acc, b) -> (acc * 31 + b) % 1000000007) AS rolling_hash
            FROM documents
        """,
        "vocab_stats": """
            WITH d AS (SELECT doc_id, string_split_regex(trim(text), ' +') AS tk
                       FROM documents),
            dfx AS (SELECT t AS tok, count(*) AS df
                    FROM (SELECT doc_id, unnest(list_distinct(tk)) AS t FROM d)
                    GROUP BY t),
            occ AS (SELECT t AS tok, count(*) AS occurrences
                    FROM (SELECT unnest(tk) AS t FROM d) GROUP BY t)
            SELECT dfx.tok, df, occurrences FROM dfx JOIN occ ON dfx.tok = occ.tok
            ORDER BY df DESC, dfx.tok ASC LIMIT 50
        """,
        # tf * N / df (log-free tf-idf): all-integer operands, one double
        # division -> bit-identical ranking without rounding
        "tfidf": """
            WITH tk AS (SELECT doc_id,
                               unnest(string_split_regex(trim(text), ' +')) AS tok
                        FROM documents),
            tf AS (SELECT doc_id, tok, count(*) AS tf FROM tk GROUP BY doc_id, tok),
            dfx AS (SELECT tok, count(*) AS df FROM tf GROUP BY tok),
            n AS (SELECT count(*) AS n_docs FROM documents),
            wgt AS (SELECT doc_id, tf.tok AS tok, tf, df,
                           CAST(tf * n_docs AS DOUBLE) / df AS weight
                    FROM tf JOIN dfx ON tf.tok = dfx.tok, n)
            SELECT doc_id, tok, tf, df, weight, rank FROM (
              SELECT *, CAST(row_number() OVER (PARTITION BY doc_id
                       ORDER BY weight DESC, tok) AS INTEGER) AS rank
              FROM wgt) WHERE rank <= 3
        """,
        "exact_dedup": f"""
            WITH corpus AS (
              SELECT doc_id, text FROM documents
              UNION ALL
              SELECT doc_id + {PLANT_OFFSET} AS doc_id, text FROM documents
              WHERE doc_id % {PLANT_MOD} = {PLANT_RESIDUE}),
            h AS (SELECT doc_id, md5(text) AS text_md5 FROM corpus),
            g AS (SELECT doc_id, text_md5,
                         count(*) OVER (PARTITION BY text_md5) AS n_copies,
                         CAST(row_number() OVER (PARTITION BY text_md5 ORDER BY doc_id) AS INTEGER) AS dup_rank
                  FROM h)
            SELECT doc_id, text_md5, n_copies, dup_rank FROM g WHERE n_copies > 1
        """,
        # sub-document granularity: documents re-chunked into non-overlapping
        # 8-word windows (the corpus is single-line, so the chunk plays the
        # paragraph/line role of a C4/RefinedWeb cleaning pass); keep-first
        # corpus-wide (paragraph_dedup) vs remove-everywhere when a chunk
        # appears in >= 2 distinct docs (boilerplate_strip).  ~5% of chunks are
        # organic duplicates at every SF, so both rows are non-vacuous unplanted.
        "paragraph_dedup": f"""
            WITH {_CHUNK_CTES},
            kept AS (
              SELECT doc_id, cidx, chunk FROM (
                SELECT doc_id, cidx, chunk,
                       row_number() OVER (PARTITION BY chunk
                                          ORDER BY doc_id, cidx) AS rn
                FROM nchunks) WHERE rn = 1),
            agg AS (SELECT doc_id, count(*)::BIGINT AS n_kept,
                           string_agg(chunk, ' ' ORDER BY cidx) AS dedup_text
                    FROM kept GROUP BY doc_id),
            tot AS (SELECT doc_id, count(*)::BIGINT AS n_chunks
                    FROM nchunks GROUP BY doc_id)
            SELECT t.doc_id, t.n_chunks,
                   COALESCE(a.n_kept, 0)::BIGINT AS n_kept,
                   COALESCE(a.dedup_text, '') AS dedup_text
            FROM tot t LEFT JOIN agg a USING (doc_id)
        """,
        "boilerplate_strip": f"""
            WITH {_CHUNK_CTES},
            freq AS (SELECT chunk, count(DISTINCT doc_id) AS nd
                     FROM nchunks GROUP BY chunk),
            kept AS (SELECT c.doc_id, c.cidx, c.chunk
                     FROM nchunks c JOIN freq f USING (chunk) WHERE f.nd < 2),
            agg AS (SELECT doc_id, count(*)::BIGINT AS n_kept,
                           string_agg(chunk, ' ' ORDER BY cidx) AS clean_text
                    FROM kept GROUP BY doc_id),
            tot AS (SELECT doc_id, count(*)::BIGINT AS n_chunks
                    FROM nchunks GROUP BY doc_id)
            SELECT t.doc_id, t.n_chunks,
                   (t.n_chunks - COALESCE(a.n_kept, 0))::BIGINT AS n_removed,
                   COALESCE(a.clean_text, '') AS clean_text
            FROM tot t LEFT JOIN agg a USING (doc_id)
        """,
        "ngram_jaccard_pairs": """
            WITH d AS (SELECT doc_id, source,
                              list_distinct(string_split_regex(trim(text), ' +')) AS wset
                       FROM documents)
            SELECT doc_id_a, doc_id_b, jaccard FROM (
              SELECT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b,
                     round(CAST(len(list_intersect(a.wset, b.wset)) AS DOUBLE)
                           / (len(a.wset) + len(b.wset) - CAST(len(list_intersect(a.wset, b.wset)) AS DOUBLE)), 6) AS jaccard
              FROM d a JOIN d b ON a.source = b.source AND a.doc_id < b.doc_id)
            WHERE jaccard >= 0.6
        """,
        # connected components via recursive CTE over the SAME MinHash-LSH pair
        # pipeline the Spark side clusters: labels propagate along near-dup edges;
        # min reachable label = the component's canonical doc (the Spark side
        # computes the identical fixpoint by iterative min-label propagation)
        "dedup_clusters": f"""
            WITH RECURSIVE {_MINHASH_CTES},
            {_REACH_CTES}
            SELECT v AS doc_id, CAST(min(l) AS BIGINT) AS cluster_id
            FROM reach GROUP BY v
        """,
        # planted-PII scrub: counts via regexp_extract_all length, global
        # replace ('g' — DuckDB defaults to first-match-only); the regex subset
        # (char classes, bounded reps, \b) behaves identically in Java and RE2
        "pii_redact": r"""
            WITH p AS (
              SELECT doc_id,
                     text || ' contact: user' || CAST(doc_id AS VARCHAR)
                     || '@example.com or 555-01'
                     || lpad(CAST(doc_id % 100 AS VARCHAR), 2, '0') AS payload
              FROM documents)
            SELECT doc_id,
                   CAST(len(regexp_extract_all(payload,
                     '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))
                     AS INTEGER) AS n_emails,
                   CAST(len(regexp_extract_all(payload, '\b555-[0-9]{4}\b'))
                     AS INTEGER) AS n_phones,
                   regexp_replace(
                     regexp_replace(payload,
                       '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
                       '<EMAIL>', 'g'),
                     '\b555-[0-9]{4}\b', '<PHONE>', 'g') AS redacted
            FROM p
        """,
        # 5-token-shingle overlap vs the held-out benchmark slice (doc_id%50=7):
        # hits counted over DISTINCT doc shingles; truncated tail shingles via
        # NULL-skipping concat_ws, same as the Spark zip_with spelling
        "contamination_check": """
            WITH sh AS (
              SELECT doc_id,
                     list_distinct([concat_ws(' ', tk[CAST(i AS INTEGER)],
                        tk[CAST(i+1 AS INTEGER)], tk[CAST(i+2 AS INTEGER)],
                        tk[CAST(i+3 AS INTEGER)], tk[CAST(i+4 AS INTEGER)])
                       for i in generate_series(1, greatest(len(tk) - 4, 1))])
                       AS shingles
              FROM (SELECT doc_id, string_split_regex(trim(text), ' +') AS tk
                    FROM documents)),
            ex AS (SELECT doc_id, unnest(shingles) AS shingle FROM sh),
            bench AS (SELECT DISTINCT shingle FROM ex WHERE doc_id % 50 = 7)
            SELECT doc_id, count(*) AS n_hits
            FROM ex JOIN bench USING (shingle)
            WHERE doc_id % 50 != 7 GROUP BY doc_id
        """,
        # CCNet-style bigram-LM quality buckets: model = min-count-pruned bigram
        # counts from the held-in slice; scores are single divisions of exact
        # int64 sums (the tfidf integer-exact convention — no ln())
        "lm_quality": f"""
            WITH sh AS (
              SELECT doc_id,
                     [concat_ws(' ', tk[CAST(i AS INTEGER)],
                        tk[CAST(i+1 AS INTEGER)])
                       for i in generate_series(1, greatest(len(tk) - 1, 1))]
                       AS bgs
              FROM (SELECT doc_id, string_split_regex(trim(text), ' +') AS tk
                    FROM documents)),
            ex AS (SELECT doc_id, unnest(bgs) AS bigram FROM sh),
            model AS (
              SELECT bigram, count(*) AS c FROM ex
              WHERE doc_id % {LM_REF_MOD} = {LM_REF_RESIDUE}
              GROUP BY bigram HAVING count(*) >= {LM_MIN_COUNT}),
            per_doc AS (
              SELECT doc_id, count(*) AS n_bigrams,
                     CAST(sum(CASE WHEN c IS NULL THEN 1 ELSE 0 END) AS BIGINT)
                       AS n_oov,
                     CAST(coalesce(sum(c), 0) AS BIGINT) AS ref_mass
              FROM ex LEFT JOIN model USING (bigram)
              WHERE doc_id % {LM_REF_MOD} != {LM_REF_RESIDUE}
              GROUP BY doc_id)
            SELECT doc_id, n_bigrams, n_oov, ref_mass,
                   n_oov / n_bigrams AS oov_rate,
                   ref_mass / n_bigrams AS familiarity,
                   CASE WHEN n_oov / n_bigrams <= {LM_HEAD_MAX_OOV} THEN 'head'
                        WHEN n_oov / n_bigrams <= {LM_MID_MAX_OOV} THEN 'middle'
                        ELSE 'tail' END AS bucket
            FROM per_doc
        """,
        # URL plant -> domain parse -> blocklist anti-join (regex subset with
        # identical Java/RE2 semantics, as pii_redact)
        "domain_filter": f"""
            WITH p AS (
              SELECT doc_id, n_chars,
                     regexp_extract(
                       coalesce(text, '') || ' http://d'
                            || CAST(doc_id % {DOMAIN_MOD} AS VARCHAR)
                            || '.example/p/' || CAST(doc_id AS VARCHAR),
                       '{_URL_RE}', 1) AS domain
              FROM documents)
            SELECT doc_id, domain, n_chars FROM p
            WHERE domain NOT IN ({", ".join(repr(d) for d in BLOCKED_DOMAINS)})
        """,
        # md5-hash deterministic per-source sampling (reproducible data mixing)
        # data mixing: reweight the corpus to target source shares under a
        # 40%-of-corpus budget — per-source quota floor(budget * w / wsum),
        # members chosen by smallest md5(doc_id) (deterministic cross-engine)
        "source_mix": """
            WITH stats AS (
              SELECT source, count(*) AS n_docs,
                     CAST(ascii(substring(source, -1, 1)) % 4 + 1 AS BIGINT) AS w
              FROM documents GROUP BY source),
            totals AS (SELECT sum(n_docs) AS total, sum(w) AS wsum FROM stats),
            quota AS (
              SELECT source, w,
                     CAST(floor(total * 0.4 * w / wsum) AS BIGINT) AS quota
              FROM stats, totals),
            ranked AS (
              SELECT doc_id, source,
                     CAST(row_number() OVER (PARTITION BY source
                          ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id)
                       AS INTEGER) AS mix_rank
              FROM documents)
            SELECT r.doc_id, r.source, r.mix_rank, q.w, q.quota
            FROM ranked r JOIN quota q USING (source)
            WHERE r.mix_rank <= q.quota
        """,
        "stratified_sample": """
            SELECT doc_id, source, bucket, rate FROM (
              SELECT doc_id, source,
                     CAST(CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)
                          AS BIGINT) % 100 AS INTEGER) AS bucket,
                     CAST((length(source) * 7 + ascii(substr(source, -1, 1)))
                          % 41 + 10 AS INTEGER) AS rate
              FROM documents)
            WHERE bucket < rate
        """,
        "repetition_stats": """
            WITH t AS (SELECT doc_id,
                              unnest(string_split_regex(trim(text), ' +')) AS tok
                       FROM documents),
            c AS (SELECT doc_id, tok, count(*) AS c FROM t GROUP BY doc_id, tok),
            r AS (SELECT *, row_number() OVER (PARTITION BY doc_id
                    ORDER BY c DESC, tok) AS rn FROM c)
            SELECT doc_id,
                   CAST(sum(c) AS BIGINT) AS n_tokens,
                   count(*) AS n_distinct,
                   max(CASE WHEN rn = 1 THEN tok END) AS top_tok,
                   CAST(max(CASE WHEN rn = 1 THEN c END) AS BIGINT) AS top_count,
                   CAST(max(CASE WHEN rn = 1 THEN c END) AS DOUBLE)
                     / CAST(sum(c) AS BIGINT) AS top_frac,
                   CAST(count(*) AS DOUBLE) / CAST(sum(c) AS BIGINT)
                     AS distinct_frac
            FROM r GROUP BY doc_id
        """,
        "token_budget": """
            WITH n AS (SELECT doc_id, source,
                              CAST(len(string_split_regex(trim(text), ' +'))
                                AS BIGINT) AS n_tokens
                       FROM documents),
            c AS (SELECT *, CAST(sum(n_tokens) OVER (PARTITION BY source
                    ORDER BY n_tokens DESC, doc_id ROWS UNBOUNDED PRECEDING)
                    AS BIGINT) AS cum_tokens FROM n)
            SELECT doc_id, source, n_tokens, cum_tokens FROM c
            WHERE cum_tokens <= 600
        """,
        # greedy contiguous packing replayed as a per-source recursive scan:
        # the (seq, fill) state transition row by row in doc_id order — the
        # sequential semantics the Spark side computes with a grouped-map
        # Pandas stage (window functions cannot express the reset rule)
        "sequence_pack": """
            WITH RECURSIVE n AS (
              SELECT doc_id, source,
                     CAST(len(string_split_regex(trim(text), ' +')) AS BIGINT)
                       AS n_tokens,
                     row_number() OVER (PARTITION BY source ORDER BY doc_id)
                       AS rn
              FROM documents),
            p AS (
              SELECT doc_id, source, n_tokens, rn,
                     CAST(0 AS INTEGER) AS seq_id,
                     CAST(0 AS BIGINT) AS seq_offset,
                     n_tokens AS fill
              FROM n WHERE rn = 1
              UNION ALL
              SELECT n.doc_id, n.source, n.n_tokens, n.rn,
                     CAST(CASE WHEN p.fill > 0 AND p.fill + n.n_tokens > 512
                          THEN p.seq_id + 1 ELSE p.seq_id END AS INTEGER),
                     CAST(CASE WHEN p.fill > 0 AND p.fill + n.n_tokens > 512
                          THEN 0 ELSE p.fill END AS BIGINT),
                     CASE WHEN p.fill > 0 AND p.fill + n.n_tokens > 512
                          THEN n.n_tokens ELSE p.fill + n.n_tokens END
              FROM n JOIN p ON n.source = p.source AND n.rn = p.rn + 1)
            SELECT doc_id, source, n_tokens, seq_id, seq_offset FROM p
        """,
        # the deduplicated corpus: drop every cluster member except the minimum
        # doc_id, over the SAME MinHash-LSH component pipeline as dedup_clusters
        "dedup_canonical": f"""
            WITH RECURSIVE {_MINHASH_CTES},
            {_REACH_CTES},
            {_DROPPED_MIN_ID}
            SELECT doc_id, md5(text) AS text_md5 FROM documents
            WHERE doc_id NOT IN (SELECT doc_id FROM dropped)
        """,
        # md5-affine hash family (operators/dedup.py): a = int(md5[0:15], 16),
        # b = int(md5[16:30], 16), h_j = a + j*b — bit-identical in both engines,
        # so signatures, band buckets, and verification sets all replay here.
        "minhash_lsh_pairs": f"""
            WITH {_MINHASH_CTES}
            SELECT doc_id_a, doc_id_b, jaccard FROM mh_pairs
        """,
        "simhash": f"""
            WITH {_SIMHASH_CTES}
            SELECT doc_id, simhash FROM fp
        """,
        # provably exact band blocking: 4 bands of 15 bits; a pair within Hamming 3
        # differs in at most 3 slices, so it shares one (pigeonhole) — candidates
        # have perfect recall and the popcount verification is exact
        "simhash_neardup": f"""
            WITH {_SIMHASH_CTES},
            banded AS (
              SELECT doc_id, simhash, b AS band,
                     (simhash >> CAST(b * 15 AS INTEGER)) & 32767 AS chunk
              FROM fp, unnest(generate_series(0, 3)) AS g(b)),
            cand AS (
              SELECT DISTINCT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b,
                     bit_count(xor(a.simhash, b.simhash)) AS hamming
              FROM banded a JOIN banded b
                ON a.band = b.band AND a.chunk = b.chunk AND a.doc_id < b.doc_id)
            SELECT doc_id_a, doc_id_b, CAST(hamming AS INTEGER) AS hamming
            FROM cand WHERE hamming <= 3
        """,
        "embedding_topk": f"""
            WITH e AS ({_EMB}),
            s AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                         {cos_qc} AS score
                  FROM e q JOIN e c ON q.vec_id < 5 AND c.vec_id != q.vec_id)
            SELECT query_id, neighbor_id, rank, score FROM (
              SELECT *, CAST(row_number() OVER (PARTITION BY query_id ORDER BY score DESC, neighbor_id) AS INTEGER) AS rank
              FROM s) WHERE rank <= 5
        """,
        # same oracle as embedding_topk: the BLAS path computes the identical
        # rounded-score/id total order, only the summation strategy differs
        "embedding_topk_blas": f"""
            WITH e AS ({_EMB}),
            s AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                         {cos_qc} AS score
                  FROM e q JOIN e c ON q.vec_id < 5 AND c.vec_id != q.vec_id)
            SELECT query_id, neighbor_id, rank, score FROM (
              SELECT *, CAST(row_number() OVER (PARTITION BY query_id ORDER BY score DESC, neighbor_id) AS INTEGER) AS rank
              FROM s) WHERE rank <= 5
        """,
        "kmeans_centroids": f"""
            WITH e AS ({_EMB}),
            {km}
            SELECT centroid_id,
                   round(list_sum([x * x for x in emb]), 6) AS sq_norm,
                   round(emb[1], 6) AS c0,
                   round(emb[2], 6) AS c1
            FROM cent
        """,
        "ivf_assign": f"""
            WITH e AS ({_EMB}),
            {km},
            s AS (SELECT v.vec_id, c.centroid_id,
                         {cos_vc} AS centroid_score
                  FROM e v JOIN cent c ON true)
            SELECT vec_id, centroid_id, centroid_score FROM (
              SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY centroid_score DESC, centroid_id) AS rn
              FROM s) WHERE rn = 1
        """,
        "ivf_topk": f"""
            WITH e AS ({_EMB}),
            {km},
            assigned AS (
              SELECT vec_id, emb, centroid_id FROM (
                SELECT v.vec_id, v.emb, c.centroid_id,
                       row_number() OVER (PARTITION BY v.vec_id
                         ORDER BY {cos_vc} DESC, c.centroid_id) AS rn
                FROM e v JOIN cent c ON true) WHERE rn = 1),
            s AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                         {cos_qc} AS score
                  FROM assigned q JOIN assigned c
                    ON q.vec_id < 5 AND c.centroid_id = q.centroid_id
                   AND c.vec_id != q.vec_id)
            SELECT query_id, neighbor_id, rank, score FROM (
              SELECT *, CAST(row_number() OVER (PARTITION BY query_id ORDER BY score DESC, neighbor_id) AS INTEGER) AS rank
              FROM s) WHERE rank <= 5
        """,
        "ivf_topk_multiprobe": f"""
            WITH e AS ({_EMB}),
            {km},
            assigned1 AS (
              SELECT vec_id, emb, centroid_id FROM (
                SELECT v.vec_id, v.emb, c.centroid_id,
                       row_number() OVER (PARTITION BY v.vec_id
                         ORDER BY {cos_vc} DESC, c.centroid_id) AS rn
                FROM e v JOIN cent c ON true) WHERE rn = 1),
            q2 AS (
              SELECT vec_id, emb, centroid_id FROM (
                SELECT v.vec_id, v.emb, c.centroid_id,
                       row_number() OVER (PARTITION BY v.vec_id
                         ORDER BY {cos_vc} DESC, c.centroid_id) AS rn
                FROM e v JOIN cent c ON true WHERE v.vec_id < 5) WHERE rn <= 2),
            s AS (SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                         {cos_qc} AS score
                  FROM q2 q JOIN assigned1 c
                    ON c.centroid_id = q.centroid_id AND c.vec_id != q.vec_id)
            SELECT query_id, neighbor_id, rank, score FROM (
              SELECT *, CAST(row_number() OVER (PARTITION BY query_id ORDER BY score DESC, neighbor_id) AS INTEGER) AS rank
              FROM s) WHERE rank <= 5
        """,
        # twins planted in-query (vec_id % 25 = 3 -> vec_id + 1000000, components
        # halved: exact IEEE scaling, cosine bit-identical) so the >= 0.9 filter
        # verifies on non-empty output — see similarity._with_planted_twins
        "embedding_neardup": f"""
            WITH e0 AS ({_EMB}),
            e AS (
              SELECT vec_id, emb, label FROM e0
              UNION ALL
              SELECT vec_id + {TWIN_OFFSET} AS vec_id,
                     [x * 0.5 for x in emb] AS emb, label
              FROM e0 WHERE vec_id % {TWIN_MOD} = {TWIN_RESIDUE})
            SELECT id_a, id_b, score FROM (
              SELECT a.vec_id AS id_a, b.vec_id AS id_b, {cos_ab} AS score
              FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id)
            WHERE score >= 0.9
        """,
        # centroids train on the RAW corpus (the km CTEs read e); the planted-twin
        # corpus ec feeds assignment + candidate generation + verification only
        "embedding_neardup_ivf": f"""
            WITH e AS ({_EMB}),
            {km},
            ec AS (
              SELECT vec_id, emb, label FROM e
              UNION ALL
              SELECT vec_id + {TWIN_OFFSET} AS vec_id,
                     [x * 0.5 for x in emb] AS emb, label
              FROM e WHERE vec_id % {TWIN_MOD} = {TWIN_RESIDUE}),
            assigned AS (
              SELECT vec_id, emb, label, centroid_id FROM (
                SELECT v.vec_id, v.emb, v.label, c.centroid_id,
                       row_number() OVER (PARTITION BY v.vec_id
                         ORDER BY {cos_vc} DESC, c.centroid_id) AS rn
                FROM ec v JOIN cent c ON true) WHERE rn <= 2),
            cand AS (
              SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
              FROM assigned a JOIN assigned b
                ON a.label = b.label AND a.centroid_id = b.centroid_id
               AND a.vec_id < b.vec_id)
            SELECT id_a, id_b, score FROM (
              SELECT id_a, id_b, {cos_ab} AS score
              FROM cand JOIN ec a ON a.vec_id = id_a JOIN ec b ON b.vec_id = id_b)
            WHERE score >= 0.9
        """,
        # semantic decontamination: per-corpus-vector nearest benchmark item
        # (window rank=1 == Spark's max(struct(score, -bench_id)) total order);
        # leaks planted with the exact-in-IEEE halving construction
        "semantic_decontam": f"""
            WITH e AS ({_EMB}),
            bench AS (
              SELECT vec_id AS bench_id, emb FROM e
              WHERE vec_id % {BENCH_MOD} = {BENCH_RESIDUE}),
            corpus AS (
              SELECT vec_id, emb FROM e
              WHERE vec_id % {BENCH_MOD} != {BENCH_RESIDUE}
              UNION ALL
              SELECT vec_id + {LEAK_OFFSET} AS vec_id,
                     [x * 0.5 for x in emb] AS emb
              FROM e WHERE vec_id % {BENCH_MOD} = {BENCH_RESIDUE}),
            s AS (
              SELECT c.vec_id, b.bench_id, {cos_cb} AS score
              FROM corpus c CROSS JOIN bench b),
            r AS (SELECT *, row_number() OVER (PARTITION BY vec_id
                    ORDER BY score DESC, bench_id) AS rk FROM s)
            SELECT vec_id, bench_id, score,
                   CAST(CASE WHEN score >= {DECONTAM_THRESHOLD} THEN 1 ELSE 0
                        END AS INTEGER) AS contaminated
            FROM r WHERE rk = 1
        """,
        "binary_features": """
            SELECT doc_id AS media_id,
                   CAST(length(text) AS BIGINT) AS n_bytes,
                   CAST(CASE WHEN length(text) = 0 THEN -1 ELSE ascii(substr(text, 1, 1)) END AS INTEGER) AS first_byte,
                   list_reduce(
                     list_prepend(CAST(0 AS BIGINT),
                       [CAST(ascii(substr(text, CAST(i AS INTEGER), 1)) AS BIGINT)
                        for i in generate_series(1, least(length(text), 64))]),
                     (acc, b) -> (acc * 31 + b) % 1000000007) AS checksum
            FROM documents
        """,
        # encode->decode roundtrip: even doc_ids become 24-bit BMPs sized by the
        # id (pixel rows 4-byte aligned), odd ids PCM WAVs carrying the text
        # bytes padded to the block align.  The oracle recomputes every decoded
        # header field from the construction formulas — parsing must agree with
        # synthesis byte-for-byte.
        "media_decode": """
            SELECT doc_id AS media_id,
                   'bmp' AS kind,
                   CAST(1 + doc_id % 37 AS INTEGER) AS width,
                   CAST(1 + doc_id % 23 AS INTEGER) AS height,
                   CAST(24 AS INTEGER) AS bpp,
                   CAST(NULL AS INTEGER) AS sample_rate,
                   CAST(NULL AS INTEGER) AS channels,
                   CAST(NULL AS INTEGER) AS bits,
                   CAST(((1 + doc_id % 37) * 3 + 3) // 4 * 4
                        * (1 + doc_id % 23) AS BIGINT) AS n_data_bytes
            FROM documents WHERE doc_id % 2 = 0
            UNION ALL
            SELECT doc_id AS media_id,
                   'wav' AS kind,
                   CAST(NULL AS INTEGER), CAST(NULL AS INTEGER),
                   CAST(NULL AS INTEGER),
                   CAST(8000 + 1000 * (doc_id % 5) AS INTEGER) AS sample_rate,
                   CAST(1 + doc_id % 2 AS INTEGER) AS channels,
                   CAST(16 AS INTEGER) AS bits,
                   CAST((octet_length(encode(text)) + (2 * (1 + doc_id % 2)) - 1)
                        // (2 * (1 + doc_id % 2))
                        * (2 * (1 + doc_id % 2)) AS BIGINT) AS n_data_bytes
            FROM documents WHERE doc_id % 2 = 1
        """,
        "media_frames": """
            WITH f AS (
              SELECT doc_id AS media_id, i AS frame_idx,
                     substr(text, CAST(i * 256 + 1 AS INTEGER), 256) AS chunk
              FROM documents,
                   unnest(generate_series(0,
                     greatest(CAST(ceil(length(text) / 256.0) AS BIGINT) - 1, 0),
                     2)) AS t(i)
              WHERE length(text) > 0)
            SELECT media_id, CAST(frame_idx AS INTEGER) AS frame_idx,
                   CAST(length(chunk) AS BIGINT) AS n_bytes,
                   list_reduce(
                     list_prepend(CAST(0 AS BIGINT),
                       [CAST(ascii(substr(chunk, CAST(j AS INTEGER), 1)) AS BIGINT)
                        for j in generate_series(1, least(length(chunk), 64))]),
                     (acc, b) -> (acc * 31 + b) % 1000000007) AS checksum
            FROM f
        """,
    }
