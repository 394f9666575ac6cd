"""Physical-plan regression tests: the scale properties SURVEY.md §4.2 promises.

These pin what `.explain("formatted")` must keep showing — predicate/column pushdown
into the parquet scan, broadcast joins for dimensions, JVM-only (no Python eval)
plans for the dedup/text built-in operators, and the salted exchange before the
extraction UDF.  A correct-but-badly-planned query fails here even though its rows
match the oracle.
"""

from __future__ import annotations

import pytest

from ocr_engine_spark.plans import explain as plan, python_stage_count

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def q(spark):
    import __spark_entry__ as entrymod

    return {name: fn(spark, SF) for name, fn in entrymod.queries().items()}


def test_range_filter_pushed_to_scan(q):
    p = plan(q["event_range_page"])
    assert "PushedFilters:" in p
    # the ts range predicate reaches the parquet reader, not a post-scan Filter only
    assert "GreaterThanOrEqual(ts" in p and "LessThan(ts" in p


def test_scan_prunes_columns(q):
    # events has 5 columns; event_windows needs only 4 — ReadSchema must not
    # include event_type
    p = plan(q["event_windows"])
    read = [l for l in p.splitlines() if "ReadSchema" in l]
    assert read and "event_type" not in read[0]


def test_dimension_joins_broadcast(q):
    p = plan(q["region_revenue"])
    assert "BroadcastHashJoin" in p
    # the two fact-side joins shuffle; nation/region must NOT (they broadcast)
    assert p.count("BroadcastHashJoin") >= 2


def test_semi_and_anti_joins(q):
    assert "LeftSemi" in plan(q["parts_with_lineitems"])
    assert "LeftAnti" in plan(q["customers_without_orders"])


def test_dedup_stays_jvm_side(q):
    # minhash/simhash/exact dedup are built-in expressions: no Python worker
    # node (scalar eval, mapInArrow/mapInPandas) anywhere in the plan
    for name in ("exact_dedup", "minhash_lsh_pairs", "simhash",
                 "ngram_jaccard_pairs", "token_stats", "lang_id"):
        assert python_stage_count(q[name]) == 0, f"{name} fell back to Python"


def test_strip_ratio_is_join_free(q):
    # source + raw length ride through the kernel as passthrough columns:
    # scan -> kernel -> one aggregation, never a join back against the corpus
    p = plan(q["strip_ratio_by_source"])
    assert "Join" not in p


def test_neardup_never_forces_corpus_broadcast(q, spark):
    # the embedding table is unbounded: neither near-dup variant may carry a
    # broadcast HINT on it — the optimizer must stay free to sort-merge at scale
    # (auto-broadcast from size stats at sf0.001 is fine and size-aware)
    from ocr_engine_spark.plans import explain as plan_str

    def hint_count(name):
        logical = plan_str(q[name], mode="extended")
        head = logical.split("== Optimized Logical Plan ==")[0]
        return head.lower().count("hint")

    # exact variant: zero hints anywhere
    assert hint_count("embedding_neardup") == 0
    # ivf variant: the only hinted side is the 8-row centroid table, whose subtree
    # appears 4x (parsed + analyzed plan sections, a + b sides of the self-join);
    # a hint on the corpus pair join would push this count past 4
    assert hint_count("embedding_neardup_ivf") <= 4


def test_neardup_ivf_blocks_by_bucket(q):
    # candidate generation joins on (label, centroid bucket), not label alone
    p = plan(q["embedding_neardup_ivf"])
    assert "centroid_id" in p


def test_asof_is_union_window_not_range_join(q):
    # true as-of merge: a union + one running window — NO join node at all, so the
    # intermediate cardinality is O(events + orders), never events x prior-orders
    p = plan(q["asof_last_order"])
    assert "Window" in p
    assert "Join" not in p, "as-of fell back to a row-exploding range join"
    assert "Union" in p


def test_pricing_summary_partial_agg(q):
    # map-side combine: two HashAggregates (partial + final) around one exchange
    p = plan(q["pricing_summary"])
    assert p.count("HashAggregate") >= 2
    assert "Functions [partial_" in p or "partial_sum" in p


def test_extraction_exchange_is_salted(spark):
    from ocr_engine_spark.operators.extract import extract_transcripts
    from ocr_engine_spark.sources.transcripts import generate_transcripts

    df = spark.createDataFrame(generate_transcripts(5, whale_factor=5))
    out = extract_transcripts(df, num_partitions=8)
    p = plan(out)
    # one round-robin-free hash exchange on the salted key, then the Arrow
    # stage: the kernel's one Python crossing
    assert "xxhash64" in p and ("hashpartitioning" in p or "Exchange" in p)
    assert python_stage_count(out) == 1


def test_extraction_default_is_shuffle_free(spark, tmp_path):
    # the production path: scan -> fused kernel -> sink with ZERO exchanges
    # (byte-bounded scan splits make the salted shuffle unnecessary; see
    # extract_transcripts' partitioning policy)
    from ocr_engine_spark.operators.extract import extract_transcripts
    from ocr_engine_spark.plans import exchange_count
    from ocr_engine_spark.sources.transcripts import write_transcripts_parquet

    path = str(tmp_path / "noex.parquet")
    write_transcripts_parquet(path, n_convs=5, whale_factor=1)
    df = spark.read.parquet(path)
    assert exchange_count(extract_transcripts(df)) == 0


def test_extraction_scan_prunes_to_three_columns(spark, tmp_path):
    from ocr_engine_spark.operators.extract import extract_transcripts
    from ocr_engine_spark.sources.transcripts import write_transcripts_parquet

    path = str(tmp_path / "tx.parquet")
    write_transcripts_parquet(path, n_convs=5, whale_factor=1)
    df = spark.read.parquet(path)
    p = plan(extract_transcripts(df, num_partitions=4))
    read = [l for l in p.splitlines() if "ReadSchema" in l]
    # 6-column table, kernel needs 3: role/tool/ts must be pruned at the scan
    assert read and all(c not in read[0] for c in ("role", "tool", "ts>"))


def test_new_pipeline_queries_stay_jvm_side(q):
    """Round-3 operators (sessionization, rolling frames, tf-idf, sampling,
    budgeting, PII, contamination) are pure built-in expressions — no Python
    eval node may appear."""
    for name in ("event_sessions", "event_rolling", "tfidf", "pii_redact",
                 "contamination_check", "stratified_sample",
                 "repetition_stats", "token_budget", "dedup_canonical"):
        p = plan(q[name])
        assert "EvalPython" not in p and "MapInPandas" not in p, name


def test_map_only_queries_have_zero_exchanges(q):
    """Sampling and PII redaction are per-row maps: any shuffle is a planning
    regression."""
    for name in ("stratified_sample", "pii_redact"):
        assert "Exchange" not in plan(q[name]), name


def test_window_queries_shuffle_once(q):
    """Sessionization / rolling / budgeting need exactly the one partition-key
    exchange their window demands (the downstream per-session aggregation must
    REUSE the user_id partitioning, not reshuffle).  Formatted explain mentions
    each node twice (tree + detail), so count the detail headers."""
    import re

    for name in ("event_sessions", "event_rolling", "token_budget"):
        p = plan(q[name])
        n = len(re.findall(r"\(\d+\) Exchange", p))
        assert n == 1, (name, n)


def test_contamination_bench_side_broadcasts(q):
    p = plan(q["contamination_check"])
    assert "BroadcastHashJoin" in p  # tiny benchmark side never shuffles the corpus
