"""jobs/pipeline_job.run_pipeline: the production composition end-to-end —
extraction -> budget truncation -> assembly -> conversation dedup -> packing
-> partitioned sink, with stage counts, duplicate drops, and resume-through-
the-extraction-checkpoint behavior."""

import os
import re

import pytest

from pyspark.sql import functions as F

from jobs.pipeline_job import run_pipeline
from ocr_engine_spark.sources.transcripts import generate_transcripts


@pytest.fixture(scope="module")
def corpus(spark):
    """Transcripts with PLANTED duplicate conversations: every conv whose
    numeric hash is even reappears under a 'dup_' id with identical turns."""
    pdf = generate_transcripts(n_convs=24, seed=77)
    base = spark.createDataFrame(pdf)
    dups = (base.where(F.crc32("conv_id") % 2 == 0)
            .withColumn("conv_id", F.concat(F.lit("dup_"), "conv_id")))
    return base.unionByName(dups), base.select("conv_id").distinct().count(), \
        dups.select("conv_id").distinct().count()


def truncated_reruns(df):
    """Each odd-hash base conversation of >= 6 turns re-uploaded minus its
    last turn, as 'aaa_<conv_id>'."""
    last = (df.groupBy("conv_id")
            .agg(F.max("turn_idx").alias("mx")))
    return (df.join(last, "conv_id")
            .where((F.crc32("conv_id") % 2 == 1)
                   & ~F.col("conv_id").startswith("dup_")
                   # >=6 turns: dropping ONE turn keeps shingle Jaccard
                   # well above the 0.5 stage threshold
                   & (F.col("mx") >= 5)
                   & (F.col("turn_idx") < F.col("mx")))
            .drop("mx")
            .withColumn("conv_id", F.concat(F.lit("aaa_"), "conv_id")))


def test_pipeline_drops_planted_duplicates(spark, corpus, tmp_path):
    df, n_base, n_dup = corpus
    s = run_pipeline(spark, df, str(tmp_path / "out"), run_id="t1",
                     char_budget=100_000, seq_budget=256, shards=4)
    assert s["conversations"] == n_base + n_dup
    assert s["survivors"] == n_base
    assert s["dropped_duplicates"] == n_dup
    out = spark.read.parquet(s["data_path"])
    # 'conv_...' < 'dup_...' so every survivor is a base conversation
    assert out.where(F.col("conv_id").startswith("dup_")).count() == 0


def test_packing_respects_budget_and_orders(spark, corpus, tmp_path):
    df, n_base, _ = corpus
    s = run_pipeline(spark, df, str(tmp_path / "out"), run_id="t2",
                     char_budget=100_000, seq_budget=64, shards=4)
    out = spark.read.parquet(s["data_path"])
    assert out.count() == n_base
    # no sequence overfills unless a single doc alone exceeds the budget
    fills = (out.groupBy("shard", "seq_id")
             .agg(F.sum("n_tokens").alias("fill"), F.count("*").alias("n"))
             .where((F.col("fill") > 64) & (F.col("n") > 1)))
    assert fills.count() == 0
    assert s["sequences"] == out.select("shard", "seq_id").distinct().count()
    assert s["tokens"] == out.agg(F.sum("n_tokens")).collect()[0][0]


def test_char_budget_truncates(spark, corpus, tmp_path):
    df, _, _ = corpus
    big = run_pipeline(spark, df, str(tmp_path / "big"), run_id="t3",
                       char_budget=100_000, seq_budget=256, shards=2)
    small = run_pipeline(spark, df, str(tmp_path / "small"), run_id="t4",
                         char_budget=200, seq_budget=256, shards=2)
    assert small["tokens"] < big["tokens"]
    docs = spark.read.parquet(small["data_path"])
    assert docs.agg(F.max(F.length("doc_text"))).collect()[0][0] <= 200


def test_checkpointed_extraction_resumes(spark, corpus, tmp_path):
    """checkpoint mode: a second invocation finds every bucket committed and
    re-runs ZERO extraction while producing the identical packed output."""
    df, n_base, _ = corpus
    out = str(tmp_path / "ck")
    s1 = run_pipeline(spark, df, out, run_id="t5", char_budget=100_000,
                      seq_budget=256, shards=2, checkpoint_extraction=True,
                      n_buckets=8)
    assert s1["extraction"]["buckets_run"] == 8
    s2 = run_pipeline(spark, df, out, run_id="t5", char_budget=100_000,
                      seq_budget=256, shards=2, checkpoint_extraction=True,
                      n_buckets=8)
    assert s2["extraction"]["buckets_done_before"] == 8
    assert s2["extraction"]["buckets_run"] == 0
    assert s1["survivors"] == s2["survivors"] == n_base
    assert s1["tokens"] == s2["tokens"]
    assert os.path.isdir(os.path.join(out, "extraction", "run_metrics"))


def test_checkpoint_passthrough_matches_inline(spark, corpus, tmp_path):
    """The checkpointed extraction path (passthrough role/tool/ts through the
    wave commit) must assemble the same documents as the inline lineage."""
    df, _, _ = corpus
    a = run_pipeline(spark, df, str(tmp_path / "inl"), run_id="t6",
                     char_budget=500, seq_budget=128, shards=2)
    b = run_pipeline(spark, df, str(tmp_path / "ckp"), run_id="t7",
                     char_budget=500, seq_budget=128, shards=2,
                     checkpoint_extraction=True, n_buckets=4)
    pa = (spark.read.parquet(a["data_path"]).orderBy("conv_id")
          .select("conv_id", "doc_text", "shard", "seq_id", "seq_offset")
          .toPandas())
    pb = (spark.read.parquet(b["data_path"]).orderBy("conv_id")
          .select("conv_id", "doc_text", "shard", "seq_id", "seq_offset")
          .toPandas())
    assert pa.equals(pb)


def test_near_dedup_drops_truncated_reruns(spark, corpus, tmp_path):
    """--near-dedup: a conversation re-uploaded minus its last turn is not an
    EXACT duplicate (different assembled document), but LSH pairs it with its
    base and the stage keeps the cluster's LONGEST document.  The plants are
    named 'aaa_...' — sorting BEFORE every base conv_id — so this test fails
    under a min-conv_id canonical rule (which would keep the truncated copy
    and silently drop the fuller original): the keep-longest rule is what is
    pinned, not a lucky id ordering."""
    df, n_base, n_dup = corpus
    ndups = truncated_reruns(df)
    n_near = ndups.select("conv_id").distinct().count()
    assert n_near > 0
    full = df.unionByName(ndups)

    off = run_pipeline(spark, full, str(tmp_path / "near_off"), run_id="t12",
                       char_budget=100_000, seq_budget=256, shards=4)
    # exact dedup alone cannot catch the truncated re-runs
    assert off["survivors"] == n_base + n_near
    assert off["dropped_duplicates"] == n_dup

    on = run_pipeline(spark, full, str(tmp_path / "near_on"), run_id="t13",
                      char_budget=100_000, seq_budget=256, shards=4,
                      near_dedup=True)
    assert on["dropped_duplicates"] == n_dup                 # exact stage
    assert on["dropped_near_duplicates"] == n_near           # LSH stage
    assert on["survivors"] == n_base
    out = spark.read.parquet(on["data_path"])
    # the fuller originals survive even though every plant id sorts first
    assert out.where(F.col("conv_id").startswith("aaa_")).count() == 0
    assert out.count() == n_base


def test_empty_output_returns_zero_summary(spark, corpus, tmp_path):
    """A char budget below every first turn line empties the pipeline; the
    job must return a zero-count summary, not crash reading back an empty
    directory (UNABLE_TO_INFER_SCHEMA regression)."""
    df, _, _ = corpus
    s = run_pipeline(spark, df, str(tmp_path / "empty"), run_id="t8",
                     char_budget=1, seq_budget=64, shards=2)
    assert s["survivors"] == 0 and s["sequences"] == 0 and s["tokens"] == 0
    assert s["conversations"] == 0 and s["dropped_duplicates"] == 0


def test_rerun_with_fewer_shards_leaves_no_stale_partitions(spark, corpus,
                                                            tmp_path):
    """The packed output is fully replaced per run: re-sharding must not keep
    old shard directories (the dynamic-overwrite stale-partition trap)."""
    df, n_base, _ = corpus
    out = str(tmp_path / "reshard")
    run_pipeline(spark, df, out, run_id="t9", char_budget=100_000,
                 seq_budget=256, shards=8)
    s2 = run_pipeline(spark, df, out, run_id="t10", char_budget=100_000,
                      seq_budget=256, shards=2)
    written = spark.read.parquet(s2["data_path"])
    assert written.select("shard").distinct().count() <= 2
    assert written.count() == n_base == s2["survivors"]


def test_resume_with_changed_dispatch_raises(spark, corpus, tmp_path):
    """Committed buckets pin the dispatch policy: resuming the extraction
    checkpoint with different dispatch flags must fail loudly instead of
    mixing sniffed and declared buckets in one corpus."""
    df, _, _ = corpus
    out = str(tmp_path / "disp")
    run_pipeline(spark, df, out, run_id="t11", char_budget=100_000,
                 seq_budget=256, shards=2, checkpoint_extraction=True,
                 n_buckets=4)
    with pytest.raises(ValueError, match="dispatch mismatch"):
        run_pipeline(spark, df, out, run_id="t11", char_budget=100_000,
                     seq_budget=256, shards=2, checkpoint_extraction=True,
                     n_buckets=4, dispatch_tool_json=True)

def test_quality_filter_drops_gibberish(spark, corpus, tmp_path):
    """--quality-filter: conversations whose text shares no bigrams with the
    corpus (planted gibberish with per-conv unique tokens) exceed the OOV
    threshold against the hashed held-in LM slice and drop; every normal
    conversation (generator vocabulary, shared across convs) survives.  The
    gibberish conv_ids are chosen so none lands in the reference slice — a
    reference document is the model's definition of typical and is never
    scored."""
    df, n_base, n_dup = corpus
    ref_mod = 3
    candidates = [f"garbage_{i}" for i in range(12)]
    hashes = dict(
        spark.createDataFrame([(c,) for c in candidates], "conv_id string")
        .select("conv_id", F.pmod(F.xxhash64("conv_id"), F.lit(ref_mod))
                .alias("h")).collect())
    non_ref = [c for c in candidates if hashes[c] != 0][:3]
    assert len(non_ref) == 3
    gibberish = spark.createDataFrame(
        [(cid, t, "user",
          " ".join(f"zzq{cid[-1]}x{t}w{j}" for j in range(12)), None, None)
         for cid in non_ref for t in range(4)],
        "conv_id string, turn_idx int, role string, text string, "
        "tool string, ts timestamp")
    full = df.unionByName(gibberish)

    off = run_pipeline(spark, full, str(tmp_path / "q_off"), run_id="t20",
                       char_budget=100_000, seq_budget=256, shards=4)
    assert off["survivors"] == n_base + len(non_ref)
    assert "dropped_low_quality" not in off

    on = run_pipeline(spark, full, str(tmp_path / "q_on"), run_id="t21",
                      char_budget=100_000, seq_budget=256, shards=4,
                      quality_filter=True, quality_ref_mod=ref_mod)
    assert on["dropped_low_quality"] == len(non_ref)
    assert on["dropped_duplicates"] == n_dup
    assert on["survivors"] == n_base
    out = spark.read.parquet(on["data_path"])
    assert out.where(F.col("conv_id").startswith("garbage_")).count() == 0

def test_quality_filter_degenerate_slice_raises(spark, corpus, tmp_path):
    """An empty hashed reference slice would train an empty model and
    silently drop the ENTIRE corpus (every doc scores oov_rate 1.0); the
    stage must fail loudly instead.  ref_mod < 2 (gate no-ops / NULL is_ref)
    is rejected up front."""
    df, _, _ = corpus
    convs = [r[0] for r in df.select("conv_id").distinct().collect()]
    hashed = dict(
        spark.createDataFrame([(c,) for c in convs], "conv_id string")
        .select("conv_id", F.xxhash64("conv_id").alias("h")).collect())
    empty_mod = next(m for m in range(40, 200)
                     if all(h % m != 0 for h in hashed.values()))

    with pytest.raises(ValueError, match="reference slice is empty"):
        run_pipeline(spark, df, str(tmp_path / "q_empty"), run_id="t22",
                     char_budget=100_000, seq_budget=256, shards=4,
                     quality_filter=True, quality_ref_mod=empty_mod)
    with pytest.raises(ValueError, match="must be >= 2"):
        run_pipeline(spark, df, str(tmp_path / "q_mod1"), run_id="t23",
                     char_budget=100_000, seq_budget=256, shards=4,
                     quality_filter=True, quality_ref_mod=1)


def test_degenerate_quality_config_fails_before_extraction(spark, corpus,
                                                           tmp_path):
    """--quality-ref-mod < 2 is rejected before any Spark action: the
    checkpointed extraction must not run (and write waves) first."""
    df, _, _ = corpus
    out = tmp_path / "q_early"
    with pytest.raises(ValueError, match="must be >= 2"):
        run_pipeline(spark, df, str(out), run_id="t25",
                     char_budget=100_000, seq_budget=256, shards=2,
                     checkpoint_extraction=True, n_buckets=4,
                     quality_filter=True, quality_ref_mod=1)
    assert not (out / "extraction").exists()


def test_quality_filter_empty_model_raises(spark, tmp_path):
    """A non-empty reference slice whose bigrams all fall below the model's
    min count trains an EMPTY model: every scored document would read
    oov_rate 1.0 and the gate would silently drop the whole scored corpus.
    The stage must fail loudly instead.  Every token here is unique, so no
    bigram occurs twice anywhere."""
    ref_mod = 2
    rows = [(f"uniq_{c}", t, "user",
             " ".join(f"u{c}t{t}w{j}" for j in range(6)), None, None)
            for c in range(12) for t in range(2)]
    df = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, "
        "tool string, ts timestamp")
    n_ref = (df.select("conv_id").distinct()
             .where(F.pmod(F.xxhash64("conv_id"), F.lit(ref_mod)) == 0)
             .count())
    assert 0 < n_ref < 12  # a non-empty slice AND documents to score
    with pytest.raises(ValueError, match="bigram model is empty"):
        run_pipeline(spark, df, str(tmp_path / "q_nomodel"), run_id="t24",
                     char_budget=100_000, seq_budget=256, shards=2,
                     quality_filter=True, quality_ref_mod=ref_mod)


def test_zero_shards_fails_before_any_spark_job(spark, corpus, tmp_path,
                                               spark_job_ids):
    """--shards < 1 would fail only at the pack's pmod, after extraction,
    LSH and the LM gate ran; it is rejected before any Spark job."""
    df, _, _ = corpus
    out = tmp_path / "no_shards"
    with pytest.raises(ValueError, match="--shards must be >= 1"):
        run_pipeline(spark, df, str(out), run_id="t26",
                     char_budget=100_000, seq_budget=256, shards=0,
                     checkpoint_extraction=True, n_buckets=4,
                     near_dedup=True, quality_filter=True)
    assert spark_job_ids() == []
    assert not (out / "extraction").exists()


# the DataFrame actions and parquet writes one full run makes on the ledger
# corpus below
LEDGER = {"count": 3, "collect": 1, "isEmpty": 1, "localCheckpoint": 4,
          "toArrow": 1, "parquet": 2}


def test_pipeline_action_ledger(spark, corpus, tmp_path, monkeypatch):
    """Every DataFrame action of a checkpointed run with near-dedup and the
    quality gate, counted by method: a stage that grows an action (a
    re-read, a probe, a checkpoint) shows here.  The packed parquet keeps
    its columns and types."""
    from pyspark.sql.classic.dataframe import DataFrame
    from pyspark.sql.readwriter import DataFrameWriter

    df, _, n_dup = corpus
    # near-duplicates, so the components run their merge rounds
    ndups = truncated_reruns(df)
    full = df.unionByName(ndups)
    n_near = ndups.select("conv_id").distinct().count()
    assert n_near > 0

    calls = {name: 0 for name in LEDGER}
    for cls, names in ((DataFrame, ("count", "collect", "isEmpty",
                                    "localCheckpoint", "toArrow")),
                       (DataFrameWriter, ("parquet",))):
        for name in names:
            def counted(self, *a, _real=getattr(cls, name), _name=name, **k):
                calls[_name] += 1
                return _real(self, *a, **k)
            monkeypatch.setattr(cls, name, counted)
    s = run_pipeline(spark, full, str(tmp_path / "ledger"), run_id="t27",
                     char_budget=100_000, seq_budget=256, shards=4,
                     checkpoint_extraction=True, n_buckets=4,
                     near_dedup=True, quality_filter=True, quality_ref_mod=3)
    monkeypatch.undo()
    assert calls == LEDGER
    assert s["dropped_near_duplicates"] == n_near
    assert s["dropped_duplicates"] == n_dup
    schema = spark.read.parquet(s["data_path"]).schema
    assert [(f.name, f.dataType.simpleString()) for f in schema] == [
        ("conv_id", "string"), ("doc_text", "string"), ("n_tokens", "bigint"),
        ("seq_id", "int"), ("seq_offset", "bigint"), ("shard", "string")]


def test_job_closure_modules_do_not_import_pandas():
    """The modules the jobs' Arrow closures load (the kernel, extraction,
    the feature pass and the packer) import without pandas, so a fresh
    Python worker does not pay for it at import."""
    import subprocess
    import sys

    code = (
        "import pkgutil, sys, importlib\n"
        "import ocr_engine_spark.kernel as k\n"
        "for m in pkgutil.iter_modules(k.__path__):\n"
        "    importlib.import_module('ocr_engine_spark.kernel.' + m.name)\n"
        "import ocr_engine_spark.operators.extract\n"
        "import ocr_engine_spark.operators.doc_features\n"
        "import ocr_engine_spark.operators.text_analysis\n"
        "print('pandas' in sys.modules)\n")
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out = subprocess.run([sys.executable, "-c", code], cwd=repo,
                         capture_output=True, text=True, timeout=120)
    assert out.returncode == 0, out.stderr
    assert out.stdout.strip() == "False"


_PYTHON_NODE = re.compile(
    r"\b(MapInArrow|MapInPandas|FlatMapGroupsInPandas|FlatMapGroupsInArrow|"
    r"FlatMapCoGroupsInPandas|ArrowEvalPython|BatchEvalPython|"
    r"AggregateInPandas|WindowInPandas)\b")


def test_every_python_stage_is_an_arrow_map(spark, corpus, tmp_path,
                                            monkeypatch):
    """A run shaped like the benchmark's full pipeline (checkpointed
    extraction, near-dedup, the quality gate) plans each of its Python
    stages as a MapInArrow: the kernel on the wave write, the feature pass
    and the LM scorer under the checkpointed drop sets, and the packer on
    the pack write, which holds no grouped pandas map."""
    from pyspark.sql.classic.dataframe import DataFrame
    from pyspark.sql.readwriter import DataFrameWriter

    df, _, _ = corpus
    plans = {"parquet": [], "localCheckpoint": []}
    for cls, name, frame in (
            (DataFrame, "localCheckpoint", lambda self: self),
            (DataFrameWriter, "parquet", lambda self: self._df)):
        def planned(self, *a, _real=getattr(cls, name), _name=name,
                    _frame=frame, **k):
            plans[_name].append(str(
                _frame(self)._jdf.queryExecution().executedPlan()))
            return _real(self, *a, **k)
        monkeypatch.setattr(cls, name, planned)
    run_pipeline(spark, df.unionByName(truncated_reruns(df)),
                 str(tmp_path / "plans"), run_id="t28",
                 char_budget=100_000, seq_budget=256, shards=4,
                 checkpoint_extraction=True, n_buckets=4,
                 near_dedup=True, quality_filter=True, quality_ref_mod=3)
    monkeypatch.undo()
    text = "\n".join(plans["parquet"] + plans["localCheckpoint"])
    assert set(_PYTHON_NODE.findall(text)) == {"MapInArrow"}
    # one map per stage, told apart by its input columns
    stages = {re.sub(r"#\d+L?", "", m) for m in
              re.findall(r"MapInArrow (\S+\([^)]*\))", text)}
    assert stages == {
        "fn(conv_id, turn_idx, text, role, tool, ts, p)",
        "<lambda>(doc_id, text, doc_len, is_ref)",
        "<lambda>(doc_id, bg)",
        "pack(conv_id, shard, doc_text, n_tokens)"}
    pack = plans["parquet"][-1]
    assert "MapInArrow pack(" in pack
    assert "FlatMapGroupsInPandas" not in pack
