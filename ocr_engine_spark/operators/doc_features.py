"""One Arrow pass of per-document text features for near-dedup and the LM gate.

``jobs/pipeline_job.py`` runs near-dedup and the bigram-LM quality gate over
the same assembled documents.  Instead of re-deriving shingles in every stage
(each a chain of interpreted ``zip_with``/``aggregate``/``transform``
expressions), ``doc_features`` tokenizes each document ONCE in a
``mapInArrow`` pass, vectorized over the whole Arrow batch, and emits:

- ``minhash``: the 16-wide MinHash signature, bit-identical to
  ``dedup.minhash_signatures`` (xxhash64 family, word 3-shingles);
- ``sset``: the distinct 3-shingle hashes (the verification set of
  ``dedup.minhash_lsh_pairs``);
- ``bg``: the word-bigram hashes with multiplicity (the bigram stream of
  ``text_analysis.lm_quality_scored``, hashed).

The bigram model and scoring (below) and near-dedup then read that one
persisted frame.  This module owns no LSH: the pipeline bands and verifies
``minhash``/``sset`` with ``dedup.banded_pairs``, the join the contract's
``minhash_lsh_pairs`` runs.  ``dedup`` and ``text_analysis`` stay the defined
semantics (their contract rows and the oracle this module is tested against).

Shingles follow ``dedup._shingle_sql`` exactly: tokens are
``split(trim(text), ' +')`` (spaces only — tabs and newlines are token
bytes), a document has ``max(ntok - k + 1, 1)`` shingles, and shingle ``i``
spans tokens ``i .. min(i + k - 1, ntok - 1)`` joined by one space.  Every
shingle is hashed as its UTF-8 byte range of the space-normalized text with
Spark's XXH64 (``kernel.xxh64``), so ``hash == F.xxhash64(shingle)``.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, functions as F

from ocr_engine_spark.kernel import xxh64
from ocr_engine_spark.operators.text_analysis import LM_MIN_COUNT
from ocr_engine_spark.worker import skip_zip_rereads

# the pipeline's near-dedup geometry: 16 MinHash values of word 3-shingles in
# 8 bands of 2 (minhash_lsh_pairs' num_hashes, k and bands; BANDS is read by
# the pipeline's dedup.banded_pairs call)
NUM_HASHES = 16
K = 3
BANDS = 8
# feature_batch holds about 125 bytes per token at once (token and k-gram
# index arrays, hash temporaries, sort copies): an Arrow batch of documents at
# the char budget would cost GBs per worker, so each batch is featurized in
# slices of at most this much UTF-8 text (a larger document goes alone)
SLICE_BYTES = 4 << 20
# the scorer holds about 4 int64 temporaries per bigram: slices of at most
# this many bigrams
SLICE_BIGRAMS = 1 << 20


def _excl_cumsum(n: np.ndarray) -> np.ndarray:
    out = np.zeros(len(n) + 1, dtype=np.int64)
    np.cumsum(n, out=out[1:])
    return out


def tokens(texts: pa.Array):
    """Tokenize non-null ``string`` texts as ``split(trim(text), ' +')``.

    Returns ``(buf, start, end, ntok)``: ``buf`` is the UTF-8 of every text
    with space runs collapsed, ``start``/``end`` the byte range of each token
    in ``buf``, and ``ntok`` the token count per text (>= 1: ``''`` is one
    empty token, as in Spark).
    """
    toks = pc.split_pattern_regex(pc.utf8_trim(texts, characters=" "),
                                  pattern=" +")
    joined = pc.binary_join(toks, " ")
    _, offsets, data = joined.buffers()
    doc_off = np.frombuffer(offsets, dtype=np.int32)[
        joined.offset:joined.offset + len(joined) + 1].astype(np.int64)
    buf = (np.frombuffer(data, dtype=np.uint8) if data is not None
           else np.zeros(0, dtype=np.uint8))
    ntok = pc.list_value_length(toks).to_numpy().astype(np.int64)
    tok_len = pc.binary_length(toks.flatten()).to_numpy().astype(np.int64)
    lo = _excl_cumsum(ntok)
    doc = np.repeat(np.arange(len(ntok)), ntok)
    ctl = _excl_cumsum(tok_len)
    # a token starts after its doc's earlier tokens plus one space each
    rank = np.arange(len(tok_len)) - lo[doc]
    start = doc_off[doc] + ctl[:-1] - ctl[lo[doc]] + rank
    return buf, start, start + tok_len, ntok


def kgrams(start: np.ndarray, end: np.ndarray, ntok: np.ndarray, k: int):
    """Byte ranges of each text's word k-grams, ``_shingle_sql``'s truncated
    tail included.  Returns ``(start, length, count)`` with ``count`` the
    k-grams per text (>= 1), laid out text by text."""
    count = np.maximum(ntok - (k - 1), 1)
    lo = _excl_cumsum(ntok)
    doc = np.repeat(np.arange(len(ntok)), count)
    i = np.arange(int(count.sum())) - _excl_cumsum(count)[doc]
    first = lo[doc] + i
    last = lo[doc] + np.minimum(i + (k - 1), ntok[doc] - 1)
    s = start[first]
    return s, end[last] - s, count


def minhash(base: np.ndarray, count: np.ndarray) -> np.ndarray:
    """Per text, ``sig[j] = min over its shingles of xxhash64(h, j)`` as
    signed int64 — ``dedup.minhash_signatures``' fold, ``count`` >= 1."""
    seed = xxh64.hash_long(base)
    seg = _excl_cumsum(count)[:-1]
    sig = np.empty((len(count), NUM_HASHES), dtype=np.int64)
    for j in range(NUM_HASHES):
        sig[:, j] = np.minimum.reduceat(
            xxh64.hash_int(j, seed).view(np.int64), seg)
    return sig


def _list(values: np.ndarray, count: np.ndarray,
          valid: np.ndarray | None = None) -> pa.Array:
    return pa.ListArray.from_arrays(
        pa.array(_excl_cumsum(count).astype(np.int32)),
        pa.array(values, pa.int64()),
        mask=None if valid is None else pa.array(~valid))


def _slices(batch: pa.RecordBatch, weight: np.ndarray, limit: int):
    """``batch`` as consecutive slices whose rows' ``weight`` sums to at most
    ``limit``; a row heavier than ``limit`` is a slice of its own."""
    ends = np.cumsum(weight)
    lo = 0
    while lo < len(ends):
        before = ends[lo - 1] if lo else 0
        hi = max(lo + 1, int(np.searchsorted(ends, before + limit, "right")))
        yield batch.slice(lo, hi - lo)
        lo = hi


def _distinct(h: np.ndarray, count: np.ndarray):
    """Distinct values per segment: ``(values, count)``."""
    doc = np.repeat(np.arange(len(count)), count)
    order = np.lexsort((h, doc))
    h, doc = h[order], doc[order]
    keep = np.ones(len(h), dtype=bool)
    keep[1:] = (h[1:] != h[:-1]) | (doc[1:] != doc[:-1])
    return h[keep], np.bincount(doc[keep], minlength=len(count))


def feature_batch(batch: pa.RecordBatch, signature: bool,
                  bigrams: bool) -> pa.RecordBatch:
    """The features of one batch: every column but ``text`` passes through,
    then ``minhash`` and ``sset`` (NULL for NULL text, which has no shingle
    row in ``minhash_signatures``) if ``signature``, and ``bg`` (NULL text
    read as ``''``, as ``lm_quality_scored`` coalesces it) if ``bigrams``."""
    # Spark's large-var-types mode sends large_string; one batch stays < 2 GB
    text = batch.column("text").cast(pa.string())
    valid = ~np.asarray(text.is_null())
    buf, start, end, ntok = tokens(pc.fill_null(text, ""))
    names = [n for n in batch.schema.names if n != "text"]
    cols = [batch.column(n) for n in names]
    if signature:
        s, n, count = kgrams(start, end, ntok, K)
        base = xxh64.hash_ranges(buf, s, n).view(np.int64)
        width = np.full(len(count), NUM_HASHES)
        cols.append(_list(minhash(base, count).ravel(), width, valid))
        cols.append(_list(*_distinct(base, count), valid))
        names += ["minhash", "sset"]
    if bigrams:
        s, n, count = kgrams(start, end, ntok, 2)
        cols.append(_list(xxh64.hash_ranges(buf, s, n).view(np.int64), count))
        names.append("bg")
    return pa.RecordBatch.from_arrays(cols, names=names)


def features(batches, signature: bool, bigrams: bool):
    """``feature_batch`` over each batch, slice by slice (``SLICE_BYTES``)."""
    skip_zip_rereads()
    for b in batches:
        nbytes = pc.binary_length(b.column("text")).fill_null(0).to_numpy()
        for piece in _slices(b, nbytes, SLICE_BYTES):
            yield feature_batch(piece, signature, bigrams)


def doc_features(docs: DataFrame, signature: bool,
                 bigrams: bool) -> DataFrame:
    """The feature pass over ``docs`` (``doc_id``, ``text`` and any columns
    to carry through, such as ``doc_len`` or ``is_ref``); see
    ``feature_batch``.  Lazy: the caller persists the result once."""
    from pyspark.sql.types import ArrayType, LongType, StructField, StructType

    longs = ArrayType(LongType())
    fields = [f for f in docs.schema.fields if f.name != "text"]
    if signature:
        fields += [StructField("minhash", longs), StructField("sset", longs)]
    if bigrams:
        fields.append(StructField("bg", longs))

    return docs.mapInArrow(lambda it: features(it, signature, bigrams),
                           StructType(fields))


def bigram_model(ref: DataFrame) -> np.ndarray:
    """The bigram model of ``lm_quality_scored`` over hashed bigrams: every
    ``bg`` hash occurring ``>= LM_MIN_COUNT`` times in ``ref``, collected in
    one action as a sorted int64 array."""
    model = (ref.select(F.explode("bg").alias("h"))
             .groupBy("h").count()
             .where(F.col("count") >= LM_MIN_COUNT)
             .select("h").toArrow())
    return np.sort(model.column("h").to_numpy())


def oov_rates(bg: pa.ListArray, model: np.ndarray) -> np.ndarray:
    """Per document, the share of its bigram hashes absent from ``model``
    (sorted, non-empty): ``n_oov / n_bigrams``, each an exact integer, so
    the division equals ``lm_quality_scored``'s ``oov_rate``."""
    n = pc.list_value_length(bg).to_numpy().astype(np.int64)
    vals = bg.flatten().to_numpy()
    pos = np.minimum(np.searchsorted(model, vals), len(model) - 1)
    doc = np.repeat(np.arange(len(n)), n)
    n_oov = np.bincount(doc[model[pos] != vals], minlength=len(n))
    return n_oov / n


def low_quality(batches, model: np.ndarray, max_oov: float):
    """The ``doc_id`` of each row whose ``oov_rate`` against ``model``
    exceeds ``max_oov``, slice by slice (``SLICE_BIGRAMS``)."""
    skip_zip_rereads()
    for batch in batches:
        n = pc.list_value_length(batch.column("bg")).fill_null(0).to_numpy()
        for b in _slices(batch, n, SLICE_BIGRAMS):
            keep = oov_rates(b.column("bg"), model) > max_oov
            yield pa.RecordBatch.from_arrays(
                [b.column("doc_id").filter(pa.array(keep))], names=["doc_id"])


def low_quality_ids(docs: DataFrame, model, max_oov: float) -> DataFrame:
    """``low_quality`` over ``docs`` against the broadcast ``model`` (a
    ``bigram_model`` array)."""
    from pyspark.sql.types import StructType

    return docs.select("doc_id", "bg").mapInArrow(
        lambda it: low_quality(it, model.value, max_oov),
        StructType([docs.schema["doc_id"]]))
