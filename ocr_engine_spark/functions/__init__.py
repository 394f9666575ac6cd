"""SQL-callable per-stage functions (SURVEY.md §2.10).

Each pipeline stage is also a named, registered scalar ``arrow_udf``, so stages
are independently testable and usable from ``spark.sql``:

    from ocr_engine_spark.functions import register_all
    register_all(spark)
    spark.sql("SELECT ocr_extract(text).extracted_text FROM transcripts")

Each takes one Arrow batch of its column (nulls read as ``""``) and runs the
batch kernel (ocr_engine_spark/kernel/pipeline.py) once on it, the same code
the fused ``mapInArrow`` production path runs; rows outside the kernel's
closed forms fall back to the per-turn oracle inside the kernel there as here.
``ocr_recognize`` alone loops per row: span recognition has no batch spelling.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa

from pyspark.sql.functions import arrow_udf
from pyspark.sql.types import (
    DoubleType, IntegerType, StringType, StructField, StructType,
)

from ocr_engine_spark.config import DEFAULT_CONFIG
from ocr_engine_spark.kernel import astr
from ocr_engine_spark.kernel.normalize import recognize_one
from ocr_engine_spark.kernel.pipeline import (
    _R2_NON_TEXTY, _canonicalize_column, _deskew_columns, _extract_frame_impl,
)
from ocr_engine_spark.worker import skip_zip_rereads

EXTRACT_RESULT = StructType([
    StructField("extracted_text", StringType()),
    StructField("n_spans", IntegerType()),
    StructField("strip_ratio", DoubleType()),
    StructField("fmt", StringType()),
])


@arrow_udf(StringType())
def ocr_canonicalize(text: pa.Array) -> pa.Array:
    """E1/E2/S7: Unicode NFC + newline/width normalization + deskew, as one scalar."""
    skip_zip_rereads()
    canon = _canonicalize_column(astr.fill_null(text), DEFAULT_CONFIG.max_chars)
    # the kernel may hand back large_string; Spark rejects it for a string UDF
    return _deskew_columns(canon)[0].cast(pa.string())


@arrow_udf(StringType())
def ocr_detect_format(text: pa.Array) -> pa.Array:
    """E4/A6 format vote: the parser (html/markdown/json/plain) with the most
    threshold-passing spans; ties -> first in fixed parser order."""
    skip_zip_rereads()
    cols, _ = _extract_frame_impl(astr.fill_null(text), None, DEFAULT_CONFIG)
    return cols["fmt"]


@arrow_udf(EXTRACT_RESULT)
def ocr_extract(text: pa.Array) -> pa.Array:
    """The full fused pipeline as a scalar: text -> struct(extracted_text, n_spans,
    strip_ratio, fmt)."""
    skip_zip_rereads()
    cols, _ = _extract_frame_impl(astr.fill_null(text), None, DEFAULT_CONFIG)
    names = EXTRACT_RESULT.fieldNames()
    return pa.StructArray.from_arrays([cols[c] for c in names], names=names)


RECOGNIZE_RESULT = StructType([
    StructField("text", StringType()),
    StructField("conf", DoubleType()),
    StructField("kind", StringType()),
])


@arrow_udf(RECOGNIZE_RESULT)
def ocr_recognize(raw: pa.Array, kind: pa.Array) -> pa.Array:
    """E9-E11 span normalization standalone: (raw, kind) -> struct(text, conf,
    kind) — entity decode, control strip, placeholder remap, whitespace collapse,
    token cap, min-confidence, numeric re-kinding."""
    skip_zip_rereads()
    cfg = DEFAULT_CONFIG
    return pa.array(
        [recognize_one(r, k, cfg.placeholder_char, cfg.max_seq_len)
         for r, k in zip(astr.npy(astr.fill_null(raw)),
                         astr.npy(astr.fill_null(kind, "text")))],
        type=pa.struct([("text", pa.string()), ("conf", pa.float64()),
                        ("kind", pa.string())]))


@arrow_udf(DoubleType())
def ocr_content_conf(text: pa.Array) -> pa.Array:
    """F2 span-confidence scoring exposed standalone (texty-character
    fraction, 0.0 for the empty string) — detect.content_conf per row."""
    skip_zip_rereads()
    text = astr.fill_null(text)
    n = astr.length(text)
    texty = n - astr.count_re(text, _R2_NON_TEXTY)
    return pa.array(texty / np.maximum(n, 1))  # the empty string reads 0/1


REGISTRY = {
    "ocr_canonicalize": ocr_canonicalize,
    "ocr_detect_format": ocr_detect_format,
    "ocr_extract": ocr_extract,
    "ocr_recognize": ocr_recognize,
    "ocr_content_conf": ocr_content_conf,
}


def register_all(spark) -> None:
    """Make every stage callable from SQL (spark.udf.register)."""
    for name, fn in REGISTRY.items():
        spark.udf.register(name, fn)
