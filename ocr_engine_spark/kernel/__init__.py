"""Pure (no-Spark) oracle kernels.

These modules define the engine's semantics on plain Python values, numpy arrays and Arrow
arrays, and import no pandas (``extract_frame`` takes and returns pandas frames for goldens,
tests and tools); the Spark layer (ocr_engine_spark.operators) only wraps them in
Arrow-batched UDFs and never re-implements them.  Golden fixtures and unit tests pin this
module; byte-equality of the Spark path then follows by construction (SURVEY.md §5.2).
"""

from ocr_engine_spark.kernel.pipeline import extract_frame, extract_turn  # noqa: F401
