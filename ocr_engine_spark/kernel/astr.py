"""Arrow-compute string ops with CPython-`re`-exact semantics.

The batch kernel's hot path was pandas object-dtype ``.str`` — a Python loop
per row under the hood (pandas ``object_array._str_map``).  These helpers run
the same operations through pyarrow.compute (RE2 + utf8proc, C++), 2-5x
faster per pass and without materializing intermediate object Series between
chained passes.

Byte-equality with the scalar kernel is the non-negotiable contract, so:

- RE2's ``\\w``/``\\d``/``\\s`` are ASCII-only and its ``\\p{..}`` tables track
  a different Unicode version than the running CPython; every translated
  pattern therefore spells those classes as the EXPLICIT codepoint ranges of
  this interpreter's ``re`` module (``kernel/_uniclasses.py``, generated by
  ``tools/gen_uniclasses.py``, exhaustively re-verified by tests/test_astr.py);
- trim/ltrim use the literal ``str.isspace`` character set, not Arrow's own
  whitespace notion;
- every public helper is pinned against its pandas spelling by
  tests/test_astr.py (exhaustive single-codepoint sweeps + hypothesis fuzz).

Helpers accept an ndarray/list/pa.Array of non-null strings and return
pa.Array (string results) or numpy (scalar results), so chains stay in Arrow.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

from ocr_engine_spark.kernel._uniclasses import (  # noqa: F401
    D_BODY, S_BODY, SPACE_CHARS, W_BODY,
)

_LS = pa.large_string()


def arr(x) -> pa.Array:
    """To a utf8 Arrow array.  Python-side inputs (ndarray, list, or
    anything else ``pa.array`` takes, a pandas Series included) build
    large_string (64-bit offsets: Spark Arrow batches are row-capped but
    payloads can be MBs, so 2 GiB int32 offsets are a real limit when WE
    size the array).  An input that is ALREADY an Arrow utf8 array is
    returned as-is, whichever offset width it carries — by construction it
    fit its own offsets, every helper here accepts both flavors, and
    skipping the cast keeps the Arrow boundary zero-copy."""
    if isinstance(x, pa.ChunkedArray):
        x = x.combine_chunks()
    if isinstance(x, pa.Array):
        if pa.types.is_string(x.type) or pa.types.is_large_string(x.type):
            return x
        return x.cast(_LS)
    return pa.array(x, type=_LS)


def npy(a) -> np.ndarray:
    return a.to_numpy(zero_copy_only=False)


# --- predicates / counts (regex args are RE2-translated patterns) -----------

def count_re(x, pattern: str) -> np.ndarray:
    return npy(pc.count_substring_regex(arr(x), pattern)).astype(np.int64)


def contains_re(x, pattern: str) -> np.ndarray:
    return npy(pc.match_substring_regex(arr(x), pattern)).astype(bool)


def match_re(x, anchored_pattern: str) -> np.ndarray:
    """``re.match`` equivalent: caller passes a ``^``-anchored pattern.

    NOTE Python's ``$`` also matches before a trailing newline; RE2's does
    not.  Translated ``$``-patterns are only used on newline-free inputs
    (exploded lines / collapsed segments), pinned by tests.
    """
    return npy(pc.match_substring_regex(arr(x), anchored_pattern)).astype(bool)


def count_lit(x, needle: str) -> np.ndarray:
    return npy(pc.count_substring(arr(x), needle)).astype(np.int64)


def is_ascii(x) -> np.ndarray:
    """Per-row all-ASCII predicate (ASCII is NFC-invariant, so the kernel's
    normalization pass can skip every ASCII row)."""
    return npy(pc.string_is_ascii(arr(x))).astype(bool)


def contains_lit(x, needle: str) -> np.ndarray:
    return npy(pc.match_substring(arr(x), needle)).astype(bool)


# --- transforms (return pa.Array so chains stay in Arrow) -------------------

def replace_re(x, pattern: str, replacement: str) -> pa.Array:
    """re.sub equivalent (RE2 GlobalReplace; ``\\1`` backrefs supported)."""
    return pc.replace_substring_regex(
        arr(x), pattern=pattern, replacement=replacement)


def replace_lit(x, old: str, new: str) -> pa.Array:
    return pc.replace_substring(arr(x), pattern=old, replacement=new)


def fill_null(x, value: str = "") -> pa.Array:
    """Nulls -> ``value`` (the kernel's fillna('') at the Arrow boundary)."""
    return pc.fill_null(arr(x), value)


def strip(x) -> pa.Array:
    """str.strip() — trims exactly the str.isspace character set."""
    return pc.utf8_trim(arr(x), characters=SPACE_CHARS)


def lstrip(x) -> pa.Array:
    return pc.utf8_ltrim(arr(x), characters=SPACE_CHARS)


def length(x) -> np.ndarray:
    """len() per row (codepoints)."""
    return npy(pc.utf8_length(arr(x))).astype(np.int64)


def slice_cp(x, start: int, stop: int) -> pa.Array:
    """s[start:stop] by codepoint."""
    return pc.utf8_slice_codeunits(arr(x), start=start, stop=stop)


# NOTE no nfc() helper: pyarrow 16.1's utf8_normalize IGNORES its form option
# (every form returns decomposed, unrecomposed output — NFC('À') -> 'À'
# vs unicodedata's '\xc0').  NFC stays on the unicodedata path in the kernel.


def isin(x, values) -> np.ndarray:
    return npy(pc.is_in(arr(x), value_set=pa.array(list(values), type=_LS)))


def split_explode(x, sep: str) -> tuple[np.ndarray, pa.Array]:
    """str.split(sep) + explode: (row_index, flat values).

    Matches pandas ``.str.split(sep).explode()`` on non-null input: an empty
    string yields one empty part, so every row contributes >= 1 part and the
    row index is exactly the repeat of positions by part count."""
    la = pc.split_pattern(arr(x), sep)
    flat = pc.list_flatten(la)
    if isinstance(flat, pa.ChunkedArray):
        flat = flat.combine_chunks()
    counts = npy(pc.list_value_length(la)).astype(np.int64)
    row = np.repeat(np.arange(len(counts), dtype=np.int64), counts)
    return row, flat


def take(a: pa.Array, indices) -> pa.Array:
    """a[indices] (numpy int array or boolean mask)."""
    idx = np.asarray(indices)
    if idx.dtype == bool:
        idx = np.flatnonzero(idx)
    return a.take(pa.array(idx, type=pa.int64()))
