"""The fused per-turn extraction pipeline (the OcrEngine.__call__ analogue).

Stage order mirrors /root/reference/src/ocr.py:195-233 (EP2 in SURVEY.md §3):

    canonicalize (E1) -> deskew (E2, blank warn-not-drop F5) -> detect + format vote +
    NMS (E3/E4/F2/F3) -> span prepare: extend/clamp/int/validity mask (E5-E8, F4) ->
    batched recognition (E9-E11) with positional mask reconciliation
    (/root/reference/src/ocr.py:164-179) -> reading-order stitch (kernel/stitch.py) ->
    per-turn output row.

Output span offsets are the ORIGINAL detected offsets (the reference constructs Word with
the original detection box, ocr.py:170, while the extended/clamped span only selects the
crop) — preserved here.

``extract_turn`` is the single-turn oracle; ``extract_frame_arrow`` the vectorized batch
used by the Spark layer (one call per Arrow batch — zero per-row Python at the Spark
boundary); ``extract_frame`` its pandas spelling.
"""

from __future__ import annotations

import re
import unicodedata

import numpy as np
import pyarrow as pa

from ocr_engine_spark.config import DEFAULT_CONFIG, EngineConfig
from ocr_engine_spark.kernel.canonicalize import canonicalize, deskew
from ocr_engine_spark.kernel.detect import detect_spans
from ocr_engine_spark.kernel.normalize import recognize_batch
from ocr_engine_spark.kernel.spans import prepare_spans, slice_text
from ocr_engine_spark.kernel.stitch import (
    SpanWord, lines_closed_form, words_formation,
)


_NEWLINE = re.compile("\n")


def _line_closed_form_ok(cfg: EngineConfig) -> bool:
    """True iff the 'line'-mode closed form is provably equal to the live stitch.

    lines_closed_form's derivation (kernel/stitch.py) needs the zero-overlap
    hit test to REJECT cross-line merges and the EMA clamp to stay a no-op:
    - 0 < y_overlap_threshold < 1: at <=0 the `overlap < max_row_size*thr`
      rejection never fires (0 < 0 is false) so adjacent lines merge; at >=1
      the `bottom-top-overlap > max_row_size*thr` test stops rejecting
      two-line rows (h > h is false) — either way the live stitch can produce
      merged rows and a nonzero page_skew the closed form never emits;
    - 0 <= max_running_y_shift_degree < 90: tan() of a negative angle gives a
      negative clamp (min() pins every running shift to it -> nonzero skew),
      and >=90 degrees is outside tan's principal branch.
    Outside these bounds the pipeline runs the live words_formation greedy.
    """
    return (0.0 < cfg.y_overlap_threshold < 1.0
            and 0 <= cfg.max_running_y_shift_degree < 90)


def _line_geometry(text: str):
    """Start offsets of every line (for offset -> (line, column) mapping) and the page
    width = longest line length in characters (the img.shape[1] analogue).

    C-level newline scan (re.finditer) instead of a per-character Python loop — this
    runs over the full payload of every turn, so it must not be O(len) in Python.
    """
    starts = [0] + [m.end() for m in _NEWLINE.finditer(text)]
    arr = np.asarray(starts, dtype=np.int64)
    if len(starts) == 1:
        width = len(text)
    else:
        ends = np.empty(len(starts), dtype=np.int64)
        ends[:-1] = arr[1:] - 1
        ends[-1] = len(text)
        width = int((ends - arr).max())
    return arr, max(width, 1)


def extract_turn(text: str, cfg: EngineConfig = DEFAULT_CONFIG,
                 declared_kind: str | None = None):
    """Run the full pipeline on one turn's payload.

    Returns a dict with extracted_text, spans (list of dicts in reading order), n_spans,
    strip_ratio, fmt, is_blank, angle — the per-turn slice of the output table
    (FIXTURES.md §2).  ``declared_kind`` is the S1 payload-kind dispatch
    (see detect_spans): declared payloads skip the E4 vote.
    """
    raw_len = len(text) if text else 0
    canon = canonicalize(text, cfg.max_chars)
    canon, is_blank, angle = deskew(canon)
    return _extract_prepared(canon, is_blank, angle, raw_len, cfg, declared_kind)


def _extract_prepared(canon: str, is_blank: bool, angle: float, raw_len: int,
                      cfg: EngineConfig, declared_kind: str | None = None):
    """Pipeline tail after canonicalize+deskew — lets the batch layer hand in the
    vectorized pre-pass results instead of recomputing them per row."""
    fmt, detected = detect_spans(canon, cfg.score_thr, cfg.iou_thr, declared_kind)
    empty = {
        "extracted_text": "", "spans": [], "n_spans": 0,
        "strip_ratio": 0.0, "fmt": fmt, "is_blank": is_blank, "angle": angle,
        "page_skew": 0.0,
    }
    if not detected:  # F6 empty short-circuit (ocr.py:157-158)
        return empty

    prepared, mask = prepare_spans(
        [(s, e) for s, e, _, _ in detected], len(canon),
        cfg.extend_span_start, cfg.extend_span_end)
    valid_idx = [i for i, ok in enumerate(mask) if ok]
    raws = [slice_text(canon, *prepared[i]) for i in valid_idx]
    kinds = [detected[i][2] for i in valid_idx]
    recs = recognize_batch(raws, kinds, cfg.placeholder_char, cfg.max_seq_len)

    line_starts, page_width = _line_geometry(canon)
    h = cfg.line_height
    words = []
    for i, (rtext, rconf, rkind) in zip(valid_idx, recs):
        if not rtext:  # blank-after-recognition filter (F7, utils.py:293-295)
            continue
        s, e, _, dconf = detected[i]
        li = int(np.searchsorted(line_starts, s, side="right") - 1)
        col = s - int(line_starts[li])
        words.append(SpanWord(
            x1=col, y1=li * h, x2=col + (e - s), y2=li * h + h,
            text=rtext, conf_det=dconf, conf_cls=rconf, start=s, end=e, kind=rkind,
        ))
    if not words:
        return empty

    if cfg.word_formation_mode == "line" and _line_closed_form_ok(cfg):
        # the engine's pseudo-geometry provably collapses the live stitch to a
        # per-line closed form (see stitch.lines_closed_form) — O(n) per turn;
        # pathological threshold/clamp configs fall through to the live greedy
        line_texts, out_words, page_skew = lines_closed_form(words)
        extracted = "\n".join(line_texts)
    else:
        segments, page_skew = words_formation(
            words, page_width, cfg.word_formation_mode,
            cfg.max_running_y_shift_degree, cfg.gradient,
            cfg.max_x_dist, cfg.y_overlap_threshold)
        out_words = []
        for seg in segments:
            if seg.members:  # a Line: flatten word-groups (dto.py:271-273)
                for grp in seg.members:
                    out_words.extend(grp.words)
            else:
                out_words.extend(seg.words)
        extracted = "\n".join(seg.text for seg in segments)
    spans = [
        {"start": w.start, "end": w.end, "kind": w.kind,
         "conf": float(w.conf_cls), "text": w.text}
        for w in out_words
    ]
    strip_ratio = 1.0 - len(extracted) / raw_len if raw_len > 0 else 0.0
    return {
        "extracted_text": extracted, "spans": spans, "n_spans": len(spans),
        "strip_ratio": strip_ratio, "fmt": fmt, "is_blank": is_blank,
        "angle": angle, "page_skew": float(page_skew),
    }


OUTPUT_COLUMNS = [
    "conv_id", "turn_idx", "extracted_text", "spans", "n_spans",
    "strip_ratio", "fmt", "is_blank", "angle", "page_skew",
]


# ---------------------------------------------------------------------------
# Vectorized batch closed forms (all four payload formats)
#
# Shared foundations, each PROVEN exact and pinned by the equivalence suites:
#
#   - canonicalize/deskew are batch Arrow-compute passes (kernel/astr.py:
#     RE2 + utf8proc over one large_string array, no per-row Python) —
#     multiline quote strip, '>'-count angle, \S non-blank counting ==
#     str.isspace, verified;
#   - NMS keeps every span (parser spans are disjoint; IoU 0 <= thr);
#   - with zero span margins, prepare_spans is the identity on trimmed ints;
#   - recognition = format decode + placeholder->space + whitespace collapse +
#     token-min conf + numeric re-kind, all C loops over one frame of spans
#     (blank-after-recognition rows drop, F7);
#   - the stitch: every span's pseudo-box sits inside one line, so words land
#     in (line, x) order, same-line words join with ' ', page_skew == 0.0
#     (stitch.lines_closed_form's invariant);
#   - the E4 format vote is computed EXACTLY from the competing parsers'
#     passing-span counts (tag-noise penalty x0.2 < score_thr makes tagged
#     lines provably fail plain/markdown, link zones halve html confidence).
#
# Format specifics: PLAIN = per-line trim/conf; MARKDOWN adds fence parity,
# leading-marker strip, inline link/emphasis removal; HTML keeps per-row
# C-level zone regex scans (boilerplate/tags/comments/links) then joins the
# shared machinery at run granularity; JSON keeps per-row validation + literal
# scans then joins at span granularity; entity references and escape
# sequences decode per affected run/span (identical-by-construction calls into
# html.unescape / json.loads).  Configs the derivations did not assume fall
# back wholesale to the per-turn oracle `extract_turn`: nonzero span margins,
# negative NMS thresholds, non-'line' word-formation modes, and (for the HTML
# path) score thresholds <= the tag penalty — byte-identical either way
# (goldens + tests/test_fastpath_equiv.py + grammar fuzzes).
# ---------------------------------------------------------------------------

from ocr_engine_spark.kernel.detect import (  # noqa: E402
    _HTML_TAG, _LINK_PENALTY, _MD_FENCE, _MD_LEAD, _NON_TEXTY,
)
from ocr_engine_spark.kernel.normalize import (  # noqa: E402
    _CC_EXCEPT_TAB_NL, _MD_EMPH, _MD_LINK, _NUMERIC, _WS,
)

_QUOTE_ML = re.compile(r"(?m)^(?:> ?)+")
_CRLF = re.compile("\r\n?")
_QUOTE_GATE = re.compile(r"(?m)^>")
# _MD_MARKER with non-capturing groups: identical as a boolean gate, and pandas
# str.contains stays quiet about unused capture groups
_MD_GATE = re.compile(
    r"(?:^|\n)\s{0,3}(?:#{1,6}\s|[-*+]\s|\d+\.\s|```)|\[[^\]]+\]\([^)]*\)|\*\*")
_PREFIX_ONLY = re.compile(r"(?m)^((?:> ?)+)?[^\n]*")
_NONBLANK_LINE = re.compile(r"(?m)^.*\S")
# the control class and whitespace-run collapse ARE the kernel's own
_CTRL = _CC_EXCEPT_TAB_NL
_WS_RUN = _WS

# ---------------------------------------------------------------------------
# RE2 translations of the batch patterns for the Arrow string layer
# (kernel/astr.py).  RE2's \w/\d/\s diverge from CPython's, so the perl
# classes are spelled as this interpreter's own codepoint ranges
# (_uniclasses, exhaustively re-verified by tests/test_astr.py); each
# translated pattern is pinned against its re original above — pattern by
# pattern by tests/test_r2_translations.py (UTF-8 fuzz per operation), and
# end-to-end by test_fastpath_equiv's fuzzes + the golden suite.  Python's `$`
# also matches before a trailing '\n' while RE2's does not — translated
# `$`-patterns run only on newline-free inputs (exploded lines / collapsed
# segments).
# ---------------------------------------------------------------------------
from ocr_engine_spark.kernel import astr  # noqa: E402
from ocr_engine_spark.kernel._uniclasses import (  # noqa: E402
    D_BODY as _D, S_BODY as _S, W_BODY as _W,
)

_R2_NON_TEXTY = f"[^ .,;:!?'’\\-{_W}]"
_R2_WS_RUN = f"[{_S}]+"
_R2_CTRL = r"[\x00-\x08\x0b-\x1f\x7f-\x9f]"
_R2_QUOTE_ML = r"(?m)^(?:> ?)+"
_R2_QUOTE_GATE = r"(?m)^>"
_R2_PREFIX_ONLY = r"(?m)^((?:> ?)+)?[^\n]*"
_R2_NONBLANK_LINE = f"(?m)^.*[^{_S}]"
_R2_HTML_TAG = r"<[A-Za-z!/][^>]*>"
_R2_MD_GATE = (
    f"(?:^|\\n)[{_S}]{{0,3}}(?:#{{1,6}}[{_S}]|[-*+][{_S}]|[{_D}]+\\.[{_S}]|```)"
    r"|\[[^\]]+\]\([^)]*\)|\*\*")
_R2_MD_FENCE = f"^[{_S}]{{0,3}}```"
_R2_MD_LEAD = (f"^[{_S}]{{0,3}}"
               f"(#{{1,6}}[{_S}]+|[-*+][{_S}]+|[{_D}]+\\.[{_S}]+)")
_R2_MD_LINK = r"\[([^\]]*)\]\(([^)]*)\)"
_R2_MD_EMPH = r"(\*\*|__|`)"
_R2_NUMERIC = (
    f"^(?:[-+$€£]?[{_S}]?[{_D}]{{1,3}}(?:[,.][{_D}]{{3}})*(?:[.,][{_D}]+)?%?"
    f"|[{_D}]{{4}}-[{_D}]{{2}}-[{_D}]{{2}}"
    f"(?:[ T][{_D}]{{2}}:[{_D}]{{2}}(?::[{_D}]{{2}})?)?"
    f"|[{_D}]{{1,2}}/[{_D}]{{1,2}}/[{_D}]{{2,4}})$")
_R2_CRLF = "\r\n?"
# lstrip().slice(0,1).isin("{[") as one anchored scan (no lstrip corpus copy)
_R2_JSON_START = f"^[{_S}]*[{{\\[]"
# every match of this consumes exactly one '&', and two matches can never
# share one, so (#'&' > #safe-refs) <=> _UNSAFE_AMP's lookahead fires
_R2_SAFE_REF = r"&(?:amp|lt|gt|quot|apos|#39|#x27);"


def _canonicalize_column(a_raw, max_chars: int):
    """Vectorized canonicalize over the batch (null-filled utf8 array in, one
    out): the exact restatement of canonicalize.canonicalize, returning the
    input array itself when no row changes (no copy of the corpus)."""
    # NFC normalize with an all-ASCII skip (ASCII is NFC-invariant) and a
    # per-row quick check — pyarrow's utf8_normalize ignores its form
    # option (see kernel/astr.py), so NFC itself stays on unicodedata,
    # touching only the rows that actually need recomposition
    ascii_rows = astr.is_ascii(a_raw)
    if ascii_rows.all():
        canon = a_raw
    else:
        vals = astr.npy(a_raw)
        nvals = None
        for i in np.flatnonzero(~ascii_rows):
            s = vals[i]
            if not unicodedata.is_normalized("NFC", s):
                if nvals is None:
                    nvals = vals.copy()
                nvals[i] = unicodedata.normalize("NFC", s)
        canon = a_raw if nvals is None else astr.arr(nvals)
    # one fused pass: \r\n? -> \n equals replace('\r\n')+replace('\r'),
    # skipped wholesale when no row carries a '\r' (no full-corpus copy)
    if astr.contains_lit(canon, "\r").any():
        canon = astr.replace_re(canon, _R2_CRLF, "\n")
    if max_chars and astr.length(canon).max(initial=0) > max_chars:
        canon = astr.slice_cp(canon, 0, max_chars)
    return canon


def _deskew_columns(canon):
    """Vectorized deskew over the batch: (deskewed: pa.Array, is_blank, angle).

    Exact restatement of canonicalize.deskew: the multiline quote-prefix strip
    equals the per-line strip (only '\\n' newlines remain after canonicalize);
    sum of per-line quote depths == total '>' characters across all prefix
    matches (every quoted line is non-blank, unquoted lines contribute 0);
    the non-blank-line count is the match count of `(?m)^.*\\S` (a line strips
    to '' iff it has no non-whitespace char; `\\s` equals str.isspace for every
    codepoint — verified exhaustively).
    """
    # the prefix-count pass only touches rows that HAVE a quote-prefixed line
    # (a line's prefix regex fires iff the line starts with '>', which one
    # cheap contains gate detects); the strip itself is one full-batch RE2
    # GlobalReplace — a single C++ scan, skipped entirely on unquoted batches
    quoted = astr.contains_re(canon, _R2_QUOTE_GATE)
    gt = np.zeros(len(canon), dtype=np.int64)
    if quoted.any():
        desk = astr.replace_re(canon, _R2_QUOTE_ML, "")
        qpos = np.flatnonzero(quoted)
        pref = astr.replace_re(astr.take(canon, qpos), _R2_PREFIX_ONLY, r"\1")
        gt[qpos] = astr.count_lit(pref, ">")
    else:
        desk = canon
    nb = astr.count_re(canon, _R2_NONBLANK_LINE)
    angle = np.where(nb > 0, gt / np.maximum(nb, 1), 0.0)
    return desk, nb == 0, angle


_KNOWN_KINDS = ("json", "html", "markdown", "plain")


def _route_masks(desk: pa.Array, cfg: EngineConfig, declared=None):
    """Route every row to its format closed form with ONE pass per gate
    predicate (the four per-format masks each rescanned the whole batch with
    the same contains() calls — up to 4x duplicate C-level regex work on the
    flagship hot path).  Returns ``(plain, md, html, json, forced)``: four
    disjoint routing masks plus the vote-suppression mask for declared rows.

    Gate semantics (each conservative — a False routes to a slower but always-
    exact path):
    - plain: no tag, no markdown marker, no JSON-ish start;
    - markdown: marker present, no tag, no JSON-ish start (plain competes in
      the vote inside _md_outputs);
    - html: tag present, no JSON-ish start, and score_thr > 0.2 so the tag
      penalty provably fails tagged lines under the competing parsers;
    - json: JSON-ish start, no tag, no marker (plain competes in the vote);
    - all: no raw control chars, and the line-length bound that proves the E10
      token-truncation path cannot fire (cap 0 = disabled).

    ``declared`` rows (S1 payload-kind dispatch, a string per row with '' =
    undeclared) skip the content sniff entirely: a known declared kind routes
    to ITS closed form whenever the safety gates hold, and the E4 vote is
    suppressed for it (the returned ``forced`` mask marks those rows for the
    per-format output functions).  Gate per declared kind:

    - json / plain: ctrl/len + tag-free — the invalid-JSON plain fallback and
      parse_plain itself are proven closed forms only without the tag
      penalty (parse_plain's single content sensitivity);
    - markdown: same, plus the marker gate — parse_markdown REJECTS a
      marker-free payload (returns None), which per detect_spans' declared
      semantics demotes to the plain fallback, i.e. the plain closed form;
    - html: ctrl/len + tag present (parse_html rejects tag-free payloads ->
      plain fallback) — no other content sensitivity because no competing
      parser runs when forced.

    Declared rows failing their safety gates take the per-turn dispatch path
    (exact by construction).  An UNKNOWN declared kind sniffs like an
    undeclared row (detect_spans' permissive fall-through).
    """
    n = len(desk)
    g_tag = astr.contains_re(desk, _R2_HTML_TAG)
    g_md = astr.contains_re(desk, _R2_MD_GATE)
    g_json = astr.contains_re(desk, _R2_JSON_START)
    g_ctrl = astr.contains_re(desk, _R2_CTRL)
    if cfg.max_seq_len:
        g_len = astr.length(desk) <= 2 * cfg.max_seq_len - 1
    else:
        g_len = np.ones(n, dtype=bool)
    base = ~g_ctrl & g_len
    undecl = (np.ones(n, dtype=bool) if declared is None
              else ~np.isin(declared, _KNOWN_KINDS))
    plain = base & ~g_tag & ~g_md & ~g_json & undecl
    md = base & g_md & ~g_tag & ~g_json & undecl
    if cfg.score_thr > 0.2:
        html = base & g_tag & ~g_json & undecl
    else:
        html = np.zeros(n, dtype=bool)
    json_ = base & g_json & ~g_tag & ~g_md & undecl
    forced = np.zeros(n, dtype=bool)
    if not undecl.all():
        safe = base & ~g_tag
        d_json = (declared == "json") & safe
        d_plain = (declared == "plain") & safe
        d_md = (declared == "markdown") & safe & g_md
        d_md_fb = (declared == "markdown") & safe & ~g_md  # reject -> plain
        if cfg.score_thr > 0.2:
            d_html = (declared == "html") & base & g_tag
        else:
            d_html = np.zeros(n, dtype=bool)
        d_html_fb = (declared == "html") & safe  # tag-free reject -> plain
        plain |= d_plain | d_md_fb | d_html_fb
        md |= d_md
        html |= d_html
        json_ |= d_json
        forced = d_json | d_md | d_html
    return plain, md, html, json_, forced


def _line_frame(desk):
    """Explode rows into lines with absolute in-document line-start offsets.

    Returns (lines, row, line_start): ``lines`` a flat pa.Array, ``row`` the
    repeated (non-decreasing) source row position, ``line_start`` the offset of
    each line's first char within its own document.
    """
    row, lines = astr.split_explode(desk, "\n")
    ll1 = astr.length(lines) + 1
    cum = np.cumsum(ll1) - ll1
    if len(row):
        # per-line base = cum at the row's first line (cum is increasing, so a
        # forward running max over first-line markers propagates it)
        is_first = np.r_[True, row[1:] != row[:-1]]
        row_base = np.maximum.accumulate(np.where(is_first, cum, 0))
    else:
        row_base = cum
    return lines, row, cum - row_base


def _group_cumsum(flags: np.ndarray, row: np.ndarray) -> np.ndarray:
    """Inclusive cumsum of ``flags`` within each contiguous ``row`` group
    (the groupby(row).cumsum() of the exploded line frame, loop-free)."""
    c = np.cumsum(flags.astype(np.int64))
    if not len(row):
        return c
    is_first = np.r_[True, row[1:] != row[:-1]]
    base = np.maximum.accumulate(np.where(is_first, c - flags, 0))
    return c - base


def _token_min_conf(collapsed: pa.Array, nbad: np.ndarray) -> np.ndarray:
    """Per-line recognition confidence: min over tokens containing a non-texty
    char of their texty fraction; exactly 1.0 for clean lines
    (normalize.recognize_one's E10 min-aggregation).

    ``nbad`` may be any DIRTY-SUPERSET indicator (e.g. the pre-decode count):
    rows flagged dirty whose tokens are actually clean still yield exactly 1.0
    through the token min, so over-approximation costs only a wasted explode —
    never a wrong confidence.  (Every decode-changing span was pre-decode
    dirty: entities need '&', escapes need a backslash, markdown inline markup
    needs brackets/asterisks — all non-texty.)"""
    conf_cls = np.ones(len(collapsed))
    dirty = np.flatnonzero(nbad > 0)
    if len(dirty):
        trow, toks = astr.split_explode(astr.take(collapsed, dirty), " ")
        tl = astr.length(toks).astype(np.float64)
        tb = astr.count_re(toks, _R2_NON_TEXTY)
        tconf = np.where(tb > 0, (tl - tb) / np.maximum(tl, 1.0), 1.0)
        tmin = np.ones(len(dirty))
        np.minimum.at(tmin, trow, tconf)  # group-min (every row has >=1 token)
        conf_cls[dirty] = tmin
    return conf_cls


def _assemble(k: int, krow, ctext, ks, ke, kinds, confs, raw_len, kline=None):
    """Per-row extracted text in reading order + the flat span columns.

    ``kline`` carries each span's line id: consecutive spans of one row on the
    SAME line join with ' ' (the stitch's within-line word merge), lines join
    with newlines.  Omitted => every span is its own line (plain/markdown).

    The spans come back as the flat column tuple ``(krow, ks, ke, kinds,
    confs, ctext)`` the caller assembles into one Arrow list<struct> column
    for the whole batch."""
    text_parts = [[] for _ in range(k)]
    prev_row = prev_line = None
    for i in range(len(krow)):
        r = krow[i]
        t = ctext[i]
        if kline is not None and r == prev_row and kline[i] == prev_line:
            text_parts[r][-1] += " " + t
        else:
            text_parts[r].append(t)
        if kline is not None:
            prev_row, prev_line = r, kline[i]
    n_spans = (np.bincount(krow, minlength=k).astype(np.int64)
               if len(krow) else np.zeros(k, dtype=np.int64))
    extracted = ["\n".join(p) for p in text_parts]
    elen = np.array([len(t) for t in extracted], dtype=np.float64)
    with np.errstate(invalid="ignore", divide="ignore"):
        strip_ratio = np.where(
            (n_spans > 0) & (raw_len > 0),
            1.0 - elen / np.maximum(raw_len, 1), 0.0)
    return extracted, (krow, ks, ke, kinds, confs, ctext), n_spans, strip_ratio


def _recognize_series(seg, cfg: EngineConfig, strip_ctrl: bool = False):
    """Vectorized recognition tail shared by every closed form, in the scalar
    kernel's exact order: control strip -> placeholder->space remap ->
    whitespace collapse -> trim.  ``strip_ctrl`` is only needed by the html/
    json paths, whose decodes can INTRODUCE controls (numeric refs, escapes);
    the masks exclude raw controls, so plain/markdown skip that pass.
    Arrow in, Arrow out — the whole chain stays in RE2/utf8proc."""
    a = astr.arr(seg)
    if strip_ctrl:
        a = astr.replace_re(a, _R2_CTRL, "")
    if cfg.placeholder_char:
        a = astr.replace_lit(a, cfg.placeholder_char, " ")
    return astr.strip(astr.replace_re(a, _R2_WS_RUN, " "))


def _fast_outputs(desk, raw_len: np.ndarray, cfg: EngineConfig):
    """Closed-form PLAIN outputs for fast rows (positional index 0..k-1).

    Returns (extracted, spans, n_spans, strip_ratio) as aligned arrays/lists.
    """
    k = len(desk)
    lines, row, line_start = _line_frame(desk)
    ll = astr.length(lines)
    seg = astr.strip(lines)
    slen = astr.length(seg)
    lead = ll - astr.length(astr.lstrip(lines))
    abs_s = lead + line_start
    abs_e = abs_s + slen

    nbad = astr.count_re(seg, _R2_NON_TEXTY)
    with np.errstate(invalid="ignore", divide="ignore"):
        conf_det = np.where(slen > 0, (slen - nbad) / np.maximum(slen, 1), 0.0)
    keep = (slen > 0) & (conf_det >= cfg.score_thr)

    kseg = astr.take(seg, keep)
    krow = row[keep]
    final = _recognize_series(kseg, cfg)
    nonblank = (astr.length(final) > 0 if len(final)
                else np.array([], dtype=bool))  # F7: placeholder-only lines
    final = astr.take(final, nonblank)
    krow = krow[nonblank]
    conf_cls = _token_min_conf(final, nbad[keep][nonblank])  # dirty-superset
    # _R2_NUMERIC carries `$`: exact because collapsed segments are newline-free
    is_num = (astr.match_re(final, _R2_NUMERIC)
              if len(final) else np.array([], dtype=bool))
    kinds = np.where(is_num, "num", "text")
    return _assemble(k, krow, astr.npy(final), abs_s[keep][nonblank],
                     abs_e[keep][nonblank], kinds, conf_cls, raw_len)


# detect's own fence/lead patterns (the lead's capture group is irrelevant to
# a whole-match replace)
_MD_FENCE_LINE = _MD_FENCE
_MD_LEAD_STRIP = _MD_LEAD


def _md_outputs(desk, raw_len: np.ndarray, cfg: EngineConfig,
                forced=None):
    """Closed-form MARKDOWN outputs (detect.parse_markdown + recognition):
    fence lines toggle skipping (parity of fences before the line), leading
    heading/list markers are excluded from spans, recognition drops inline
    links/emphasis, blank-after-recognition lines are dropped (F7).

    Returns (extracted, spans, n_spans, strip_ratio, plain_wins) — rows where
    the PLAIN parser finds strictly more passing spans (the E4 vote) carry
    plain_wins=True and must be recomputed via the plain closed form.
    ``forced`` rows (declared-kind dispatch) never lose the vote: markdown
    wins outright, matching detect_spans' declared semantics.
    """
    k = len(desk)
    lines, row, line_start = _line_frame(desk)
    ll = astr.length(lines)

    # --- plain parser's passing count (competes in the vote) ---
    seg_p = astr.strip(lines)
    slen_p = astr.length(seg_p)
    nbad_p = astr.count_re(seg_p, _R2_NON_TEXTY)
    with np.errstate(invalid="ignore", divide="ignore"):
        conf_p = np.where(slen_p > 0, (slen_p - nbad_p) / np.maximum(slen_p, 1),
                          0.0)
    plain_pass = (slen_p > 0) & (conf_p >= cfg.score_thr)

    # --- markdown parser ---
    fence = astr.match_re(lines, _R2_MD_FENCE)
    fcum = _group_cumsum(fence, row)
    in_fence = ((fcum - fence) % 2) == 1  # parity of fences BEFORE this line
    rem = astr.replace_re(lines, _R2_MD_LEAD, "")
    seg_m = astr.strip(rem)
    mlen = astr.length(seg_m)
    nbad_m = astr.count_re(seg_m, _R2_NON_TEXTY)
    with np.errstate(invalid="ignore", divide="ignore"):
        conf_m = np.where(mlen > 0, (mlen - nbad_m) / np.maximum(mlen, 1), 0.0)
    md_pass = (~fence) & (~in_fence) & (slen_p > 0) & (mlen > 0) \
        & (conf_m >= cfg.score_thr)

    # --- format vote per row: plain wins only with STRICTLY more spans ---
    pc = np.zeros(k, dtype=np.int64)
    mc = np.zeros(k, dtype=np.int64)
    np.add.at(pc, row[plain_pass], 1)
    np.add.at(mc, row[md_pass], 1)
    plain_wins = pc > mc
    if forced is not None:
        plain_wins &= ~forced  # declared markdown: no E4 vote

    keep = md_pass & ~plain_wins[row]
    # span offsets: original detected interval = trim of the marker-stripped
    # remainder (rem = line[lead_end:], so positions map via length deltas)
    rlen = astr.length(rem)
    rl_lead = rlen - astr.length(astr.lstrip(rem))
    abs_s = line_start + (ll - rlen) + rl_lead
    abs_e = abs_s + mlen

    kseg = astr.take(seg_m, keep)
    krow = row[keep]
    # recognition (normalize.recognize_one, kind='markdown'): inline link ->
    # label, emphasis markers dropped, whitespace collapsed, trimmed
    final = _recognize_series(
        astr.replace_re(astr.replace_re(kseg, _R2_MD_LINK, r"\1"),
                        _R2_MD_EMPH, ""), cfg)
    nonblank = astr.length(final) > 0  # F7: blank-after-recognition dropped
    final = astr.take(final, nonblank)
    krow = krow[nonblank]
    conf_cls = _token_min_conf(final, nbad_m[keep][nonblank])  # dirty-superset
    is_num = astr.match_re(final, _R2_NUMERIC)  # newline-free segments
    kinds = np.where(is_num, "num", "markdown")
    ks = abs_s[keep][nonblank]
    ke = abs_e[keep][nonblank]
    extracted, spans_out, n_spans, strip_ratio = _assemble(
        k, krow, astr.npy(final), ks, ke, kinds, conf_cls, raw_len)
    return extracted, spans_out, n_spans, strip_ratio, plain_wins


# fires on an '&' that starts none of the entity references the closed-form
# decode handles exactly: with every '&' starting one of them, ordered literal
# replaces (amp LAST so its output '&' can never re-trigger a decode) equal
# html.unescape's single pass
_UNSAFE_AMP = re.compile(r"&(?!(?:amp|lt|gt|quot|apos|#39|#x27);)")

from ocr_engine_spark.kernel.detect import (  # noqa: E402
    _HTML_A_ZONE, _HTML_DROP, _NEWLINE_RE,
)


def _html_runs(text: str):
    """One row's unblocked text runs: (trim_start, trim_end, linky, line_no).

    Exactly detect.parse_html's zone model — boilerplate subtrees, tags, and
    comments block; newlines block (runs never cross lines); <a> zones flag the
    link penalty.  All scanning is C-level regex/numpy; only the per-run
    bookkeeping is Python."""
    n = len(text)
    blocked = np.zeros(n + 2, dtype=bool)
    blocked[0] = blocked[-1] = True
    b = blocked[1:-1]
    for m in _HTML_DROP.finditer(text):
        b[m.start():m.end()] = True
    for m in _HTML_TAG.finditer(text):
        b[m.start():m.end()] = True
    linky = np.zeros(n, dtype=bool)
    for m in _HTML_A_ZONE.finditer(text):
        linky[m.start():m.end()] = True
    nl = np.zeros(n + 1, dtype=np.int64)
    for m in _NEWLINE_RE.finditer(text):
        b[m.start()] = True
        nl[m.start() + 1] = 1
    lineno = np.cumsum(nl)
    d = np.diff(blocked.astype(np.int8))
    starts = np.flatnonzero(d == -1)
    ends = np.flatnonzero(d == 1)
    out = []
    for i, j in zip(starts.tolist(), ends.tolist()):
        seg = text[i:j]
        ls = seg.lstrip()
        if not ls:
            continue
        s = i + len(seg) - len(ls)
        e = i + len(seg.rstrip())
        out.append((s, e, bool(linky[s:e].any()), int(lineno[s])))
    return out


def _html_outputs(desk, raw_len: np.ndarray, cfg: EngineConfig,
                  forced=None):
    """Closed-form HTML outputs + the exact E4 vote.

    Returns (extracted, spans, n_spans, strip_ratio, html_wins): rows where the
    markdown or plain parser finds strictly more passing spans carry
    html_wins=False and must run the per-turn oracle instead.  ``forced`` rows
    (declared-kind dispatch) win outright — no vote runs for them.
    """
    k = len(desk)
    texts = astr.npy(desk)
    rrow, rs, re_, rlink, rline = [], [], [], [], []
    for ridx in range(k):
        for s, e, lk, ln in _html_runs(texts[ridx]):
            rrow.append(ridx)
            rs.append(s)
            re_.append(e)
            rlink.append(lk)
            rline.append(ln)
    rrow = np.asarray(rrow, dtype=np.int64)
    rs = np.asarray(rs, dtype=np.int64)
    re_ = np.asarray(re_, dtype=np.int64)
    rlink = np.asarray(rlink, dtype=bool)
    rline = np.asarray(rline, dtype=np.int64)
    seg = astr.arr([texts[r][s:e] for r, s, e in zip(rrow, rs, re_)])

    slen = (re_ - rs).astype(np.float64)
    nbad = astr.count_re(seg, _R2_NON_TEXTY) if len(seg) else np.array([])
    with np.errstate(invalid="ignore", divide="ignore"):
        conf = np.where(slen > 0, (slen - nbad) / np.maximum(slen, 1), 0.0)
    conf = np.where(rlink, conf * _LINK_PENALTY, conf)
    keep = conf >= cfg.score_thr
    ch = np.zeros(k, dtype=np.int64)
    if len(rrow):
        np.add.at(ch, rrow[keep], 1)

    # --- competing parsers' counts (tagged lines provably fail: x0.2 < thr) ---
    lines, lrow, _ = _line_frame(desk)
    seg_p = astr.strip(lines)
    slen_p = astr.length(seg_p)
    tagged = astr.contains_re(lines, _R2_HTML_TAG)
    nbad_p = astr.count_re(seg_p, _R2_NON_TEXTY)
    with np.errstate(invalid="ignore", divide="ignore"):
        conf_p = np.where(slen_p > 0,
                          (slen_p - nbad_p) / np.maximum(slen_p, 1), 0.0)
    cp = np.zeros(k, dtype=np.int64)
    pmask = (slen_p > 0) & ~tagged & (conf_p >= cfg.score_thr)
    np.add.at(cp, lrow[pmask], 1)

    md_app = astr.contains_re(desk, _R2_MD_GATE)
    cm = np.zeros(k, dtype=np.int64)
    if md_app.any():
        fence = astr.match_re(lines, _R2_MD_FENCE)
        fcum = _group_cumsum(fence, lrow)
        in_fence = ((fcum - fence) % 2) == 1
        rem = astr.replace_re(lines, _R2_MD_LEAD, "")
        seg_m = astr.strip(rem)
        mlen = astr.length(seg_m)
        tagged_m = astr.contains_re(seg_m, _R2_HTML_TAG)
        nbad_m = astr.count_re(seg_m, _R2_NON_TEXTY)
        with np.errstate(invalid="ignore", divide="ignore"):
            conf_m = np.where(mlen > 0,
                              (mlen - nbad_m) / np.maximum(mlen, 1), 0.0)
        mmask = (~fence) & (~in_fence) & (slen_p > 0) & (mlen > 0) \
            & ~tagged_m & (conf_m >= cfg.score_thr)
        np.add.at(cm, lrow[mmask], 1)

    html_wins = ~(md_app & (cm > ch)) & ~(cp > ch)
    if forced is not None:
        html_wins |= forced  # declared html: no E4 vote

    fkeep = keep & html_wins[rrow] if len(rrow) else keep
    kseg = astr.take(seg, fkeep)
    knp = astr.npy(kseg)  # originals for the unescape fallback below
    # recognition: entity decode — runs whose every '&' starts a safe ref take
    # the ordered literal-replace chain (== unescape's single pass, amp last);
    # runs with any other ref call html.unescape directly (exact by identity)
    final = kseg
    for ent, rep in (("&lt;", "<"), ("&gt;", ">"), ("&quot;", '"'),
                     ("&apos;", "'"), ("&#39;", "'"), ("&#x27;", "'"),
                     ("&amp;", "&")):
        final = astr.replace_lit(final, ent, rep)
    # RE2 has no lookahead: _UNSAFE_AMP fires iff some '&' does NOT start a
    # safe ref — and since every safe-ref match consumes exactly one '&' (no
    # internal '&', so the non-overlapping scan can't skip one), that is
    # exactly (#'&' > #safe-ref matches)
    unsafe = (astr.count_lit(kseg, "&") > astr.count_re(kseg, _R2_SAFE_REF)
              if len(knp) else np.array([], dtype=bool))
    if unsafe.any():
        import html as _htmllib

        vals = astr.npy(final)
        for i in np.flatnonzero(unsafe):
            vals[i] = _htmllib.unescape(knp[i])
        final = astr.arr(vals)
    final = _recognize_series(final, cfg, strip_ctrl=True)
    nonblank = (astr.length(final) > 0 if len(final)
                else np.array([], dtype=bool))  # F7: placeholder-only runs
    final = astr.take(final, nonblank)
    fkeep2 = np.flatnonzero(fkeep)[nonblank] if len(rrow) else np.array([], int)
    fb = nbad[fkeep][nonblank] if len(rrow) else np.array([])  # dirty-superset
    conf_cls = _token_min_conf(final, fb)
    is_num = (astr.match_re(final, _R2_NUMERIC)
              if len(final) else np.array([], dtype=bool))
    kinds = np.where(is_num, "num", "html")
    extracted, spans_out, n_spans, strip_ratio = _assemble(
        k, rrow[fkeep2], astr.npy(final), rs[fkeep2], re_[fkeep2], kinds,
        conf_cls, raw_len, kline=rline[fkeep2])
    return extracted, spans_out, n_spans, strip_ratio, html_wins


from ocr_engine_spark.kernel.detect import (  # noqa: E402
    _JSON_NUMBER, _JSON_STRING,
)


def _json_spans(text: str):
    """One row's JSON content spans ((start, end, is_num, line_no)) or None when
    the payload fails validation — detect.parse_json's exact model: value
    string literals (keys skipped via the ':' lookahead) plus numeric literals
    outside strings, position-sorted."""
    import json as _json

    stripped = text.strip()
    if not stripped or stripped[0] not in "{[":
        return None
    try:
        _json.loads(stripped)
    except (ValueError, RecursionError):
        return None
    n = len(text)
    in_string = np.zeros(n, dtype=bool)
    nl = np.zeros(n + 1, dtype=np.int64)
    for m in _NEWLINE_RE.finditer(text):
        nl[m.start() + 1] = 1
    lineno = np.cumsum(nl)
    spans = []
    for m in _JSON_STRING.finditer(text):
        in_string[m.start():m.end()] = True
        tail = text[m.end():m.end() + 8].lstrip()
        if tail.startswith(":"):
            continue  # key, not content
        if m.start(1) < m.end(1):
            spans.append((m.start(1), m.end(1), False, int(lineno[m.start(1)])))
    for m in _JSON_NUMBER.finditer(text):
        if not in_string[m.start()]:
            spans.append((m.start(), m.end(), True, int(lineno[m.start()])))
    spans.sort(key=lambda s: (s[0], s[1]))
    return spans


def _json_outputs(desk, raw_len: np.ndarray, cfg: EngineConfig,
                  forced=None):
    """Closed-form JSON outputs + the exact (json vs plain) E4 vote.

    Returns (extracted, spans, n_spans, strip_ratio, json_wins): rows that fail
    validation or whose plain parse finds strictly more passing spans carry
    json_wins=False — the caller routes them through the PLAIN closed form
    (exact, because the predicate excluded every other parser's triggers).

    ``forced`` rows (S1 payload-kind dispatch) skip the E4 vote: valid JSON
    wins outright even if the plain parse found more passing spans; invalid
    JSON still demotes to the plain fallback (detect_spans' declared-kind
    semantics exactly)."""
    k = len(desk)
    texts = astr.npy(desk)
    rrow, rs, re_, rnum, rline = [], [], [], [], []
    valid = np.zeros(k, dtype=bool)
    for ridx in range(k):
        sp = _json_spans(texts[ridx])
        if sp is None:
            continue
        valid[ridx] = True
        for s, e, isnum, ln in sp:
            rrow.append(ridx)
            rs.append(s)
            re_.append(e)
            rnum.append(isnum)
            rline.append(ln)
    rrow = np.asarray(rrow, dtype=np.int64)
    rs = np.asarray(rs, dtype=np.int64)
    re_ = np.asarray(re_, dtype=np.int64)
    rnum = np.asarray(rnum, dtype=bool)
    rline = np.asarray(rline, dtype=np.int64)
    seg = astr.arr([texts[r][s:e] for r, s, e in zip(rrow, rs, re_)])

    slen = (re_ - rs).astype(np.float64)
    nbad = astr.count_re(seg, _R2_NON_TEXTY) if len(seg) else np.array([])
    with np.errstate(invalid="ignore", divide="ignore"):
        conf = np.where(slen > 0, (slen - nbad) / np.maximum(slen, 1), 0.0)
    conf = np.where(rnum, 0.95, conf)  # detect.parse_json's number confidence
    keep = conf >= cfg.score_thr
    cj = np.zeros(k, dtype=np.int64)
    if len(rrow):
        np.add.at(cj, rrow[keep], 1)

    # plain parser's competing count (no tags by predicate -> no penalty)
    lines, lrow, _ = _line_frame(desk)
    seg_p = astr.strip(lines)
    slen_p = astr.length(seg_p)
    nbad_p = astr.count_re(seg_p, _R2_NON_TEXTY)
    with np.errstate(invalid="ignore", divide="ignore"):
        conf_p = np.where(slen_p > 0,
                          (slen_p - nbad_p) / np.maximum(slen_p, 1), 0.0)
    cp = np.zeros(k, dtype=np.int64)
    np.add.at(cp, lrow[(slen_p > 0) & (conf_p >= cfg.score_thr)], 1)

    json_wins = valid & ~(cp > cj)  # ties keep json (earlier in PARSERS)
    if forced is not None:
        json_wins = np.where(forced, valid, json_wins)

    fkeep = keep & json_wins[rrow] if len(rrow) else keep
    sub_pre = np.flatnonzero(fkeep) if len(rrow) else np.array([], int)
    kseg = astr.take(seg, fkeep)
    # recognition: escape-free literals decode to themselves; spans carrying a
    # backslash decode via json.loads exactly like the scalar kernel (failures
    # fall through unchanged); whitespace-only values drop (F7)
    esc = (astr.contains_lit(kseg, "\\")
           if len(kseg) else np.array([], dtype=bool))
    if esc.any():
        import json as _json

        vals = astr.npy(kseg)
        for i in np.flatnonzero(esc):
            if rnum[sub_pre[i]]:
                continue  # numeric spans never decode
            try:
                vals[i] = _json.loads('"' + vals[i] + '"')
            except ValueError:
                pass
        kseg = astr.arr(vals)
    final = _recognize_series(kseg, cfg, strip_ctrl=True)
    nonblank = astr.length(final) > 0 if len(final) \
        else np.array([], dtype=bool)
    final = astr.take(final, nonblank)
    sub = sub_pre[nonblank] if len(rrow) else np.array([], int)
    fb = nbad[sub] if len(rrow) else np.array([])  # dirty-superset pre-count
    conf_cls = _token_min_conf(final, fb)
    is_num_text = (astr.match_re(final, _R2_NUMERIC)
                   if len(final) else np.array([], dtype=bool))
    kinds = np.where(rnum[sub], "num", np.where(is_num_text, "num", "json"))
    extracted, spans_out, n_spans, strip_ratio = _assemble(
        k, rrow[sub], astr.npy(final), rs[sub], re_[sub], kinds,
        conf_cls, raw_len, kline=rline[sub])
    return extracted, spans_out, n_spans, strip_ratio, json_wins


def extract_frame(pdf, cfg: EngineConfig = DEFAULT_CONFIG):
    """pandas spelling of ``extract_frame_arrow``: one frame of turns in, one
    frame of extractions out, spans as per-row lists of dicts.  Total on the
    empty batch (F6).  For goldens, tests and tools; the Spark layer calls
    ``extract_frame_arrow`` directly.

    Rows whose text is not valid UTF-8 (lone surrogates from PEP 383
    surrogateescape decodes) cannot live in an Arrow utf8 array: they cross
    blanked and are then overwritten with the per-turn oracle on the
    original text.  The only function of the module that takes or returns
    pandas objects; the module itself does not import pandas."""
    cols = ["conv_id", "turn_idx", "text"]
    if "payload_kind" in pdf.columns:
        cols.append("payload_kind")
    pdf = pdf[cols].reset_index(drop=True)
    surr = []
    try:
        rb = pa.RecordBatch.from_pandas(pdf, preserve_index=False)
    except UnicodeEncodeError:
        text = pdf["text"].to_numpy(copy=True)
        for i, s in enumerate(text):
            if not isinstance(s, str):  # null cell
                continue
            try:
                s.encode("utf-8")
            except UnicodeEncodeError:
                surr.append(i)
                text[i] = ""
        rb = pa.RecordBatch.from_pandas(pdf.assign(text=text),
                                        preserve_index=False)
    out = extract_frame_arrow(rb, cfg).to_pandas()
    spans = [s.tolist() for s in out["spans"]]
    for i in surr:
        kind = pdf["payload_kind"].iat[i] if "payload_kind" in cols else None
        r = extract_turn(pdf["text"].iat[i], cfg, kind or None)
        spans[i] = r["spans"]
        for c in OUTPUT_COLUMNS[2:]:
            if c != "spans":
                out.at[i, c] = r[c]
    out["spans"] = spans
    return out


def extract_frame_arrow(batch, cfg: EngineConfig = DEFAULT_CONFIG):
    """The batch kernel: one pa.RecordBatch of turns in, one of extractions
    out — the ``mapInArrow`` path, one call per Arrow batch with zero per-row
    Python at the Spark boundary.  Total on the empty batch (F6).

    Rows take the vectorized closed form of their format (Arrow compute /
    numpy across the whole batch); every other row runs the per-turn oracle —
    outputs are byte-identical either way (golden + equivalence suites).  The
    spans column is assembled DIRECTLY as an Arrow list<struct> from the flat
    per-span arrays (no per-span Python dicts, no pandas object column), and
    conv_id/turn_idx pass through zero-copy from the input batch."""
    n = batch.num_rows
    # the input column IS the kernel's Arrow array: null-fill is the only
    # copy; no Arrow -> Python str -> Arrow round-trip of the corpus
    a_text = batch.column("text")
    if a_text.null_count:
        a_text = astr.fill_null(a_text)
    # S1 payload-kind dispatch: an optional input column declares the payload
    # kind (json/html/markdown/plain), which then skips content sniffing and
    # the E4 vote entirely; '' = undeclared, unknown kinds sniff permissively
    declared = None
    if "payload_kind" in batch.schema.names:
        declared = astr.npy(astr.fill_null(batch.column("payload_kind")))
    cols, (srows, ss, se, sk, sc, stxt) = _extract_frame_impl(
        a_text, declared, cfg)
    offsets = np.zeros(n + 1, dtype=np.int64)
    np.cumsum(np.bincount(srows, minlength=n), out=offsets[1:])
    struct = pa.StructArray.from_arrays(
        [pa.array(ss, type=pa.int32()), pa.array(se, type=pa.int32()),
         pa.array(sk, type=pa.string()), pa.array(sc, type=pa.float64()),
         pa.array(stxt, type=pa.string())],
        names=["start", "end", "kind", "conf", "text"])
    spans = pa.ListArray.from_arrays(
        pa.array(offsets, type=pa.int32()), struct)
    conv_a = batch.column("conv_id")
    if conv_a.type != pa.string():
        conv_a = conv_a.cast(pa.string())
    tidx_a = batch.column("turn_idx")
    if tidx_a.type != pa.int32():
        tidx_a = tidx_a.cast(pa.int32())
    arrs = [conv_a, tidx_a, cols["extracted_text"], spans,
            *(cols[c] for c in OUTPUT_COLUMNS[4:])]
    return pa.RecordBatch.from_arrays(arrs, names=OUTPUT_COLUMNS)


def _extract_frame_impl(a_raw, declared, cfg: EngineConfig):
    """Body of ``extract_frame_arrow``: ``a_raw`` is the null-filled text
    column, ``declared`` the per-row payload kind ('' = undeclared) or None.

    Returns ``(cols, spans)``: ``cols`` the computed output columns as
    aligned, typed Arrow arrays (what ``extract_frame_arrow`` and the SQL
    function ``ocr_extract`` emit), ``spans`` the row-sorted flat span tuple
    ``(rows, start, end, kind, conf, text)``."""
    n = len(a_raw)
    raw_len = astr.length(a_raw)

    # closed forms assume zero-margin span prep, that NMS keeps disjoint
    # spans (a pathological negative iou_thr suppresses even non-overlapping
    # spans in the greedy oracle), AND 'line'-mode stitching — under the
    # word_group/tesseract/mmocr modes, same-line spans farther apart than
    # max_x_dist split into separate newline-joined segments, which the
    # closed forms' space-joined line assembly does not reproduce; the
    # 'line' closed form additionally needs _line_closed_form_ok's threshold
    # and clamp bounds, outside which the live greedy can merge lines
    vec_ok = (cfg.extend_span_start == 0.0 and cfg.extend_span_end == 0.0
              and cfg.iou_thr >= 0 and cfg.word_formation_mode == "line"
              and _line_closed_form_ok(cfg))
    if vec_ok:
        desk, is_blank_v, angle_v = _deskew_columns(
            _canonicalize_column(a_raw, cfg.max_chars))
        fast, md_fast, html_fast, json_fast, forced = _route_masks(
            desk, cfg, declared)
    else:  # nonzero margins: closed form not proven — everything per-turn
        # four independent arrays: the vec_ok branch mutates these masks in
        # place, so sharing one zeros array here would couple them
        fast = np.zeros(n, dtype=bool)
        md_fast = np.zeros(n, dtype=bool)
        html_fast = np.zeros(n, dtype=bool)
        json_fast = np.zeros(n, dtype=bool)
        forced = np.zeros(n, dtype=bool)

    extracted = np.empty(n, dtype=object)
    flat_acc = []  # per route: (global_rows, start, end, kind, conf, text)
    n_spans = np.zeros(n, dtype=np.int64)
    strip_ratio = np.zeros(n, dtype=np.float64)
    fmt = np.empty(n, dtype=object)
    is_blank = np.zeros(n, dtype=bool)
    angle = np.zeros(n, dtype=np.float64)
    page_skew = np.zeros(n, dtype=np.float64)

    def _fill_vectorized(pos, win, ext, spn, nsp, ratio, fmt_name):
        # one route's outputs, indexed within ``pos``; its spans already carry
        # only the vote-winner rows ``win``
        flat_acc.append((pos[spn[0]],) + tuple(spn[1:]))
        wpos = pos[win]
        extracted[wpos] = np.asarray(ext, dtype=object)[win]
        n_spans[wpos] = nsp[win]
        strip_ratio[wpos] = ratio[win]
        fmt[wpos] = fmt_name
        is_blank[wpos] = is_blank_v[wpos]
        angle[wpos] = angle_v[wpos]
        # page_skew stays 0.0: same-line boxes keep row centers fixed

    jpos = np.flatnonzero(json_fast)
    if len(jpos):
        *j_out, json_wins = _json_outputs(
            astr.take(desk, jpos), raw_len[jpos], cfg,
            forced=None if declared is None else forced[jpos])
        _fill_vectorized(jpos, json_wins, *j_out, "json")
        # invalid JSON / plain-win rows reduce exactly to the plain closed form
        json_fast[jpos[~json_wins]] = False
        fast[jpos[~json_wins]] = True

    hpos = np.flatnonzero(html_fast)
    if len(hpos):
        *h_out, html_wins = _html_outputs(
            astr.take(desk, hpos), raw_len[hpos], cfg,
            forced=None if declared is None else forced[hpos])
        _fill_vectorized(hpos, html_wins, *h_out, "html")
        html_fast[hpos[~html_wins]] = False  # vote lost: per-turn oracle path

    mpos = np.flatnonzero(md_fast)
    if len(mpos):
        *m_out, plain_wins = _md_outputs(
            astr.take(desk, mpos), raw_len[mpos], cfg,
            forced=None if declared is None else forced[mpos])
        _fill_vectorized(mpos, ~plain_wins, *m_out, "markdown")
        # the E4 vote went to the plain parser on these rows: recompute them
        # through the plain closed form (exactly what detect_spans would keep)
        fast[mpos[plain_wins]] = True

    fpos = np.flatnonzero(fast)
    if len(fpos):
        _fill_vectorized(fpos, np.ones(len(fpos), dtype=bool),
                         *_fast_outputs(astr.take(desk, fpos), raw_len[fpos],
                                        cfg), "plain")

    fast = fast | md_fast | html_fast | json_fast

    def _kind(i):  # declared payload kind rides into the per-turn dispatch
        # (detect_spans itself owns the unknown-kind fall-through semantics)
        if declared is not None and declared[i]:
            return declared[i]
        return None

    if vec_ok:
        dsk = astr.npy(desk)

        def _slow(i):  # reuse the vectorized (exact) canonicalize+deskew
            return _extract_prepared(dsk[i], bool(is_blank_v[i]),
                                     float(angle_v[i]), int(raw_len[i]), cfg,
                                     _kind(i))
    else:
        texts = astr.npy(a_raw)

        def _slow(i):
            return extract_turn(texts[i], cfg, _kind(i))

    sl = ([], [], [], [], [], [])
    for i in np.flatnonzero(~fast):
        r = _slow(i)
        extracted[i] = r["extracted_text"]
        for d in r["spans"]:
            sl[0].append(i)
            sl[1].append(d["start"])
            sl[2].append(d["end"])
            sl[3].append(d["kind"])
            sl[4].append(d["conf"])
            sl[5].append(d["text"])
        n_spans[i] = r["n_spans"]
        strip_ratio[i] = r["strip_ratio"]
        fmt[i] = r["fmt"]
        is_blank[i] = r["is_blank"]
        angle[i] = r["angle"]
        page_skew[i] = r["page_skew"]

    cols = {
        "extracted_text": pa.array(extracted, type=pa.string()),
        "n_spans": pa.array(n_spans, type=pa.int32()),
        "strip_ratio": pa.array(strip_ratio, type=pa.float64()),
        "fmt": pa.array(fmt, type=pa.string()),
        "is_blank": pa.array(is_blank, type=pa.bool_()),
        "angle": pa.array(angle, type=pa.float64()),
        "page_skew": pa.array(page_skew, type=pa.float64()),
    }
    if sl[0]:
        flat_acc.append(tuple(np.asarray(c) for c in sl))
    if flat_acc:
        g = [np.concatenate([np.asarray(f[j], dtype=object) if j in (3, 5)
                             else np.asarray(f[j]) for f in flat_acc])
             for j in range(6)]
        o = np.argsort(g[0].astype(np.int64), kind="stable")
        span_flat = tuple(c[o] for c in g)
    else:
        e64 = np.empty(0, dtype=np.int64)
        span_flat = (e64, e64, e64, np.empty(0, dtype=object),
                     np.empty(0, dtype=np.float64), np.empty(0, dtype=object))
    return cols, span_flat
