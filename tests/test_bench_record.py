"""The bench record contract: the FINAL stdout line must always be a complete
parseable JSON record under the external driver's bounded tail capture
(BENCH_r04 was `parsed: null` because the only line outgrew it — the compact
final line exists so that can never recur)."""

import json
import sys

import pytest

sys.path.insert(0, "/root/repo")

from bench import _compact_line

TAIL_CAPTURE_BYTES = 2252  # the observed driver tail bound the budget guards


def _result(n_queries: int, name_len: int = 24) -> dict:
    return {
        "metric": "headline_queries_total", "value": 123.456789,
        "unit": "sec",
        "queries": {f"q{'x' * name_len}{i:03d}": 1.2345678 + i
                    for i in range(n_queries)},
        "sf": 0.1, "cpus": 32,
        "extraction": {"turns": 1140575, "sec": 9.87},
        "extraction_steady": {"turns_per_sec": 294000.1},
        "canary": {"job_rtt_ms": 25.1, "kernel_tps_1core": 19012.3},
    }


def test_compact_line_fits_tail_capture_at_contract_scale():
    # name_len=12 -> 17-char keys, the contract surface's real average
    line = _compact_line(_result(64, name_len=12))
    assert len(line) <= 1900 < TAIL_CAPTURE_BYTES
    rec = json.loads(line)
    assert rec["value"] == 123.456789
    assert len(rec["queries"]) == 64
    assert rec["canary"]["kernel_tps_1core"] == 19012.3
    assert rec["extraction_steady"]["turns_per_sec"] == 294000.1


def test_compact_line_drops_queries_rather_than_truncate():
    # pathological surface (hundreds of long-named queries): the budget must
    # hold by dropping the FASTEST per-query timings (keeping the slowest,
    # most informative rows + an explicit _dropped count), never by emitting
    # a cut-off line
    line = _compact_line(_result(400, name_len=40))
    assert len(line) <= 1900
    rec = json.loads(line)  # still complete JSON
    qs = rec["queries"]
    dropped = qs.pop("_dropped")
    assert dropped == 400 - len(qs) > 0
    # the kept rows are exactly the slowest ones (values ascend with index
    # in _result, so the kept set is the top of the range)
    kept_vals = sorted(qs.values())
    # everything faster was dropped (values are 1.2345678+i rounded to 1dp)
    assert kept_vals[0] >= round(1.2345678 + dropped, 1)
    assert rec["value"] == 123.456789


def test_compact_line_partial_map_keeps_slowest_first():
    # a surface just over budget: most rows survive, _dropped is small
    line = _compact_line(_result(90, name_len=24))
    rec = json.loads(line)
    qs = rec["queries"]
    dropped = qs.pop("_dropped", 0)
    assert len(qs) + dropped == 90 and len(qs) > 40


def test_compact_line_raises_when_fixed_fields_exceed_budget():
    # the binary search's lo=0 "always fits" invariant: when the metadata
    # alone is over budget, fail loudly instead of returning an over-budget
    # line
    res = _result(64)
    res["canary"] = {"note": "x" * 2000}
    with pytest.raises(ValueError, match=r"over the 1900-byte budget"):
        _compact_line(res)


def test_compact_line_is_single_line():
    assert "\n" not in _compact_line(_result(64))


def test_headline_covers_every_contract_query():
    """Every queries() entry is benched: a contract row added without a
    HEADLINE row silently vanishes from the cross-round perf record (this
    caught nothing for r01-r05 only by manual discipline)."""
    import __spark_entry__ as entrymod
    from bench import HEADLINE

    missing = set(entrymod.queries()) - set(HEADLINE)
    assert not missing, f"queries missing from bench HEADLINE: {missing}"
    unknown = set(HEADLINE) - set(entrymod.queries())
    assert not unknown, f"HEADLINE rows with no queries() entry: {unknown}"
