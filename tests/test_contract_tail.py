"""Oracle gate for the queries() entries BEYOND the driver's check window.

The driver's correctness gate runs only the first 50 entries of
``__spark_entry__.queries()``; the dict is deliberately ordered
newest/least-verified first, which parks the long-stable tail past position
50.  Parked must not mean exempt: this suite runs every tail entry against
its DuckDB oracle at sf0.001 on each pytest run, so a regression in those
queries (or the helpers they share) fails CI even though the driver never
sees them.
"""

import pathlib
import sys

import pytest

REPO = pathlib.Path(__file__).resolve().parents[1]
sys.path.insert(0, str(REPO))

import __spark_entry__ as entry  # noqa: E402

SF_DIR = "/root/testdata/sf0.001"
DRIVER_WINDOW = 50

_all = list(entry.queries())
TAIL = _all[DRIVER_WINDOW:]
# rows rotated from the tail into the window keep their tail test ids
ROTATED_IN = ["kmeans_centroids", "ivf_assign", "ivf_topk", "ivf_topk_multiprobe",
              "sequence_pack"]


def test_tail_is_nonempty_iff_contract_exceeds_window():
    assert len(_all) > DRIVER_WINDOW  # if this shrinks, the suite is vacuous


@pytest.mark.parametrize("name", TAIL + [n for n in ROTATED_IN if n not in TAIL])
def test_tail_query_matches_oracle(oracle_problems, name):
    problems = oracle_problems(name, SF_DIR)
    assert not problems, problems


def test_changed_queries_sit_inside_driver_window():
    """Mechanical rotation gate (VERDICT r4 #4): any query whose implementing
    module — transitively, through ocr_engine_spark.* references — or oracle
    text changed since the last round-boundary commit must sit in positions
    1..50 of queries(), where the external driver actually checks it."""
    from tools.check_window import check

    violations = check()
    assert not violations, violations


def test_lazy_import_is_tracked_by_name():
    """An in-function package import is tracked through its binding, so a
    unit depends on the imported name only, not on every unit of that
    module (the whole-module fallback stays for mentions outside an AST
    import, e.g. a docstring)."""
    from tools.check_window import ModuleInfo, propagate_dirty

    dedup_mod = "ocr_engine_spark.operators.dedup"
    user = ModuleInfo(
        "def mtime(d):\n"
        f"    from {dedup_mod} import _table_mtime\n"
        "    return _table_mtime(d, 'x')\n", ["ocr_engine_spark", "operators"])
    assert user.star_deps == set()
    assert user.bindings["_table_mtime"] == (dedup_mod, "_table_mtime")

    dedup = ModuleInfo("def _table_mtime(d, n):\n    return 0.0\n\n"
                       "def banded_pairs():\n    return 1\n",
                       ["ocr_engine_spark", "operators"])
    head = {"ocr_engine_spark.operators.user": user, dedup_mod: dedup}
    other, _ = propagate_dirty(head, {dedup_mod: {"banded_pairs"}})
    assert other["ocr_engine_spark.operators.user"] == set()
    same, _ = propagate_dirty(head, {dedup_mod: {"_table_mtime"}})
    assert same["ocr_engine_spark.operators.user"] == {"mtime"}

    mention = ModuleInfo(f'"""See {dedup_mod}."""\n\ndef f():\n    return 1\n',
                         ["ocr_engine_spark", "operators"])
    assert mention.star_deps == {dedup_mod}
