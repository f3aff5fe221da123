"""Round-13 hardening units (VERDICT r12 #2 + ADVICE r12): the enforced
bench steal gate and source_fingerprint's errno discipline.
"""

from __future__ import annotations

import importlib.util
import sys
from pathlib import Path

import pytest

from breweries_data_engineering_case_spark.sources.readers import source_fingerprint

REPO = Path(__file__).resolve().parent.parent


# ---------------------------------------------------------------------------
# enforced bench steal gate (VERDICT r12 #2)
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def bench_mod():
    spec = importlib.util.spec_from_file_location("bdec_bench", REPO / "bench.py")
    mod = importlib.util.module_from_spec(spec)
    sys.modules["bdec_bench"] = mod
    spec.loader.exec_module(mod)
    return mod


def test_steal_delta_and_threshold(bench_mod):
    """The gate computes growth across the pass and the threshold sits
    between the proven-clean (2,688) and proven-inflated (13,621) r12
    same-code runs — the monotone three-run evidence the enforcement is
    built on."""
    b = {"ambient_steal_jiffies": 1000.0}
    a = {"ambient_steal_jiffies": 9000.0}
    assert bench_mod._steal_delta(b, a) == 8000.0
    assert bench_mod._steal_delta({}, a) is None, "absent counter can't gate"
    assert 2688 < bench_mod.STEAL_DIRTY_JIFFIES < 13621
    # the r12 evidence itself judges correctly under the gate
    assert 2688 <= bench_mod.STEAL_DIRTY_JIFFIES  # clean run passes
    assert 13621 > bench_mod.STEAL_DIRTY_JIFFIES  # inflated run reruns
    assert 23322 > bench_mod.STEAL_DIRTY_JIFFIES


def test_ambient_stat_reports_steal(bench_mod):
    """/proc/stat carries the steal field on this host, so the gate is
    live (not permanently disabled by a None delta)."""
    stamp = bench_mod._ambient_stat()
    assert "ambient_steal_jiffies" in stamp


# ---------------------------------------------------------------------------
# source_fingerprint errno discipline (ADVICE r12)
# ---------------------------------------------------------------------------


def test_source_fingerprint_missing_is_loud(tmp_path):
    with pytest.raises(FileNotFoundError, match="does not exist"):
        source_fingerprint(str(tmp_path), "no_such_table")


def test_source_fingerprint_other_oserrors_propagate(tmp_path):
    """A path component that is a FILE makes stat raise ENOTDIR — that is
    a filesystem problem, not a typo'd table name, and must NOT be
    rewritten into the missing-table message (ADVICE r12)."""
    (tmp_path / "sf").write_text("a file where a directory should be")
    with pytest.raises(NotADirectoryError):
        source_fingerprint(str(tmp_path / "sf"), "t")
