"""Round-13 hardening units (ADVICE r12): source_fingerprint's errno
discipline.
"""

from __future__ import annotations

import pytest

from breweries_data_engineering_case_spark.sources.readers import source_fingerprint


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
