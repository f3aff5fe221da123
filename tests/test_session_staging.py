"""Session staging: one temp workspace per SparkContext, stages keyed on
source content, built once per session and removed at interpreter exit."""

from __future__ import annotations

import os
import subprocess
import sys
import tempfile
import textwrap
import types
from pathlib import Path

import pyarrow.parquet as pq
import pytest

from breweries_data_engineering_case_spark.plans import registry
from breweries_data_engineering_case_spark.sources.writers import (
    session_workspace,
    staged_dir,
)

REPO = Path(__file__).resolve().parent.parent


def _stub_session():
    """Enough of a SparkSession for the staging helpers: a SparkContext
    object to hang the workspace on."""
    return types.SimpleNamespace(sparkContext=types.SimpleNamespace())


def test_staged_dir_builds_once_per_key_and_retries_a_failed_build():
    spark = _stub_session()
    calls = []

    def build(out: Path) -> None:
        calls.append(out)
        out.mkdir()
        (out / "x").write_text("1")

    p1 = staged_dir(spark, "k1", build)
    assert staged_dir(spark, "k1", build) == p1 and len(calls) == 1
    assert (p1 / "x").read_text() == "1"
    assert p1.parent == session_workspace(spark)
    assert staged_dir(spark, "k2", build) != p1 and len(calls) == 2

    def failing(out: Path) -> None:
        out.mkdir()
        (out / "partial").write_text("torn")
        raise RuntimeError("build died")

    with pytest.raises(RuntimeError, match="build died"):
        staged_dir(spark, "k3", failing)
    p3 = staged_dir(spark, "k3", build)
    assert not (p3 / "partial").exists() and (p3 / "x").exists()


def test_json_scan_restages_after_the_source_is_rewritten(spark, sf_dir, tmp_path):
    """A stage is keyed on the content it reads, not on the corpus path: a
    nation table rewritten at the same path within one session is staged
    again, so json_scan returns the new rows."""
    corpus = tmp_path / "sf"
    corpus.mkdir()
    nation = pq.read_table(f"{sf_dir}/nation.parquet")
    pq.write_table(nation, corpus / "nation.parquet")
    q = registry.queries()["json_scan"]
    assert q(spark, str(corpus)).count() == nation.num_rows == 25

    pq.write_table(nation.slice(0, 5), corpus / "nation.parquet")
    assert q(spark, str(corpus)).count() == 5


def test_staging_queries_write_only_into_the_workspace(spark, sf_dir, tmp_path):
    """Every staging query writes under the session workspace: the temp dir
    gains no bdec_* entry beside it. The workspace itself is removed when
    the interpreter exits."""
    tmp = Path(tempfile.gettempdir())
    before = set(os.listdir(tmp))
    for name in (
        "json_scan",
        "csv_scan",
        "bucketed_join_zero_shuffle",
        "rest_paginated_ingest",
        "streaming_file_sink_exactly_once",
        "python_datasource_stream",
        "doc_neardup_incremental_snapshot",
    ):
        registry.queries()[name](spark, sf_dir).collect()
    ws = session_workspace(spark)
    assert ws.parent == tmp and ws.name.startswith("bdec-")
    assert len(list(ws.iterdir())) >= 7
    added = set(os.listdir(tmp)) - before - {ws.name}
    assert not [n for n in added if n.startswith("bdec_")], added

    code = textwrap.dedent(
        """
        import types
        from breweries_data_engineering_case_spark.sources.writers import staged_dir
        spark = types.SimpleNamespace(sparkContext=types.SimpleNamespace())
        p = staged_dir(spark, "k", lambda out: out.mkdir())
        print(p.parent, p.exists())
        """
    )
    out = subprocess.run(
        [sys.executable, "-c", code],
        cwd=REPO,
        env={**os.environ, "TMPDIR": str(tmp_path)},
        capture_output=True,
        text=True,
        check=True,
    )
    child_ws, existed = out.stdout.split()
    assert existed == "True"
    assert Path(child_ws).parent == tmp_path
    assert not Path(child_ws).exists(), "workspace left behind at exit"
