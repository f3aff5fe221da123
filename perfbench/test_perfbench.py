"""The benchmark's own test: smoke-sized runs of every workload.

    python3 -m pytest perfbench/test_perfbench.py -q

Each workload runs once with ``--smoke`` (sf0.001 tables, 3 brewery pages);
the result must carry every metric named in BENCHMARK.json with its unit, and
the correctness checks must have run and passed.
"""

from __future__ import annotations

import json
import shutil
import subprocess
import sys
from pathlib import Path

import pytest

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))

from brewery_feed import BreweryFeed, expected_gold, expected_silver  # noqa: E402

SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())


def _run(workload: str, trace: int, cwd: Path = ROOT) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "7",
         "--seconds", "1", "--trace", str(trace), "--smoke"],
        cwd=cwd, capture_output=True, text=True, timeout=600)


def _result(proc: subprocess.CompletedProcess) -> tuple[dict, dict]:
    assert proc.returncode == 0, proc.stderr[-3000:]
    lines = proc.stdout.strip().splitlines()
    return json.loads(lines[-2])["context"], json.loads(lines[-1])


@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_workload_prints_every_end_to_end_metric(workload):
    ctx, res = _result(_run(workload, 0))
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] is True and res["failed"] == 0 and res["attempted"] >= 1
    assert ctx["checks"] and all(v in ("MATCH", "ROWS_ONLY") for v in ctx["checks"].values())
    want = {m["name"]: m["unit"] for m in SPEC["end_to_end"]}
    assert {k: v["unit"] for k, v in res["metrics"].items()} == want
    assert all(v["value"] > 0 for v in res["metrics"].values())


def test_traced_medallion_prints_every_layer_metric():
    _, res = _result(_run("medallion_daily", 1))
    want = {m["name"]: m["unit"] for m in SPEC["per_layer"]}
    got = res["metrics"]
    assert {k: v["unit"] for k, v in got.items()} == want
    # a re-run scans every earlier run's bronze pages of its date again
    # (uuid-suffixed history): twice a new date's files on a first re-run
    new, rerun = (got[f"plans.silver.scan_files{k}"]["value"] for k in ("", "_rerun"))
    assert new > 0 and rerun >= 2 * new and rerun % new == 0
    # the post-write recount launches jobs in transform_silver's own span
    assert got["plans.silver.self_jobs"]["value"] >= 1
    assert got["plans.silver.jobs"]["value"] > got["plans.silver.self_jobs"]["value"]


def test_fails_without_the_program(tmp_path):
    shutil.copy(ROOT / "BENCHMARK.json", tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    proc = _run("lake_queries", 0, cwd=tmp_path)
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""


def test_feed_is_seeded_and_covers_both_pagination_regimes():
    a, b = BreweryFeed(3, 20, 4), BreweryFeed(3, 20, 4)
    dates = [f"2024-03-{d:02d}" for d in range(1, 11)]
    assert [a.pages_for(d) for d in dates] == [b.pages_for(d) for d in dates]
    assert {a.serves_link(d) for d in dates} == {True, False}
    for d in dates:
        fetch = a.fetcher(d)
        records, link = fetch(1)
        assert (link is not None) == a.serves_link(d)
        assert len(fetch(len(a.pages_for(d)))[0]) < 20  # the last page is short
    silver = expected_silver(a.pages_for(dates[0]))
    assert 0 < len(silver) < a.records(dates[0])
    assert sum(expected_gold(silver).values()) == len(silver)
