"""Round-7 operator tests: JSONL sink commit protocol, entity-resolution
transitivity, LOCF leading-gap semantics, A/B-test integer inequality."""

from __future__ import annotations

import json
import os

import pyspark.sql.functions as F

from breweries_data_engineering_case_spark.plans import registry
from breweries_data_engineering_case_spark.sources.python_datasource import (
    JsonlCommitMessage,
    JsonlSinkWriter,
    register_jsonl_sink,
)
from breweries_data_engineering_case_spark.sources.readers import table_scan


class TestJsonlSink:
    def test_write_commits_manifest_and_parts(self, spark, tmp_path):
        register_jsonl_sink(spark)
        out = tmp_path / "sink"
        out.mkdir()
        df = spark.range(10).select(
            F.col("id"), (F.col("id") * 2).alias("v")
        )
        df.repartition(3).write.format("jsonl_audit_sink").mode(
            "overwrite"
        ).save(str(out))
        parts = sorted(p for p in os.listdir(out) if p.startswith("part-"))
        assert len(parts) == 3
        manifest = json.loads((out / "_SUCCESS").read_text())
        assert manifest == {"files": 3, "rows": 10}
        rows = []
        for p in parts:
            with open(out / p) as f:
                rows += [json.loads(line) for line in f]
        assert sorted((r["id"], r["v"]) for r in rows) == [
            (i, 2 * i) for i in range(10)
        ]
        assert not (out / "_staged").exists()

    def test_overwrite_replaces_previous_commit(self, spark, tmp_path):
        register_jsonl_sink(spark)
        out = tmp_path / "sink"
        out.mkdir()
        for n in (7, 4):
            spark.range(n).repartition(2).write.format(
                "jsonl_audit_sink"
            ).mode("overwrite").save(str(out))
        manifest = json.loads((out / "_SUCCESS").read_text())
        assert manifest["rows"] == 4
        total = 0
        for p in os.listdir(out):
            if p.startswith("part-"):
                with open(out / p) as f:
                    total += sum(1 for _ in f)
        assert total == 4

    def test_append_offsets_parts_and_accumulates_manifest(
        self, spark, tmp_path
    ):
        # ADVICE r7: a second append-mode write must NOT reuse part-00000
        # (silently replacing the first commit) and _SUCCESS must report
        # the cumulative file/row counts across commits
        register_jsonl_sink(spark)
        out = tmp_path / "sink"
        out.mkdir()
        for n in (7, 4):
            spark.range(n).repartition(2).write.format(
                "jsonl_audit_sink"
            ).mode("append").save(str(out))
        parts = sorted(p for p in os.listdir(out) if p.startswith("part-"))
        assert parts == [f"part-{i:05d}.jsonl" for i in range(4)]
        manifest = json.loads((out / "_SUCCESS").read_text())
        assert manifest == {"files": 4, "rows": 11}
        total = 0
        for p in parts:
            with open(out / p) as f:
                total += sum(1 for _ in f)
        assert total == 11

    def test_abort_cleans_staged_files_only(self, tmp_path):
        out = tmp_path / "sink"
        out.mkdir()
        (out / "part-00000.jsonl").write_text('{"id": 1}\n')
        w = JsonlSinkWriter({"path": str(out)}, overwrite=False)
        staged_dir = out / "_staged"
        staged_dir.mkdir()
        staged = staged_dir / "task-dead.jsonl"
        staged.write_text('{"id": 99}\n')
        w.abort([JsonlCommitMessage(staged=str(staged), n_rows=1), None])
        assert not staged_dir.exists()
        assert (out / "part-00000.jsonl").exists()  # committed data untouched


def test_entity_resolution_merges_transitive_spellings(spark, sf_dir):
    out = registry.QUERIES["entity_resolution_fuzzy"](spark, sf_dir).collect()
    # drop-last <-> exact <-> doubled-last are pairwise <=1 edit from the
    # base but 2 edits from each other: only transitive closure unites them
    # (at tiny SF not every name draws all four variants, so witness >=3)
    assert any(r.n_spellings >= 3 for r in out)
    assert sum(r.n_records for r in out) == table_scan(
        spark, sf_dir, "part"
    ).count()


def test_locf_leading_gap_stays_null_and_imputed_rows_carry(spark, sf_dir):
    df = registry.QUERIES["events_locf_impute"](spark, sf_dir)
    rows = df.collect()
    imputed = [r for r in rows if r.is_imputed == 1]
    assert imputed, "spine must contain empty hours at this SF"
    # every imputed hour with a prior observation carries a non-null value
    by_series: dict[str, list] = {}
    for r in sorted(rows, key=lambda r: (r.event_type, r.hour)):
        by_series.setdefault(r.event_type, []).append(r)
    for series in by_series.values():
        seen = False
        for r in series:
            if r.is_imputed == 0:
                seen = True
                assert r.filled_cents is not None
            elif seen:
                assert r.filled_cents is not None
            else:
                assert r.filled_cents is None  # leading gap stays NULL


def test_ab_test_inequality_matches_float_ztest(spark, sf_dir):
    rows = registry.QUERIES["events_ab_proportion_test"](spark, sf_dir).collect()
    assert rows
    for r in rows:
        n0, n1, c0, c1 = r.n0, r.n1, r.c0, r.c1
        N, C = n0 + n1, c0 + c1
        if C == 0 or C == N:
            assert r.significant == 0
            continue
        p0, p1, p = c0 / n0, c1 / n1, C / N
        z2 = (p1 - p0) ** 2 / (p * (1 - p) * (1 / n0 + 1 / n1))
        assert r.significant == (1 if z2 >= 3.841459 else 0)


def test_observe_metrics_ride_the_cleaning_job(spark, sf_dir):
    from pyspark.sql import Observation

    from breweries_data_engineering_case_spark.plans.q_events import observed_events_clean

    obs = Observation()
    result = observed_events_clean(spark, sf_dir, observation=obs)
    result.collect()  # one job: aggregate + metrics
    e = table_scan(spark, sf_dir, "events")
    truth = {
        "rows_in": e.count(),
        "n_error": e.filter(F.col("event_type") == "error").count(),
        "n_negative": e.filter(F.col("value") < 0).count(),
    }
    assert obs.get == truth
    assert truth["rows_in"] > 0


def test_part_similarity_symmetric_and_ranked(spark, sf_dir):
    rows = registry.QUERIES["part_similarity_topk"](spark, sf_dir).collect()
    assert rows, "support floor must leave pairs at this SF"
    by_part: dict[int, list] = {}
    for r in rows:
        by_part.setdefault(r.part, []).append(r)
    for part, recs in by_part.items():
        assert len(recs) <= 3
        scores = [r.cos2_ppm for r in recs]
        assert scores == sorted(scores, reverse=True)
        for r in recs:
            assert r.co >= 2 and r.part != r.rec


def test_ewma_hand_computed_on_planted_series(spark):
    # plant a 3-point series and check the renormalized truncated EWMA
    import datetime as dt

    from breweries_data_engineering_case_spark.plans.qshared import _EWMA_W

    vals = [100, 200, 400]
    rows = [
        (i, dt.datetime(2024, 1, 1, i), 7, "click", float(v), "{}")
        for i, v in enumerate(vals)
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp_ntz, user_id long,"
        " event_type string, value double, props string"
    )
    import tempfile
    from pathlib import Path

    d = Path(tempfile.mkdtemp()) / "events.parquet"
    df.coalesce(1).write.mode("overwrite").parquet(str(d))
    out = {
        r.hour.hour: r.ewma_cents
        for r in registry.QUERIES["events_ewma_smooth"](
            spark, str(d.parent)
        ).collect()
    }
    cents = [v * 100 for v in vals]
    for t in range(3):
        num = sum(_EWMA_W[k] * cents[t - k] for k in range(t + 1))
        den = sum(_EWMA_W[k] for k in range(t + 1))
        assert out[t] == num // den


def test_dedup_cascade_funnel_is_monotone(spark, sf_dir):
    rows = {
        r.stage: r.survivors
        for r in registry.QUERIES["dedup_cascade_funnel"](spark, sf_dir).collect()
    }
    assert list(rows) and set(rows) == {1, 2, 3, 4}
    assert rows[1] >= rows[2] >= rows[3] >= rows[4] > 0


def test_sssp_source_zero_and_edge_relaxation_bound(spark, sf_dir):
    dist = {
        r.node: r.dist
        for r in registry.QUERIES["graph_sssp_bellman_ford"](
            spark, sf_dir
        ).collect()
    }
    src = min(dist, key=lambda n: dist[n])
    assert dist[src] == 0
    # triangle inequality against every direct edge among settled nodes
    li = (
        table_scan(spark, sf_dir, "lineitem")
        .filter(F.col("l_partkey") < 200)
        .select("l_orderkey", "l_partkey")
        .distinct()
        .collect()
    )
    from collections import defaultdict

    basket = defaultdict(set)
    for r in li:
        basket[r.l_orderkey].add(r.l_partkey)
    co = defaultdict(int)
    for parts in basket.values():
        ps = sorted(parts)
        for i, u in enumerate(ps):
            for v in ps[i + 1 :]:
                co[(u, v)] += 1
    for (u, v), c in co.items():
        w = max(1, 1000 // c)
        if u in dist and v in dist:
            assert dist[v] <= dist[u] + w
            assert dist[u] <= dist[v] + w
