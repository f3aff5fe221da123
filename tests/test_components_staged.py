"""Round-11 connected-components rework (VERDICT r10 #1 + #5).

Covers: (a) the bucket-staged symmetrized edge list is scanned
``Bucketed: true`` with no Exchange above the probe inside the CC loop
(the pagerank plan-assertion pattern, tests/test_pagerank.py), (b) session
staging of bucketed tables: a failed stage leaves no catalog entry, a
dropped entry is staged again, one file per bucket, and (c) the reworked
operator's semantics: incident-only iteration + appended singletons,
induced-subgraph edge restriction, and the fused min/max convergence check
all preserve the exact (id, component) output of the pre-rework
implementation.
"""

from __future__ import annotations

from pathlib import Path

import pytest
from pyspark.sql import functions as F

from breweries_data_engineering_case_spark.operators.components import (
    connected_components,
)
from breweries_data_engineering_case_spark.plans import registry
from breweries_data_engineering_case_spark.sources.writers import (
    stage_bucketed_table,
)


def _components_of(spark, pairs, vertex_ids, **kwargs):
    verts = spark.createDataFrame(
        [(int(v),) for v in vertex_ids], "node bigint"
    )
    edges = spark.createDataFrame(
        [(int(a), int(b)) for a, b in pairs], "id_a bigint, id_b bigint"
    )
    out = connected_components(
        verts, lambda: edges, id_col="node", src_col="id_a", dst_col="id_b", **kwargs
    )
    return {(r.node, r.component) for r in out.collect()}


def test_chain_star_and_singletons(spark, cc_distributed):
    # chain 1-2-3-4, star 10-{11,12,13}, isolated 99 → min labels
    got = _components_of(
        spark,
        [(1, 2), (2, 3), (3, 4), (10, 11), (10, 12), (10, 13)],
        [1, 2, 3, 4, 10, 11, 12, 13, 99],
    )
    assert got == {
        (1, 1),
        (2, 1),
        (3, 1),
        (4, 1),
        (10, 10),
        (11, 10),
        (12, 10),
        (13, 10),
        (99, 99),
    }


def test_empty_edges_all_singletons(spark, cc_distributed):
    got = _components_of(spark, [], [5, 6, 7])
    assert got == {(5, 5), (6, 6), (7, 7)}


def test_edges_outside_vertices_ignored(spark, cc_distributed):
    # (2,50): 50 is not a vertex → the edge is dropped entirely (induced
    # subgraph), matching the pre-round-11 join semantics where an unknown
    # endpoint contributed no label and received none
    got = _components_of(spark, [(1, 2), (2, 50)], [1, 2, 3])
    assert got == {(1, 1), (2, 1), (3, 3)}


def test_long_chain_converges(spark, cc_distributed):
    # a 24-node path exercises multiple gather+jump rounds
    n = 24
    got = _components_of(spark, [(i, i + 1) for i in range(n - 1)], range(n))
    assert got == {(i, 0) for i in range(n)}


def test_cascade_cc_probe_scans_bucketed_no_reexchange(spark, sf_dir, cc_distributed):
    """VERDICT r10 #1 'done' criterion: inside the dedup_cascade_funnel CC
    loop, the gather join's probe side must scan the staged bucketed sym
    table (Bucketed: true) with NO shuffle Exchange between the scan and
    the join — the exchange over the dominant table is paid once at stage
    time, never per iteration. The per-round plans are captured via the
    operator's PLAN_CAPTURE hook (the loop's localCheckpoints truncate them
    out of the returned frame's lineage)."""
    from breweries_data_engineering_case_spark.operators import components

    # the cascade's bench-scale graph takes the small-graph fast path
    # (round 12); cc_distributed forces the distributed loop so its plan
    # stays asserted — the path every over-threshold (100 TB-regime) graph
    # takes
    components.PLAN_CAPTURE = captured = []
    try:
        df = registry.queries()["dedup_cascade_funnel"](spark, sf_dir)
        df.write.format("noop").mode("overwrite").save()
    finally:
        components.PLAN_CAPTURE = None
    assert captured, "CC loop ran no rounds"
    for plan in captured:
        # the captured tree must be the AQE-FINAL plan of the round that
        # executed, not a pre-adaptive compile (ADVICE r11)
        assert "isFinalPlan=true" in plan, "captured plan is not AQE-final"
        lines = plan.splitlines()
        scan_idx = [
            i
            for i, ln in enumerate(lines)
            if "Scan parquet" in ln and "bdec_cc_sym_" in ln
        ]
        assert scan_idx, "gather round did not scan the staged sym table"
        n_probe = 0
        for i in scan_idx:
            assert "Bucketed: true" in lines[i], "sym scan not bucketed"
            # walk up from the scan to its nearest Join: a SHUFFLE exchange
            # between them would mean the bucketing was not honored and the
            # edge list re-shuffles every iteration
            j = i
            while j > 0 and "Join" not in lines[j]:
                assert "Exchange hashpartitioning" not in lines[j], (
                    "CC probe side re-exchanged:\n"
                    + "\n".join(lines[max(0, j - 3) : i + 1])
                )
                j -= 1
            if "ShuffledHashJoin" in lines[j]:
                n_probe += 1
        assert n_probe >= 1, "no exchange-free bucketed probe in the round"


def test_staging_crash_windows_restage_never_torn(spark):
    """A stage whose builder fails registers nothing, so the next call in
    the session stages again and serves the complete table."""
    name = "bdec_test_stage_crash"
    calls = []

    def builder():
        calls.append(1)
        if len(calls) == 1:
            raise RuntimeError("stager died")
        return spark.range(64).select(F.col("id").alias("d"))

    with pytest.raises(RuntimeError, match="stager died"):
        stage_bucketed_table(spark, name, ["d"], num_buckets=4, builder=builder)
    assert not spark.catalog.tableExists(name)
    t = stage_bucketed_table(spark, name, ["d"], num_buckets=4, builder=builder)
    assert t.count() == 64 and len(calls) == 2
    # a catalog hit serves the staged table without calling the builder
    assert stage_bucketed_table(
        spark, name, ["d"], num_buckets=4, builder=builder
    ).count() == 64
    assert len(calls) == 2
    spark.sql(f"DROP TABLE `{name}`")


def test_pagerank_staging_survives_catalog_reset(spark, sf_dir):
    """The pagerank staged tables live in the session workspace: after their
    catalog entries are dropped the query stages them again there and
    returns the same ranks."""
    from breweries_data_engineering_case_spark.sources.writers import (
        session_workspace,
    )

    q = registry.queries()["graph_pagerank_salted"]
    base = {(r.node, r.pr) for r in q(spark, sf_dir).collect()}
    # catalog.listTables() cannot decode its rows in the interpreted session
    tables = [
        r.tableName
        for r in spark.sql("SHOW TABLES").collect()
        if r.tableName.startswith(("bdec_pr_salted_edges_", "bdec_pr_nodes_"))
    ]
    assert len(tables) == 2
    for t in tables:
        spark.sql(f"DROP TABLE `{t}`")
    again = {(r.node, r.pr) for r in q(spark, sf_dir).collect()}
    assert again == base
    for t in tables:
        assert spark.catalog.tableExists(t)
        assert list((session_workspace(spark) / t).glob("*.parquet"))


def test_staged_row_count_matches_scan(spark):
    """The driver read of a staged frame (the CC fast-path probe): the
    footer row count is exact, so the rows come exactly when there are at
    most the bound, and a plain frame returns None (it must fall back to
    the limit-probe job)."""
    from breweries_data_engineering_case_spark.operators.components import (
        _staged_rows,
    )

    name = "bdec_test_stage_rowcount"
    staged = stage_bucketed_table(
        spark,
        name,
        ["d"],
        num_buckets=4,
        builder=lambda: spark.range(137).select(F.col("id").alias("d")),
    )
    rows = _staged_rows(staged, 137)
    assert len(rows) == 137 == staged.count()
    assert sorted(rows) == [(i,) for i in range(137)]
    assert _staged_rows(staged, 136) is None
    assert _staged_rows(spark.range(5), 137) is None
    spark.sql(f"DROP TABLE `{name}`")


def test_staged_generation_writes_one_file_per_bucket(spark):
    """r15 layout v2 (guide §6): the staged bucketed write repartitions by
    the bucket columns into num_buckets tasks, so a staged table holds at
    most ONE parquet file per bucket — a many-task builder must
    not fan out into tasks×buckets tiny files (the sf0.1 pagerank edge
    table reached 2048 files for 32 buckets; every scan task then paid ~64
    synchronized Hadoop-Configuration clones per stage, a measured lock
    convoy). Layout, not content: rows and bucketing semantics unchanged."""
    name = "bdec_test_stage_layout"
    staged = stage_bucketed_table(
        spark,
        name,
        ["d"],
        num_buckets=8,
        builder=lambda: spark.range(10_000)
        .repartition(64)  # a many-task builder, the pathological input
        .select(F.col("id").alias("d")),
    )
    files = list(Path(staged._bdec_stage_path).glob("*.parquet"))
    assert 0 < len(files) <= 8, f"{len(files)} files for 8 buckets"
    assert staged.count() == 10_000
    spark.sql(f"DROP TABLE `{name}`")
