"""Connected components + keep-one-per-cluster dedup decisions."""

from __future__ import annotations

import pytest

from breweries_data_engineering_case_spark.operators.components import (
    _union_find,
    connected_components,
    keep_one_per_cluster,
)


def test_components_transitive_closure(spark, cc_distributed):
    vertices = spark.createDataFrame([(i,) for i in range(8)], "id long")
    # {0,1,2} chained (0-1, 1-2), {3,4}, singletons 5,6,7
    edges = spark.createDataFrame([(0, 1), (1, 2), (3, 4)], "id_a long, id_b long")
    got = {r.id: r.component for r in connected_components(vertices, lambda: edges).collect()}
    assert got == {0: 0, 1: 0, 2: 0, 3: 3, 4: 3, 5: 5, 6: 6, 7: 7}


def test_components_long_chain_converges(spark, cc_distributed):
    n = 12  # diameter > typical near-dup clusters; needs several rounds
    vertices = spark.createDataFrame([(i,) for i in range(n)], "id long")
    edges = spark.createDataFrame([(i, i + 1) for i in range(n - 1)], "id_a long, id_b long")
    got = {r.id: r.component for r in connected_components(vertices, lambda: edges).collect()}
    assert set(got.values()) == {0}


def test_keep_one_per_cluster(spark):
    docs = spark.createDataFrame([(i,) for i in [10, 11, 12, 20, 30]], "doc_id long")
    pairs = spark.createDataFrame([(10, 11), (11, 12)], "id_a long, id_b long")
    got = {r.doc_id: (r.component, r.is_kept) for r in keep_one_per_cluster(docs, lambda: pairs).collect()}
    assert got == {
        10: (10, True), 11: (10, False), 12: (10, False),
        20: (20, True), 30: (30, True),
    }


def _arrow_frame(spark, **cols):
    """An int32 frame built from Arrow (a LocalTableScan: no Python rows)."""
    import pyarrow as pa

    return spark.createDataFrame(pa.table({k: pa.array(v, pa.int32()) for k, v in cols.items()}))


def _assert_local_scan_only(frame):
    """Every leaf of the executed plan is a LocalTableScan and no RDD in the
    lineage runs a Python worker."""
    assert "PythonRDD" not in frame._jdf.queryExecution().toRdd().toDebugString()
    plan = frame._jdf.queryExecution().executedPlan().toString()
    leaves = [ln for ln in plan.splitlines() if "Scan" in ln]
    assert leaves and all("LocalTableScan" in ln for ln in leaves), plan


@pytest.mark.parametrize("pairs", [[(1, 2), (2, 3), (10, 11)], []], ids=["edges", "no_edges"])
def test_small_graph_labels_are_a_local_scan(spark, pairs):
    """The driver solve's labels come back as an Arrow LocalTableScan:
    scanning the result runs no Python worker, the labels equal the
    union-find of the same pairs, and the id type is kept."""
    from pyspark.sql.types import IntegerType

    verts = [1, 2, 3, 10, 11, 12]
    out = connected_components(
        _arrow_frame(spark, node=verts),
        lambda: _arrow_frame(
            spark, id_a=[a for a, _ in pairs], id_b=[b for _, b in pairs]
        ),
        id_col="node",
    )
    assert out.schema["node"].dataType == out.schema["component"].dataType == IntegerType()
    comp = _union_find(pairs)
    assert {(r.node, r.component) for r in out.collect()} == {
        (v, comp.get(v, v)) for v in verts
    }
    _assert_local_scan_only(out)


def test_staged_edge_list_is_reused_without_building_edges(spark):
    """A call whose edge list is already staged reads it on the driver and
    never calls the ``edges`` builder."""
    verts = _arrow_frame(spark, node=[1, 2, 3, 4, 5])

    def solve(edges):
        out = connected_components(
            verts, edges, id_col="node", stage_key="cc_test_reuse:v1"
        )
        return {(r.node, r.component) for r in out.collect()}, out

    first, _ = solve(lambda: _arrow_frame(spark, id_a=[1, 2, 4], id_b=[2, 3, 5]))

    def unbuildable():
        pytest.fail("edges were built although the staged edge list exists")

    again, out = solve(unbuildable)
    assert first == again == {(1, 1), (2, 1), (3, 1), (4, 4), (5, 4)}
    _assert_local_scan_only(out)
    for r in spark.sql("SHOW TABLES").collect():
        if r.tableName.startswith("bdec_cc_sym_cc_test_reuse_"):
            spark.sql(f"DROP TABLE `{r.tableName}`")
