"""Connected components + keep-one-per-cluster dedup decisions."""

from __future__ import annotations

from breweries_data_engineering_case_spark.operators.components import (
    connected_components,
    keep_one_per_cluster,
)


def test_components_transitive_closure(spark, cc_distributed):
    vertices = spark.createDataFrame([(i,) for i in range(8)], "id long")
    # {0,1,2} chained (0-1, 1-2), {3,4}, singletons 5,6,7
    edges = spark.createDataFrame([(0, 1), (1, 2), (3, 4)], "id_a long, id_b long")
    got = {r.id: r.component for r in connected_components(vertices, edges).collect()}
    assert got == {0: 0, 1: 0, 2: 0, 3: 3, 4: 3, 5: 5, 6: 6, 7: 7}


def test_components_long_chain_converges(spark, cc_distributed):
    n = 12  # diameter > typical near-dup clusters; needs several rounds
    vertices = spark.createDataFrame([(i,) for i in range(n)], "id long")
    edges = spark.createDataFrame([(i, i + 1) for i in range(n - 1)], "id_a long, id_b long")
    got = {r.id: r.component for r in connected_components(vertices, edges).collect()}
    assert set(got.values()) == {0}


def test_keep_one_per_cluster(spark):
    docs = spark.createDataFrame([(i,) for i in [10, 11, 12, 20, 30]], "doc_id long")
    pairs = spark.createDataFrame([(10, 11), (11, 12)], "id_a long, id_b long")
    got = {r.doc_id: (r.component, r.is_kept) for r in keep_one_per_cluster(docs, pairs).collect()}
    assert got == {
        10: (10, True), 11: (10, False), 12: (10, False),
        20: (20, True), 30: (30, True),
    }
