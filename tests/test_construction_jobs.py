"""Constructing a registry query builds a plan and runs no Spark job."""

from __future__ import annotations

import uuid

from breweries_data_engineering_case_spark.plans import registry

#: The lake_queries benchmark mix (perfbench/run.py MIX).
LAKE_QUERIES = [
    "tpch_q1_pricing_summary",
    "tpch_q3_top_orders",
    "tpch_q5_local_supplier_volume",
    "join_broadcast_dim",
    "window_dedup_rownum",
    "silver_clean_contract",
    "gold_counts_hierarchy",
    "events_session_window",
    "dedup_cascade_funnel",
    "ann_cosine_topk",
    "doc_neardup_incremental_snapshot",
]


def test_lake_queries_construct_without_a_spark_job(spark, sf_dir):
    """After one warm call, which stages what the query reuses, a second
    construction of each mix query launches no Spark job. Jobs are counted
    by job group, which the status store's job retention cannot hide."""
    sc = spark.sparkContext
    jobs = {}
    for name in LAKE_QUERIES:
        q = registry.QUERIES[name]
        q(spark, sf_dir).write.format("noop").mode("overwrite").save()
        group = f"construct-{name}-{uuid.uuid4().hex}"
        sc.setJobGroup(group, f"construct {name}")
        try:
            q(spark, sf_dir)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        sc._jsc.sc().listenerBus().waitUntilEmpty(30_000)  # let job events reach the tracker
        jobs[name] = len(sc.statusTracker().getJobIdsForGroup(group))
    assert jobs == dict.fromkeys(LAKE_QUERIES, 0)
