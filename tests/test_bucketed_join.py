"""Bucketed tables must join with zero shuffle — the write-once-shuffle-never
co-location path for repeated fact-fact joins at scale.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from breweries_data_engineering_case_spark.sources.readers import table_scan
from breweries_data_engineering_case_spark.sources.writers import stage_bucketed_table


def test_bucketed_join_has_no_shuffle(spark, sf_dir):
    orders = table_scan(spark, sf_dir, "orders")
    lineitem = table_scan(spark, sf_dir, "lineitem")
    bo = stage_bucketed_table(
        spark, "b_orders", ["o_orderkey"], 8, lambda: orders, sort_cols=["o_orderkey"]
    )
    bl = stage_bucketed_table(
        spark, "b_lineitem", ["l_orderkey"], 8, lambda: lineitem, sort_cols=["l_orderkey"]
    )

    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")  # force SMJ
    try:
        joined = bo.join(bl, bo["o_orderkey"] == bl["l_orderkey"]).groupBy(
            "o_orderpriority"
        ).agg(F.count(F.lit(1)).alias("cnt"))
        plan = joined._jdf.queryExecution().executedPlan().toString()
        # the join itself must consume bucketed scans directly: no Exchange
        # below the SortMergeJoin (the final aggregation may still shuffle)
        join_part = plan.split("SortMergeJoin")[-1]
        assert "Exchange" not in join_part, f"bucketed join still shuffles:\n{plan}"

        # and results equal the plain join
        expected = (
            orders.join(lineitem, orders["o_orderkey"] == lineitem["l_orderkey"])
            .groupBy("o_orderpriority")
            .agg(F.count(F.lit(1)).alias("cnt"))
        )
        assert sorted(map(tuple, joined.collect())) == sorted(map(tuple, expected.collect()))
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE IF EXISTS b_orders")
        spark.sql("DROP TABLE IF EXISTS b_lineitem")
