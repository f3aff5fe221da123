"""The program's session evaluates plans interpreted, and keeps Spark's
defaults where ``session.get_spark`` sets nothing."""

from __future__ import annotations

from pyspark.sql import functions as F


def _node_names(plan) -> list[str]:
    """Class names of every node under an executed physical plan, through
    the adaptive wrapper and its query stages."""
    names, stack = [], [plan]
    while stack:
        node = stack.pop()
        name = node.getClass().getSimpleName()
        names.append(name)
        if name == "AdaptiveSparkPlanExec":
            stack.append(node.executedPlan())
        elif name.endswith("QueryStageExec"):
            stack.append(node.plan())
        kids = node.children()
        stack.extend(kids.apply(i) for i in range(kids.size()))
    return names


def test_filter_group_by_runs_interpreted(spark):
    metrics = spark.sparkContext._jvm.org.apache.spark.metrics.source.CodegenMetrics
    compiles = metrics.METRIC_COMPILATION_TIME()
    df = (
        spark.range(1000)
        .where(F.col("id") > 10)
        .groupBy((F.col("id") % 7).alias("k"))
        .agg(F.sum("id").alias("s"))
    )
    before = compiles.getCount()
    rows = df.collect()
    added = compiles.getCount() - before
    assert len(rows) == 7
    names = _node_names(df._jdf.queryExecution().executedPlan())
    assert "HashAggregateExec" in names
    assert "WholeStageCodegenExec" not in names
    # with codegen on, this query compiles 7 Janino classes
    assert added <= 2, added


def test_unset_settings_read_spark_defaults(spark):
    # 128MB; conf.get returns the string as set, so read the parsed value
    assert spark._jsparkSession.sessionState().conf().filesMaxPartitionBytes() == 128 << 20
    assert {
        k: spark.conf.get(k)
        for k in (
            "spark.sql.adaptive.enabled",
            "spark.sql.adaptive.coalescePartitions.enabled",
            "spark.sql.adaptive.skewJoin.enabled",
            "spark.sql.parquet.compression.codec",
            "spark.sql.execution.arrow.maxRecordsPerBatch",
        )
    } == {
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.parquet.compression.codec": "snappy",
        "spark.sql.execution.arrow.maxRecordsPerBatch": "10000",
    }
