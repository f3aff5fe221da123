"""applyInPandasWithState tracker."""

from __future__ import annotations

from pyspark.sql import functions as F

from breweries_data_engineering_case_spark.sources.readers import table_scan
from breweries_data_engineering_case_spark.streaming.events import stream_events
from breweries_data_engineering_case_spark.streaming.stateful import (
    user_activity_tracker,
)


def test_stateful_user_tracker_matches_batch(spark, sf_dir, tmp_path):
    src = str(tmp_path / "in")
    table_scan(spark, sf_dir, "events").repartition(4).write.mode("overwrite").parquet(src)

    tracked = user_activity_tracker(stream_events(spark, src))
    q = (
        tracked.writeStream.format("memory")
        .queryName("t_user_tracker")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    # update mode may emit a row per user per micro-batch: final state = last
    got_df = spark.table("t_user_tracker")
    batch = (
        spark.read.parquet(src)
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("event_cnt"),
            F.sum("value").alias("value_sum"),
            F.max("value").alias("max_value"),
        )
    )
    b = {r.user_id: (r.event_cnt, round(r.value_sum, 6), r.max_value) for r in batch.collect()}
    # keep the max-count (latest) emission per user
    g: dict = {}
    for r in got_df.collect():
        cur = g.get(r.user_id)
        if cur is None or r.event_cnt > cur[0]:
            g[r.user_id] = (r.event_cnt, round(r.value_sum, 6), r.max_value)
    assert g == b

