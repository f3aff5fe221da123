"""Structured Streaming operators: file-source stream over event parquet,
stateful dedup and a foreachBatch rollup — each run with AvailableNow and
checked against the equivalent batch computation.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from breweries_data_engineering_case_spark.sources.readers import table_scan
from breweries_data_engineering_case_spark.streaming.events import (
    stream_events,
    streaming_dedup,
)


@pytest.fixture(scope="module")
def events_dir(spark, sf_dir, tmp_path_factory):
    """Re-land the events table as micro-batch-sized files with µs
    timestamps (the raw testdata carries ns, which streaming scans reject)."""
    d = tmp_path_factory.mktemp("events_stream")
    table_scan(spark, sf_dir, "events").repartition(4).write.mode("overwrite").parquet(str(d / "in"))
    return d


def test_streaming_dedup_bounded_state(spark, events_dir):
    stream = stream_events(spark, str(events_dir / "in"))
    deduped = streaming_dedup(stream, keys=["user_id"], watermark="365 days")
    (
        deduped.writeStream.format("parquet")
        .option("path", str(events_dir / "out_dedup"))
        .option("checkpointLocation", str(events_dir / "ck_dedup"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )
    got = spark.read.parquet(str(events_dir / "out_dedup"))
    n_users = (
        spark.read.parquet(str(events_dir / "in")).select("user_id").distinct().count()
    )
    assert got.count() == got.select("user_id").distinct().count() == n_users


def test_foreach_batch_rollup_matches_batch(spark, events_dir, tmp_path):
    """The incrementally-maintained daily rollup (foreachBatch + merge per
    micro-batch) must equal the one-shot batch rollup of the same data —
    exactness of partial+stored combination for count/sum."""
    from breweries_data_engineering_case_spark.streaming.events import (
        maintain_rollup_foreach_batch,
    )

    src = str(events_dir / "in")
    rollup = str(tmp_path / "rollup")
    ckpt = str(tmp_path / "ckpt")
    # force several micro-batches so the merge path actually executes
    stream = (
        spark.readStream.schema(stream_events(spark, src).schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    maintain_rollup_foreach_batch(stream, rollup, ckpt)

    got = {
        r.day: (r.cnt, r.value_sum) for r in spark.read.parquet(rollup).collect()
    }
    # decimal accumulation is exact and associative ⇒ the incrementally
    # maintained totals must equal the one-shot decimal rollup EXACTLY,
    # regardless of how the stream was micro-batched
    batch = spark.read.parquet(src).groupBy(F.to_date("ts").alias("day")).agg(
        F.count(F.lit(1)).alias("cnt"),
        F.sum(F.col("value").cast("decimal(18,4)"))
        .cast("decimal(28,4)")
        .alias("value_sum"),
    )
    want = {r.day: (r.cnt, r.value_sum) for r in batch.collect()}
    assert got == want


def test_foreach_batch_rollup_resumes_incrementally(spark, events_dir, tmp_path):
    """Restart semantics: a second run over the SAME checkpoint must process
    ONLY newly-arrived files, and the maintained snapshot must equal the
    batch rollup of everything seen across both runs — the incremental
    production mode (each registry invocation instead replays fresh)."""
    from breweries_data_engineering_case_spark.streaming.events import (
        maintain_rollup_foreach_batch,
    )

    src = str(tmp_path / "in")
    rollup = str(tmp_path / "rollup")
    ckpt = str(tmp_path / "ckpt")
    full = spark.read.parquet(str(events_dir / "in"))
    first = full.filter(F.col("user_id") % 2 == 0)
    second = full.filter(F.col("user_id") % 2 == 1)
    first.coalesce(1).write.mode("overwrite").parquet(src)

    def run():
        stream = (
            spark.readStream.schema(full.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        maintain_rollup_foreach_batch(stream, rollup, ckpt)

    run()
    snap1 = {r.day: (r.cnt, r.value_sum) for r in spark.read.parquet(rollup).collect()}
    # drop the new files in and resume from the same checkpoint
    second.coalesce(1).write.mode("append").parquet(src)
    run()
    snap2 = {r.day: (r.cnt, r.value_sum) for r in spark.read.parquet(rollup).collect()}

    def rollup_of(df):
        return {
            r.day: (r.cnt, r.value_sum)
            for r in df.groupBy(F.to_date("ts").alias("day"))
            .agg(
                F.count(F.lit(1)).alias("cnt"),
                F.sum(F.col("value").cast("decimal(18,4)"))
                .cast("decimal(28,4)")
                .alias("value_sum"),
            )
            .collect()
        }

    assert snap1 == rollup_of(first)
    assert snap2 == rollup_of(full)
