"""Event-time streaming operators over the events stream.

The reference is pure batch (SURVEY.md §2.9) — incremental processing is the
``ingestion_date`` run parameter. These are the Spark-native upgrades:

- ``stream_events``: file-source stream (works over a growing directory; use
  ``Trigger.AvailableNow`` for batch-like catch-up runs).
- ``streaming_dedup``: stateful ``dropDuplicatesWithinWatermark`` — the
  streaming analog of the silver dedup (W1, app/tasks/silver.py:37-41) with
  bounded state.
- ``maintain_rollup_foreach_batch``: an incrementally maintained daily
  rollup, merged per micro-batch in ``foreachBatch``.

Scale notes: watermark delay bounds state size; the shuffle key is
(window, event_type), which is low-cardinality — AQE coalesces. For
session-style analysis, compose with ``F.session_window``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

EVENTS_STREAM_SCHEMA = StructType(
    [
        StructField("event_id", LongType()),
        StructField("ts", TimestampType()),
        StructField("user_id", LongType()),
        StructField("event_type", StringType()),
        StructField("value", DoubleType()),
        StructField("props", StringType()),
    ]
)


def stream_events(spark: SparkSession, path: str) -> DataFrame:
    """File-source stream over a directory of event parquet files."""
    return spark.readStream.format("parquet").schema(EVENTS_STREAM_SCHEMA).load(path)


def streaming_dedup(
    events: DataFrame, keys: list[str], watermark: str = "2 hours"
) -> DataFrame:
    """Stateful exactly-once dedup on ``keys`` with bounded state — the
    streaming analog of silver's per-id dedup (W1): duplicates arriving
    within the watermark horizon of ``ts`` are dropped, state for older
    keys is evicted."""
    return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(keys)


def maintain_rollup_foreach_batch(
    stream: DataFrame,
    rollup_path: str,
    checkpoint: str,
) -> None:
    """Incrementally-maintained daily rollup of ``ts``: the continuous-aggregate
    pattern (streaming twin of registry ``events_time_rollup``'s leaf
    level). Each micro-batch is aggregated to per-day partials, then merged
    into the rollup snapshot with ``merge_upsert`` inside ``foreachBatch``
    — the hook for any sink without native streaming upsert. Combining
    per-batch partials with stored totals is exact for algebraic aggregates
    (count/sum), so the maintained table always equals the batch rollup of
    everything processed so far (asserted in tests/test_streaming_events.py).

    Scale notes: per-batch work is one partial aggregation (narrow) + one
    key-equi merge join against the snapshot, which at 100 TB is bucketed by
    the rollup key so the merge is shuffle-free; state lives in the table,
    not executor memory, so there is no watermark/state-store growth at all.
    """
    from ..operators.merge import merge_upsert

    def upsert_batch(batch: DataFrame, batch_id: int) -> None:
        spark = batch.sparkSession
        # value partials accumulate as DECIMAL(18,4) sums: decimal addition
        # is exact and associative, so the maintained total is independent
        # of micro-batch boundaries AND bitwise-equal to the one-shot batch
        # rollup (float accumulation would drift with batch order). The
        # running total is re-narrowed to decimal(28,4) after each merge so
        # the stored schema stays stable across arbitrarily many batches.
        partial = batch.groupBy(F.to_date("ts").alias("day")).agg(
            F.count(F.lit(1)).alias("cnt"),
            F.sum(F.col("value").cast("decimal(18,4)")).alias("value_sum"),
        )
        try:
            current = spark.read.parquet(rollup_path)
            have = True
        except Exception:
            have = False
        if have:
            merged_new = (
                partial.alias("p")
                .join(current.alias("c"), "day", "left_outer")
                .select(
                    F.col("day"),
                    (F.col("p.cnt") + F.coalesce(F.col("c.cnt"), F.lit(0))).alias(
                        "cnt"
                    ),
                    (
                        F.col("p.value_sum")
                        + F.coalesce(
                            F.col("c.value_sum"),
                            F.lit(0).cast("decimal(28,4)"),
                        )
                    )
                    .cast("decimal(28,4)")
                    .alias("value_sum"),
                    F.lit(False).alias("_deleted"),
                )
            )
            out = merge_upsert(current, merged_new, key="day")
        else:
            out = partial
        # rewrite the (small) snapshot atomically-enough for a demo sink;
        # a real lake table would use a transactional format here
        tmp = rollup_path.rstrip("/") + "__stage"
        out.write.mode("overwrite").parquet(tmp)
        spark.read.parquet(tmp).write.mode("overwrite").parquet(rollup_path)

    q = (
        stream.writeStream.foreachBatch(upsert_batch)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
