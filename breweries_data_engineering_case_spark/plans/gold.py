"""Gold stage — four-granularity aggregation hierarchy + warehouse history.

≈ ``aggregate_gold`` (app/tasks/gold.py:45-180):

    read silver run slice                     ≈ gold.py:50-53,71
    → base counts (COUNT(*), COALESCE dims)   ≈ gold.py:74-86
    → idempotent append to history by date    ≈ gold.py:89-113 (DELETE+INSERT)
    → 4 granularity exports, partitioned      ≈ gold.py:115-178

Spark-first choices:
- DELETE+INSERT → dynamic partition overwrite on ``ingestion_date``
  (sources.writers.idempotent_date_overwrite).
- The base counts (at most a few hundred rows) are computed from silver
  once, into one local-checkpointed, single-partition frame. The history
  write and all four exports read that frame: the three coarser
  granularities re-aggregate it with SUM, like the reference, and a
  single-partition input needs no shuffle. The reference's exports read
  the history table back (gold.py:120-121); the frame holds the same rows,
  so nothing is re-read. A local checkpoint lives on the executors: losing
  one fails the stage, and the stage retry recomputes it from silver.
- Rows are not sorted: the reference's ORDER BY (gold.py:84 etc.) is
  presentation only, and every sort would cost a range-sampling job.
- The gold quality aggregates are observed on the history write
  (``metrics``), so the check reads exactly the rows written for the date.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation, SparkSession

from ..operators.agg import grouped_count, regroup_sum
from ..schemas import GOLD_GRANULARITIES
from ..sources.readers import parquet_scan
from ..sources.writers import idempotent_date_overwrite, write_partitioned_parquet
from .quality import GOLD_CHECKS, check_aggs


def base_counts(silver: DataFrame) -> DataFrame:
    """COUNT(*) by (country, state, brewery_type), NULL dims → ''.

    ≈ v_gold_counts (app/tasks/gold.py:74-86).
    """
    return grouped_count(silver, ["country", "state", "brewery_type"])


def aggregate_gold(
    spark: SparkSession,
    silver_run_dir: str,
    gold_dir: str,
    warehouse_path: str,
    ingestion_date: str,
    metrics: dict[str, object] | None = None,
) -> dict[str, str]:
    """Full gold stage. Returns {granularity: export_path}; ``metrics``, when
    given, receives the gold quality aggregates observed on the history write."""
    silver = parquet_scan(spark, silver_run_dir)
    counts = base_counts(silver).localCheckpoint().coalesce(1)

    # history table, idempotent per run date (≈ gold.py:89-113)
    obs = Observation()  # one per call: an Observation serves one action
    idempotent_date_overwrite(
        counts.observe(obs, *check_aggs(**GOLD_CHECKS)), warehouse_path, ingestion_date
    )
    if metrics is not None:
        metrics.update(obs.get)

    out: dict[str, str] = {}
    base = f"{gold_dir.rstrip('/')}/ingestion_date={ingestion_date}"
    finest = GOLD_GRANULARITIES["by_country_state_type"]
    for gran, dims in GOLD_GRANULARITIES.items():
        sel = counts if dims == finest else regroup_sum(counts, dims)
        path = f"{base}/{gran}"
        # partition by all dims but the last (a 1-dim export partitions flat),
        # mirroring _copy_to_gold_layer's PARTITION_BY (gold.py:19-21)
        part_cols = list(dims[:-1])
        if part_cols:
            write_partitioned_parquet(sel, path, part_cols)
        else:
            sel.write.mode("overwrite").option("compression", "snappy").parquet(path)
        out[gran] = path
    return out
