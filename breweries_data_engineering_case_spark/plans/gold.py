"""Gold stage — four-granularity aggregation hierarchy + warehouse history.

≈ ``aggregate_gold`` (app/tasks/gold.py:45-180):

    read silver run slice                     ≈ gold.py:50-53,71
    → base counts (COUNT(*), COALESCE dims)   ≈ gold.py:74-86
    → idempotent append to history by date    ≈ gold.py:89-113 (DELETE+INSERT)
    → 4 granularity exports, partitioned      ≈ gold.py:115-178

Spark computes the base counts from silver once, and they are collected to
the driver once, as an Arrow table. Everything after that is driver-side:

- Why Arrow: gold's size is bounded by the dimension cardinality, not by the
  data volume — at most one row per (country, state, brewery_type), a few
  hundred rows (about 17 KB) however many breweries silver holds. Gold
  writes about 90 files per date, and a driver-side write skips the fixed
  cost of a Spark write (``sources.writers`` gives the figures).
- DELETE+INSERT → dynamic partition overwrite on ``ingestion_date``
  (sources.writers.idempotent_date_overwrite; the writer picks the engine
  from its input and keeps the lake layout of the Spark write).
- The three coarser granularities re-aggregate the base counts with SUM,
  like the reference. The reference's exports read the history table back
  (gold.py:120-121); the collected table holds the same rows, so nothing is
  re-read.
- Rows are not sorted: the reference's ORDER BY (gold.py:84 etc.) is
  presentation only.
- The gold quality aggregates are observed on the collect (``metrics``), so
  the check reads exactly the rows written for the date, at no extra job.
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import DataFrame, Observation, SparkSession

from ..operators.agg import grouped_count
from ..schemas import GOLD_GRANULARITIES, SILVER_SCHEMA
from ..sources.readers import parquet_scan
from ..sources.writers import idempotent_date_overwrite, write_partitioned_parquet
from .quality import GOLD_CHECKS, check_aggs


def base_counts(silver: DataFrame) -> DataFrame:
    """COUNT(*) by (country, state, brewery_type), NULL dims → ''.

    ≈ v_gold_counts (app/tasks/gold.py:74-86).
    """
    return grouped_count(silver, ["country", "state", "brewery_type"])


def regroup_counts(counts: pa.Table, dims: tuple[str, ...]) -> pa.Table:
    """A coarser granularity: ``SUM(brewery_count) … GROUP BY dims``
    (app/tasks/gold.py:133-138), columns ``[*dims, brewery_count]``."""
    summed = counts.group_by(list(dims)).aggregate([("brewery_count", "sum")])
    return pa.table({**{d: summed[d] for d in dims}, "brewery_count": summed["brewery_count_sum"]})


def aggregate_gold(
    spark: SparkSession,
    silver_run_dir: str,
    gold_dir: str,
    warehouse_path: str,
    ingestion_date: str,
    metrics: dict[str, object] | None = None,
) -> dict[str, str]:
    """Full gold stage. Returns {granularity: export_path}; ``metrics``, when
    given, receives the gold quality aggregates observed on the base counts."""
    silver = parquet_scan(spark, silver_run_dir, schema=SILVER_SCHEMA)
    obs = Observation()  # one per call: an Observation serves one action
    counts = base_counts(silver).observe(obs, *check_aggs(**GOLD_CHECKS)).toArrow()
    if metrics is not None:
        metrics.update(obs.get)

    # history table, idempotent per run date (≈ gold.py:89-113)
    idempotent_date_overwrite(counts, warehouse_path, ingestion_date)

    out: dict[str, str] = {}
    base = f"{gold_dir.rstrip('/')}/ingestion_date={ingestion_date}"
    for gran, dims in GOLD_GRANULARITIES.items():
        path = f"{base}/{gran}"
        # partition by all dims but the last (a 1-dim export has one flat
        # file), mirroring _copy_to_gold_layer's PARTITION_BY (gold.py:19-21)
        write_partitioned_parquet(regroup_counts(counts, dims), path, dims[:-1])
        out[gran] = path
    return out
