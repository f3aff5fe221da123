"""Silver stage — the reference's flagship "query".

Re-expresses ``transform_silver`` (app/tasks/silver.py:6-74) as one lazy
DataFrame chain:

    scan (schema'd, no inference;          ≈ silver.py:18-20
          one-line pages as JSON lines)
    → cleaning projection                  ≈ silver.py:21-36
    → dedup on id                          ≈ silver.py:37-41
    → contract enforcement filters         ≈ silver.py:42-51
    → collect to one Arrow table
    → partitioned snappy parquet write     ≈ silver.py:56-71
    → row count                            ≈ silver.py:73

Fidelity notes:
- the reference's final COUNT(*) re-executes the whole CTE (views aren't
  materialized); here the count — and the silver quality aggregates — are
  a ``DataFrame.observe`` on the collect, so ``toArrow()`` is the only
  action and bronze is read once (SURVEY.md §3.2).
- the collected table is written on the driver by ``sources.writers``'
  Arrow branch, in the Spark write's layout, with no Spark write job
  (SURVEY.md D6). Its size is the deduplicated day of the feed, about 8k
  rows for the whole Open Brewery DB; ``spark.driver.maxResultSize`` caps
  the collect and fails it loudly beyond that.
- bronze is read as the date DIRECTORY with a ``*.json`` file filter, not as
  the ``…/*.json`` glob: a glob expanding to more than 32 paths makes Spark
  list them in a parallel listing job, a directory is listed on the driver.
- dedup uses ``dedup_any`` (aggregate-planned, map-side combine) because the
  reference's tie-break is arbitrary anyway (SURVEY.md W1).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from ..operators.dedup import dedup_any
from ..schemas import BREWERY_RAW_SCHEMA, SILVER_PARTITION_COLS
from ..sources.readers import json_array_scan
from ..sources.writers import write_partitioned_parquet
from .quality import check_aggs


def _clean_sql(col: str) -> str:
    """Trimmed, blank-to-NULL string: ``NULLIF(TRIM(CAST(x AS VARCHAR)), '')``."""
    return f"nullif(trim(cast(`{col}` as string)), '')"


def clean_breweries(raw: DataFrame) -> DataFrame:
    """The 5-stage cleaning semantics as one projection + dedup + filters.

    ≈ CTEs ``cleaned`` (app/tasks/silver.py:21-36), ``dedup`` (:37-41),
    ``enforced`` (:42-51).

    The projection and filters are built as SQL text (three parses), not as
    ~90 py4j Column calls that each cost driver time on every construction.
    The comments map each piece onto the reference.
    """
    cleaned = raw.selectExpr(
        # Each string column is NULLIF(TRIM(CAST(x AS VARCHAR)), '')
        # (app/tasks/silver.py:24-34).
        # DELIBERATE DEVIATION from the reference (recorded per VERDICT r8
        # #7): app/tasks/silver.py:23 bare-casts id (a whitespace-only id
        # survives there and then passes its :45 IS NOT NULL filter), while
        # this pipeline TRIM+NULLIFs id like every other string column, so
        # a whitespace-only id is dropped by the NOT NULL enforcement below.
        # An all-blank primary key is never a usable join/dedup key, so the
        # stricter behavior is kept on purpose; the registry oracle
        # (silver_clean_contract) mirrors THIS contract. See SURVEY.md §2.2.
        f"{_clean_sql('id')} AS id",
        f"{_clean_sql('name')} AS name",
        f"{_clean_sql('brewery_type')} AS brewery_type",
        f"{_clean_sql('country')} AS country",
        # state falls back to state_province when blank (silver.py:27-30)
        f"coalesce({_clean_sql('state')}, {_clean_sql('state_province')}) AS state",
        f"{_clean_sql('city')} AS city",
        f"{_clean_sql('postal_code')} AS postal_code",
        # TRY_CAST(.. AS DOUBLE) (silver.py:33-34): NULL on malformed input,
        # never an error, under either spark.sql.ansi.enabled setting
        f"try_cast({_clean_sql('latitude')} as double) AS latitude",
        f"try_cast({_clean_sql('longitude')} as double) AS longitude",
    )
    # one row per id, arbitrary pick (silver.py:37-41)
    deduped = dedup_any(cleaned, ["id"])
    enforced = deduped.filter(
        # NOT NULL contract columns (silver.py:44-48)
        F.expr(
            "id IS NOT NULL AND name IS NOT NULL AND "
            "country IS NOT NULL AND state IS NOT NULL"
        )
    ).filter(
        # coordinates NULL or in range (silver.py:49-50)
        F.expr(
            "(latitude IS NULL OR (latitude >= -90.0D AND latitude <= 90.0D))"
            " AND (longitude IS NULL OR"
            " (longitude >= -180.0D AND longitude <= 180.0D))"
        )
    )
    return enforced


def transform_silver(
    spark: SparkSession,
    bronze_dir: str,
    silver_dir: str,
    ingestion_date: str,
    metrics: dict[str, object] | None = None,
) -> tuple[int, str]:
    """Full silver stage: bronze JSON pages → clean → collect → partitioned write.

    Returns (row_count, output_path), like app/tasks/silver.py:73-74. The
    count and the silver quality aggregates are observed on the collect of
    the rows written; ``metrics``, when given, receives that observed row
    for ``quality.run_checks``.
    """
    date_dir = f"{bronze_dir.rstrip('/')}/ingestion_date={ingestion_date}"
    raw = json_array_scan(spark, date_dir, schema=BREWERY_RAW_SCHEMA, glob_filter="*.json")
    obs = Observation()  # one per call: an Observation serves one action
    table = clean_breweries(raw).observe(obs, *check_aggs()).toArrow()
    out = f"{silver_dir.rstrip('/')}/ingestion_date={ingestion_date}"
    write_partitioned_parquet(table, out, SILVER_PARTITION_COLS)
    observed = obs.get
    if metrics is not None:
        metrics.update(observed)
    return observed["__rows"], out
