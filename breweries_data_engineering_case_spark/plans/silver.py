"""Silver stage — the reference's flagship "query".

Re-expresses ``transform_silver`` (app/tasks/silver.py:6-74) as one lazy
DataFrame chain:

    scan (schema'd, no inference)          ≈ silver.py:18-20
    → cleaning projection                  ≈ silver.py:21-36
    → dedup on id                          ≈ silver.py:37-41
    → contract enforcement filters         ≈ silver.py:42-51
    → partitioned snappy parquet write     ≈ silver.py:56-71
    → row count                            ≈ silver.py:73

Fidelity notes:
- the reference's final COUNT(*) re-executes the whole CTE (views aren't
  materialized); here the count — and the silver quality aggregates — are
  a ``DataFrame.observe`` on the written frame, so the write is the only
  action and bronze is read once (SURVEY.md §3.2).
- bronze is read as the date DIRECTORY with a ``*.json`` file filter, not as
  the ``…/*.json`` glob: a glob expanding to more than 32 paths makes Spark
  list them in a parallel listing job, a directory is listed on the driver.
- dedup uses ``dedup_any`` (aggregate-planned, map-side combine) because the
  reference's tie-break is arbitrary anyway (SURVEY.md W1).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from ..functions.cleaning import clean_str, try_double
from ..operators.dedup import dedup_any
from ..operators.enforce import null_pass_range_pred, require_not_null
from ..schemas import BREWERY_RAW_SCHEMA, SILVER_PARTITION_COLS
from ..sources.readers import json_array_scan
from ..sources.writers import write_partitioned_parquet
from .quality import check_aggs


def _clean_sql(col: str) -> str:
    """SQL-text twin of functions/cleaning.clean_str — same tree:
    ``NULLIF(TRIM(CAST(x AS STRING)), '')``."""
    return f"nullif(trim(cast(`{col}` as string)), '')"


def clean_breweries(raw: DataFrame) -> DataFrame:
    """The 5-stage cleaning semantics as one projection + dedup + filters.

    ≈ CTEs ``cleaned`` (app/tasks/silver.py:21-36), ``dedup`` (:37-41),
    ``enforced`` (:42-51).

    r15 (VERDICT r14 #7): the projection + filters are built as SQL TEXT
    (three parses) instead of ~90 py4j Column calls — ~0.2 s of driver
    time per construction (job-submission latency at 100 TB, guide §5).
    Reference-line traceability moved to the parity twin below:
    ``clean_breweries_columns`` maps line-by-line onto the reference and
    ``tests/test_medallion_pipeline.py::test_silver_sql_twin_is_expression_
    identical`` proves both builds share one plan fingerprint, so the SQL
    text can never drift from the audited Column form unnoticed.
    """
    cleaned = raw.selectExpr(
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
        f"try_cast({_clean_sql('latitude')} as double) AS latitude",
        f"try_cast({_clean_sql('longitude')} as double) AS longitude",
    )
    deduped = dedup_any(cleaned, ["id"])
    enforced = deduped.filter(
        F.expr(
            "id IS NOT NULL AND name IS NOT NULL AND "
            "country IS NOT NULL AND state IS NOT NULL"
        )
    ).filter(
        F.expr(
            "(latitude IS NULL OR (latitude >= -90.0D AND latitude <= 90.0D))"
            " AND (longitude IS NULL OR"
            " (longitude >= -180.0D AND longitude <= 180.0D))"
        )
    )
    return enforced


def clean_breweries_columns(raw: DataFrame) -> DataFrame:
    """Column-API twin of :func:`clean_breweries`, kept as the
    reference-traceability surface (each line ≈ one reference construct;
    see clean_str / try_double docstrings for the app/tasks/silver.py line
    map). NOT on the hot path — the parity test asserts the SQL-text form
    above compiles to the IDENTICAL analyzed plan, so auditing this
    function audits the served one."""
    cleaned = raw.select(
        clean_str("id").alias("id"),
        clean_str("name").alias("name"),
        clean_str("brewery_type").alias("brewery_type"),
        clean_str("country").alias("country"),
        F.coalesce(clean_str("state"), clean_str("state_province")).alias("state"),
        clean_str("city").alias("city"),
        clean_str("postal_code").alias("postal_code"),
        try_double(clean_str("latitude")).alias("latitude"),
        try_double(clean_str("longitude")).alias("longitude"),
    )
    deduped = dedup_any(cleaned, ["id"])
    enforced = require_not_null(deduped, ["id", "name", "country", "state"]).filter(
        null_pass_range_pred("latitude", -90.0, 90.0)
        & null_pass_range_pred("longitude", -180.0, 180.0)
    )
    return enforced


def transform_silver(
    spark: SparkSession,
    bronze_dir: str,
    silver_dir: str,
    ingestion_date: str,
    metrics: dict[str, object] | None = None,
) -> tuple[int, str]:
    """Full silver stage: bronze JSON pages → clean → partitioned write.

    Returns (row_count, output_path), like app/tasks/silver.py:73-74. The
    count and the silver quality aggregates are observed on the written
    frame; ``metrics``, when given, receives that observed row for
    ``quality.run_checks``.
    """
    date_dir = f"{bronze_dir.rstrip('/')}/ingestion_date={ingestion_date}"
    raw = json_array_scan(spark, date_dir, schema=BREWERY_RAW_SCHEMA, glob_filter="*.json")
    obs = Observation()  # one per call: an Observation serves one action
    clean = clean_breweries(raw).observe(obs, *check_aggs())
    out = f"{silver_dir.rstrip('/')}/ingestion_date={ingestion_date}"
    write_partitioned_parquet(clean, out, SILVER_PARTITION_COLS)
    observed = obs.get
    if metrics is not None:
        metrics.update(observed)
    return observed["__rows"], out
