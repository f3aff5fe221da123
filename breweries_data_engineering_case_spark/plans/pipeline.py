"""End-to-end medallion pipeline: bronze → silver → gold (+ quality).

≈ the reference flow ``run()`` (app/pipeline.py:10-26): strict sequencing,
per-stage retries (@task retries=2, delay 5 s; @flow retries=1), metric
logging. Orchestrator-agnostic: a plain Python entrypoint with a retry
decorator — swap in any scheduler.
"""

from __future__ import annotations

import datetime as _dt
import functools
import logging
import time
from collections.abc import Callable
from pathlib import Path
from typing import Any, TypeVar

from pyspark.sql import SparkSession

from ..config import Settings, settings as default_settings
from ..sources.rest import Fetcher, ingest_to_bronze, requests_fetcher
from ..sources.writers import local_path
from .gold import aggregate_gold
from .quality import GOLD_CHECKS, QualityError, run_checks
from .silver import transform_silver

log = logging.getLogger("breweries_spark.pipeline")
T = TypeVar("T")


def with_retries(retries: int = 2, delay_s: float = 5.0) -> Callable[[Callable[..., T]], Callable[..., T]]:
    """≈ Prefect ``@task(retries=2, retry_delay_seconds=5)``
    (app/tasks/extract.py:29, app/tasks/silver.py:5, app/tasks/gold.py:44)."""

    def deco(fn: Callable[..., T]) -> Callable[..., T]:
        @functools.wraps(fn)
        def wrapped(*args: Any, **kwargs: Any) -> T:
            last: Exception | None = None
            for attempt in range(retries + 1):
                try:
                    return fn(*args, **kwargs)
                except Exception as e:  # an interrupt or exit propagates at once
                    last = e
                    if attempt < retries:
                        log.warning("%s failed (attempt %d/%d): %s — retrying in %.0fs",
                                    fn.__name__, attempt + 1, retries + 1, e, delay_s)
                        time.sleep(delay_s)
            assert last is not None
            raise last

        return wrapped

    return deco


def run(
    spark: SparkSession,
    ingestion_date: str | None = None,
    cfg: Settings | None = None,
    fetcher: Fetcher | None = None,
) -> dict[str, Any]:
    """Full pipeline for one run date (defaults to today, app/pipeline.py:14).

    ``fetcher`` is injectable for offline runs/tests; defaults to the real
    HTTP fetcher. Every layer is written on the driver, so a lake root or
    warehouse that is not a local path or ``file:`` URI raises
    ``ValueError`` before the first fetch, and a date with no bronze pages
    (an empty feed, and no earlier run of the date captured any) fails the
    ``row_count > 0`` check before silver runs; neither is retried. A rerun
    whose feed comes back empty rebuilds silver from the pages captured
    earlier that day.
    """
    cfg = cfg or default_settings
    local_path(cfg.lake_root)
    local_path(cfg.warehouse_dir)
    d = ingestion_date or _dt.date.today().isoformat()
    fetch = fetcher or requests_fetcher(cfg)

    extract = with_retries()(ingest_to_bronze)
    silver = with_retries()(transform_silver)
    gold = with_retries()(aggregate_gold)

    pages, records = extract(fetch, cfg.bronze_breweries, d, cfg.per_page, cfg.max_pages)
    log.info("bronze: %d pages, %d records", pages, records)
    if not (Path(local_path(cfg.bronze_breweries)) / f"ingestion_date={d}").is_dir():
        raise QualityError("row_count > 0 failed (observed 0)")

    # each stage fills its dict with the check aggregates observed on its write
    silver_metrics: dict[str, object] = {}
    rows, silver_path = silver(spark, cfg.bronze_breweries, cfg.silver_breweries, d, silver_metrics)
    log.info("silver: %d rows → %s", rows, silver_path)
    run_checks(silver_metrics)  # ≈ soda/checks/silver_breweries.yml

    # gold checks the date it replaced; no run rewrites another date (SURVEY.md D1)
    gold_metrics: dict[str, object] = {}
    exports = gold(spark, silver_path, cfg.gold_counts, cfg.warehouse_dir, d, gold_metrics)
    log.info("gold: %s", exports)
    run_checks(gold_metrics, **GOLD_CHECKS)  # ≈ soda/checks/gold_breweries.yml:1-3

    return {
        "ingestion_date": d,
        "bronze_pages": pages,
        "bronze_records": records,
        "silver_rows": rows,
        "silver_path": silver_path,
        "gold_exports": exports,
    }
