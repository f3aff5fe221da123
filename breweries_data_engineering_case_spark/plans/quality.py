"""Data-quality checks as native DataFrame assertions.

≈ the reference's Soda Core YAML scans (soda/checks/silver_breweries.yml:2-7,
soda/checks/gold_breweries.yml:1-3, invoked via app/quality/soda_scan.py:4-9):
``row_count > 0`` on silver and gold, ``max(brewery_count) > 0`` on gold.

The checks are aggregates (:func:`check_aggs`) that the medallion stages
``observe`` on the frame they write, so evaluating them spends no Spark job:
:func:`run_checks` reads the observed row.
"""

from __future__ import annotations

from collections.abc import Mapping
from dataclasses import dataclass

from pyspark.sql import Column
from pyspark.sql import functions as F


class QualityError(AssertionError):
    """Raised when a hard check fails (the pipeline must stop, as a failing
    soda scan fails the reference's Makefile target)."""


#: soda/checks/gold_breweries.yml:1-3 as keywords of check_aggs and run_checks
GOLD_CHECKS: dict[str, tuple[str, ...]] = {"positive_cols": ("brewery_count",)}


@dataclass(frozen=True)
class CheckResult:
    name: str
    passed: bool
    observed: object


def check_aggs(*, positive_cols: tuple[str, ...] = ()) -> list[Column]:
    """The aggregates the checks read."""
    return [F.count(F.lit(1)).alias("__rows")] + [
        F.max(F.col(c)).alias(f"__max_{c}") for c in positive_cols
    ]


def run_checks(
    row: Mapping[str, object], *, positive_cols: tuple[str, ...] = ()
) -> list[CheckResult]:
    """Evaluate the checks over a row of :func:`check_aggs`; raise
    :class:`QualityError` if any fails."""
    results = [CheckResult("row_count > 0", row["__rows"] > 0, row["__rows"])]
    for c in positive_cols:
        v = row[f"__max_{c}"]
        results.append(CheckResult(f"max({c}) > 0", v is not None and v > 0, v))

    failed = [r for r in results if not r.passed]
    if failed:
        raise QualityError(
            "; ".join(f"{r.name} failed (observed {r.observed!r})" for r in failed)
        )
    return results
