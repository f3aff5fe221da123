"""Data-quality checks as native DataFrame assertions.

≈ the reference's Soda Core YAML scans (soda/checks/silver_breweries.yml:2-7,
soda/checks/gold_breweries.yml:1-3, invoked via app/quality/soda_scan.py:4-9):
``row_count > 0`` on silver and gold, ``max(brewery_count) > 0`` on gold.

One aggregation job evaluates all checks for a dataset (a single
``agg(count, max, …)`` pass), instead of one scan per check — at 100 TB,
N checks must not mean N reads. The medallion stages spend no job at all:
they ``observe`` the same :func:`check_aggs` on the frame they write.
"""

from __future__ import annotations

from collections.abc import Mapping
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
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


def check_aggs(
    *,
    positive_cols: tuple[str, ...] = (),
    not_null_cols: tuple[str, ...] = (),
    unique_cols: tuple[str, ...] = (),
) -> list[Column]:
    """The aggregates the checks read. ``unique_cols`` needs a distinct
    count, which ``DataFrame.observe`` does not accept."""
    aggs = [F.count(F.lit(1)).alias("__rows")]
    for c in positive_cols:
        aggs.append(F.max(F.col(c)).alias(f"__max_{c}"))
    for c in not_null_cols:
        aggs.append(F.sum(F.col(c).isNull().cast("long")).alias(f"__nulls_{c}"))
    for c in unique_cols:
        aggs.append(F.countDistinct(F.col(c)).alias(f"__distinct_{c}"))
        aggs.append(F.sum(F.col(c).isNotNull().cast("long")).alias(f"__nn_{c}"))
    return aggs


def run_checks(
    data: DataFrame | Mapping[str, object],
    *,
    require_nonempty: bool = True,
    positive_cols: tuple[str, ...] = (),
    not_null_cols: tuple[str, ...] = (),
    unique_cols: tuple[str, ...] = (),
    hard_fail: bool = True,
) -> list[CheckResult]:
    """Evaluate all requested checks in ONE aggregation pass over a DataFrame,
    or in none over the row observed with the same :func:`check_aggs`."""
    row = data
    if isinstance(data, DataFrame):
        aggs = check_aggs(
            positive_cols=positive_cols, not_null_cols=not_null_cols, unique_cols=unique_cols
        )
        row = data.agg(*aggs).collect()[0].asDict()

    results: list[CheckResult] = []
    if require_nonempty:
        results.append(CheckResult("row_count > 0", row["__rows"] > 0, row["__rows"]))
    for c in positive_cols:
        v = row[f"__max_{c}"]
        results.append(CheckResult(f"max({c}) > 0", v is not None and v > 0, v))
    for c in not_null_cols:
        v = row[f"__nulls_{c}"]
        results.append(CheckResult(f"nulls({c}) == 0", v == 0, v))
    for c in unique_cols:
        # unique over non-null values: distinct count equals non-null count
        d, nn = row[f"__distinct_{c}"], row[f"__nn_{c}"]
        results.append(CheckResult(f"unique({c})", d == nn, f"{d} distinct / {nn} rows"))

    if hard_fail:
        failed = [r for r in results if not r.passed]
        if failed:
            raise QualityError(
                "; ".join(f"{r.name} failed (observed {r.observed!r})" for r in failed)
            )
    return results
