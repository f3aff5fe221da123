"""Cleaning expressions.

``stamp_date`` re-expresses the reference's DATE literal stamping
(``app/tasks/gold.py:101``) as a pure Column expression built from
``pyspark.sql.functions`` — no UDF — so it stays inside whole-stage codegen
and Catalyst can constant-fold it. The silver cleaning projection itself is
SQL text in ``plans/silver.clean_breweries``.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def stamp_date(d: str) -> Column:
    """Constant DATE column for the run date ``d`` (ISO ``YYYY-MM-DD``).

    ≈ ``DATE '{d}'`` literal injection (app/tasks/gold.py:101,106).
    """
    return F.to_date(F.lit(d))
