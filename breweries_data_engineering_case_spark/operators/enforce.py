"""Row-level contract enforcement: the NULL-passing range filter.

≈ the coordinate checks of the reference's ``enforced`` CTE
(app/tasks/silver.py:49-50). A pure ``filter`` expression — Catalyst pushes
it into the scan where possible (row groups whose stats exclude the range
are never read).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def range_check(df: DataFrame, col: str, lo: float, hi: float) -> DataFrame:
    """Keep rows where the column is NULL or within [lo, hi] — out-of-range
    drops the row, missing passes.

    ≈ ``(lat IS NULL OR lat BETWEEN -90 AND 90)`` (app/tasks/silver.py:49-50).
    """
    c = F.col(col)
    return df.filter(c.isNull() | c.between(lo, hi))

