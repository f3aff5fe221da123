"""Exact deduplication operators.

Reference semantics: ``ROW_NUMBER() OVER (PARTITION BY id ORDER BY id)`` +
``QUALIFY rn = 1`` (app/tasks/silver.py:37-41) — keep one row per key with an
arbitrary tie-break. Near-duplicate (MinHash/SimHash/…) operators live in
:mod:`.fuzzy_dedup`.

Scale notes
-----------
- ``dedup_rownum`` shuffles once on the key (window partitioning). With an
  explicit deterministic ``order_by`` it is reproducible across runs/engines.
- ``dedup_any`` (the reference-faithful arbitrary tie-break) is expressed as
  ``dropDuplicates`` so Catalyst plans it as a partial+final hash aggregate —
  map-side combine removes duplicates *before* the shuffle, which at 100 TB
  is strictly better than a window (a window must shuffle every row).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def dedup_any(df: DataFrame, keys: Sequence[str]) -> DataFrame:
    """Keep one arbitrary row per key — exactly the reference's semantics
    (its ``ORDER BY id`` orders by the partition key, so the survivor among
    duplicates is engine-arbitrary; app/tasks/silver.py:40).

    Planned as an aggregate (map-side combine), not a window: cheaper at scale.
    """
    return df.dropDuplicates(list(keys))


def dedup_rownum(
    df: DataFrame,
    keys: Sequence[str],
    order_by: Sequence[Column | str],
) -> DataFrame:
    """ROW_NUMBER-based dedup with an explicit, deterministic tie-break.

    Faithful shape of app/tasks/silver.py:37-41 (QUALIFY = filter-after-window)
    but with a real ordering so the survivor is reproducible.
    """
    w = Window.partitionBy(*[F.col(k) for k in keys]).orderBy(
        *[F.col(c) if isinstance(c, str) else c for c in order_by]
    )
    rn = F.row_number().over(w)
    return df.withColumn("__rn", rn).filter(F.col("__rn") <= 1).drop("__rn")

