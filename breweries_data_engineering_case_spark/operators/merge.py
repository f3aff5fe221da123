"""CDC-style merge (upsert + tombstone delete) over immutable parquet.

The lake-table primitive the reference approximates with whole-date
overwrites (app/tasks/gold.py:89-113 idempotent re-runs): apply a change
set — full-image upserts plus tombstones — to a target snapshot. The merge
itself is ONE full-outer join on the key:

- key only in target        → unchanged row survives
- key in both               → update image replaces the row
- key only in updates       → insert
- tombstone flag on update  → row dropped

Scale shape: join on the table key, so bucketing/partitioning both sides by
that key makes the merge shuffle-free at 100 TB (pay the shuffle once at
write time via ``sources.writers.stage_bucketed_table``). Update images win by PRESENCE, not
per-column COALESCE — a legitimate NULL in the new image must overwrite, so
the decision column is the update's key, never the payload.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def merge_upsert(
    target: DataFrame,
    updates: DataFrame,
    key: str,
    deleted_col: str = "_deleted",
) -> DataFrame:
    """Merged snapshot: target ⟕⟖ updates on ``key``, update image wins,
    tombstoned keys dropped. ``updates`` must carry every target column
    (full row images) plus ``deleted_col`` boolean."""
    t = target.alias("t")
    u = updates.alias("u")
    joined = t.join(u, F.col(f"t.{key}") == F.col(f"u.{key}"), "full_outer")
    has_update = F.col(f"u.{key}").isNotNull()
    out_cols = [
        F.when(has_update, F.col(f"u.{c}")).otherwise(F.col(f"t.{c}")).alias(c)
        if c != key
        else F.coalesce(F.col(f"u.{key}"), F.col(f"t.{key}")).alias(key)
        for c in target.columns
    ]
    alive = ~F.coalesce(F.col(f"u.{deleted_col}"), F.lit(False))
    return joined.filter(alive).select(out_cols)
