"""Engine-portable hashing — deterministic AND reproducible outside Spark.

``xxhash64``/``hash`` are Spark-internal: fast, but no other engine can
recompute them, so anything persisted (dataset splits, shard assignments,
sampling decisions) built on them is unverifiable downstream. These helpers
use an md5-prefix hash that DuckDB (and any engine with md5) reproduces
bit-for-bit — the right trade for *decisions that outlive the job*; keep
xxhash64 for transient shuffle-internal keys where speed wins.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def portable_hash64(c: Column | str) -> Column:
    """60-bit hash of the string form: first 15 hex chars of md5, as BIGINT.

    DuckDB twin: ``CAST(concat('0x', substr(md5(x), 1, 15)) AS BIGINT)``.
    Always non-negative (60 bits), so plain ``%`` bucketing is safe.
    """
    col = F.col(c) if isinstance(c, str) else c
    return F.conv(F.substring(F.md5(col.cast("string")), 1, 15), 16, 10).cast("long")


def split_assign(c: Column | str) -> Column:
    """Deterministic 80/10/10 train/val/test assignment by hash bucket (0-99).

    Hash-based (not random) so the split is stable across runs, engines,
    partitionings, and data order — a row's assignment depends only on its
    key. Rows join their split by recomputing, never by storing.
    """
    bucket = portable_hash64(c) % 100
    return (
        F.when(bucket < 80, F.lit("train"))
        .when(bucket < 90, F.lit("val"))
        .otherwise(F.lit("test"))
    )
