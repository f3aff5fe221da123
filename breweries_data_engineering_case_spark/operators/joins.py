"""Join operators (extension surface — the reference has no joins,
SURVEY.md §2.4; these serve the star-schema workload the engine targets).

Scale playbook encoded here:
- **Dimension lookups broadcast.** region/nation/part-sized tables must never
  shuffle the fact side; ``broadcast()`` pins the hint even when stats are
  missing (fresh parquet, no ANALYZE).
- **Fact-fact joins shuffle on the key** (sort-merge or shuffled-hash — AQE
  picks, and splits skewed partitions at runtime).
- **Skew salting** is provided for keys AQE can't save (e.g. one giant key in
  a non-AQE context): explode the build side over ``salt_buckets`` replicas,
  salt the probe side randomly-but-deterministically via hash, join on
  (key, salt).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def broadcast_dim_join(
    fact: DataFrame, dim: DataFrame, on: Sequence[str] | object
) -> DataFrame:
    """Inner equi-join where the dimension side is broadcast (no fact shuffle)."""
    return fact.join(F.broadcast(dim), on=on)


def shuffle_join(
    left: DataFrame, right: DataFrame, on: Sequence[str] | object
) -> DataFrame:
    """Large-large inner equi-join; Catalyst/AQE choose sort-merge vs
    shuffled-hash.

    Both inputs shuffle on the join key — co-partition upstream (bucketing /
    repartition on the key) to eliminate one side's shuffle when the same key
    is reused across stages.
    """
    return left.join(right, on=on)


def salted_join(
    left: DataFrame,
    right_small_but_skewed: DataFrame,
    key: str,
    salt_buckets: int = 16,
) -> DataFrame:
    """Skew-resistant inner equi-join: salt the big probe side, explode the
    build side.

    Use when one key dominates and AQE skew-splitting is unavailable or
    insufficient. Probe rows get ``hash(row) % salt_buckets``; build rows are
    replicated once per bucket, so each (key, salt) partition is ~1/N the skew.
    """
    salt = (F.abs(F.xxhash64(*left.columns)) % salt_buckets).alias("__salt")
    probe = left.withColumn("__salt", salt)
    build = right_small_but_skewed.withColumn(
        "__salt", F.explode(F.sequence(F.lit(0), F.lit(salt_buckets - 1)))
    )
    out = probe.join(build, on=[key, "__salt"])
    return out.drop("__salt")


def hot_key_salted_join(
    probe: DataFrame,
    build: DataFrame,
    key: str,
    hot_keys: DataFrame,
    salt_buckets: int = 8,
) -> DataFrame:
    """Inner equi-join with partial (hot-key-only) salting: salt ONLY the
    keys that are actually skewed, leave the long tail un-replicated.

    Full salting (``salted_join``) replicates the entire build side
    ``salt_buckets``× — at 100 TB that multiplies the build shuffle by N to
    fix a handful of keys. Here the hot-key set ``hot_keys`` is broadcast —
    heavy hitters are few by definition — and:

    - probe rows of hot keys get ``hash % salt_buckets``, cold rows salt 0;
    - build rows of hot keys are exploded over all buckets, cold rows kept
      once.

    Build-side expansion is ``cold + hot × salt_buckets`` instead of
    ``all × salt_buckets``; results are identical to a plain join because
    every (key, salt) pair present on the probe side has exactly one build
    row. At scale, derive ``hot_keys`` from a sample or sketch instead of
    an exact count — any superset of the truly-hot keys is correct.
    """
    hot = hot_keys.select(key).withColumn("__hot", F.lit(True))
    p = probe.join(F.broadcast(hot), key, "left").withColumn(
        "__salt",
        F.when(
            F.col("__hot"),
            F.abs(F.xxhash64(*probe.columns)) % salt_buckets,
        ).otherwise(F.lit(0)),
    ).drop("__hot")
    b = build.join(F.broadcast(hot), key, "left").withColumn(
        "__salt",
        F.explode(
            F.when(
                F.col("__hot"),
                F.sequence(F.lit(0), F.lit(salt_buckets - 1)),
            ).otherwise(F.array(F.lit(0)))
        ),
    ).drop("__hot")
    return p.join(b, on=[key, "__salt"]).drop("__salt")
