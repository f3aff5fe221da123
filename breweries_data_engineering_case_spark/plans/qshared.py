"""Shared registry machinery: QUERIES/ORACLES stores, register(), cross-domain helpers and oracle builders."""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..caching import cached, release_all


QueryFn = Callable[[SparkSession, str], DataFrame]

QUERIES: dict[str, QueryFn] = {}
ORACLES: dict[str, str] = {}


def register(name: str, oracle: str | None = None) -> Callable[[QueryFn], QueryFn]:
    def deco(fn: QueryFn) -> QueryFn:
        import functools

        # Cache lifecycle contract (VERDICT r8 #3): constructing a registry
        # query releases every frame the PREVIOUS query cached via
        # caching.cached(), so gate runners and plan tests no longer need a
        # clearCache() workaround and at most one query's caches are alive
        # at a time. QUERIES gets the wrapped callable; the bare function is
        # returned so intra-module helper reuse never releases mid-query.
        @functools.wraps(fn)
        def wrapped(spark: SparkSession, sf_dir: str) -> DataFrame:
            release_all()
            return fn(spark, sf_dir)

        QUERIES[name] = wrapped
        if oracle is not None:
            ORACLES[name] = oracle
        return fn

    return deco


def _dsum(c, scale: int = 4, alias: str | None = None):
    """Cross-engine-exact SUM over doubles: per-row decimal cast → exact
    decimal sum → double. See module docstring."""
    e = F.sum(c.cast(f"decimal(18,{scale})")).cast("double")
    return e.alias(alias) if alias else e


_SIMHASH_CTE = """
    WITH tok AS (
      SELECT doc_id,
             CAST(concat('0x', substr(md5(UNNEST(string_split_regex(TRIM(text), '\\s+'))), 1, 15)) AS BIGINT) AS h
      FROM documents
    ),
    votes AS (
      SELECT doc_id, {vote_exprs}
      FROM tok GROUP BY doc_id
    ),
    sh AS (SELECT doc_id, {pack_expr} AS simhash FROM votes)
""".replace(
    "{vote_exprs}",
    ", ".join(f"SUM(((h >> {i}) & 1) * 2 - 1) AS v{i}" for i in range(32)),
).replace(
    "{pack_expr}",
    " + ".join(f"(CASE WHEN v{i} > 0 THEN {1 << i} ELSE 0 END)" for i in range(32)),
)


# ---------------------------------------------------------------------------
# round 7 (late batch): EWMA smoothing, item-item similarity, observed
# metrics
# ---------------------------------------------------------------------------

#: EWMA weights for alpha = 1/4 over an 8-point trailing window, scaled by
#: 4^7 so every term is an exact integer: w_k = 3^k * 4^(7-k), k = lag.
_EWMA_W = [3**k * 4 ** (7 - k) for k in range(8)]


def _exact_rank_cutoffs(vals: DataFrame, rank_exprs: list[str]) -> DataFrame:
    """Exact order statistics, fully LAZY and fully distributed — the
    scale-path kernel behind the ``*_scaled`` quantile twins (VERDICT r7
    ask #7). Input: one long column ``v``. ``rank_exprs[i]`` is a SQL
    expression over ``n`` (the row count) giving the 1-based rank of the
    i-th cutoff, e.g. ``"(1*n + 3) div 4"`` for the lower quartile.
    Returns a single-row DataFrame ``c1..cK`` = the values at those ranks.

    Unlike the two-pass median (lineitem_exact_median_two_pass), NOTHING
    runs at construction time: pass 1 bins v into 1024 range buckets
    (partial-agg shuffle, O(buckets) output); the cumulative bucket walk is
    a window over the ≤1024-row histogram (bounded single task, same class
    as the benford/dow whitelist entries); each rank's target bucket is a
    broadcast min_by; pass 2 ranks ONLY the target buckets' slices
    (~n/1024 rows each) via a row_number window PARTITIONED by rank index —
    never a global sort of the data. The selected VALUE at a rank is
    deterministic under ties (a sorted multiset has one value per rank),
    so cross-engine parity is exact. At 1000 executors every stage is a
    shuffle of either the full column (bin pass) or n/1024-row slices."""
    K = len(rank_exprs)
    stats = vals.agg(
        F.count(F.lit(1)).alias("n"),
        F.min("v").alias("lo"),
        F.max("v").alias("hi"),
    )
    # persist the skinny (v, b) projection: it feeds both the histogram and
    # the pass-2 refinement — without the cache the source is scanned twice
    # more (measured 10.8 s → 4 s at SF1)
    binned = vals.crossJoin(F.broadcast(stats)).selectExpr(
        "v",
        "LEAST(CAST((v - lo) * 1024 div GREATEST(hi - lo + 1, 1) AS INT),"
        " 1023) AS b",
    ).transform(cached)
    hist = binned.groupBy("b").agg(F.count(F.lit(1)).alias("cnt"))
    whist = hist.withColumn("cum", F.sum("cnt").over(Window.orderBy("b")))
    # n = max cumulative count — derived from the ≤1024-row histogram, not
    # another full-table aggregate
    ranks = whist.agg(F.max("cum").alias("n")).selectExpr(
        f"stack({K}, "
        + ", ".join(
            f"{i}, CAST({expr} AS BIGINT)"
            for i, expr in enumerate(rank_exprs, start=1)
        )
        + ") AS (i, k)"
    )
    targets = (
        ranks.join(F.broadcast(whist), F.col("cum") >= F.col("k"))
        .groupBy("i", "k")
        .agg(F.min_by(F.struct("b", "cum", "cnt"), "b").alias("s"))
        .select(
            "i",
            "k",
            F.col("s.b").alias("tb"),
            (F.col("s.cum") - F.col("s.cnt")).alias("before"),
        )
    )
    picked = (
        binned.join(F.broadcast(targets), F.col("b") == F.col("tb"))
        .withColumn(
            "rn", F.row_number().over(Window.partitionBy("i").orderBy("v"))
        )
        .filter(F.col("rn") == F.col("k") - F.col("before"))
    )
    return picked.groupBy().agg(
        *[
            F.max(F.when(F.col("i") == i, F.col("v"))).alias(f"c{i}")
            for i in range(1, K + 1)
        ]
    )


_QUARTILE_RANKS = ["(1*n + 3) div 4", "(2*n + 3) div 4", "(3*n + 3) div 4"]


_DECILE_RANKS = [f"({i}*n + 9) div 10" for i in range(1, 10)]
