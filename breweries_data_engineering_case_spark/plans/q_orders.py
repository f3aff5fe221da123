"""Orders/customer analytics: cohorts, LTV, pricing, experimentation slices over the orders fact."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..caching import cached
from ..sources.readers import table_scan

from .qshared import (
    _DECILE_RANKS,
    _QUARTILE_RANKS,
    _dsum,
    _exact_rank_cutoffs,
    register,
)



@register(
    "orders_abc_pareto",
    """
    WITH r AS (
      SELECT o_custkey, SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS rd
      FROM orders GROUP BY o_custkey
    ), c AS (
      SELECT o_custkey, rd,
             SUM(rd) OVER (ORDER BY rd DESC, o_custkey
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
             SUM(rd) OVER () AS total
      FROM r
    )
    SELECT o_custkey, CAST(rd AS DOUBLE) AS revenue,
           CASE WHEN cum * 5 <= total * 4 THEN 'A'
                WHEN cum * 20 <= total * 19 THEN 'B'
                ELSE 'C' END AS pareto_class
    FROM c
    """,
)
def q_orders_abc_pareto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ABC / Pareto classification: customers bucketed by cumulative revenue
    share (A = first 80%, B = to 95%, C = tail). The grand total rides a
    broadcast single-row cross join over the persisted per-customer
    aggregate (the q11/q22 idiom — a global window for the total would
    funnel every key through one task TWICE). The running share still needs
    a total order, but over the AGGREGATED per-customer table (|keys| ≪
    |orders|), never the fact table; at 100 TB the window input is the
    ~1.5M-row key table — and past that, the cumsum generalizes to the
    two-phase pattern (per-partition prefix sums + broadcast partition
    offsets). The class boundary test is decimal cross-multiplication
    (cum·5 ≤ total·4) — no float division anywhere, so the A/B boundary
    can't flip between engines."""
    o = table_scan(spark, sf_dir, "orders")
    r = o.groupBy("o_custkey").agg(
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("rd")
    ).transform(cached)
    tot = r.agg(F.sum("rd").alias("total"))
    wo = Window.orderBy(F.desc("rd"), "o_custkey")
    cum = F.sum("rd").over(
        wo.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    c = r.crossJoin(F.broadcast(tot)).select(
        "o_custkey", "rd", cum.alias("cum"), "total"
    )
    cls = (
        F.when(F.col("cum") * 5 <= F.col("total") * 4, F.lit("A"))
        .when(F.col("cum") * 20 <= F.col("total") * 19, F.lit("B"))
        .otherwise(F.lit("C"))
    )
    return c.select(
        "o_custkey",
        F.col("rd").cast("double").alias("revenue"),
        cls.alias("pareto_class"),
    )


@register(
    "orders_rfm_segments",
    """
    WITH per_cust AS (
      SELECT o_custkey,
             MAX(CAST(o_orderdate AS DATE)) AS last_day,
             COUNT(*) AS frequency,
             SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS md
      FROM orders GROUP BY o_custkey
    ),
    anchored AS (
      SELECT o_custkey, frequency, md,
             CAST(date_diff('day', last_day, MAX(last_day) OVER ()) AS INT)
               AS recency_days
      FROM per_cust
    ),
    scored AS (
      SELECT o_custkey, recency_days, frequency, md,
             CAST(ntile(4) OVER (ORDER BY recency_days, o_custkey) AS INT) AS r_q,
             CAST(ntile(4) OVER (ORDER BY frequency DESC, o_custkey) AS INT) AS f_q,
             CAST(ntile(4) OVER (ORDER BY md DESC, o_custkey) AS INT) AS m_q
      FROM anchored
    )
    SELECT o_custkey, recency_days, frequency, CAST(md AS DOUBLE) AS monetary,
           r_q, f_q, m_q,
           CAST(r_q AS VARCHAR) || CAST(f_q AS VARCHAR) || CAST(m_q AS VARCHAR)
             AS segment
    FROM scored
    """,
)
def q_orders_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM customer segmentation (recency / frequency / monetary quartiles) —
    the classic CRM scoring table. One grouped pass collapses the fact table
    to per-customer stats (persisted — it feeds both the anchor scalar and
    the scoring pass); the corpus-max anchor date is a scalar agg broadcast
    back via a single-row cross join (the q11/q22 idiom — NOT a global
    window, which would funnel the whole per-customer table through one
    task). The three NTILE windows run over that KEY table (|customers| ≪
    |orders| — same single-sort-over-aggregate justification as
    orders_abc_pareto; at larger key counts swap NTILE for approx-quantile
    cutoffs, as the exact-quantile whitelist in test_plan_sweep notes).
    Recency anchors to the corpus max order date (deterministic from data,
    no wall clock). Monetary sums are exact decimals; every NTILE order
    includes o_custkey so quartile boundaries are tie-stable."""
    o = table_scan(spark, sf_dir, "orders")
    per_cust = o.groupBy("o_custkey").agg(
        F.max(F.col("o_orderdate").cast("date")).alias("last_day"),
        F.count(F.lit(1)).alias("frequency"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("md"),
    ).transform(cached)
    anchor = per_cust.agg(F.max("last_day").alias("_anchor"))
    anchored = per_cust.crossJoin(F.broadcast(anchor)).select(
        "o_custkey",
        "frequency",
        "md",
        F.datediff(F.col("_anchor"), F.col("last_day")).cast("int").alias(
            "recency_days"
        ),
    )
    scored = anchored.select(
        "o_custkey",
        "recency_days",
        "frequency",
        "md",
        F.ntile(4).over(Window.orderBy("recency_days", "o_custkey")).alias("r_q"),
        F.ntile(4)
        .over(Window.orderBy(F.desc("frequency"), "o_custkey"))
        .alias("f_q"),
        F.ntile(4).over(Window.orderBy(F.desc("md"), "o_custkey")).alias("m_q"),
    )
    return scored.select(
        "o_custkey",
        "recency_days",
        "frequency",
        F.col("md").cast("double").alias("monetary"),
        "r_q",
        "f_q",
        "m_q",
        F.concat(
            F.col("r_q").cast("string"),
            F.col("f_q").cast("string"),
            F.col("m_q").cast("string"),
        ).alias("segment"),
    )


@register(
    "orders_price_trend_ols",
    """
    WITH pts AS (
      SELECT n_name,
             CAST(date_diff('day', DATE '1970-01-01',
                            CAST(o_orderdate AS DATE)) AS BIGINT) AS x,
             CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS y
      FROM orders
      JOIN customer ON o_custkey = c_custkey
      JOIN nation ON c_nationkey = n_nationkey
    ),
    m AS (
      SELECT n_name, COUNT(*) AS n,
             SUM(x) AS sx, SUM(y) AS sy, SUM(x * y) AS sxy, SUM(x * x) AS sxx
      FROM pts GROUP BY n_name
    ),
    s AS (
      SELECT n_name, n,
             CAST(n AS HUGEINT) * sxy - CAST(sx AS HUGEINT) * sy AS num,
             CAST(n AS HUGEINT) * sxx - CAST(sx AS HUGEINT) * sx AS den
      FROM m
    )
    SELECT n_name, CAST(n AS BIGINT) AS n_orders,
           CAST(CASE WHEN num < 0 THEN -((-num * 1000000) // den)
                     ELSE (num * 1000000) // den END AS BIGINT)
             AS slope_micro_cents_per_day
    FROM s
    """,
)
def q_orders_price_trend_ols(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-nation closed-form OLS trend of order value over time — grouped
    linear regression WITHOUT any ML library or iterative solver: slope =
    (nΣxy − ΣxΣy) / (nΣxx − (Σx)²) from one partial-agg pass of integer
    moments (x = epoch day, y = exact cents). Moment products run in
    DECIMAL(38,0) (they overflow int64: nΣxy ~ 10¹⁹ at sf0.01, far worse at
    100 TB; DuckDB's HUGEINT is the oracle twin). The slope is emitted in
    integer micro-cents/day via sign-split floor division, so engines agree
    bit-for-bit with no float anywhere. One shuffle (the groupBy); the
    nation/customer dims broadcast onto the fact scan."""
    o = table_scan(spark, sf_dir, "orders")
    c = table_scan(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = table_scan(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    pts = (
        o.join(F.broadcast(c), o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
        .select(
            "n_name",
            F.datediff(
                F.col("o_orderdate").cast("date"),
                F.lit("1970-01-01").cast("date"),
            )
            .cast("long")
            .alias("x"),
            (F.col("o_totalprice").cast("decimal(18,2)") * 100)
            .cast("long")
            .alias("y"),
        )
    )
    m = pts.groupBy("n_name").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    )
    s = m.selectExpr(
        "n_name",
        "n",
        "CAST(n AS DECIMAL(38,0)) * sxy - CAST(sx AS DECIMAL(38,0)) * sy"
        " AS num",
        "CAST(n AS DECIMAL(38,0)) * sxx - CAST(sx AS DECIMAL(38,0)) * sx"
        " AS den",
    )
    return s.selectExpr(
        "n_name",
        "CAST(n AS BIGINT) AS n_orders",
        "CAST(CASE WHEN num < 0 THEN -((-num * 1000000) div den)"
        "          ELSE (num * 1000000) div den END AS BIGINT)"
        " AS slope_micro_cents_per_day",
    )


@register(
    "orders_target_encoding",
    """
    WITH c AS (
      SELECT o_orderkey, o_orderpriority,
             CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
               AS cents
      FROM orders
    ),
    g AS (
      SELECT o_orderpriority, COUNT(*) AS grp_n,
             SUM(cents) AS grp_cents
      FROM c GROUP BY o_orderpriority
    )
    SELECT o_orderkey, c.o_orderpriority,
           CAST((CAST(grp_cents AS HUGEINT) - cents) * 1000
                // (grp_n - 1) AS BIGINT) AS loo_mean_millicents
    FROM c JOIN g ON c.o_orderpriority = g.o_orderpriority
    WHERE grp_n > 1
    """,
)
def q_orders_target_encoding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leave-one-out target encoding — the categorical-feature encoding that
    avoids self-leakage: each row's encoded value is the mean target of its
    group EXCLUDING the row itself, loo = (Σgroup − y_row)/(n−1). Plain
    per-group means leak the row's own label into its feature; LOO is the
    standard fix and needs NO self-join — one grouped partial agg produces
    (n, Σ) per category, broadcast back onto the fact scan, and each row
    finishes the arithmetic locally. Emitted in integer millicents by floor
    division (all terms positive), bit-exact across engines. At 100 TB this
    is one map-side aggregate + one broadcast hash join — no shuffle of the
    fact table at all."""
    o = table_scan(spark, sf_dir, "orders")
    c = o.select(
        "o_orderkey",
        "o_orderpriority",
        (F.col("o_totalprice").cast("decimal(18,2)") * 100)
        .cast("long")
        .alias("cents"),
    )
    g = c.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("grp_n"),
        F.sum("cents").alias("grp_cents"),
    )
    return (
        c.join(F.broadcast(g), "o_orderpriority")
        .filter(F.col("grp_n") > 1)
        .selectExpr(
            "o_orderkey",
            "o_orderpriority",
            "CAST((CAST(grp_cents AS DECIMAL(38,0)) - cents) * 1000"
            " div (grp_n - 1) AS BIGINT) AS loo_mean_millicents",
        )
    )


@register(
    "orders_dow_seasonality",
    """
    WITH c AS (
      SELECT CAST(o_orderdate AS DATE) AS day,
             CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
               AS cents
      FROM orders
    ),
    dow AS (
      SELECT ((dayofweek(day) + 6) % 7) AS dow_iso,
             COUNT(*) AS n_dow, SUM(cents) AS cents_dow
      FROM c GROUP BY 1
    ),
    tot AS (SELECT SUM(n_dow) AS n_all, SUM(cents_dow) AS cents_all FROM dow)
    SELECT dow_iso, CAST(n_dow AS BIGINT) AS n_orders,
           CAST(cents_dow AS BIGINT) AS cents,
           CAST(CAST(cents_dow AS HUGEINT) * n_all * 1000
                // (CAST(cents_all AS HUGEINT) * n_dow) AS BIGINT)
             AS seasonal_index_permille
    FROM dow CROSS JOIN tot
    """,
)
def q_orders_dow_seasonality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-of-week seasonality profile: per-weekday mean order value as a
    per-mille index against the overall mean (1000 = no seasonality).
    The index is pure integer cross-multiplication —
    (Σdow · n_all · 1000) // (Σall · n_dow) — so the mean-of-means ratio
    needs no float division anywhere. Weekdays are normalized to ISO
    (0 = Monday): Spark and DuckDB disagree on dayofweek origin (Sun=1 vs
    Sun=0 — NOTES.md), so both sides map through an explicit affine shift.
    One 7-row aggregate over the scan; the totals join is a 1-row window."""
    o = table_scan(spark, sf_dir, "orders")
    c = o.select(
        F.col("o_orderdate").cast("date").alias("day"),
        (F.col("o_totalprice").cast("decimal(18,2)") * 100)
        .cast("long")
        .alias("cents"),
    )
    dow = c.groupBy(
        ((F.dayofweek("day") + 5) % 7).alias("dow_iso")
    ).agg(
        F.count(F.lit(1)).alias("n_dow"),
        F.sum("cents").alias("cents_dow"),
    )
    w_all = Window.orderBy(F.lit(1)).rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    return (
        dow.withColumn("n_all", F.sum("n_dow").over(w_all))
        .withColumn("cents_all", F.sum("cents_dow").over(w_all))
        .selectExpr(
            "dow_iso",
            "n_dow AS n_orders",
            "cents_dow AS cents",
            "CAST(CAST(cents_dow AS DECIMAL(38,0)) * n_all * 1000"
            " div (CAST(cents_all AS DECIMAL(38,0)) * n_dow) AS BIGINT)"
            " AS seasonal_index_permille",
        )
    )


@register(
    "orders_weighted_sample",
    """
    WITH w AS (
      SELECT o_orderkey,
             CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
               AS weight,
             CAST(concat('0x', substr(md5('ws:' || CAST(o_orderkey AS VARCHAR)),
                                      1, 15)) AS BIGINT) + 1 AS u
      FROM orders
    ),
    p AS (
      SELECT o_orderkey, weight,
             CAST(CAST(weight AS HUGEINT) * 1152921504606846976 AS DOUBLE)
               / CAST(u AS DOUBLE) AS priority
      FROM w
    )
    SELECT o_orderkey, weight, priority
    FROM p ORDER BY priority DESC, o_orderkey LIMIT 100
    """,
)
def q_orders_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted priority sampling (Duffield-Lund-Thorup): each row draws a
    deterministic pseudo-uniform u from the portable hash and competes with
    priority = weight/u; the global top-k is a weighted-without-replacement
    sample whose inclusion probability is proportional to weight — the
    standard one-pass distributed weighted sampler (each partition keeps a
    local top-k; only k rows per partition reach the final ordering).
    Hash-seeded, so the "random" sample is reproducible across runs,
    engines, and partitionings. The priority is (exact-decimal weight ×
    2^60) → one correctly-rounded cast + one correctly-rounded division —
    deterministic in IEEE, hence oracle-checkable; ties (impossible unless
    hashes collide) break on the key."""
    from ..functions.hashing import portable_hash64

    o = table_scan(spark, sf_dir, "orders")
    w = o.select(
        "o_orderkey",
        (F.col("o_totalprice").cast("decimal(18,2)") * 100)
        .cast("long")
        .alias("weight"),
        (
            portable_hash64(
                F.concat(F.lit("ws:"), F.col("o_orderkey").cast("string"))
            )
            + 1
        ).alias("u"),
    )
    p = w.select(
        "o_orderkey",
        "weight",
        (
            (F.col("weight").cast("decimal(38,0)") * F.lit(1152921504606846976))
            .cast("double")
            / F.col("u").cast("double")
        ).alias("priority"),
    )
    return p.orderBy(F.desc("priority"), "o_orderkey").limit(100)


@register(
    "orders_snapshot_diff",
    """
    WITH old AS (
      SELECT o_orderkey AS k,
             md5(CAST(o_orderstatus AS VARCHAR) || '|'
                 || CAST(CASE WHEN o_orderkey % 50 = 0
                              THEN CAST(o_totalprice AS DECIMAL(18,2)) + 1
                              ELSE CAST(o_totalprice AS DECIMAL(18,2)) END
                         AS VARCHAR)
                 || '|' || o_orderpriority) AS h
      FROM orders WHERE CAST(o_orderdate AS DATE) < DATE '1998-01-01'
    ),
    new AS (
      SELECT o_orderkey AS k,
             md5(CAST(o_orderstatus AS VARCHAR) || '|'
                 || CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS VARCHAR)
                 || '|' || o_orderpriority) AS h
      FROM orders WHERE CAST(o_orderdate AS DATE) >= DATE '1996-01-01'
    ),
    d AS (
      SELECT COALESCE(o.k, n.k) AS k,
             CASE WHEN o.k IS NULL THEN 'added'
                  WHEN n.k IS NULL THEN 'removed'
                  WHEN o.h <> n.h THEN 'changed'
                  ELSE 'unchanged' END AS status
      FROM old o FULL OUTER JOIN new n ON o.k = n.k
    )
    SELECT status, COUNT(*) AS cnt FROM d GROUP BY status
    """,
)
def q_orders_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dataset diff between two snapshots (the data-regression tool: what
    changed between yesterday's load and today's?): FULL OUTER join on the
    key, row CONTENT compared by a canonical md5 over the normalized
    column rendering — so the comparison ships one 32-char hash per row,
    not the whole row, and any column-count schema works. Classification is
    added / removed / changed / unchanged with one aggregate on top. The
    snapshots are simulated deterministically from data: old = pre-1998
    slice with a planted +1-dollar mutation on every 50th key (→ 'changed'),
    new = 1996-onward slice (orders span 1995-2001) — the overlap
    exercises all four statuses. At 100 TB both sides hash-partition on the key and the join is
    one co-partitioned shuffle; the md5 rendering must cast floats through
    exact decimals or false 'changed' rows appear (same determinism rule as
    the oracles, NOTES.md)."""
    o = table_scan(spark, sf_dir, "orders")

    def snap(df: DataFrame, mutate: bool) -> DataFrame:
        price = F.col("o_totalprice").cast("decimal(18,2)")
        if mutate:
            price = F.when(
                F.col("o_orderkey") % 50 == 0, price + 1
            ).otherwise(price)
        return df.select(
            F.col("o_orderkey").alias("k"),
            F.md5(
                F.concat_ws(
                    "|",
                    F.col("o_orderstatus"),
                    price.cast("string"),
                    F.col("o_orderpriority"),
                )
            ).alias("h"),
        )

    old = snap(
        o.filter(F.col("o_orderdate").cast("date") < F.lit("1998-01-01")),
        mutate=True,
    )
    new = snap(
        o.filter(F.col("o_orderdate").cast("date") >= F.lit("1996-01-01")),
        mutate=False,
    )
    d = old.withColumnRenamed("k", "ok").withColumnRenamed("h", "oh").join(
        new, F.col("ok") == F.col("k"), "full_outer"
    )
    status = (
        F.when(F.col("ok").isNull(), F.lit("added"))
        .when(F.col("k").isNull(), F.lit("removed"))
        .when(F.col("oh") != F.col("h"), F.lit("changed"))
        .otherwise(F.lit("unchanged"))
    )
    return d.select(status.alias("status")).groupBy("status").agg(
        F.count(F.lit(1)).alias("cnt")
    )


@register(
    "orders_price_histogram_equidepth",
    """
    WITH c AS (
      SELECT quantile_cont(o_totalprice, 0.25) AS q1,
             quantile_cont(o_totalprice, 0.50) AS q2,
             quantile_cont(o_totalprice, 0.75) AS q3
      FROM orders
    ),
    b AS (
      SELECT CASE WHEN o_totalprice <= q1 THEN 0
                  WHEN o_totalprice <= q2 THEN 1
                  WHEN o_totalprice <= q3 THEN 2
                  ELSE 3 END AS bucket,
             o_totalprice
      FROM orders, c
    )
    SELECT bucket, COUNT(*) AS cnt,
           MIN(o_totalprice) AS lo, MAX(o_totalprice) AS hi,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE)
             AS price_sum
    FROM b GROUP BY bucket
    """,
)
def q_orders_price_histogram_equidepth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-depth (quartile) histogram — the data-profiling shape optimizers
    and skew diagnostics are built on: exact quartile cutoffs in ONE
    partial-agg pass (`F.percentile` ≡ DuckDB quantile_cont bitwise,
    NOTES.md), broadcast back over the scan as a single-row cross join,
    bucket assignment as a flat CASE, then per-bucket count/min/max/
    decimal-sum. Two scans total, no sort of the data, no window. At
    100 TB swap the exact percentile for `approx_percentile` (mergeable
    sketch) and the plan is otherwise unchanged — the cutoff row stays a
    broadcast scalar either way; boundary comparisons are against the
    bitwise-identical cutoff doubles, so bucket membership cannot flip
    between engines."""
    o = table_scan(spark, sf_dir, "orders").select("o_totalprice")
    c = o.agg(
        F.percentile("o_totalprice", 0.25).alias("q1"),
        F.percentile("o_totalprice", 0.50).alias("q2"),
        F.percentile("o_totalprice", 0.75).alias("q3"),
    )
    bucket = (
        F.when(F.col("o_totalprice") <= F.col("q1"), 0)
        .when(F.col("o_totalprice") <= F.col("q2"), 1)
        .when(F.col("o_totalprice") <= F.col("q3"), 2)
        .otherwise(3)
    )
    return (
        o.crossJoin(F.broadcast(c))
        .select(bucket.alias("bucket"), "o_totalprice")
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.min("o_totalprice").alias("lo"),
            F.max("o_totalprice").alias("hi"),
            _dsum(F.col("o_totalprice"), 4, "price_sum"),
        )
    )


@register(
    "orders_weighted_median",
    """
    WITH w AS (
      SELECT o.o_orderpriority, o.o_orderkey, o.o_totalprice,
             CAST(COUNT(l.l_orderkey) AS BIGINT) AS wt
      FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
      GROUP BY o.o_orderpriority, o.o_orderkey, o.o_totalprice
    ),
    r AS (
      SELECT o_orderpriority, o_orderkey, o_totalprice, wt,
             SUM(wt) OVER (PARTITION BY o_orderpriority
                           ORDER BY o_totalprice, o_orderkey
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS running,
             SUM(wt) OVER (PARTITION BY o_orderpriority) AS total_wt
      FROM w
    ),
    m AS (
      SELECT o_orderpriority, o_totalprice, o_orderkey,
             ROW_NUMBER() OVER (PARTITION BY o_orderpriority
                                ORDER BY o_totalprice, o_orderkey) AS rn2
      FROM r WHERE running * 2 >= total_wt
    )
    SELECT o_orderpriority, o_totalprice AS weighted_median_price,
           CAST(o_orderkey AS BIGINT) AS median_orderkey
    FROM m WHERE rn2 = 1
    """,
)
def q_orders_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group WEIGHTED median (weight = lineitem count per order): the
    quantile generalization percentile_cont can't express — the first
    order, in (price, orderkey) total order, whose cumulative weight
    crosses half the group total. All comparisons are integer
    (2·running ≥ total — no division), so the crossing row is exact. The
    running sum partitions by priority (5 parallel partitions, never a
    global window); the crossing row is picked by min(struct), not a
    second sort. At 100 TB the same shape runs per group; a single-group
    global weighted median would use the two-phase prefix-sum pattern
    (per-partition sums + broadcast offsets) documented in
    dataset_shuffle_deterministic."""
    o = table_scan(spark, sf_dir, "orders")
    li = table_scan(spark, sf_dir, "lineitem").select("l_orderkey")
    w = (
        o.join(li, o["o_orderkey"] == li["l_orderkey"])
        .groupBy("o_orderpriority", "o_orderkey", "o_totalprice")
        .agg(F.count(F.lit(1)).alias("wt"))
    )
    win = (
        Window.partitionBy("o_orderpriority")
        .orderBy("o_totalprice", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    tot = Window.partitionBy("o_orderpriority")
    r = w.select(
        "o_orderpriority",
        "o_orderkey",
        "o_totalprice",
        F.sum("wt").over(win).alias("running"),
        F.sum("wt").over(tot).alias("total_wt"),
    )
    return (
        r.filter(F.col("running") * 2 >= F.col("total_wt"))
        .groupBy("o_orderpriority")
        .agg(F.min(F.struct("o_totalprice", "o_orderkey")).alias("m"))
        .select(
            "o_orderpriority",
            F.col("m.o_totalprice").alias("weighted_median_price"),
            F.col("m.o_orderkey").alias("median_orderkey"),
        )
    )


@register(
    "orders_decile_lift",
    """
    WITH o AS (
      SELECT o_totalprice AS p,
             CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END AS pos
      FROM orders
    ),
    c AS (
      SELECT quantile_cont(p, 0.1) AS c1, quantile_cont(p, 0.2) AS c2,
             quantile_cont(p, 0.3) AS c3, quantile_cont(p, 0.4) AS c4,
             quantile_cont(p, 0.5) AS c5, quantile_cont(p, 0.6) AS c6,
             quantile_cont(p, 0.7) AS c7, quantile_cont(p, 0.8) AS c8,
             quantile_cont(p, 0.9) AS c9
      FROM o
    ),
    b AS (
      SELECT 11 - (CASE WHEN p <= c1 THEN 1 WHEN p <= c2 THEN 2
                        WHEN p <= c3 THEN 3 WHEN p <= c4 THEN 4
                        WHEN p <= c5 THEN 5 WHEN p <= c6 THEN 6
                        WHEN p <= c7 THEN 7 WHEN p <= c8 THEN 8
                        WHEN p <= c9 THEN 9 ELSE 10 END) AS decile,
             pos
      FROM o CROSS JOIN c
    ),
    g AS (
      SELECT decile, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(pos) AS BIGINT) AS pos
      FROM b GROUP BY decile
    ),
    t AS (SELECT CAST(SUM(n) AS BIGINT) AS total_n,
                 CAST(SUM(pos) AS BIGINT) AS total_pos FROM g)
    SELECT a.decile, a.n, a.pos,
           a.pos * 1000 // a.n AS rate_permille,
           CAST(SUM(b2.n) AS BIGINT) AS cum_n,
           CAST(SUM(b2.pos) AS BIGINT) AS cum_pos,
           CASE WHEN t.total_pos = 0 THEN NULL
                ELSE CAST(SUM(b2.pos) AS BIGINT) * t.total_n * 1000
                     // (CAST(SUM(b2.n) AS BIGINT) * t.total_pos) END
             AS lift_permille
    FROM g a JOIN g b2 ON b2.decile <= a.decile CROSS JOIN t
    GROUP BY a.decile, a.n, a.pos, t.total_n, t.total_pos
    """,
)
def q_orders_decile_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decile lift table — the model-evaluation shape for every ranking
    score (here o_totalprice ranks orders, `1-URGENT` priority is the
    positive label): exact decile cutoffs in one pass (`F.percentile` ≡
    quantile_cont bitwise), flat CASE bucketing against the broadcast
    cutoff row (the equi-depth-histogram idiom — no global sort, no
    NTILE), then cumulative capture and lift per decile in exact integer
    per-mille. At 100 TB swap `F.percentile` for `approx_percentile`
    (mergeable sketch — exact percentile buffers every value through one
    merger) and the plan is otherwise unchanged. The cumulative pass is a triangular join of the TEN-row
    bucket aggregate with itself — at any SF it is 55 rows, so the
    all-pairs shape is bounded by construction; totals ride a single-row
    broadcast. Value-based bucketing (not row-number) keeps membership
    bitwise-identical across engines under ties."""
    o = table_scan(spark, sf_dir, "orders").select(
        F.col("o_totalprice").alias("p"),
        F.when(F.col("o_orderpriority") == "1-URGENT", 1).otherwise(0).alias("pos"),
    )
    cuts = o.agg(
        *[F.percentile("p", i / 10).alias(f"c{i}") for i in range(1, 10)]
    )
    asc = F.when(F.col("p") <= F.col("c1"), 1)
    for i in range(2, 10):
        asc = asc.when(F.col("p") <= F.col(f"c{i}"), i)
    asc = asc.otherwise(10)
    g = (
        o.crossJoin(F.broadcast(cuts))
        .select((F.lit(11) - asc).alias("decile"), "pos")
        .groupBy("decile")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("pos").alias("pos"))
    )
    t = g.agg(
        F.sum("n").alias("total_n"), F.sum("pos").alias("total_pos")
    )
    a = g.alias("a")
    b = g.select(
        F.col("decile").alias("d2"), F.col("n").alias("n2"), F.col("pos").alias("p2")
    )
    return (
        a.join(F.broadcast(b), F.col("d2") <= F.col("a.decile"))
        .crossJoin(F.broadcast(t))
        .groupBy("a.decile", "a.n", "a.pos", "total_n", "total_pos")
        .agg(F.sum("n2").alias("cum_n"), F.sum("p2").alias("cum_pos"))
        .select(
            "decile",
            "n",
            "pos",
            F.expr("pos * 1000 div n").alias("rate_permille"),
            "cum_n",
            "cum_pos",
            # total_pos = 0 (no positive label anywhere) must yield NULL on
            # BOTH engines: Spark's div already returns NULL on /0 but
            # DuckDB's // raises, so the CASE keeps the engines aligned
            F.expr(
                "CASE WHEN total_pos = 0 THEN NULL"
                " ELSE cum_pos * total_n * 1000 div (cum_n * total_pos) END"
            ).alias("lift_permille"),
        )
    )


@register(
    "orders_price_range_frame",
    """
    WITH c AS (
      SELECT o_orderkey, o_custkey,
             CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
               AS cents
      FROM orders
    )
    SELECT o_orderkey, o_custkey, cents,
           CAST(COUNT(*) OVER w AS BIGINT) AS n_band_peers,
           CAST(SUM(cents) OVER w AS BIGINT) AS band_cents
    FROM c
    WINDOW w AS (PARTITION BY o_custkey ORDER BY cents
                 RANGE BETWEEN 1000000 PRECEDING AND 1000000 FOLLOWING)
    """,
)
def q_orders_price_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VALUE-based RANGE window frame over a NUMERIC order key — the frame
    family `events_range_frame_avg` exercises over time, here over money:
    for every order, how many of the same customer's orders fall within
    ±10,000.00 of its price, and their exact cents total. RANGE frames
    need no tiebreak to be deterministic (the frame is defined by VALUES,
    so peers with equal cents share identical frames — row-frame results
    would depend on tie order). Windows partition by customer — millions
    of independent partitions at scale; exact integer cents keep the
    frame boundary comparisons and sums bit-identical across engines."""
    c = table_scan(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_custkey",
        (F.col("o_totalprice").cast("decimal(18,2)") * 100)
        .cast("long")
        .alias("cents"),
    )
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("cents")
        .rangeBetween(-1000000, 1000000)
    )
    return c.select(
        "o_orderkey",
        "o_custkey",
        "cents",
        F.count(F.lit(1)).over(w).alias("n_band_peers"),
        F.sum("cents").over(w).alias("band_cents"),
    )


#: Poisson(1) CDF thresholds in parts-per-million — the multiplicity table
#: of the distributed (Poisson) bootstrap: a 60-bit hash uniform in [0, 1e6)
#: maps to how many times a row appears in replicate b.
_POISSON1_PPM = (367879, 735758, 919698, 981011, 996340)


@register(
    "orders_poisson_bootstrap_median",
    f"""
    WITH x AS (
      SELECT o_orderpriority AS prio, o_orderkey AS k,
             CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
               AS cents
      FROM orders
    ),
    r AS (
      SELECT x.*, b.b,
             CAST(concat('0x', substr(md5(
               CAST(k AS VARCHAR) || ':' || CAST(b.b AS VARCHAR)), 1, 15))
               AS BIGINT) % 1000000 AS u
      FROM x, (SELECT UNNEST(range(8)) AS b) b
    ),
    m AS (
      SELECT prio, b, cents,
             CASE WHEN u < {_POISSON1_PPM[0]} THEN 0
                  WHEN u < {_POISSON1_PPM[1]} THEN 1
                  WHEN u < {_POISSON1_PPM[2]} THEN 2
                  WHEN u < {_POISSON1_PPM[3]} THEN 3
                  WHEN u < {_POISSON1_PPM[4]} THEN 4
                  ELSE 5 END AS w
      FROM r
    ),
    c AS (
      SELECT prio, b, cents, w,
             SUM(w) OVER (PARTITION BY prio, b ORDER BY cents, w
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS cumw,
             SUM(w) OVER (PARTITION BY prio, b) AS totw
      FROM m WHERE w > 0
    )
    SELECT prio AS o_orderpriority, b AS replicate,
           CAST(MIN(totw) AS BIGINT) AS n_eff,
           CAST(MIN(CASE WHEN cumw * 2 >= totw THEN cents END) AS BIGINT)
             AS median_cents
    FROM c GROUP BY prio, b
    """,
)
def q_orders_poisson_bootstrap_median(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Distributed (Poisson) bootstrap — uncertainty quantification for a
    robust statistic WITHOUT sampling-with-replacement's central
    coordination: each row's multiplicity in replicate b is the
    Poisson(1) quantile of a portable 60-bit hash of (key, b), which is
    the classical Poisson approximation to the multinomial bootstrap and
    needs one deterministic map pass — no shuffle to "draw" a resample.
    Eight replicates × per-priority WEIGHTED medians (the integer
    cumulative-weight crossing of `orders_weighted_median`) give the
    spread a CI is built from. Partitions are (priority, replicate) —
    40 here, rows×8 fan-out is flat map-side work; at 100 TB swap the
    exact crossing for a mergeable quantile sketch per replicate and the
    shape is unchanged. Every multiplicity, cumulative weight, and median
    is an exact integer — bitwise across engines."""
    from ..functions.hashing import portable_hash64

    x = table_scan(spark, sf_dir, "orders").select(
        F.col("o_orderpriority").alias("prio"),
        F.col("o_orderkey").alias("k"),
        (F.col("o_totalprice").cast("decimal(18,2)") * 100)
        .cast("long")
        .alias("cents"),
    )
    r = x.select(
        "prio",
        "k",
        "cents",
        F.explode(F.sequence(F.lit(0), F.lit(7))).alias("b"),
    ).select(
        "prio",
        "b",
        "cents",
        (
            portable_hash64(
                F.concat(F.col("k").cast("string"), F.lit(":"), F.col("b").cast("string"))
            )
            % 1000000
        ).alias("u"),
    )
    w = F.when(F.col("u") < _POISSON1_PPM[0], 0)
    for i, t in enumerate(_POISSON1_PPM[1:], start=1):
        w = w.when(F.col("u") < t, i)
    w = w.otherwise(5)
    m = r.select("prio", "b", "cents", w.alias("w")).filter(F.col("w") > 0)
    cw = (
        Window.partitionBy("prio", "b")
        .orderBy("cents", "w")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    tw = Window.partitionBy("prio", "b")
    c = m.select(
        "prio",
        "b",
        "cents",
        F.sum("w").over(cw).alias("cumw"),
        F.sum("w").over(tw).alias("totw"),
    )
    return (
        c.groupBy(F.col("prio").alias("o_orderpriority"), F.col("b").alias("replicate"))
        .agg(
            F.min("totw").alias("n_eff"),
            F.min(
                F.when(F.col("cumw") * 2 >= F.col("totw"), F.col("cents"))
            ).alias("median_cents"),
        )
    )


@register(
    "orders_cohort_ltv",
    """
    WITH o AS (
      SELECT o_custkey, CAST(o_orderdate AS DATE) AS d,
             CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
      FROM orders
    ),
    f AS (SELECT o_custkey, MIN(d) AS fd FROM o GROUP BY o_custkey),
    fc AS (SELECT o_custkey,
                  CAST(YEAR(fd) * 12 + MONTH(fd) - 1 AS BIGINT) AS cm
           FROM f),
    sizes AS (SELECT cm, CAST(COUNT(*) AS BIGINT) AS n_customers
              FROM fc GROUP BY cm),
    j AS (
      SELECT fc.cm,
             CAST(YEAR(o.d) * 12 + MONTH(o.d) - 1 AS BIGINT) - fc.cm AS off,
             o.cents
      FROM o JOIN fc ON o.o_custkey = fc.o_custkey
    ),
    g AS (SELECT cm, off, CAST(SUM(cents) AS BIGINT) AS rev_cents
          FROM j GROUP BY cm, off),
    c AS (
      SELECT cm, off, rev_cents,
             CAST(SUM(rev_cents) OVER (
               PARTITION BY cm ORDER BY off
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             AS BIGINT) AS cum_rev_cents
      FROM g
    )
    SELECT MAKE_DATE(CAST(cm // 12 AS INT), CAST(cm % 12 + 1 AS INT), 1)
             AS cohort_month,
           CAST(off AS INT) AS month_offset,
           sizes.n_customers, rev_cents, cum_rev_cents,
           CAST(cum_rev_cents // sizes.n_customers AS BIGINT)
             AS cum_ltv_cents_per_customer
    FROM c JOIN sizes USING (cm)
    """,
)
def q_orders_cohort_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort lifetime-value curve — the revenue twin of
    events_retention_cohorts: customers cohorted by first-order month, then
    per (cohort, month-offset) revenue and its cumulative sum, plus
    cumulative LTV per cohort customer. Exact integer cents end to end
    (decimal-cast price → cents, floor-div per-customer). Shape: one
    groupBy for first orders, one fact⋈cohort join partitioned on custkey,
    one (cohort, offset) roll-up, and the running total is a window
    partitioned BY COHORT over ≤ a few hundred offset rows — never a
    single-partition window; cohort sizes broadcast."""
    o = table_scan(spark, sf_dir, "orders").select(
        "o_custkey",
        F.col("o_orderdate").cast("date").alias("d"),
        (F.col("o_totalprice").cast("decimal(18,2)") * 100)
        .cast("long")
        .alias("cents"),
    )
    f = o.groupBy("o_custkey").agg(F.min("d").alias("fd"))
    fc = f.select(
        "o_custkey",
        (F.year("fd") * 12 + F.month("fd") - 1).cast("long").alias("cm"),
    )
    sizes = fc.groupBy("cm").agg(F.count(F.lit(1)).alias("n_customers"))
    j = o.join(fc, "o_custkey").select(
        "cm",
        ((F.year("d") * 12 + F.month("d") - 1).cast("long") - F.col("cm")).alias(
            "off"
        ),
        "cents",
    )
    g = j.groupBy("cm", "off").agg(F.sum("cents").alias("rev_cents"))
    w = (
        Window.partitionBy("cm")
        .orderBy("off")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    c = g.withColumn("cum_rev_cents", F.sum("rev_cents").over(w))
    return (
        c.join(F.broadcast(sizes), "cm")
        .select(
            F.make_date(
                (F.col("cm") / 12).cast("int"),
                (F.col("cm") % 12 + 1).cast("int"),
                F.lit(1),
            ).alias("cohort_month"),
            F.col("off").cast("int").alias("month_offset"),
            "n_customers",
            "rev_cents",
            "cum_rev_cents",
            F.expr("cum_rev_cents div n_customers").alias(
                "cum_ltv_cents_per_customer"
            ),
        )
    )


@register(
    "customer_segment_nation_chi2",
    """
    WITH o AS (
      SELECT c_mktsegment AS seg, n_name AS nat,
             CAST(COUNT(*) AS BIGINT) AS obs
      FROM customer JOIN nation ON c_nationkey = n_nationkey
      GROUP BY c_mktsegment, n_name
    ),
    r AS (SELECT seg, CAST(SUM(obs) AS BIGINT) AS row_tot FROM o GROUP BY seg),
    c AS (SELECT nat, CAST(SUM(obs) AS BIGINT) AS col_tot FROM o GROUP BY nat),
    t AS (SELECT CAST(SUM(obs) AS BIGINT) AS grand FROM o),
    grid AS (
      SELECT r.seg, c.nat, r.row_tot, c.col_tot,
             COALESCE(o.obs, 0) AS obs
      FROM r CROSS JOIN c LEFT JOIN o USING (seg, nat)
    ),
    cell AS (
      SELECT seg, nat,
             CAST((CAST(obs AS HUGEINT) * grand - CAST(row_tot AS HUGEINT)
                   * col_tot)
                  * (CAST(obs AS HUGEINT) * grand - CAST(row_tot AS HUGEINT)
                     * col_tot)
                  * 1000000
                  // (CAST(grand AS HUGEINT) * row_tot * col_tot) AS BIGINT)
               AS cell_ppm
      FROM grid CROSS JOIN t
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_cells,
           CAST((SELECT COUNT(*) FROM r) - 1 AS BIGINT)
             * CAST((SELECT COUNT(*) FROM c) - 1 AS BIGINT) AS dof,
           CAST(SUM(cell_ppm) AS BIGINT) AS chi2_ppm
    FROM cell
    """,
)
def q_customer_segment_nation_chi2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square test of independence (market segment × nation) — the
    categorical complement of the numeric drift family (KS / CUSUM /
    Mann-Whitney / rank-biserial all compare distributions of NUMBERS;
    χ² compares CONTINGENCY). Per cell, (O·T − R·C)²/(T·R·C) equals
    T·(O−E)²/E exactly, so the whole statistic is an integer-rational fold
    in HUGEINT/DECIMAL(38), floored per cell to ppm then summed —
    identical on both engines, no float, no expected-count division. The
    statistic runs over the FULL r×c grid (marginals cross-joined, then
    left-joined to the observed cells): an empty cell with positive
    expectation contributes R·C/T, which an observed-cells-only sum would
    silently drop (caught round 8 by the independent contingency replay
    test). One grouped count (the contingency table is tiny after
    aggregation), two marginal re-aggregations of IT (not the fact
    table), broadcast-joined back; emitted with cell count and degrees of
    freedom."""
    cust = table_scan(spark, sf_dir, "customer").select(
        "c_mktsegment", "c_nationkey"
    )
    nat = table_scan(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    o = (
        cust.join(F.broadcast(nat), cust["c_nationkey"] == nat["n_nationkey"])
        .groupBy(
            F.col("c_mktsegment").alias("seg"), F.col("n_name").alias("nat")
        )
        .agg(F.count(F.lit(1)).alias("obs"))
    )
    r = o.groupBy("seg").agg(F.sum("obs").alias("row_tot"))
    c = o.groupBy("nat").agg(F.sum("obs").alias("col_tot"))
    t = o.agg(F.sum("obs").alias("grand"))
    grid = (
        r.crossJoin(c)
        .join(o, ["seg", "nat"], "left")
        .select("seg", "nat", "row_tot", "col_tot", F.coalesce("obs", F.lit(0)).alias("obs"))
    )
    cell = (
        grid.crossJoin(F.broadcast(t))
        .selectExpr(
            "CAST((CAST(obs AS DECIMAL(38,0)) * grand"
            "      - CAST(row_tot AS DECIMAL(38,0)) * col_tot)"
            "     * (CAST(obs AS DECIMAL(38,0)) * grand"
            "        - CAST(row_tot AS DECIMAL(38,0)) * col_tot)"
            "     * 1000000"
            "     div (CAST(grand AS DECIMAL(38,0)) * row_tot * col_tot)"
            "     AS BIGINT) AS cell_ppm"
        )
    )
    dims = r.agg(F.count(F.lit(1)).alias("n_rows_dim")).crossJoin(
        c.agg(F.count(F.lit(1)).alias("n_cols_dim"))
    )
    return (
        cell.agg(
            F.count(F.lit(1)).alias("n_cells"),
            F.sum("cell_ppm").alias("chi2_ppm"),
        )
        .crossJoin(F.broadcast(dims))
        .selectExpr(
            "n_cells",
            "CAST((n_rows_dim - 1) * (n_cols_dim - 1) AS BIGINT) AS dof",
            "chi2_ppm",
        )
    )


@register(
    "orders_runs_test_randomness",
    """
    WITH daily AS (
      SELECT CAST(YEAR(CAST(o_orderdate AS DATE)) AS INT) AS yr,
             CAST(o_orderdate AS DATE) AS day,
             CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                           AS BIGINT)) AS BIGINT) AS cents
      FROM orders GROUP BY 1, 2
    ),
    d AS (
      SELECT yr, day, cents,
             cents - LAG(cents) OVER (PARTITION BY yr ORDER BY day) AS diff
      FROM daily
    ),
    s AS (
      SELECT yr, day, CASE WHEN diff > 0 THEN 1 ELSE 0 END AS s
      FROM d WHERE diff IS NOT NULL AND diff <> 0
    ),
    r AS (
      SELECT yr, s,
             CASE WHEN LAG(s) OVER (PARTITION BY yr ORDER BY day) IS NULL
                    OR LAG(s) OVER (PARTITION BY yr ORDER BY day) <> s
                  THEN 1 ELSE 0 END AS new_run
      FROM s
    ),
    m AS (
      SELECT yr, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(s) AS BIGINT) AS n1,
             CAST(COUNT(*) - SUM(s) AS BIGINT) AS n2,
             CAST(SUM(new_run) AS BIGINT) AS runs
      FROM r GROUP BY yr
    )
    SELECT yr, n AS n_obs, n1 AS n_up, n2 AS n_down, runs AS n_runs,
           CAST(CASE
             WHEN n1 = 0 OR n2 = 0 OR 2 * n1 * n2 <= n OR n <= 1 THEN NULL
             ELSE (CAST(runs * n - 2 * n1 * n2 - n AS HUGEINT)
                   * (runs * n - 2 * n1 * n2 - n) * (n - 1) * 1000000)
                  // (CAST(2 AS HUGEINT) * n1 * n2 * (2 * n1 * n2 - n))
           END AS BIGINT) AS z2_ppm
    FROM m
    """,
)
def q_orders_runs_test_randomness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wald–Wolfowitz runs test per year — is the daily-revenue up/down
    sequence random, or trending/mean-reverting? Counts runs of
    consecutive ups/downs (ties dropped, per the classic test) and emits
    the squared z-statistic as an EXACT integer rational: with
    μ = 2n₁n₂/n + 1 and σ² = 2n₁n₂(2n₁n₂−n)/(n²(n−1)), z² reduces to
    (Rn − 2n₁n₂ − n)²·(n−1) / (2n₁n₂(2n₁n₂−n)) — no float, no sqrt,
    HUGEINT/DECIMAL(38) products, NULL-guarded degenerate cases.
    Completes the randomness/drift family (KS, CUSUM, Mann-Whitney, χ²,
    ACF) with the sequence-order test. All windows partition by year over
    the pre-aggregated daily series — O(days), not O(orders)."""
    o = table_scan(spark, sf_dir, "orders")
    daily = o.groupBy(
        F.year(F.col("o_orderdate").cast("date")).cast("int").alias("yr"),
        F.col("o_orderdate").cast("date").alias("day"),
    ).agg(
        F.sum(
            (F.col("o_totalprice").cast("decimal(18,2)") * 100).cast("long")
        ).alias("cents")
    )
    wd = Window.partitionBy("yr").orderBy("day")
    d = daily.withColumn("diff", F.col("cents") - F.lag("cents").over(wd))
    s = d.filter(F.col("diff").isNotNull() & (F.col("diff") != 0)).select(
        "yr", "day", F.when(F.col("diff") > 0, 1).otherwise(0).alias("s")
    )
    r = s.withColumn(
        "new_run",
        F.when(
            F.lag("s").over(wd).isNull() | (F.lag("s").over(wd) != F.col("s")),
            1,
        ).otherwise(0),
    )
    m = r.groupBy("yr").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("s").alias("n1"),
        (F.count(F.lit(1)) - F.sum("s")).alias("n2"),
        F.sum("new_run").alias("runs"),
    )
    return m.selectExpr(
        "yr",
        "n AS n_obs",
        "n1 AS n_up",
        "n2 AS n_down",
        "runs AS n_runs",
        "CAST(CASE"
        "  WHEN n1 = 0 OR n2 = 0 OR 2 * n1 * n2 <= n OR n <= 1 THEN NULL"
        "  ELSE (CAST(runs * n - 2 * n1 * n2 - n AS DECIMAL(38,0))"
        "        * (runs * n - 2 * n1 * n2 - n) * (n - 1) * 1000000)"
        "       div (CAST(2 AS DECIMAL(38,0)) * n1 * n2 * (2 * n1 * n2 - n))"
        " END AS BIGINT) AS z2_ppm",
    )


@register(
    "customer_decay_weighted_value",
    """
    WITH o AS (
      SELECT o_custkey, CAST(o_orderdate AS DATE) AS d,
             CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
      FROM orders
    ),
    anchor AS (SELECT MAX(d) AS mx FROM o),
    scored AS (
      SELECT o.o_custkey, o.cents,
             LEAST(CAST(date_diff('day', o.d, anchor.mx) AS BIGINT) // 30, 39)
               AS periods
      FROM o CROSS JOIN anchor
    )
    SELECT o_custkey,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(cents) AS BIGINT) AS raw_cents,
           CAST(SUM(cents // (CAST(1 AS BIGINT) << periods)) AS BIGINT)
             AS decayed_cents
    FROM scored GROUP BY o_custkey
    """,
)
def q_customer_decay_weighted_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Half-life decay-weighted customer value — recency-weighted LTV with
    a 30-day half-life, made EXACT by quantizing the exponent: each order
    contributes cents >> (days_ago // 30), i.e. floor division by 2^p —
    an integer a float exp() could never replicate cross-engine. Periods
    cap at 39 (2³⁹ > any cents value ⇒ contribution 0; also keeps the
    shift inside int64 on both engines — Spark's shiftleft masks the
    count at 63, so an uncapped period would silently wrap). One scalar
    anchor broadcast + one per-customer partial agg."""
    o = table_scan(spark, sf_dir, "orders").select(
        "o_custkey",
        F.col("o_orderdate").cast("date").alias("d"),
        (F.col("o_totalprice").cast("decimal(18,2)") * 100)
        .cast("long")
        .alias("cents"),
    )
    anchor = o.agg(F.max("d").alias("mx"))
    scored = o.crossJoin(F.broadcast(anchor)).selectExpr(
        "o_custkey",
        "cents",
        "LEAST(CAST(datediff(mx, d) AS BIGINT) div 30, 39) AS periods",
    )
    return scored.groupBy("o_custkey").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum("cents").alias("raw_cents"),
        F.expr("SUM(cents div shiftleft(CAST(1 AS BIGINT), CAST(periods AS INT)))").alias(
            "decayed_cents"
        ),
    )


@register(
    "orders_gini_by_nation",
    """
    WITH cust AS (
      SELECT c.c_nationkey, o.o_custkey,
             CAST(SUM(CAST(CAST(o.o_totalprice AS DECIMAL(18,2)) * 100
                           AS BIGINT)) AS BIGINT) AS cents
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
      GROUP BY c.c_nationkey, o.o_custkey
    ),
    ranked AS (
      SELECT c_nationkey, cents,
             ROW_NUMBER() OVER (PARTITION BY c_nationkey
                                ORDER BY cents, o_custkey) AS i
      FROM cust
    ),
    m AS (
      SELECT n_name, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(cents) AS BIGINT) AS sx,
             CAST(SUM(i * cents) AS BIGINT) AS six
      FROM ranked JOIN nation ON n_nationkey = c_nationkey
      GROUP BY n_name
    )
    SELECT n_name, n AS n_customers,
           CAST(CASE WHEN sx = 0 OR n <= 1 THEN NULL
                ELSE (CAST(2 AS HUGEINT) * six - (CAST(n AS HUGEINT) + 1) * sx)
                     * 1000000 // (CAST(n AS HUGEINT) * sx)
           END AS BIGINT) AS gini_ppm
    FROM m
    """,
)
def q_orders_gini_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini concentration of customer revenue per nation — the Lorenz-curve
    inequality index (0 = equal spend, →10⁶ = one whale), via the
    rank-sum identity G = (2Σi·xᵢ − (n+1)Σx) / (nΣx) over ascending-sorted
    per-customer totals: one per-customer roll-up, one rank window
    PARTITIONED BY NATION (never a global sort), one moment fold — all
    exact integers, HUGEINT/DECIMAL(38) for the final rational, ties
    broken on custkey so the rank-weighted sum is deterministic. The
    business twin of orders_abc_pareto's cumulative-share view."""
    o = table_scan(spark, sf_dir, "orders").select(
        "o_custkey",
        (F.col("o_totalprice").cast("decimal(18,2)") * 100)
        .cast("long")
        .alias("cents"),
    )
    c = table_scan(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    nat = table_scan(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    cust = (
        o.join(F.broadcast(c), o["o_custkey"] == c["c_custkey"])
        .groupBy("c_nationkey", "o_custkey")
        .agg(F.sum("cents").alias("cents"))
    )
    w = Window.partitionBy("c_nationkey").orderBy("cents", "o_custkey")
    ranked = cust.withColumn("i", F.row_number().over(w))
    m = (
        ranked.join(F.broadcast(nat), ranked["c_nationkey"] == nat["n_nationkey"])
        .groupBy("n_name")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("cents").alias("sx"),
            F.sum(F.col("i") * F.col("cents")).alias("six"),
        )
    )
    return m.selectExpr(
        "n_name",
        "n AS n_customers",
        "CAST(CASE WHEN sx = 0 OR n <= 1 THEN NULL"
        "     ELSE (CAST(2 AS DECIMAL(38,0)) * six"
        "           - (CAST(n AS DECIMAL(38,0)) + 1) * sx)"
        "          * 1000000 div (CAST(n AS DECIMAL(38,0)) * sx)"
        " END AS BIGINT) AS gini_ppm",
    )


@register(
    "orders_weekday_anova_eta2",
    """
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS day,
             CAST(dayofweek(CAST(o_orderdate AS DATE)) AS INT) AS dow,
             CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                           AS BIGINT)) AS BIGINT) AS x
      FROM orders GROUP BY 1, 2
    ),
    piv AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(CAST(SUM(x) AS BIGINT) AS DOUBLE) AS s,
             CAST(CAST(SUM(CAST(x AS HUGEINT) * x) AS HUGEINT) AS DOUBLE)
               AS sxx,
             CAST(CAST(SUM(CASE WHEN dow = 0 THEN x ELSE 0 END) AS BIGINT) AS DOUBLE) AS s0,
             CAST(SUM(CASE WHEN dow = 0 THEN 1 ELSE 0 END) AS DOUBLE) AS n0,
             CAST(CAST(SUM(CASE WHEN dow = 1 THEN x ELSE 0 END) AS BIGINT) AS DOUBLE) AS s1,
             CAST(SUM(CASE WHEN dow = 1 THEN 1 ELSE 0 END) AS DOUBLE) AS n1,
             CAST(CAST(SUM(CASE WHEN dow = 2 THEN x ELSE 0 END) AS BIGINT) AS DOUBLE) AS s2,
             CAST(SUM(CASE WHEN dow = 2 THEN 1 ELSE 0 END) AS DOUBLE) AS n2,
             CAST(CAST(SUM(CASE WHEN dow = 3 THEN x ELSE 0 END) AS BIGINT) AS DOUBLE) AS s3,
             CAST(SUM(CASE WHEN dow = 3 THEN 1 ELSE 0 END) AS DOUBLE) AS n3,
             CAST(CAST(SUM(CASE WHEN dow = 4 THEN x ELSE 0 END) AS BIGINT) AS DOUBLE) AS s4,
             CAST(SUM(CASE WHEN dow = 4 THEN 1 ELSE 0 END) AS DOUBLE) AS n4,
             CAST(CAST(SUM(CASE WHEN dow = 5 THEN x ELSE 0 END) AS BIGINT) AS DOUBLE) AS s5,
             CAST(SUM(CASE WHEN dow = 5 THEN 1 ELSE 0 END) AS DOUBLE) AS n5,
             CAST(CAST(SUM(CASE WHEN dow = 6 THEN x ELSE 0 END) AS BIGINT) AS DOUBLE) AS s6,
             CAST(SUM(CASE WHEN dow = 6 THEN 1 ELSE 0 END) AS DOUBLE) AS n6
      FROM daily
    )
    SELECT n AS n_days,
           CASE WHEN (sxx - (s * s) / n) <= 0 THEN NULL
                ELSE (((CASE WHEN n0 > 0 THEN (s0 * s0) / n0 ELSE 0 END)
                     + (CASE WHEN n1 > 0 THEN (s1 * s1) / n1 ELSE 0 END)
                     + (CASE WHEN n2 > 0 THEN (s2 * s2) / n2 ELSE 0 END)
                     + (CASE WHEN n3 > 0 THEN (s3 * s3) / n3 ELSE 0 END)
                     + (CASE WHEN n4 > 0 THEN (s4 * s4) / n4 ELSE 0 END)
                     + (CASE WHEN n5 > 0 THEN (s5 * s5) / n5 ELSE 0 END)
                     + (CASE WHEN n6 > 0 THEN (s6 * s6) / n6 ELSE 0 END))
                     - (s * s) / n)
                     / (sxx - (s * s) / n) END AS eta_squared
    FROM piv
    """,
)
def q_orders_weekday_anova_eta2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-way ANOVA effect size η² — how much of daily-revenue variance
    does day-of-week explain? (The 'seasonality strength' a decomposition
    would report, without the decomposition.) η² = SS_between/SS_total
    with the 7 weekday groups PIVOTED into one row of exact integer
    moments, so the between-groups sum is a FIXED expression tree — not a
    SUM() over group rows whose float addition order an engine could
    choose — and the final value is one deterministic IEEE double (the
    lineitem_corr idiom, extended to grouped sums). One daily roll-up +
    one conditional-aggregate fold; zero-variance NULL guard. DuckDB
    dayofweek == Spark dayofweek−1, aligned via the 0–6 convention."""
    o = table_scan(spark, sf_dir, "orders")
    daily = o.groupBy(
        F.col("o_orderdate").cast("date").alias("day"),
        (F.dayofweek(F.col("o_orderdate").cast("date")) - 1).cast("int").alias("dow"),
    ).agg(
        F.sum(
            (F.col("o_totalprice").cast("decimal(18,2)") * 100).cast("long")
        ).alias("x")
    )
    aggs = [
        F.count(F.lit(1)).alias("n"),
        F.sum("x").cast("double").alias("s"),
        # x^2 overflows int64 on real daily revenues: square in DECIMAL(38)
        F.sum(F.col("x").cast("decimal(38,0)") * F.col("x"))
        .cast("double")
        .alias("sxx"),
    ]
    for d in range(7):
        aggs.append(
            F.sum(F.when(F.col("dow") == d, F.col("x")).otherwise(0))
            .cast("double")
            .alias(f"s{d}")
        )
        aggs.append(
            F.sum(F.when(F.col("dow") == d, 1).otherwise(0))
            .cast("double")
            .alias(f"n{d}")
        )
    piv = daily.agg(*aggs)
    between = None
    for d in range(7):
        term = F.when(
            F.col(f"n{d}") > 0, (F.col(f"s{d}") * F.col(f"s{d}")) / F.col(f"n{d}")
        ).otherwise(F.lit(0.0))
        between = term if between is None else between + term
    tot = F.col("sxx") - (F.col("s") * F.col("s")) / F.col("n")
    eta2 = F.when(tot <= 0, F.lit(None).cast("double")).otherwise(
        (between - (F.col("s") * F.col("s")) / F.col("n")) / tot
    )
    return piv.select(F.col("n").alias("n_days"), eta2.alias("eta_squared"))


@register(
    "orders_seasonal_decompose_exact",
    """
    WITH daily AS (
      SELECT CAST(YEAR(CAST(o_orderdate AS DATE)) AS INT) AS yr,
             CAST(o_orderdate AS DATE) AS day,
             CAST(dayofweek(CAST(o_orderdate AS DATE)) AS INT) AS dow,
             CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                           AS BIGINT)) AS BIGINT) AS x
      FROM orders GROUP BY 1, 2, 3
    ),
    tr AS (
      SELECT yr, day, dow, x,
             CASE WHEN COUNT(*) OVER w = 7
                  THEN CAST(SUM(x) OVER w AS BIGINT) END AS trend_sum7
      FROM daily
      WINDOW w AS (PARTITION BY yr ORDER BY day
                   ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
    ),
    det AS (
      SELECT yr, day, dow, x, trend_sum7,
             7 * x - trend_sum7 AS detrended_x7
      FROM tr
    ),
    seas AS (
      SELECT yr, dow,
             CAST(COUNT(detrended_x7) AS BIGINT) AS n_dow,
             CAST(SUM(detrended_x7) AS BIGINT) AS s_dow
      FROM det GROUP BY yr, dow
    )
    SELECT d.day, d.x AS revenue_cents, d.trend_sum7, d.detrended_x7,
           CAST(CASE WHEN s.n_dow = 0 OR d.detrended_x7 IS NULL THEN NULL
                WHEN s.s_dow < 0 THEN -((-s.s_dow) // s.n_dow)
                ELSE s.s_dow // s.n_dow END AS BIGINT) AS seasonal_x7,
           CAST(CASE WHEN s.n_dow = 0 OR d.detrended_x7 IS NULL THEN NULL
                ELSE d.detrended_x7
                     - (CASE WHEN s.s_dow < 0 THEN -((-s.s_dow) // s.n_dow)
                             ELSE s.s_dow // s.n_dow END)
           END AS BIGINT) AS residual_x7
    FROM det d JOIN seas s ON s.yr = d.yr AND s.dow = d.dow
    """,
)
def q_orders_seasonal_decompose_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Additive seasonal decomposition (classical trend + day-of-week
    seasonal + residual) made EXACT by working in ×7-scaled integers: the
    trend is the CENTERED 7-day window SUM (complete windows only — edges
    NULL), detrended = 7x − trend_sum, the seasonal component is the
    per-(year, weekday) mean of detrended values (sign-split floored
    once), and the residual closes the identity detrended = seasonal +
    residual exactly. No float means, no rational denominators — the
    ×7 scaling clears the only division a moving average needs. Windows
    partition by year over the daily aggregate; the seasonal means are a
    7×years-row broadcast back. The decomposition every anomaly/forecast
    pipeline runs, with bitwise-reproducible components."""
    o = table_scan(spark, sf_dir, "orders")
    daily = o.groupBy(
        F.year(F.col("o_orderdate").cast("date")).cast("int").alias("yr"),
        F.col("o_orderdate").cast("date").alias("day"),
        (F.dayofweek(F.col("o_orderdate").cast("date")) - 1)
        .cast("int")
        .alias("dow"),
    ).agg(
        F.sum(
            (F.col("o_totalprice").cast("decimal(18,2)") * 100).cast("long")
        ).alias("x")
    )
    w = Window.partitionBy("yr").orderBy("day").rowsBetween(-3, 3)
    tr = daily.select(
        "yr",
        "day",
        "dow",
        "x",
        F.when(F.count(F.lit(1)).over(w) == 7, F.sum("x").over(w)).alias(
            "trend_sum7"
        ),
    )
    det = tr.withColumn("detrended_x7", 7 * F.col("x") - F.col("trend_sum7"))
    seas = det.groupBy("yr", "dow").agg(
        F.count("detrended_x7").alias("n_dow"),
        F.sum("detrended_x7").alias("s_dow"),
    )
    return (
        det.join(F.broadcast(seas), ["yr", "dow"])
        .selectExpr(
            "day",
            "x AS revenue_cents",
            "trend_sum7",
            "detrended_x7",
            "CAST(CASE WHEN n_dow = 0 OR detrended_x7 IS NULL THEN NULL"
            "     WHEN s_dow < 0 THEN -((-s_dow) div n_dow)"
            "     ELSE s_dow div n_dow END AS BIGINT) AS seasonal_x7",
            "CAST(CASE WHEN n_dow = 0 OR detrended_x7 IS NULL THEN NULL"
            "     ELSE detrended_x7"
            "          - (CASE WHEN s_dow < 0 THEN -((-s_dow) div n_dow)"
            "                  ELSE s_dow div n_dow END)"
            " END AS BIGINT) AS residual_x7",
        )
    )


@register(
    "orders_high_value_rate_wilson",
    """
    WITH m AS (
      SELECT o_orderpriority,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CASE WHEN CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                                AS BIGINT) >= 20000000
                      THEN 1 ELSE 0 END) AS BIGINT) AS k
      FROM orders GROUP BY o_orderpriority
    )
    SELECT o_orderpriority, n AS n_orders, k AS n_high_value,
           (CAST(k AS DOUBLE) / n + 1.9208 / n
            - 1.96 * sqrt((CAST(k AS DOUBLE) / n)
                          * (1.0 - CAST(k AS DOUBLE) / n) / n
                          + 0.9604 / (CAST(n AS DOUBLE) * n * n)))
           / (1.0 + 3.8416 / n) AS wilson_lower
    FROM m
    """,
)
def q_orders_high_value_rate_wilson(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wilson score lower bound for a proportion — THE right way to rank
    segments by a rate when sample sizes differ (the Reddit-comment-
    ranking lesson: a naive k/n lets a 2/2 segment beat 180/200): the
    95 % lower confidence bound shrinks small samples toward zero. All
    z-derived constants (z=1.96: z²/2 = 1.9208, z² = 3.8416, z²/4 =
    0.9604) are written as literal doubles and the formula is one fixed
    IEEE tree (one correctly-rounded sqrt) over exact integer counts —
    cross-engine deterministic like the MDE query. One grouped count."""
    o = table_scan(spark, sf_dir, "orders")
    m = o.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(
            F.when(
                (F.col("o_totalprice").cast("decimal(18,2)") * 100).cast("long")
                >= 20000000,
                1,
            ).otherwise(0)
        ).alias("k"),
    )
    return m.selectExpr(
        "o_orderpriority",
        "n AS n_orders",
        "k AS n_high_value",
        "(CAST(k AS DOUBLE) / n + 1.9208D / n"
        " - 1.96D * sqrt((CAST(k AS DOUBLE) / n)"
        "               * (1.0D - CAST(k AS DOUBLE) / n) / n"
        "               + 0.9604D / (CAST(n AS DOUBLE) * n * n)))"
        "/ (1.0D + 3.8416D / n) AS wilson_lower",
    )


@register(
    "customer_segment_migration",
    """
    WITH span AS (
      SELECT MIN(CAST(o_orderdate AS DATE)) AS lo,
             MAX(CAST(o_orderdate AS DATE)) AS hi
      FROM orders
    ),
    mid AS (
      SELECT lo + CAST(date_diff('day', lo, hi) // 2 AS INT) AS mid FROM span
    ),
    per AS (
      SELECT o_custkey,
             CAST(SUM(CASE WHEN CAST(o_orderdate AS DATE) < mid.mid
                  THEN CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                            AS BIGINT) ELSE 0 END) AS BIGINT) AS h1,
             CAST(SUM(CASE WHEN CAST(o_orderdate AS DATE) >= mid.mid
                  THEN CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                            AS BIGINT) ELSE 0 END) AS BIGINT) AS h2
      FROM orders CROSS JOIN mid GROUP BY o_custkey
    ),
    cls AS (
      SELECT o_custkey,
             CASE WHEN h1 = 0 THEN 'none'
                  WHEN h1 >= 40000000 THEN 'high'
                  WHEN h1 >= 15000000 THEN 'mid' ELSE 'low' END AS seg_h1,
             CASE WHEN h2 = 0 THEN 'none'
                  WHEN h2 >= 40000000 THEN 'high'
                  WHEN h2 >= 15000000 THEN 'mid' ELSE 'low' END AS seg_h2
      FROM per
    ),
    g AS (
      SELECT seg_h1, seg_h2, CAST(COUNT(*) AS BIGINT) AS n_customers
      FROM cls GROUP BY seg_h1, seg_h2
    ),
    r AS (SELECT seg_h1, CAST(SUM(n_customers) AS BIGINT) AS row_tot FROM g
          GROUP BY seg_h1)
    SELECT g.seg_h1, g.seg_h2, g.n_customers,
           CAST(g.n_customers * 1000 // r.row_tot AS BIGINT)
             AS share_permille
    FROM g JOIN r USING (seg_h1)
    """,
)
def q_customer_segment_migration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customer segment-migration matrix — the cohort-dynamics view
    (upgrades/downgrades/churn between value tiers across the two halves
    of the observation window): per-customer exact cents per half (one
    conditional aggregate, midpoint anchored on the data's own span so
    the query is SF-invariant), fixed value-tier classification, and the
    transition matrix with per-row shares in exact per-mille. The
    relational form of 'where did our high-value customers go?' — one
    fact pass + two tiny aggregates."""
    o = table_scan(spark, sf_dir, "orders").select(
        "o_custkey",
        F.col("o_orderdate").cast("date").alias("d"),
        (F.col("o_totalprice").cast("decimal(18,2)") * 100)
        .cast("long")
        .alias("cents"),
    )
    span = o.agg(F.min("d").alias("lo"), F.max("d").alias("hi"))
    mid = span.selectExpr(
        "date_add(lo, CAST(datediff(hi, lo) div 2 AS INT)) AS mid"
    )
    per = (
        o.crossJoin(F.broadcast(mid))
        .groupBy("o_custkey")
        .agg(
            F.sum(F.when(F.col("d") < F.col("mid"), F.col("cents")).otherwise(0)).alias(
                "h1"
            ),
            F.sum(
                F.when(F.col("d") >= F.col("mid"), F.col("cents")).otherwise(0)
            ).alias("h2"),
        )
    )
    seg = (
        "CASE WHEN {c} = 0 THEN 'none'"
        " WHEN {c} >= 40000000 THEN 'high'"
        " WHEN {c} >= 15000000 THEN 'mid' ELSE 'low' END"
    )
    cls = per.selectExpr(
        "o_custkey",
        seg.format(c="h1") + " AS seg_h1",
        seg.format(c="h2") + " AS seg_h2",
    )
    g = cls.groupBy("seg_h1", "seg_h2").agg(
        F.count(F.lit(1)).alias("n_customers")
    )
    r = g.groupBy("seg_h1").agg(F.sum("n_customers").alias("row_tot"))
    return g.join(F.broadcast(r), "seg_h1").selectExpr(
        "seg_h1",
        "seg_h2",
        "n_customers",
        "(n_customers * 1000) div row_tot AS share_permille",
    )


@register(
    "orders_second_order_hazard",
    """
    WITH r AS (
      SELECT o_custkey, CAST(o_orderdate AS DATE) AS d,
             ROW_NUMBER() OVER (PARTITION BY o_custkey
                                ORDER BY CAST(o_orderdate AS DATE),
                                         o_orderkey) AS rn
      FROM orders
    ),
    cust AS (
      SELECT f.o_custkey,
             CAST(YEAR(f.d) * 12 + MONTH(f.d) - 1 AS BIGINT) AS first_m,
             CAST(YEAR(s.d) * 12 + MONTH(s.d) - 1 AS BIGINT) AS second_m
      FROM (SELECT * FROM r WHERE rn = 1) f
      LEFT JOIN (SELECT * FROM r WHERE rn = 2) s
        ON s.o_custkey = f.o_custkey
    ),
    horizon AS (
      SELECT CAST(YEAR(MAX(CAST(o_orderdate AS DATE))) * 12
                  + MONTH(MAX(CAST(o_orderdate AS DATE))) - 1 AS BIGINT)
               AS max_m
      FROM orders
    ),
    expanded AS (
      SELECT CAST(k.k AS INT) AS k,
             CASE WHEN c.second_m IS NOT NULL
                       AND c.second_m - c.first_m = k.k THEN 1 ELSE 0 END AS d
      FROM cust c
      CROSS JOIN horizon h
      CROSS JOIN (SELECT UNNEST(range(1, 7)) AS k) k
      WHERE h.max_m - c.first_m >= k.k
        AND (c.second_m IS NULL OR c.second_m - c.first_m >= k.k)
    )
    SELECT k AS month_offset,
           CAST(COUNT(*) AS BIGINT) AS n_at_risk,
           CAST(SUM(d) AS BIGINT) AS n_events,
           CAST(CAST(SUM(d) AS BIGINT) * 1000 // COUNT(*) AS BIGINT)
             AS hazard_permille
    FROM expanded GROUP BY k
    """,
)
def q_orders_second_order_hazard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Discrete-time survival hazard of the second order — retention's
    survival-analysis form: h(k) = P(second order lands exactly k months
    after the first | no second order before k AND the customer is
    observable that long). Right-censoring is handled exactly: a customer
    only enters month-k's risk set if the data horizon reaches their
    first-order month + k — the piece naive 'time to second order'
    averages silently get wrong. The risk-set expansion is a bounded
    k=1..6 explode over the per-customer row (6× fan on CUSTOMERS, not
    orders), then one grouped fold; hazards in floored per-mille. Unlike
    Kaplan-Meier's running product, the discrete hazard is a pure
    per-bucket ratio — fully exact, no sequential state."""
    o = table_scan(spark, sf_dir, "orders")
    wr = Window.partitionBy("o_custkey").orderBy("d", "o_orderkey")
    r = o.select(
        "o_custkey", "o_orderkey", F.col("o_orderdate").cast("date").alias("d")
    ).withColumn("rn", F.row_number().over(wr))
    firsts = r.filter(F.col("rn") == 1).select(
        "o_custkey",
        (F.year("d") * 12 + F.month("d") - 1).cast("long").alias("first_m"),
    )
    seconds = r.filter(F.col("rn") == 2).select(
        F.col("o_custkey").alias("ck2"),
        (F.year("d") * 12 + F.month("d") - 1).cast("long").alias("second_m"),
    )
    cust = firsts.join(seconds, firsts["o_custkey"] == seconds["ck2"], "left")
    horizon = o.agg(
        (
            F.year(F.max(F.col("o_orderdate").cast("date"))) * 12
            + F.month(F.max(F.col("o_orderdate").cast("date")))
            - 1
        )
        .cast("long")
        .alias("max_m")
    )
    expanded = (
        cust.crossJoin(F.broadcast(horizon))
        .select(
            "first_m",
            "second_m",
            "max_m",
            F.explode(F.expr("sequence(1, 6)")).alias("k"),
        )
        .filter(
            (F.col("max_m") - F.col("first_m") >= F.col("k"))
            & (
                F.col("second_m").isNull()
                | (F.col("second_m") - F.col("first_m") >= F.col("k"))
            )
        )
        .select(
            F.col("k").cast("int").alias("k"),
            F.when(
                F.col("second_m").isNotNull()
                & (F.col("second_m") - F.col("first_m") == F.col("k")),
                1,
            )
            .otherwise(0)
            .alias("d"),
        )
    )
    return expanded.groupBy("k").agg(
        F.count(F.lit(1)).alias("n_at_risk"),
        F.sum("d").alias("n_events"),
    ).selectExpr(
        "k AS month_offset",
        "n_at_risk",
        "n_events",
        "(n_events * 1000) div n_at_risk AS hazard_permille",
    )


@register(
    "orders_aov_mann_kendall",
    """
    WITH m AS (
      SELECT CAST(YEAR(CAST(o_orderdate AS DATE)) * 12
                  + MONTH(CAST(o_orderdate AS DATE)) - 1 AS BIGINT) AS mm,
             CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                           AS BIGINT))
                  // COUNT(*) AS BIGINT) AS aov
      FROM orders GROUP BY 1
    ),
    pairs AS (
      SELECT CASE WHEN b.aov > a.aov THEN 1
                  WHEN b.aov < a.aov THEN -1 ELSE 0 END AS sgn
      FROM m a JOIN m b ON b.mm > a.mm
    ),
    stat AS (
      SELECT CAST(SUM(sgn) AS BIGINT) AS s,
             (SELECT CAST(COUNT(*) AS BIGINT) FROM m) AS n
      FROM pairs
    )
    SELECT n AS n_months, s AS mk_s,
           CAST(CASE WHEN n < 3 THEN NULL
                ELSE CASE WHEN s > 0
                  THEN (CAST(s - 1 AS HUGEINT) * (s - 1) * 18 * 1000000)
                       // (CAST(n AS HUGEINT) * (n - 1) * (2 * n + 5))
                  WHEN s < 0
                  THEN -((CAST(s + 1 AS HUGEINT) * (s + 1) * 18 * 1000000)
                         // (CAST(n AS HUGEINT) * (n - 1) * (2 * n + 5)))
                  ELSE 0 END
           END AS BIGINT) AS signed_z2_ppm
    FROM stat
    """,
)
def q_orders_aov_mann_kendall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann–Kendall trend test on monthly average order value — the
    NONPARAMETRIC trend detector (no linearity assumption, immune to
    outliers — the hydrology-standard complement to the OLS slope
    queries): S = Σ sign(xⱼ−xᵢ) over all month pairs, and the
    continuity-corrected z² = (|S|−1)²·18/(n(n−1)(2n+5)) as an exact
    signed HUGEINT rational in ppm (sign carries the trend direction;
    |z²| ≥ 3.84·10⁶ ⇒ significant at 5 %). No tie correction (integer
    AOVs tie rarely; both engines apply the identical formula). The
    month-pair join is O(months²) over the pre-aggregated series — 80
    months ⇒ 3160 pairs, independent of order count."""
    o = table_scan(spark, sf_dir, "orders")
    m = o.groupBy(
        (
            F.year(F.col("o_orderdate").cast("date")) * 12
            + F.month(F.col("o_orderdate").cast("date"))
            - 1
        )
        .cast("long")
        .alias("mm")
    ).agg(
        F.expr(
            "SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT))"
            " div COUNT(*)"
        ).alias("aov")
    )
    a, b = m.alias("a"), m.alias("b")
    pairs = a.join(b, F.col("b.mm") > F.col("a.mm")).select(
        F.when(F.col("b.aov") > F.col("a.aov"), 1)
        .when(F.col("b.aov") < F.col("a.aov"), -1)
        .otherwise(0)
        .alias("sgn")
    )
    n_months = m.agg(F.count(F.lit(1)).alias("n"))
    stat = pairs.agg(F.sum("sgn").alias("s")).crossJoin(
        F.broadcast(n_months)
    )
    return stat.selectExpr(
        "n AS n_months",
        "s AS mk_s",
        "CAST(CASE WHEN n < 3 THEN NULL"
        " ELSE CASE WHEN s > 0"
        "   THEN (CAST(s - 1 AS DECIMAL(38,0)) * (s - 1) * 18 * 1000000)"
        "        div (CAST(n AS DECIMAL(38,0)) * (n - 1) * (2 * n + 5))"
        "   WHEN s < 0"
        "   THEN -((CAST(s + 1 AS DECIMAL(38,0)) * (s + 1) * 18 * 1000000)"
        "          div (CAST(n AS DECIMAL(38,0)) * (n - 1) * (2 * n + 5)))"
        "   ELSE 0 END"
        " END AS BIGINT) AS signed_z2_ppm",
    )


@register(
    "orders_aov_theil_sen",
    """
    WITH m AS (
      SELECT CAST(YEAR(CAST(o_orderdate AS DATE)) * 12
                  + MONTH(CAST(o_orderdate AS DATE)) - 1 AS BIGINT) AS mm,
             CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                           AS BIGINT))
                  // COUNT(*) AS BIGINT) AS aov
      FROM orders GROUP BY 1
    ),
    slopes AS (
      SELECT CAST(CASE WHEN b.aov >= a.aov
               THEN ((b.aov - a.aov) * 1000000) // (b.mm - a.mm)
               ELSE -(((a.aov - b.aov) * 1000000) // (b.mm - a.mm)) END
             AS BIGINT) AS slope_micro
      FROM m a JOIN m b ON b.mm > a.mm
    ),
    r AS (
      SELECT slope_micro,
             ROW_NUMBER() OVER (ORDER BY slope_micro) AS rn,
             COUNT(*) OVER () AS n
      FROM slopes
    )
    SELECT CAST(n AS BIGINT) AS n_pairs, slope_micro AS theil_sen_micro
    FROM r WHERE rn = (n + 1) // 2
    """,
)
def q_orders_aov_theil_sen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil–Sen robust slope of monthly AOV — the median of all pairwise
    slopes, the estimator a single outlier month cannot move (breakdown
    point 29 %, vs 0 % for the OLS trend queries): slopes in sign-split
    floored micro-cents/month, lower median by rank. Completes the
    robust-statistics family (MAD outliers, winsorize, Mann-Kendall —
    MK tests the trend's EXISTENCE, Theil-Sen estimates its SIZE, and
    they agree on sign by construction). The pair join and rank window
    run over the ~80-row pre-aggregated month table — O(months²) ≈ 3 k
    rows regardless of order count."""
    o = table_scan(spark, sf_dir, "orders")
    m = o.groupBy(
        (
            F.year(F.col("o_orderdate").cast("date")) * 12
            + F.month(F.col("o_orderdate").cast("date"))
            - 1
        )
        .cast("long")
        .alias("mm")
    ).agg(
        F.expr(
            "SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT))"
            " div COUNT(*)"
        ).alias("aov")
    )
    a, b = m.alias("a"), m.alias("b")
    slopes = a.join(b, F.col("b.mm") > F.col("a.mm")).selectExpr(
        "CAST(CASE WHEN b.aov >= a.aov"
        "  THEN ((b.aov - a.aov) * 1000000) div (b.mm - a.mm)"
        "  ELSE -(((a.aov - b.aov) * 1000000) div (b.mm - a.mm)) END"
        " AS BIGINT) AS slope_micro"
    )
    w = Window.orderBy("slope_micro")
    r = slopes.select(
        "slope_micro",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(
            Window.partitionBy(F.lit(1)).rowsBetween(
                Window.unboundedPreceding, Window.unboundedFollowing
            )
        ).alias("n"),
    )
    return r.filter(F.expr("rn = (n + 1) div 2")).selectExpr(
        "CAST(n AS BIGINT) AS n_pairs", "slope_micro AS theil_sen_micro"
    )


@register(
    "orders_yoy_price_volume_bridge",
    """
    WITH y AS (
      SELECT CAST(YEAR(CAST(o_orderdate AS DATE)) AS INT) AS yr,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                           AS BIGINT)) AS BIGINT) AS rev
      FROM orders GROUP BY 1
    )
    SELECT cur.yr, prev.n AS n_prev, cur.n AS n_cur,
           prev.rev AS rev_prev, cur.rev AS rev_cur,
           CAST((CAST(cur.n AS HUGEINT) - prev.n) * prev.rev AS BIGINT)
             AS volume_effect_x_nprev,
           CAST(CAST(cur.rev AS HUGEINT) * prev.n
                - CAST(cur.n AS HUGEINT) * prev.rev AS BIGINT)
             AS price_effect_x_nprev,
           CAST(CAST(prev.n AS HUGEINT) * (cur.rev - prev.rev) AS BIGINT)
             AS total_delta_x_nprev
    FROM y cur JOIN y prev ON prev.yr = cur.yr - 1
    """,
)
def q_orders_yoy_price_volume_bridge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Price-volume bridge — the finance waterfall that explains a revenue
    change as 'how much came from MORE orders vs RICHER orders', made
    EXACT by scaling the whole identity by n_prev instead of flooring the
    average-order-value terms: volume = (n₁−n₀)·rev₀ and price =
    rev₁·n₀ − n₁·rev₀ sum to n₀·(rev₁−rev₀) EXACTLY (the bridge closes to
    the cent — the property every floored-AOV implementation silently
    loses; divide by n₀ off-engine for presentation units). One yearly
    roll-up self-joined on year−1; HUGEINT/DECIMAL(38) products."""
    o = table_scan(spark, sf_dir, "orders")
    y = o.groupBy(
        F.year(F.col("o_orderdate").cast("date")).cast("int").alias("yr")
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(
            (F.col("o_totalprice").cast("decimal(18,2)") * 100).cast("long")
        ).alias("rev"),
    )
    prev = y.selectExpr("yr + 1 AS yr", "n AS n_prev", "rev AS rev_prev")
    return (
        y.join(prev, "yr")
        .selectExpr(
            "yr",
            "n_prev",
            "n AS n_cur",
            "rev_prev",
            "rev AS rev_cur",
            "CAST((CAST(n AS DECIMAL(38,0)) - n_prev) * rev_prev AS BIGINT)"
            " AS volume_effect_x_nprev",
            "CAST(CAST(rev AS DECIMAL(38,0)) * n_prev"
            " - CAST(n AS DECIMAL(38,0)) * rev_prev AS BIGINT)"
            " AS price_effect_x_nprev",
            "CAST(CAST(n_prev AS DECIMAL(38,0)) * (rev - rev_prev) AS BIGINT)"
            " AS total_delta_x_nprev",
        )
    )


@register(
    "orders_fiscal_445_rollup",
    """
    WITH base AS (
      SELECT CAST(o_orderdate AS DATE) AS d,
             CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
               AS cents
      FROM orders
    ),
    f AS (
      SELECT cents,
             CASE WHEN MONTH(d) >= 2 THEN YEAR(d) ELSE YEAR(d) - 1 END AS fy,
             CAST(date_diff('day',
                            MAKE_DATE(CASE WHEN MONTH(d) >= 2 THEN YEAR(d)
                                           ELSE YEAR(d) - 1 END, 2, 1),
                            d) AS BIGINT) AS doy
      FROM base
    ),
    w AS (
      SELECT cents, fy, LEAST(doy // 7, 51) AS wk FROM f
    ),
    p AS (
      SELECT cents, fy,
             CAST((wk // 13) * 3
                  + CASE WHEN wk % 13 < 4 THEN 0
                         WHEN wk % 13 < 8 THEN 1 ELSE 2 END + 1 AS INT)
               AS fiscal_period
      FROM w
    )
    SELECT fy AS fiscal_year, fiscal_period,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(cents) AS BIGINT) AS revenue_cents
    FROM p GROUP BY fy, fiscal_period
    """,
)
def q_orders_fiscal_445_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retail 4-4-5 fiscal calendar rollup — the enterprise calendar where
    every period has a fixed week count so period-over-period compares
    like-for-like: fiscal year starts Feb 1, weeks index by integer
    day-offset // 7 (week 52 of leap layouts folds into period 12 via the
    LEAST clamp — the '53rd-week' rule), and the 4-4-5 pattern is pure
    integer arithmetic: period = 3·(wk//13) + {0,1,2 by wk%13 <4,<8} + 1.
    No calendar dimension table, no UDF — the mapping every BI stack
    builds a lookup for, as one expression; revenue per (fiscal year,
    period) in exact cents."""
    o = table_scan(spark, sf_dir, "orders").select(
        F.col("o_orderdate").cast("date").alias("d"),
        (F.col("o_totalprice").cast("decimal(18,2)") * 100)
        .cast("long")
        .alias("cents"),
    )
    f = o.selectExpr(
        "cents",
        "CASE WHEN MONTH(d) >= 2 THEN YEAR(d) ELSE YEAR(d) - 1 END AS fy",
        "CAST(datediff(d, MAKE_DATE("
        " CASE WHEN MONTH(d) >= 2 THEN YEAR(d) ELSE YEAR(d) - 1 END, 2, 1))"
        " AS BIGINT) AS doy",
    )
    p = f.selectExpr(
        "cents",
        "fy",
        "CAST((LEAST(doy div 7, 51) div 13) * 3"
        " + CASE WHEN LEAST(doy div 7, 51) % 13 < 4 THEN 0"
        "        WHEN LEAST(doy div 7, 51) % 13 < 8 THEN 1 ELSE 2 END + 1"
        " AS INT) AS fiscal_period",
    )
    return p.groupBy(F.col("fy").alias("fiscal_year"), "fiscal_period").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum("cents").alias("revenue_cents"),
    )


@register(
    "orders_abc_pareto_scaled",
    """
    WITH r AS (
      SELECT o_custkey, SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS rd
      FROM orders GROUP BY o_custkey
    ), c AS (
      SELECT o_custkey, rd,
             SUM(rd) OVER (ORDER BY rd DESC, o_custkey
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
             SUM(rd) OVER () AS total
      FROM r
    )
    SELECT o_custkey, CAST(rd AS DOUBLE) AS revenue,
           CASE WHEN cum * 5 <= total * 4 THEN 'A'
                WHEN cum * 20 <= total * 19 THEN 'B'
                ELSE 'C' END AS pareto_class
    FROM c
    """,
)
def q_orders_abc_pareto_scaled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale-path twin of orders_abc_pareto (VERDICT r7 ask #7): the global
    cumulative-revenue window becomes a TWO-PHASE PREFIX SUM — the
    distributed cumsum pattern. Keys are range-binned by revenue cents
    (bin monotone-decreasing in rd, so bin order extends the global
    (rd DESC, o_custkey) order); phase 1 computes per-bin revenue sums
    (≤1024 rows) and turns them into bin OFFSETS with a bounded window;
    phase 2 computes the running sum WITHIN each bin (window partitioned
    by bin, ~|keys|/1024 rows per task) and adds the broadcast offset.
    Result is bitwise the original cumsum — the oracle is the original's
    SQL verbatim — but no task ever sees more than one bin of keys. Same
    decimal cross-multiplied class boundaries (cum·5 ≤ total·4)."""
    o = table_scan(spark, sf_dir, "orders")
    r = (
        o.groupBy("o_custkey")
        .agg(F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("rd"))
        .withColumn("rdc", (F.col("rd") * 100).cast("long"))
        .transform(cached)  # feeds the stats scalar AND the bin pass
    )
    stats = r.agg(
        F.min("rdc").alias("lo"),
        F.max("rdc").alias("hi"),
        F.sum("rd").alias("total"),
    )
    binned = r.crossJoin(F.broadcast(stats)).selectExpr(
        "o_custkey",
        "rd",
        "total",
        # descending in rd: bin 0 holds the highest revenues
        "LEAST(CAST((hi - rdc) * 1024 div GREATEST(hi - lo + 1, 1) AS INT),"
        " 1023) AS b",
    )
    binsum = binned.groupBy("b").agg(F.sum("rd").alias("s"))
    offs = binsum.select(
        "b",
        (F.sum("s").over(Window.orderBy("b")) - F.col("s")).alias("off"),
    )
    win = Window.partitionBy("b").orderBy(F.desc("rd"), "o_custkey").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    c = binned.join(F.broadcast(offs), "b").select(
        "o_custkey",
        "rd",
        "total",
        (F.col("off") + F.sum("rd").over(win)).alias("cum"),
    )
    cls = (
        F.when(F.col("cum") * 5 <= F.col("total") * 4, F.lit("A"))
        .when(F.col("cum") * 20 <= F.col("total") * 19, F.lit("B"))
        .otherwise(F.lit("C"))
    )
    return c.select(
        "o_custkey",
        F.col("rd").cast("double").alias("revenue"),
        cls.alias("pareto_class"),
    )


@register(
    "orders_rfm_segments_scaled",
    """
    WITH per_cust AS (
      SELECT o_custkey,
             MAX(CAST(o_orderdate AS DATE)) AS last_day,
             CAST(COUNT(*) AS BIGINT) AS frequency,
             SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS md
      FROM orders GROUP BY o_custkey
    ),
    anchored AS (
      SELECT o_custkey, frequency, md,
             CAST(date_diff('day', last_day, (SELECT MAX(last_day) FROM per_cust))
                  AS BIGINT) AS recency_days,
             -frequency AS nf,
             -CAST(md * 100 AS BIGINT) AS nm
      FROM per_cust
    ),
    n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM anchored),
    rr AS (SELECT recency_days AS v, ROW_NUMBER() OVER (ORDER BY recency_days) AS rn FROM anchored),
    rf AS (SELECT nf AS v, ROW_NUMBER() OVER (ORDER BY nf) AS rn FROM anchored),
    rm AS (SELECT nm AS v, ROW_NUMBER() OVER (ORDER BY nm) AS rn FROM anchored),
    cuts AS (
      SELECT
        (SELECT MAX(CASE WHEN rn = (1*n + 3) // 4 THEN v END) FROM rr CROSS JOIN n) AS r1,
        (SELECT MAX(CASE WHEN rn = (2*n + 3) // 4 THEN v END) FROM rr CROSS JOIN n) AS r2,
        (SELECT MAX(CASE WHEN rn = (3*n + 3) // 4 THEN v END) FROM rr CROSS JOIN n) AS r3,
        (SELECT MAX(CASE WHEN rn = (1*n + 3) // 4 THEN v END) FROM rf CROSS JOIN n) AS f1,
        (SELECT MAX(CASE WHEN rn = (2*n + 3) // 4 THEN v END) FROM rf CROSS JOIN n) AS f2,
        (SELECT MAX(CASE WHEN rn = (3*n + 3) // 4 THEN v END) FROM rf CROSS JOIN n) AS f3,
        (SELECT MAX(CASE WHEN rn = (1*n + 3) // 4 THEN v END) FROM rm CROSS JOIN n) AS m1,
        (SELECT MAX(CASE WHEN rn = (2*n + 3) // 4 THEN v END) FROM rm CROSS JOIN n) AS m2,
        (SELECT MAX(CASE WHEN rn = (3*n + 3) // 4 THEN v END) FROM rm CROSS JOIN n) AS m3
    )
    SELECT o_custkey, recency_days, frequency, CAST(md AS DOUBLE) AS monetary,
           CAST(CASE WHEN recency_days <= r1 THEN 1 WHEN recency_days <= r2 THEN 2
                     WHEN recency_days <= r3 THEN 3 ELSE 4 END AS INT) AS r_q,
           CAST(CASE WHEN nf <= f1 THEN 1 WHEN nf <= f2 THEN 2
                     WHEN nf <= f3 THEN 3 ELSE 4 END AS INT) AS f_q,
           CAST(CASE WHEN nm <= m1 THEN 1 WHEN nm <= m2 THEN 2
                     WHEN nm <= m3 THEN 3 ELSE 4 END AS INT) AS m_q,
           CAST(CASE WHEN recency_days <= r1 THEN 1 WHEN recency_days <= r2 THEN 2
                     WHEN recency_days <= r3 THEN 3 ELSE 4 END AS VARCHAR) ||
           CAST(CASE WHEN nf <= f1 THEN 1 WHEN nf <= f2 THEN 2
                     WHEN nf <= f3 THEN 3 ELSE 4 END AS VARCHAR) ||
           CAST(CASE WHEN nm <= m1 THEN 1 WHEN nm <= m2 THEN 2
                     WHEN nm <= m3 THEN 3 ELSE 4 END AS VARCHAR) AS segment
    FROM anchored CROSS JOIN cuts
    """,
)
def q_orders_rfm_segments_scaled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale-path twin of orders_rfm_segments (VERDICT r7 ask #7): the
    three exact-NTILE windows over the per-customer key table become
    VALUE-based quartiles against exact rank cutoffs from the distributed
    selection kernel (_exact_rank_cutoffs, one call per metric). Recency
    buckets ascending (low = best); frequency and monetary bucket on the
    NEGATED value so quartile 1 is the top — ties share a bucket, the
    stable definition under distribution. Cutoffs are exact ceil(i·n/4)
    order statistics (integer days / counts / cents), bitwise equal to the
    oracle's ROW_NUMBER selections; no per-customer row ever crosses a
    single-partition window."""
    o = table_scan(spark, sf_dir, "orders")
    per_cust = (
        o.groupBy("o_custkey")
        .agg(
            F.max(F.col("o_orderdate").cast("date")).alias("last_day"),
            F.count(F.lit(1)).alias("frequency"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("md"),
        )
        .transform(cached)
    )
    anchor = per_cust.agg(F.max("last_day").alias("_anchor"))
    anchored = per_cust.crossJoin(F.broadcast(anchor)).select(
        "o_custkey",
        "frequency",
        "md",
        F.datediff(F.col("_anchor"), F.col("last_day"))
        .cast("long")
        .alias("recency_days"),
        (-F.col("frequency")).alias("nf"),
        (-(F.col("md") * 100).cast("long")).alias("nm"),
    )
    rcuts = _exact_rank_cutoffs(
        anchored.select(F.col("recency_days").alias("v")), _QUARTILE_RANKS
    ).selectExpr("c1 AS r1", "c2 AS r2", "c3 AS r3")
    fcuts = _exact_rank_cutoffs(
        anchored.select(F.col("nf").alias("v")), _QUARTILE_RANKS
    ).selectExpr("c1 AS f1", "c2 AS f2", "c3 AS f3")
    mcuts = _exact_rank_cutoffs(
        anchored.select(F.col("nm").alias("v")), _QUARTILE_RANKS
    ).selectExpr("c1 AS m1", "c2 AS m2", "c3 AS m3")
    scored = (
        anchored.crossJoin(F.broadcast(rcuts))
        .crossJoin(F.broadcast(fcuts))
        .crossJoin(F.broadcast(mcuts))
        .selectExpr(
            "o_custkey",
            "recency_days",
            "frequency",
            "CAST(md AS DOUBLE) AS monetary",
            "CAST(CASE WHEN recency_days <= r1 THEN 1"
            " WHEN recency_days <= r2 THEN 2"
            " WHEN recency_days <= r3 THEN 3 ELSE 4 END AS INT) AS r_q",
            "CAST(CASE WHEN nf <= f1 THEN 1 WHEN nf <= f2 THEN 2"
            " WHEN nf <= f3 THEN 3 ELSE 4 END AS INT) AS f_q",
            "CAST(CASE WHEN nm <= m1 THEN 1 WHEN nm <= m2 THEN 2"
            " WHEN nm <= m3 THEN 3 ELSE 4 END AS INT) AS m_q",
        )
        .selectExpr(
            "*",
            "CAST(r_q AS STRING) || CAST(f_q AS STRING) ||"
            " CAST(m_q AS STRING) AS segment",
        )
    )
    return scored


@register(
    "customer_segment_nation_cramers_v",
    """
    WITH o AS (
      SELECT c_mktsegment AS seg, n_name AS nat,
             CAST(COUNT(*) AS BIGINT) AS obs
      FROM customer JOIN nation ON c_nationkey = n_nationkey
      GROUP BY c_mktsegment, n_name
    ),
    r AS (SELECT seg, CAST(SUM(obs) AS BIGINT) AS row_tot FROM o GROUP BY seg),
    c AS (SELECT nat, CAST(SUM(obs) AS BIGINT) AS col_tot FROM o GROUP BY nat),
    t AS (SELECT CAST(SUM(obs) AS BIGINT) AS grand FROM o),
    grid AS (
      SELECT r.seg, c.nat, r.row_tot, c.col_tot,
             COALESCE(o.obs, 0) AS obs
      FROM r CROSS JOIN c LEFT JOIN o USING (seg, nat)
    ),
    cell AS (
      SELECT CAST((CAST(obs AS HUGEINT) * grand
                   - CAST(row_tot AS HUGEINT) * col_tot)
                  * (CAST(obs AS HUGEINT) * grand
                     - CAST(row_tot AS HUGEINT) * col_tot) AS DOUBLE)
             / CAST(CAST(grand AS HUGEINT) * row_tot * col_tot AS DOUBLE)
               AS term
      FROM grid CROSS JOIN t
    ),
    chi AS (SELECT CAST(SUM(term) AS DOUBLE) AS chi2,
                   CAST(COUNT(*) AS BIGINT) AS n_cells FROM cell),
    dims AS (
      SELECT CAST((SELECT COUNT(*) FROM r) AS BIGINT) AS nr,
             CAST((SELECT COUNT(*) FROM c) AS BIGINT) AS nc
    )
    SELECT chi.n_cells, dims.nr AS n_rows_dim, dims.nc AS n_cols_dim,
           chi.chi2,
           sqrt(chi.chi2 / (CAST(t.grand AS DOUBLE)
                            * LEAST(dims.nr - 1, dims.nc - 1))) AS cramers_v
    FROM chi CROSS JOIN dims CROSS JOIN t
    """,
)
def q_customer_segment_nation_cramers_v(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Cramér's V association strength between market segment and nation —
    the normalized companion of customer_segment_nation_chi2 (which stops
    at the raw chi² in exact ppm): V = sqrt(chi² / (n·min(r−1, c−1))),
    the [0,1] effect size dashboards actually compare across tables. Each
    cell's (obs·N − row·col)²/(N·row·col) keeps numerator and denominator
    exact integers (DECIMAL/HUGEINT) and divides once in double; the
    ~125-cell sum is all-positive, so summation-order drift stays ~1e-16
    relative — far inside the comparator's 10 significant digits.
    Contingency, marginals, and scalars are all partial-agg shuffles plus
    broadcasts of dim-sized tables."""
    cust = table_scan(spark, sf_dir, "customer").select(
        F.col("c_mktsegment").alias("seg"), "c_nationkey"
    )
    nat = table_scan(spark, sf_dir, "nation").select(
        "n_nationkey", F.col("n_name").alias("nat")
    )
    o = (
        cust.join(F.broadcast(nat), cust.c_nationkey == nat.n_nationkey)
        .groupBy("seg", "nat")
        .agg(F.count(F.lit(1)).alias("obs"))
        .transform(cached)
    )
    r = o.groupBy("seg").agg(F.sum("obs").alias("row_tot"))
    c = o.groupBy("nat").agg(F.sum("obs").alias("col_tot"))
    t = o.agg(F.sum("obs").alias("grand"))
    dec = lambda col: col.cast("decimal(38,0)")  # noqa: E731
    diff = dec(F.col("obs")) * F.col("grand") - dec(F.col("row_tot")) * F.col(
        "col_tot"
    )
    term = (diff * diff).cast("double") / (
        dec(F.col("grand")) * F.col("row_tot") * F.col("col_tot")
    ).cast("double")
    grid = (
        r.crossJoin(c)
        .join(o, ["seg", "nat"], "left")
        .select(
            "seg",
            "nat",
            "row_tot",
            "col_tot",
            F.coalesce("obs", F.lit(0)).alias("obs"),
        )
    )
    cell = grid.crossJoin(F.broadcast(t)).select(term.alias("term"))
    chi = cell.agg(
        F.sum("term").alias("chi2"), F.count(F.lit(1)).alias("n_cells")
    )
    dims = r.agg(F.count(F.lit(1)).alias("nr")).crossJoin(
        F.broadcast(c.agg(F.count(F.lit(1)).alias("nc")))
    )
    v = F.sqrt(
        F.col("chi2")
        / (F.col("grand").cast("double") * F.least(F.col("nr") - 1, F.col("nc") - 1))
    )
    return (
        chi.crossJoin(F.broadcast(dims))
        .crossJoin(F.broadcast(t))
        .select(
            "n_cells",
            F.col("nr").alias("n_rows_dim"),
            F.col("nc").alias("n_cols_dim"),
            "chi2",
            v.alias("cramers_v"),
        )
    )


@register(
    "orders_auc_urgent_price",
    """
    WITH b AS (
      SELECT CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
               AS cents,
             CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END AS pos
      FROM orders
    ),
    g AS (
      SELECT cents,
             CAST(SUM(pos) AS BIGINT) AS wp,
             CAST(COUNT(*) - SUM(pos) AS BIGINT) AS wn
      FROM b GROUP BY cents
    ),
    c AS (
      SELECT cents, wp, wn,
             SUM(wn) OVER (ORDER BY cents
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               - wn AS below
      FROM g
    ),
    u AS (
      SELECT CAST(SUM(CAST(wp AS HUGEINT) * (2 * below + wn)) AS HUGEINT)
               AS u2,
             CAST(SUM(wp) AS BIGINT) AS n_pos,
             CAST(SUM(wn) AS BIGINT) AS n_neg
      FROM c
    )
    SELECT n_pos, n_neg,
           CAST(u2 * 1000000 // (2 * CAST(n_pos AS HUGEINT) * n_neg)
                AS BIGINT) AS auc_ppm
    FROM u
    """,
)
def q_orders_auc_urgent_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT ROC AUC of price as a predictor of '1-URGENT' priority — the
    model-evaluation metric, via the Mann-Whitney identity
    AUC = [Σ_pos (#neg below) + ½·#neg tied] / (n₁·n₀), with no global
    sort of the fact table: rows collapse to per-distinct-cents (wp, wn)
    counts, and the cumulative negatives-below runs as a TWO-PHASE PREFIX
    SUM (the orders_abc_pareto_scaled pattern — range-bin by cents,
    per-bin offsets from a ≤1024-row window, within-bin running sums
    partitioned by bin). The ½-tie term rides a 2× integer scale, so
    U₂ = Σ wp·(2·below + wn) is exact and auc_ppm is an exact integer
    floor — bitwise equal to the oracle's single-window formulation. At
    100 TB: one partial-agg shuffle + bounded windows; AUC for a new
    score column costs the same as a groupBy."""
    b = table_scan(spark, sf_dir, "orders").select(
        (F.col("o_totalprice").cast("decimal(18,2)") * 100)
        .cast("long")
        .alias("cents"),
        F.when(F.col("o_orderpriority") == "1-URGENT", 1).otherwise(0).alias(
            "pos"
        ),
    )
    g = (
        b.groupBy("cents")
        .agg(
            F.sum("pos").alias("wp"),
            (F.count(F.lit(1)) - F.sum("pos")).alias("wn"),
        )
        .transform(cached)
    )
    stats = g.agg(F.min("cents").alias("lo"), F.max("cents").alias("hi"))
    binned = g.crossJoin(F.broadcast(stats)).selectExpr(
        "cents",
        "wp",
        "wn",
        "LEAST(CAST((cents - lo) * 1024 div GREATEST(hi - lo + 1, 1) AS INT),"
        " 1023) AS bin",
    )
    offs = (
        binned.groupBy("bin")
        .agg(F.sum("wn").alias("s"))
        .select(
            "bin",
            (F.sum("s").over(Window.orderBy("bin")) - F.col("s")).alias("off"),
        )
    )
    wbin = (
        Window.partitionBy("bin")
        .orderBy("cents")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    c = binned.join(F.broadcast(offs), "bin").select(
        "cents",
        "wp",
        "wn",
        (F.col("off") + F.sum("wn").over(wbin) - F.col("wn")).alias("below"),
    )
    dec = lambda col: col.cast("decimal(38,0)")  # noqa: E731
    u = c.agg(
        F.sum(dec(F.col("wp")) * (2 * F.col("below") + F.col("wn")))
        .cast("decimal(38,0)")
        .alias("u2"),
        F.sum("wp").alias("n_pos"),
        F.sum("wn").alias("n_neg"),
    )
    return u.selectExpr(
        "n_pos",
        "n_neg",
        "CAST(u2 * 1000000 div (2 * CAST(n_pos AS DECIMAL(38,0)) * n_neg)"
        " AS BIGINT) AS auc_ppm",
    )


@register(
    "orders_cdc_snapshot_diff",
    """
    WITH s1 AS (
      SELECT l_orderkey AS k, CAST(COUNT(*) AS BIGINT) AS shipped
      FROM lineitem WHERE l_shipdate < DATE '1995-01-01' GROUP BY 1
    ),
    s2 AS (
      SELECT l_orderkey AS k, CAST(COUNT(*) AS BIGINT) AS shipped
      FROM lineitem WHERE l_shipdate < DATE '1996-01-01' GROUP BY 1
    ),
    d AS (
      SELECT COALESCE(s1.k, s2.k) AS k,
             CASE WHEN s1.k IS NULL THEN 'added'
                  WHEN s2.k IS NULL THEN 'removed'
                  WHEN s1.shipped <> s2.shipped THEN 'changed'
                  ELSE 'unchanged' END AS change_type
      FROM s1 FULL JOIN s2 ON s1.k = s2.k
    )
    SELECT change_type, CAST(COUNT(*) AS BIGINT) AS n_keys
    FROM d GROUP BY change_type
    """,
)
def q_orders_cdc_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot-diff CDC classification — the change-data-capture operator
    every incremental pipeline needs when the source has no changelog:
    two point-in-time states (orders' shipped-lineitem counts as of two
    cutoff dates) FULL OUTER join on the key, each key classified
    added / removed / changed / unchanged. The join shuffles both
    snapshots by key (co-partitioned — at scale both sides would be
    bucketed by key on disk and the diff becomes shuffle-free); the
    classification is pure expressions. Counts per class here; the
    per-key stream (the `d` CTE) is what a MERGE INTO would consume."""
    li = table_scan(spark, sf_dir, "lineitem")

    def snap(cutoff: str) -> DataFrame:
        return (
            li.filter(F.col("l_shipdate") < F.lit(cutoff).cast("date"))
            .groupBy(F.col("l_orderkey").alias("k"))
            .agg(F.count(F.lit(1)).alias("shipped"))
        )

    s1 = snap("1995-01-01").select(
        F.col("k").alias("k1"), F.col("shipped").alias("ship1")
    )
    s2 = snap("1996-01-01").select(
        F.col("k").alias("k2"), F.col("shipped").alias("ship2")
    )
    d = s1.join(s2, F.col("k1") == F.col("k2"), "full").select(
        F.when(F.col("k1").isNull(), "added")
        .when(F.col("k2").isNull(), "removed")
        .when(F.col("ship1") != F.col("ship2"), "changed")
        .otherwise("unchanged")
        .alias("change_type")
    )
    return d.groupBy("change_type").agg(F.count(F.lit(1)).alias("n_keys"))


@register(
    "orders_kaplan_meier_first_ship",
    """
    WITH fs AS (
      SELECT o.o_orderkey,
             date_diff('day', CAST(o.o_orderdate AS DATE),
                       MIN(CAST(l.l_shipdate AS DATE))) AS t
      FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
      GROUP BY o.o_orderkey, o.o_orderdate
    ),
    obs AS (
      SELECT CASE WHEN t > 90 THEN 90 WHEN t < 0 THEN 0 ELSE t END AS t,
             CASE WHEN t > 90 THEN 0 ELSE 1 END AS event
      FROM fs
    ),
    day_agg AS (
      SELECT t, CAST(SUM(event) AS BIGINT) AS d,
             CAST(COUNT(*) AS BIGINT) AS leaving
      FROM obs GROUP BY t
    ),
    risk AS (
      SELECT t, d,
             CAST(CAST((SELECT COUNT(*) FROM obs) AS BIGINT)
                  - (SUM(leaving) OVER (ORDER BY t
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                     - leaving) AS BIGINT) AS n_at_risk
      FROM day_agg
    )
    SELECT CAST(t AS INT) AS day, d AS n_events, n_at_risk,
           product(1.0 - CAST(d AS DOUBLE) / n_at_risk)
             OVER (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING
                   AND CURRENT ROW) AS survival
    FROM risk WHERE d > 0
    """,
)
def q_orders_kaplan_meier_first_ship(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Kaplan-Meier product-limit survival of time-to-first-shipment, with
    right-censoring at a 90-day horizon (orders still unshipped at the
    horizon stay in the risk set until 90, then leave censored — the
    estimator every time-to-event dashboard needs when the slow tail
    hasn't resolved yet). The event domain is BOUNDED (≤91 distinct days
    after the per-order min-shipdate aggregation), so the at-risk counts
    and the running product Π(1 − dᵢ/nᵢ) are windows over a ≤91-row
    day table — deterministic cross-engine because both engines multiply
    the SAME doubles in the SAME ascending-day order (windowed product
    aggregate; complement of orders_second_order_hazard, which reports
    discrete per-interval hazards, not the survival curve). Data-sized
    stages: one join + per-order min, one day groupBy."""
    o = table_scan(spark, sf_dir, "orders").select(
        "o_orderkey", F.col("o_orderdate").cast("date").alias("od")
    )
    li = table_scan(spark, sf_dir, "lineitem").select(
        "l_orderkey", F.col("l_shipdate").cast("date").alias("sd")
    )
    fs = (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .groupBy("o_orderkey", "od")
        .agg(F.min("sd").alias("first_ship"))
        .select(F.datediff("first_ship", "od").alias("t"))
    )
    # clip BOTH ends: >90 days censors at the horizon; the synthetic data's
    # arbitrary dates also yield NEGATIVE delays (ship before order, min
    # −2399 at sf0.1) which floor to day 0 — without the floor the "day
    # domain" balloons to ~2500 distinct values and the bounded-window
    # claim breaks (caught by the SF1 stress row count)
    obs = fs.select(
        F.when(F.col("t") > 90, 90)
        .when(F.col("t") < 0, 0)
        .otherwise(F.col("t"))
        .alias("t"),
        F.when(F.col("t") > 90, 0).otherwise(1).alias("event"),
    ).transform(cached)
    day_agg = obs.groupBy("t").agg(
        F.sum("event").alias("d"), F.count(F.lit(1)).alias("leaving")
    )
    total = obs.agg(F.count(F.lit(1)).alias("n_total"))
    cumw = Window.orderBy("t").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    risk = day_agg.crossJoin(F.broadcast(total)).select(
        "t",
        "d",
        (
            F.col("n_total")
            - (F.sum("leaving").over(cumw) - F.col("leaving"))
        ).alias("n_at_risk"),
    )
    surv = F.product(1.0 - F.col("d").cast("double") / F.col("n_at_risk")).over(
        cumw
    )
    return (
        risk.select(
            F.col("t").cast("int").alias("day"),
            F.col("d").alias("n_events"),
            "n_at_risk",
            surv.alias("survival"),
        )
        .filter(F.col("n_events") > 0)
    )


@register(
    "orders_queue_depth_lindley",
    """
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS day,
             CAST(COUNT(*) AS BIGINT) AS arrivals
      FROM orders GROUP BY 1
    ),
    cap AS (
      SELECT CAST((SUM(arrivals) + COUNT(*) - 1) // COUNT(*) AS BIGINT)
               AS capacity
      FROM daily
    ),
    net AS (
      SELECT day, arrivals, capacity,
             SUM(arrivals - capacity)
               OVER (ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING
                     AND CURRENT ROW) AS cum
      FROM daily CROSS JOIN cap
    ),
    q AS (
      SELECT day, arrivals, capacity, cum,
             cum - LEAST(0, MIN(cum)
               OVER (ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING
                     AND CURRENT ROW)) AS queue_depth
      FROM net
    )
    SELECT day, arrivals, capacity, CAST(queue_depth AS BIGINT)
             AS queue_depth
    FROM q WHERE queue_depth > 0
    """,
)
def q_orders_queue_depth_lindley(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-backlog depth via the Lindley recursion — the waiting-line
    operator behind every fulfillment/SLA dashboard: with daily arrivals
    aᵗ and a fixed capacity c (here the ceiling of mean daily volume,
    derived from the data), the backlog Qᵗ = max(0, Qᵗ⁻¹ + aᵗ − c). The
    recursion LOOKS inherently sequential, but it telescopes into the
    max-plus closed form Qᵗ = Sᵗ − min(0, min_{s≤t} Sₛ) over the running
    net-flow sum Sᵗ — two cumulative windows, no iteration, no recursion,
    no driver loop. Both windows run over the CALENDAR-BOUNDED day
    aggregate (~2.4k rows regardless of data volume); all arithmetic is
    exact integers. The only data-sized stage is the daily partial-agg
    count."""
    daily = (
        table_scan(spark, sf_dir, "orders")
        .groupBy(F.col("o_orderdate").cast("date").alias("day"))
        .agg(F.count(F.lit(1)).alias("arrivals"))
        .transform(cached)
    )
    cap = daily.agg(
        F.sum("arrivals").alias("s"), F.count(F.lit(1)).alias("nd")
    ).selectExpr("CAST((s + nd - 1) div nd AS BIGINT) AS capacity")
    cum_w = Window.orderBy("day").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    net = daily.crossJoin(F.broadcast(cap)).select(
        "day",
        "arrivals",
        "capacity",
        F.sum(F.col("arrivals") - F.col("capacity")).over(cum_w).alias("cum"),
    )
    q = net.select(
        "day",
        "arrivals",
        "capacity",
        (
            F.col("cum") - F.least(F.lit(0), F.min("cum").over(cum_w))
        ).alias("queue_depth"),
    )
    return q.filter(F.col("queue_depth") > 0).select(
        "day", "arrivals", "capacity", F.col("queue_depth").cast("long").alias("queue_depth")
    )


@register(
    "orders_average_precision_urgent",
    """
    WITH r AS (
      SELECT o_orderkey,
             CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
               AS cents,
             CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END AS rel
      FROM orders
    ),
    rk AS (
      SELECT rel,
             ROW_NUMBER() OVER (ORDER BY cents DESC, o_orderkey) AS rank,
             CAST(SUM(rel) OVER (ORDER BY cents DESC, o_orderkey
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS BIGINT) AS cumpos
      FROM r
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(CAST(SUM(rel) AS HUGEINT) AS BIGINT) AS n_urgent,
           CASE WHEN SUM(rel) = 0 THEN NULL
                ELSE CAST(CAST(SUM(CASE WHEN rel = 1
                          THEN (1000000000 * cumpos) // rank
                          ELSE 0 END) AS HUGEINT)
                     // CAST(SUM(rel) AS HUGEINT) AS BIGINT) END AS ap_ppb,
           CASE WHEN COUNT(*) = 0 THEN NULL
                ELSE CAST((1000000000 * CAST(SUM(rel) AS HUGEINT))
                          // COUNT(*) AS BIGINT) END AS prior_ppb
    FROM rk
    """,
)
def q_orders_average_precision_urgent(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """EXACT average precision (area under the precision–recall curve) of
    "price ranks urgency": treating order value as a relevance score for
    '1-URGENT', AP = (1/P)·Σ_{positives} precision@rank. Complements
    orders_auc_urgent_price — AUC is prevalence-blind while AP collapses
    toward the prior under class imbalance, which is why retrieval and
    anomaly pipelines report both; prior_ppb (= P/N) sits in the same row
    as the no-skill reference. The oracle states the textbook global
    window; the Spark plan assigns every order its EXACT global rank and
    cumulative-positive count with the TWO-PHASE pattern (range-partition
    on (−price, key), rank + positive-prefix locally per partition, add
    per-partition (row, positive) offsets from the ≤16-row count table —
    the only global window runs over THAT table). Every precision@k term
    is the integer floor (10⁹·cumpos) div rank, summed exactly, so
    cross-engine parity is bitwise. Tie-pinning by o_orderkey makes the
    ranking — and therefore AP — fully deterministic."""
    o = table_scan(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("key"),
        (-(F.col("o_totalprice").cast("decimal(18,2)") * 100).cast("long"))
        .alias("negc"),
        F.when(F.col("o_orderpriority") == "1-URGENT", 1)
        .otherwise(0)
        .alias("rel"),
    )
    ranged = (
        o.repartitionByRange(16, "negc", "key")
        .withColumn("pid", F.spark_partition_id())
        .transform(cached)
    )
    wloc = Window.partitionBy("pid").orderBy("negc", "key")
    local = ranged.select(
        "pid",
        "rel",
        F.row_number().over(wloc).alias("rn_local"),
        F.sum("rel")
        .over(wloc.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .alias("pos_local"),
    )
    counts = ranged.groupBy("pid").agg(
        F.count(F.lit(1)).alias("cnt"), F.sum("rel").alias("pos_cnt")
    )
    woff = Window.orderBy("pid").rowsBetween(Window.unboundedPreceding, -1)
    offsets = counts.select(
        "pid",
        F.coalesce(F.sum("cnt").over(woff), F.lit(0)).alias("off"),
        F.coalesce(F.sum("pos_cnt").over(woff), F.lit(0)).alias("pos_off"),
    )
    with_rank = local.join(F.broadcast(offsets), "pid").select(
        "rel",
        (F.col("rn_local") + F.col("off")).alias("rank"),
        (F.col("pos_local") + F.col("pos_off")).alias("cumpos"),
    )
    return with_rank.agg(
        F.count(F.lit(1)).cast("long").alias("n_orders"),
        F.sum("rel").cast("long").alias("n_urgent"),
        F.when(F.sum("rel") == 0, F.lit(None).cast("long"))
        .otherwise(
            F.expr(
                "CAST(SUM(CASE WHEN rel = 1"
                " THEN (1000000000 * cumpos) div rank ELSE 0 END)"
                " AS DECIMAL(38,0)) div CAST(SUM(rel) AS DECIMAL(38,0))"
            )
        )
        .alias("ap_ppb"),
        F.when(F.count(F.lit(1)) == 0, F.lit(None).cast("long"))
        .otherwise(
            F.expr(
                "CAST(1000000000 AS DECIMAL(38,0)) * SUM(rel)"
                " div COUNT(*)"
            )
        )
        .cast("long")
        .alias("prior_ppb"),
    )


@register(
    "orders_pettitt_changepoint",
    """
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS day,
             CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                           AS BIGINT)) AS BIGINT) AS rev
      FROM orders GROUP BY 1
    ),
    ranked AS (
      SELECT day, rev,
             CAST(2 * (RANK() OVER (ORDER BY rev) - 1)
                  + COUNT(*) OVER (PARTITION BY rev) + 1 AS BIGINT) AS m2
      FROM daily
    ),
    walk AS (
      SELECT day, rev,
             CAST(SUM(m2) OVER w AS BIGINT) AS cum_m2,
             CAST(ROW_NUMBER() OVER (ORDER BY day) AS BIGINT) AS t,
             CAST(COUNT(*) OVER () AS BIGINT) AS n
      FROM ranked
      WINDOW w AS (ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING
                   AND CURRENT ROW)
    ),
    u AS (
      SELECT day, t, n, cum_m2 - t * (n + 1) AS u_t
      FROM walk WHERE t < n
    )
    SELECT day AS change_day, CAST(n AS BIGINT) AS n_days,
           CAST(ABS(u_t) AS BIGINT) AS k_stat
    FROM u
    ORDER BY ABS(u_t) DESC, day ASC
    LIMIT 1
    """,
)
def q_orders_pettitt_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pettitt's nonparametric changepoint test on the daily order-revenue
    series — the rank-based single-changepoint detector (Pettitt 1979):
    U_t = Σ_{i≤t}Σ_{j>t} sgn(x_i − x_j) measures how completely the first
    t days dominate (or are dominated by) the rest; the changepoint is
    argmax|U_t|. Rank identity makes it one pass instead of O(n²):
    U_t = Σ_{i≤t} 2·r_i − t(N+1) with midranks r_i, and the DOUBLED
    midrank m2 = 2·(rank−1) + tie_count + 1 keeps every term an exact
    integer (no .5 halves). Being rank-based it is distribution-free —
    a revenue level shift is detected identically whether the series is
    skewed, heavy-tailed, or scaled. The series itself is the bounded
    calendar-day domain (~2.5k rows after the one data-sized grouped sum),
    so the rank/CDF windows run over O(days), not O(orders) — the same
    day-domain boundedness the seasonal/KM queries rely on; the argmax is
    a 1-row TakeOrdered with earliest-day tie pinning."""
    daily = (
        table_scan(spark, sf_dir, "orders")
        .groupBy(F.col("o_orderdate").cast("date").alias("day"))
        .agg(
            F.sum(
                (F.col("o_totalprice").cast("decimal(18,2)") * 100).cast(
                    "long"
                )
            ).alias("rev")
        )
    )
    wv = Window.orderBy("rev")
    wt = Window.partitionBy("rev")
    ranked = daily.select(
        "day",
        "rev",
        (
            2 * (F.rank().over(wv) - 1)
            + F.count(F.lit(1)).over(wt)
            + 1
        )
        .cast("long")
        .alias("m2"),
    )
    wd = Window.orderBy("day").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    wall = Window.partitionBy()
    walk = ranked.select(
        "day",
        F.sum("m2").over(wd).alias("cum_m2"),
        F.row_number().over(Window.orderBy("day")).cast("long").alias("t"),
        F.count(F.lit(1)).over(wall).cast("long").alias("n"),
    )
    u = walk.filter(F.col("t") < F.col("n")).select(
        "day",
        "n",
        (F.col("cum_m2") - F.col("t") * (F.col("n") + 1)).alias("u_t"),
    )
    return (
        u.orderBy(F.abs(F.col("u_t")).desc(), F.col("day").asc())
        .limit(1)
        .select(
            F.col("day").alias("change_day"),
            F.col("n").alias("n_days"),
            F.abs(F.col("u_t")).cast("long").alias("k_stat"),
        )
    )


@register(
    "customer_lorenz_deciles",
    """
    WITH v AS (
      SELECT o_custkey,
             CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                           AS BIGINT)) AS BIGINT) AS rev
      FROM orders GROUP BY o_custkey
    ),
    n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM v),
    r AS (SELECT rev, ROW_NUMBER() OVER (ORDER BY rev) AS rn FROM v),
    cuts AS (
      SELECT """
    + ",\n             ".join(
        f"MAX(CASE WHEN rn = ({i}*n + 9) // 10 THEN rev END) AS c{i}"
        for i in range(1, 10)
    )
    + """
      FROM r CROSS JOIN n
    ),
    dec AS (
      SELECT CAST(CASE """
    + " ".join(f"WHEN rev <= c{i} THEN {i}" for i in range(1, 10))
    + """ ELSE 10 END AS INT) AS decile, rev
      FROM v CROSS JOIN cuts
    ),
    g AS (
      SELECT decile, CAST(COUNT(*) AS BIGINT) AS n_customers,
             CAST(SUM(rev) AS BIGINT) AS rev_cents
      FROM dec GROUP BY decile
    )
    SELECT decile, n_customers, rev_cents,
           CAST((1000000 * CAST(SUM(rev_cents) OVER
                  (ORDER BY decile ROWS BETWEEN UNBOUNDED PRECEDING
                   AND CURRENT ROW) AS HUGEINT))
                // (SUM(rev_cents) OVER ()) AS BIGINT) AS cum_share_ppm
    FROM g
    """,
)
def q_customer_lorenz_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lorenz curve by customer revenue decile — the distributional view
    behind the Gini queries (orders_gini_by_nation reports the scalar;
    this reports the CURVE a revenue team actually reads: "the top decile
    is X% of revenue"). Deciles are VALUE-based against the nine exact
    rank cutoffs ceil(i·n/10) from the distributed selection kernel
    (_exact_rank_cutoffs) — no customer row ever crosses a global window;
    ties share the lower decile, so the assignment is deterministic on
    both engines. The Lorenz fold is then a ≤10-row cumulative window and
    the shares are exact ppm floors over HUGEINT/DECIMAL(38) sums. Plan:
    one grouped shuffle (per-customer revenue), the kernel's histogram
    walk, a broadcast cutoff row, a 10-row fold — the identical shape at
    100 TB."""
    v = (
        table_scan(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(
            F.sum(
                (F.col("o_totalprice").cast("decimal(18,2)") * 100).cast(
                    "long"
                )
            ).alias("rev")
        )
    )
    cuts = _exact_rank_cutoffs(
        v.select(F.col("rev").alias("v")),
        [f"({i}*n + 9) div 10" for i in range(1, 10)],
    )
    decile = F.lit(10)
    for i in range(9, 0, -1):
        decile = F.when(F.col("rev") <= F.col(f"c{i}"), F.lit(i)).otherwise(
            decile
        )
    g = (
        v.crossJoin(F.broadcast(cuts))
        .select(decile.cast("int").alias("decile"), "rev")
        .groupBy("decile")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_customers"),
            F.sum("rev").cast("long").alias("rev_cents"),
        )
    )
    wcum = Window.orderBy("decile").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    wall = Window.partitionBy()
    g2 = g.select(
        "decile",
        "n_customers",
        "rev_cents",
        F.sum("rev_cents").over(wcum).cast("decimal(38,0)").alias("cum"),
        F.sum("rev_cents").over(wall).cast("decimal(38,0)").alias("tot"),
    )
    return g2.select(
        "decile",
        "n_customers",
        "rev_cents",
        F.expr("(1000000 * cum) div tot").cast("long").alias("cum_share_ppm"),
    )


@register(
    "orders_wagner_whitin_lotsize",
    """
    WITH dem AS (
      SELECT month(o_orderdate) AS m, CAST(COUNT(*) AS BIGINT) AS d
      FROM orders WHERE year(o_orderdate) = 1995 GROUP BY 1
    ),
    months AS (
      SELECT CAST(g AS BIGINT) AS m, COALESCE(dem.d, 0) AS d
      FROM (SELECT unnest(range(1, 13)) AS g) s LEFT JOIN dem ON dem.m = g
    ),
    lattice AS (
      SELECT t.m AS t, CAST(mask.s AS BIGINT) AS mask
      FROM months t,
           LATERAL (SELECT unnest(range(1, 1::BIGINT << t.m)) AS s) mask
    ),
    hold AS (
      SELECT l.t, l.mask, i.m AS i, i.d,
             MAX(CASE WHEN ((l.mask >> (j.m - 1)) & 1) = 1 AND j.m <= i.m
                      THEN j.m END) AS last_setup
      FROM lattice l
      JOIN months i ON i.m <= l.t
      JOIN months j ON j.m <= i.m
      GROUP BY l.t, l.mask, i.m, i.d
    ),
    feas AS (
      SELECT t, mask,
             CAST(SUM(d * (i - last_setup)) AS BIGINT) AS holding,
             CAST(MAX(last_setup) AS BIGINT) AS last_setup_m
      FROM hold
      GROUP BY t, mask
      HAVING SUM(CASE WHEN d > 0 AND last_setup IS NULL THEN 1 ELSE 0 END)
             = 0
    ),
    cost AS (
      SELECT t, mask,
             CAST(1000 * bit_count(mask) + holding AS BIGINT) AS total,
             last_setup_m
      FROM feas
    )
    SELECT t AS month,
           CAST(MIN(total) AS BIGINT) AS min_total_cost,
           CAST(MIN(CASE WHEN total = (SELECT MIN(c2.total) FROM cost c2
                                       WHERE c2.t = cost.t)
                    THEN last_setup_m END) AS BIGINT) AS setup_month
    FROM cost GROUP BY t
    """,
)
def q_orders_wagner_whitin_lotsize(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Wagner–Whitin optimal lot-sizing — the classic dynamic-lot-size
    problem (setup cost K=1000 per production run, holding cost 1 per
    unit-month, demand = 1995 monthly order counts): for every horizon
    t ≤ 12 report the exact minimum total cost and the last setup month
    of an optimal plan (smallest such month on cost ties). A sequential
    O(T²) Wagner–Whitin DP replay in pytest independently confirms both
    costs and argmins (the textbook recurrence
    f(t) = min_j f(j−1) + K + Σᵢ₌ⱼ..ₜ (i−j)dᵢ) — with the caveat
    (ADVICE r14) that the DP-vs-lattice equivalence holds only when
    month 1 of the horizon has demand: the lattice leaves zero-demand
    PREFIX months uncovered (feasible, no setup) while the textbook DP
    forces a covering setup, so the pytest cross-check relies on 1995
    demand being dense in every tested SF (it is; the oracle replays
    the LATTICE itself, so the query contract is unconditional).
    All-integer costs — cross-engine exact. DuckDB recomputes the full
    Σ_t 2^t = 8190 setup-pattern lattice via range()/bit ops as the
    oracle.

    Execution shape (optimization round r14, guide §5): the only
    corpus-sized work is the 1995 monthly demand aggregate (≤12 rows,
    bounded by the calendar at ANY corpus scale). It is COLLECTED and
    the setup-pattern lattice — the same exhaustive enumeration the
    oracle replays, feasibility/holding/tie-break bit-identical — runs
    driver-side in exact Python integers (~90 k integer ops), the
    bounded-collect pattern the markov/shapley/isotonic family adopted
    this round. The previous in-plan form ran the 8190-pattern lattice
    as two dim-sized broadcast joins + three aggregations — pure
    stage-scheduling overhead on ≤8190-row data (~1.1 s at any scale).
    holding replays SQL SUM-skips-NULL semantics (months before the
    first setup contribute only when a setup ≤ i exists); last_setup_m
    is the mask's highest set bit; min (total, last_setup_m) per t is
    the same struct-min tie-break. Result provably unchanged: the
    DuckDB oracle replays the lattice independently and MATCHes at all
    three SFs."""
    from ..operators.agg import bounded_collect

    dem = {
        int(r["m"]): int(r["d"])
        for r in bounded_collect(
            table_scan(spark, sf_dir, "orders")
            .filter(F.year("o_orderdate") == 1995)
            .groupBy(F.month("o_orderdate").alias("m"))
            .agg(F.count(F.lit(1)).cast("long").alias("d")),
            12,
            "orders_wagner_whitin_lotsize monthly demand (month() is 1..12 "
            "by construction)",
        )
    }
    d = [dem.get(m, 0) for m in range(1, 13)]
    rows = []
    for t in range(1, 13):
        best: tuple[int, int] | None = None
        for mask in range(1, 1 << t):
            # walk months 1..t tracking the latest setup ≤ i; a month
            # with demand before the first setup is infeasible (the SQL
            # HAVING), months with zero demand and no setup contribute
            # nothing (SUM skips the NULL term)
            last = 0
            holding = 0
            feasible = True
            for i in range(1, t + 1):
                if (mask >> (i - 1)) & 1:
                    last = i
                if last:
                    holding += d[i - 1] * (i - last)
                elif d[i - 1] > 0:
                    feasible = False
                    break
            if not feasible:
                continue
            total = 1000 * mask.bit_count() + holding
            cand = (total, mask.bit_length())  # (total, last_setup_m)
            if best is None or cand < best:
                best = cand
        if best is not None:
            rows.append((t, best[0], best[1]))
    return spark.createDataFrame(
        rows, "month bigint, min_total_cost bigint, setup_month bigint"
    )


@register(
    "orders_empirical_bayes_shrinkage",
    """
    WITH j AS (
      SELECT n.n_name,
             CASE WHEN o.o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END
               AS urgent
      FROM orders o
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN nation n ON c.c_nationkey = n.n_nationkey
    ),
    g AS (
      SELECT n_name, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(urgent) AS BIGINT) AS x
      FROM j GROUP BY n_name
    ),
    tot AS (
      SELECT CAST(SUM(n) AS BIGINT) AS nn, CAST(SUM(x) AS BIGINT) AS xx
      FROM g
    )
    SELECT g.n_name, g.n AS n_orders, g.x AS n_urgent,
           CAST((1000000 * g.x) // g.n AS BIGINT) AS raw_ppm,
           CAST((1000000 * (g.x * tot.nn + 100 * tot.xx))
                // (tot.nn * (g.n + 100)) AS BIGINT) AS shrunk_ppm,
           CAST((1000000 * g.n) // (g.n + 100) AS BIGINT) AS weight_ppm
    FROM g CROSS JOIN tot
    """,
)
def q_orders_empirical_bayes_shrinkage(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Empirical-Bayes shrinkage of per-nation urgent-order rates — the
    hierarchical-modeling move every per-segment KPI table needs: a
    nation with 30 orders and a 40 % urgent rate is NOISE, so its
    estimate is pulled toward the global rate with prior strength m=100
    pseudo-orders (beta-binomial posterior mean: (x + m·p̄)/(n + m));
    big nations keep their own rate (weight n/(n+m) → 1), small ones
    inherit the prior. Entirely rational: shrunk = (x·N + m·X)/(N·(n+m))
    with global totals (N, X) — emitted as exact floor ppm alongside the
    raw rate and the shrink weight, so the dashboard shows exactly how
    much each cell was regularized. One fact aggregate + a 1-row totals
    broadcast; dims join broadcast."""
    o = table_scan(spark, sf_dir, "orders").select(
        "o_custkey",
        F.when(F.col("o_orderpriority") == "1-URGENT", 1)
        .otherwise(0)
        .alias("urgent"),
    )
    c = table_scan(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey"
    )
    nat = table_scan(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name"
    )
    g = (
        o.join(c, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(nat), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("n_name")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("urgent").cast("long").alias("x"),
        )
    )
    tot = g.agg(
        F.sum("n").cast("long").alias("nn"),
        F.sum("x").cast("long").alias("xx"),
    )
    return g.crossJoin(F.broadcast(tot)).select(
        "n_name",
        F.col("n").alias("n_orders"),
        F.col("x").alias("n_urgent"),
        F.expr("(1000000 * x) div n").cast("long").alias("raw_ppm"),
        F.expr(
            "(1000000 * (x * nn + 100 * xx)) div (nn * (n + 100))"
        )
        .cast("long")
        .alias("shrunk_ppm"),
        F.expr("(1000000 * n) div (n + 100)")
        .cast("long")
        .alias("weight_ppm"),
    )


@register(
    "orders_pinball_quantile_eval",
    """
    WITH v AS (
      SELECT CAST(ROUND(o_totalprice * 100) AS BIGINT) AS v FROM orders
    ),
    n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM v),
    r AS (SELECT v, row_number() OVER (ORDER BY v) AS rn FROM v),
    q AS (
      SELECT k.k,
             (SELECT r.v FROM r CROSS JOIN n
              WHERE r.rn = (k.k * n.n + 3) // 4 LIMIT 1) AS q_cents
      FROM (VALUES (1), (2), (3)) k(k)
    )
    SELECT CAST(q.k AS BIGINT) AS tau_quarters,
           CAST(q.q_cents AS BIGINT) AS q_cents,
           CAST(SUM(CASE WHEN v.v > q.q_cents
                    THEN q.k * (v.v - q.q_cents)
                    ELSE (4 - q.k) * (q.q_cents - v.v) END) AS BIGINT)
             AS pinball4_total,
           CAST(SUM(CASE WHEN v.v > q.q_cents
                    THEN q.k * (v.v - q.q_cents)
                    ELSE (4 - q.k) * (q.q_cents - v.v) END)
                // COUNT(*) AS BIGINT) AS pinball4_per_order
    FROM v CROSS JOIN q GROUP BY q.k, q.q_cents
    """,
)
def q_orders_pinball_quantile_eval(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Pinball (quantile) loss evaluation — THE metric for quantile
    forecasts (demand P50/P75/P90 planning, prediction-interval scoring):
    for each τ ∈ {¼, ½, ¾} report the exact τ-order-statistic of order
    value (via the distributed rank kernel, the ceil-rank convention of
    _QUARTILE_RANKS) and its total/per-order pinball loss
    Σ max(τ(y−q), (τ−1)(y−q)). The quantile MINIMIZES pinball loss, so
    the pair (quantile, its own loss) is the calibration floor any
    quantile model must beat — pytest asserts local optimality (loss at
    q ± 1 cent is never lower). Exact integers: τ = k/4 makes 4·loss a
    BIGINT (k and 4−k weights) — no float loss ever. One kernel pass
    selects all three cutoffs; the eval is a 3-row broadcast over one
    scan."""
    o = table_scan(spark, sf_dir, "orders").select(
        F.round(F.col("o_totalprice") * 100).cast("long").alias("v")
    )
    cuts = _exact_rank_cutoffs(o, _QUARTILE_RANKS)
    q = cuts.selectExpr(
        "stack(3, 1, c1, 2, c2, 3, c3) AS (k, q_cents)"
    )
    return (
        o.crossJoin(F.broadcast(q))
        .groupBy("k", "q_cents")
        .agg(
            F.sum(
                F.when(
                    F.col("v") > F.col("q_cents"),
                    F.col("k") * (F.col("v") - F.col("q_cents")),
                ).otherwise(
                    (4 - F.col("k")) * (F.col("q_cents") - F.col("v"))
                )
            )
            .cast("long")
            .alias("pinball4_total"),
            F.count(F.lit(1)).alias("cnt"),
        )
        .select(
            F.col("k").cast("long").alias("tau_quarters"),
            F.col("q_cents").cast("long").alias("q_cents"),
            "pinball4_total",
            F.expr("pinball4_total div cnt")
            .cast("long")
            .alias("pinball4_per_order"),
        )
    )


@register(
    "orders_horvitz_thompson_total",
    """
    WITH o AS (
      SELECT o.o_orderkey,
             CAST(ROUND(o.o_totalprice * 100) AS BIGINT) AS cents,
             n.n_name
      FROM orders o
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN nation n ON c.c_nationkey = n.n_nationkey
    ),
    s AS (
      SELECT cents,
             CAST(concat('0x', substr(md5(n_name), 1, 15)) AS BIGINT)
               % 5 < 2 AS psu_in,
             CAST(concat('0x', substr(md5(CAST(o_orderkey AS VARCHAR)),
               1, 15)) AS BIGINT) % 4 = 0 AS ssu_in,
             n_name
      FROM o
    )
    SELECT CAST(COUNT(DISTINCT CASE WHEN psu_in THEN n_name END)
             AS BIGINT) AS n_nations_sampled,
           CAST(SUM(CASE WHEN psu_in AND ssu_in THEN 1 ELSE 0 END)
             AS BIGINT) AS n_orders_sampled,
           CAST(SUM(cents) AS BIGINT) AS true_total_cents,
           CAST(10 * SUM(CASE WHEN psu_in AND ssu_in THEN cents ELSE 0 END)
             AS BIGINT) AS ht_estimate_cents,
           CAST((1000000 * (10 * SUM(CASE WHEN psu_in AND ssu_in
                                     THEN cents ELSE 0 END)
                            - SUM(cents))) // SUM(cents) AS BIGINT)
             AS error_ppm
    FROM s
    """,
)
def q_orders_horvitz_thompson_total(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Horvitz–Thompson total under two-stage cluster sampling — the
    design-based estimator every platform sampling job relies on when
    scanning 100 % of 100 TB is off the table: sample primary units
    (nations, inclusion π₁ = 2/5) then secondaries within them (orders,
    π₂ = 1/4), and weight each observed value by 1/(π₁π₂) = 10. The
    "random" draws are the portable-md5 coin, so the design is
    reproducible on any engine and the oracle recomputes it bit-for-bit;
    the full-scan truth is also emitted (the luxury of a benchmark) with
    the exact signed error ppm — the design-effect number a sampling
    dashboard tracks. One pass computes sample and truth together; at
    production scale the sampled branch is the only one that runs and the
    hash predicates push into the scan."""
    from ..functions.hashing import portable_hash64

    o = table_scan(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_custkey",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    c = table_scan(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey"
    )
    nat = table_scan(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name"
    )
    s = (
        o.join(c, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(nat), F.col("c_nationkey") == F.col("n_nationkey"))
        .select(
            "cents",
            "n_name",
            (portable_hash64(F.col("n_name")) % 5 < 2).alias("psu_in"),
            (portable_hash64(F.col("o_orderkey")) % 4 == 0).alias("ssu_in"),
        )
    )
    return s.agg(
        F.countDistinct(
            F.when(F.col("psu_in"), F.col("n_name"))
        )
        .cast("long")
        .alias("n_nations_sampled"),
        F.sum(
            F.when(F.col("psu_in") & F.col("ssu_in"), 1).otherwise(0)
        )
        .cast("long")
        .alias("n_orders_sampled"),
        F.sum("cents").cast("long").alias("true_total_cents"),
        (
            10
            * F.sum(
                F.when(
                    F.col("psu_in") & F.col("ssu_in"), F.col("cents")
                ).otherwise(0)
            )
        )
        .cast("long")
        .alias("ht_estimate_cents"),
        F.expr(
            "(1000000 * (10 * sum(CASE WHEN psu_in AND ssu_in THEN cents"
            " ELSE 0 END) - sum(cents))) div sum(cents)"
        )
        .cast("long")
        .alias("error_ppm"),
    )


@register(
    "orders_profit_curve_threshold",
    """
    WITH v AS (
      SELECT o_orderkey,
             CAST(ROUND(o_totalprice * 100) AS BIGINT) AS v,
             CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END AS pos
      FROM orders
    ),
    n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM v),
    r AS (SELECT v, row_number() OVER (ORDER BY v) AS rn FROM v),
    cuts AS (
      SELECT r.v AS cut FROM r CROSS JOIN n
      WHERE r.rn IN ((1*n.n+9)//10, (2*n.n+9)//10, (3*n.n+9)//10,
                     (4*n.n+9)//10, (5*n.n+9)//10, (6*n.n+9)//10,
                     (7*n.n+9)//10, (8*n.n+9)//10, (9*n.n+9)//10)
    ),
    b AS (
      SELECT v.pos,
             (SELECT COUNT(*) FROM cuts WHERE cuts.cut < v.v) AS bin
      FROM v
    ),
    g AS (
      SELECT CAST(bin AS BIGINT) AS bin,
             CAST(COUNT(*) AS BIGINT) AS n_orders,
             CAST(SUM(pos) AS BIGINT) AS n_pos
      FROM b GROUP BY bin
    ),
    cum AS (
      SELECT bin,
             CAST(SUM(n_orders) OVER w AS BIGINT) AS cum_n,
             CAST(SUM(n_pos) OVER w AS BIGINT) AS cum_pos
      FROM g
      WINDOW w AS (ORDER BY bin DESC
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    ),
    p AS (
      SELECT bin, cum_n, cum_pos,
             CAST(400 * cum_pos - 100 * cum_n AS BIGINT) AS profit
      FROM cum
    ),
    best AS (SELECT MAX(profit) AS best_profit FROM p)
    SELECT p.bin AS threshold_decile, p.cum_n AS n_targeted,
           p.cum_pos AS n_caught, p.profit,
           p.profit = best.best_profit
             AND p.bin = (SELECT MAX(p2.bin) FROM p p2 CROSS JOIN best b2
                          WHERE p2.profit = b2.best_profit)
             AS is_optimal
    FROM p CROSS JOIN best
    """,
)
def q_orders_profit_curve_threshold(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Profit-curve threshold optimization — the decision layer on top of
    a ranking model (the model-eval trio's business end, after
    reliability and ECE): targeting an order costs 100, catching an
    urgent one earns 400, so walking the score deciles from the top
    yields profit(θ) = 400·cum_pos − 100·cum_n, and the optimal
    threshold is its argmax (highest decile on ties — least
    interventionist). Shares the exact-rank decile machinery with
    model_calibration_reliability; the curve and argmax run on the
    10-row bin table (descending bounded cumulation + one scalar max).
    All integers — profit in exact currency units, no rates."""
    o = table_scan(spark, sf_dir, "orders").select(
        F.round(F.col("o_totalprice") * 100).cast("long").alias("v"),
        F.when(F.col("o_orderpriority") == "1-URGENT", 1)
        .otherwise(0)
        .alias("pos"),
    )
    cuts = _exact_rank_cutoffs(o.select("v"), _DECILE_RANKS)
    bin_expr = sum(
        (F.col(f"c{i}") < F.col("v")).cast("long") for i in range(1, 10)
    )
    g = (
        o.crossJoin(F.broadcast(cuts))
        .select(bin_expr.alias("bin"), "pos")
        .groupBy("bin")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_orders"),
            F.sum("pos").cast("long").alias("n_pos"),
        )
    )
    wdesc = Window.orderBy(F.col("bin").desc()).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    p = g.select(
        "bin",
        F.sum("n_orders").over(wdesc).cast("long").alias("cum_n"),
        F.sum("n_pos").over(wdesc).cast("long").alias("cum_pos"),
    ).select(
        "bin",
        "cum_n",
        "cum_pos",
        (400 * F.col("cum_pos") - 100 * F.col("cum_n"))
        .cast("long")
        .alias("profit"),
    ).transform(cached)  # ≤10 rows, read by the argmax scalar and the projection
    best = p.agg(
        F.max("profit").alias("best_profit"),
        F.max_by(F.col("bin"), F.struct("profit", "bin")).alias("best_bin"),
    )
    return p.crossJoin(F.broadcast(best)).select(
        F.col("bin").alias("threshold_decile"),
        F.col("cum_n").alias("n_targeted"),
        F.col("cum_pos").alias("n_caught"),
        "profit",
        (
            (F.col("profit") == F.col("best_profit"))
            & (F.col("bin") == F.col("best_bin"))
        ).alias("is_optimal"),
    )


@register(
    "orders_backlog_aging_waterfall",
    """
    WITH f AS (SELECT MAX(CAST(o_orderdate AS DATE)) AS frontier
               FROM orders),
    o AS (
      SELECT o_orderstatus AS status,
             date_diff('day', CAST(o_orderdate AS DATE), f.frontier)
               AS age_days,
             CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents
      FROM orders CROSS JOIN f
      WHERE o_orderstatus <> 'F'
    ),
    b AS (
      SELECT status,
             CASE WHEN age_days <= 30 THEN '00-030d'
                  WHEN age_days <= 90 THEN '031-090d'
                  WHEN age_days <= 365 THEN '091-365d'
                  ELSE '365d+' END AS age_bucket,
             cents
      FROM o
    ),
    g AS (
      SELECT status, age_bucket,
             CAST(COUNT(*) AS BIGINT) AS n_orders,
             CAST(SUM(cents) AS BIGINT) AS value_cents
      FROM b GROUP BY status, age_bucket
    ),
    t AS (SELECT CAST(SUM(value_cents) AS BIGINT) AS tot FROM g)
    SELECT g.status, g.age_bucket, g.n_orders, g.value_cents,
           CAST((1000000 * g.value_cents) // t.tot AS BIGINT)
             AS value_share_ppm
    FROM g CROSS JOIN t
    """,
)
def q_orders_backlog_aging_waterfall(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Open-order backlog aging waterfall — the working-capital staple
    every ops/finance review opens with: non-fulfilled orders ('F' =
    fulfilled excluded) bucketed by age against the DATA frontier (max
    order date — deterministic, the dq_freshness anchor convention, never
    wall-clock), per (status × age bucket) order counts, exact cents
    value, and each cell's share of total open value in ppm. A >365-day
    'P' bucket growing round-over-round is the stuck-order signal this
    view exists to surface. One scan + one bounded groupBy + a 1-row
    total broadcast."""
    f = table_scan(spark, sf_dir, "orders").agg(
        F.max(F.col("o_orderdate").cast("date")).alias("frontier")
    )
    o = (
        table_scan(spark, sf_dir, "orders")
        .filter(F.col("o_orderstatus") != "F")
        .crossJoin(F.broadcast(f))
        .select(
            F.col("o_orderstatus").alias("status"),
            F.datediff(
                F.col("frontier"), F.col("o_orderdate").cast("date")
            ).alias("age_days"),
            F.round(F.col("o_totalprice") * 100)
            .cast("long")
            .alias("cents"),
        )
    )
    b = o.select(
        "status",
        F.when(F.col("age_days") <= 30, "00-030d")
        .when(F.col("age_days") <= 90, "031-090d")
        .when(F.col("age_days") <= 365, "091-365d")
        .otherwise("365d+")
        .alias("age_bucket"),
        "cents",
    )
    g = b.groupBy("status", "age_bucket").agg(
        F.count(F.lit(1)).cast("long").alias("n_orders"),
        F.sum("cents").cast("long").alias("value_cents"),
    )
    t = g.agg(F.sum("value_cents").cast("long").alias("tot"))
    return g.crossJoin(F.broadcast(t)).select(
        "status",
        "age_bucket",
        "n_orders",
        "value_cents",
        F.expr("(1000000 * value_cents) div tot")
        .cast("long")
        .alias("value_share_ppm"),
    )


@register(
    "orders_monthly_revenue_drawdown",
    """
    WITH m AS (
      SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS month,
             CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT))
               AS BIGINT) AS rev_cents
      FROM orders GROUP BY 1
    ),
    r AS (
      SELECT month, rev_cents,
             CAST(MAX(rev_cents) OVER (ORDER BY month
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS BIGINT) AS peak_cents
      FROM m
    )
    SELECT month, rev_cents, peak_cents,
           peak_cents - rev_cents AS drawdown_cents,
           CAST((1000000 * (peak_cents - rev_cents)) // peak_cents
             AS BIGINT) AS drawdown_ppm
    FROM r
    """,
)
def q_orders_monthly_revenue_drawdown(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Monthly-revenue drawdown — the record-tracking view finance reads
    the morning after a soft month: each month's revenue against the
    all-time-high month so far (running max), the underwater gap in
    exact cents and ppm. A drawdown that deepens for consecutive months
    is the demand-erosion signal that monthly YoY growth (which compares
    only to one fixed lag) smooths over. The month domain is bounded by
    the calendar (≤ ~96 rows for this corpus's span — grows with years,
    never with volume), so the running max is a bounded-window walk; the
    only data-sized stage is the monthly partial-agg rollup."""
    m = (
        table_scan(spark, sf_dir, "orders")
        .groupBy(
            F.date_trunc("month", F.col("o_orderdate"))
            .cast("date")
            .alias("month")
        )
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
            .cast("long")
            .alias("rev_cents")
        )
    )
    w = Window.orderBy("month").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    r = m.select(
        "month",
        "rev_cents",
        F.max("rev_cents").over(w).cast("long").alias("peak_cents"),
    )
    return r.select(
        "month",
        "rev_cents",
        "peak_cents",
        (F.col("peak_cents") - F.col("rev_cents"))
        .cast("long")
        .alias("drawdown_cents"),
        F.expr("(1000000 * (peak_cents - rev_cents)) div peak_cents")
        .cast("long")
        .alias("drawdown_ppm"),
    )


@register(
    "customer_brand_switching_matrix",
    """
    WITH li AS (
      SELECT o.o_custkey AS cust, p.p_brand AS brand,
             year(l.l_shipdate) AS y,
             CAST(l.l_quantity AS BIGINT) AS qty
      FROM lineitem l
      JOIN orders o ON l.l_orderkey = o.o_orderkey
      JOIN part p ON l.l_partkey = p.p_partkey
    ),
    yr AS (SELECT CAST(MIN(y) AS BIGINT) AS y0,
                  CAST(MAX(y) AS BIGINT) AS y1 FROM li),
    cb AS (
      SELECT li.cust, li.y, li.brand, CAST(SUM(li.qty) AS BIGINT) AS q
      FROM li JOIN yr ON li.y IN (yr.y0, yr.y1)
      GROUP BY li.cust, li.y, li.brand
    ),
    dom AS (
      SELECT cust, y, brand FROM (
        SELECT cust, y, brand,
               row_number() OVER (PARTITION BY cust, y
                                  ORDER BY q DESC, brand) AS rn
        FROM cb) WHERE rn = 1
    ),
    sw AS (
      SELECT d0.brand AS brand_from, d1.brand AS brand_to
      FROM dom d0 JOIN dom d1 ON d0.cust = d1.cust
      CROSS JOIN yr WHERE d0.y = yr.y0 AND d1.y = yr.y1
    ),
    g AS (
      SELECT brand_from, brand_to, CAST(COUNT(*) AS BIGINT) AS n_customers
      FROM sw GROUP BY brand_from, brand_to
    ),
    t AS (
      SELECT brand_from, CAST(SUM(n_customers) AS BIGINT) AS row_total
      FROM g GROUP BY brand_from
    )
    SELECT g.brand_from, g.brand_to, g.n_customers,
           CAST((1000000 * g.n_customers) // t.row_total AS BIGINT)
             AS switch_ppm,
           g.brand_from = g.brand_to AS loyal
    FROM g JOIN t USING (brand_from)
    """,
)
def q_customer_brand_switching_matrix(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Brand-switching matrix — the behavioral substitution view that
    pairs with lineitem_cross_price_elasticity's price-response view:
    each customer's DOMINANT brand (max quantity, name tie-break) in the
    first vs last shipping year, crossed into a from→to transition
    matrix with row-normalized exact ppm and the loyalty diagonal. The
    customer_segment_migration shape applied to the brand dimension —
    marketing reads the off-diagonal cells as realized churn between
    brands. Scale: one three-table fact join partial-aggregated to
    (customer, year, brand), a (customer, year)-partitioned rank window,
    one bounded 25×25 matrix aggregate."""
    li = table_scan(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        "l_partkey",
        F.year("l_shipdate").alias("y"),
        F.col("l_quantity").cast("long").alias("qty"),
    )
    o = table_scan(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey"
    )
    p = table_scan(spark, sf_dir, "part").select("p_partkey", "p_brand")
    yr = li.agg(
        F.min("y").cast("long").alias("y0"),
        F.max("y").cast("long").alias("y1"),
    )
    cb = (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(F.broadcast(p), li["l_partkey"] == p["p_partkey"])
        .crossJoin(F.broadcast(yr))
        .filter((F.col("y") == F.col("y0")) | (F.col("y") == F.col("y1")))
        .groupBy(
            F.col("o_custkey").alias("cust"),
            "y",
            F.col("p_brand").alias("brand"),
            "y0",
        )
        .agg(F.sum("qty").cast("long").alias("q"))
    )
    wd = Window.partitionBy("cust", "y").orderBy(F.desc("q"), "brand")
    dom = (
        cb.withColumn("rn", F.row_number().over(wd))
        .filter(F.col("rn") == 1)
        .select("cust", "y", "brand", "y0")
        .transform(cached)  # read by both halves of the transition join
    )
    d0 = dom.filter(F.col("y") == F.col("y0")).select(
        "cust", F.col("brand").alias("brand_from")
    )
    d1 = dom.filter(F.col("y") != F.col("y0")).select(
        "cust", F.col("brand").alias("brand_to")
    )
    g = (
        d0.join(d1, "cust")
        .groupBy("brand_from", "brand_to")
        .agg(F.count(F.lit(1)).cast("long").alias("n_customers"))
    )
    t = g.groupBy("brand_from").agg(
        F.sum("n_customers").cast("long").alias("row_total")
    )
    return g.join(F.broadcast(t), "brand_from").select(
        "brand_from",
        "brand_to",
        "n_customers",
        F.expr("(1000000 * n_customers) div row_total")
        .cast("long")
        .alias("switch_ppm"),
        (F.col("brand_from") == F.col("brand_to")).alias("loyal"),
    )


@register(
    "orders_aov_mix_shift_decomposition",
    """
    WITH o AS (
      SELECT c.c_mktsegment AS segment, year(o.o_orderdate) AS y,
             CAST(ROUND(o.o_totalprice * 100) AS BIGINT) AS cents
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    ),
    yr AS (SELECT CAST(MIN(y) AS BIGINT) AS y0, CAST(MAX(y) AS BIGINT)
             AS y1 FROM o),
    g AS (
      SELECT o.segment, o.y, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(o.cents) AS BIGINT) AS s
      FROM o JOIN yr ON o.y IN (yr.y0, yr.y1)
      GROUP BY o.segment, o.y
    ),
    tot AS (
      SELECT y, CAST(SUM(n) AS BIGINT) AS nn FROM g GROUP BY y
    ),
    w AS (
      SELECT g0.segment,
             g0.n AS n0, g0.s // g0.n AS a0,
             g1.n AS n1, g1.s // g1.n AS a1,
             t0.nn AS nn0, t1.nn AS nn1
      FROM g g0 JOIN g g1 ON g0.segment = g1.segment
      JOIN yr ON g0.y = yr.y0 AND g1.y = yr.y1
      JOIN tot t0 ON t0.y = yr.y0
      JOIN tot t1 ON t1.y = yr.y1
    )
    SELECT segment,
           CAST(a0 AS BIGINT) AS aov0_cents,
           CAST(a1 AS BIGINT) AS aov1_cents,
           CAST((1000000 * n0) // nn0 AS BIGINT) AS weight0_ppm,
           CAST((1000000 * n1) // nn1 AS BIGINT) AS weight1_ppm,
           CAST(((1000000 * n0) // nn0) * (a1 - a0) // 1000000 AS BIGINT)
             AS rate_effect_cents,
           CAST(a1 * ((1000000 * n1) // nn1 - (1000000 * n0) // nn0)
                // 1000000 AS BIGINT) AS mix_effect_cents
    FROM w
    """,
)
def q_orders_aov_mix_shift_decomposition(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Rate/mix decomposition of AOV change — the metrics-team staple
    that answers "did average order value move because segments CHANGED
    BEHAVIOR or because the MIX of segments shifted?": between the first
    and last order year, per market segment, ΔAOV splits into a rate
    effect w₀·(a₁−a₀) (old weight × AOV change) and a mix effect
    a₁·(w₁−w₀) (new AOV × weight change) — the discrete Laspeyres
    decomposition whose total telescopes to the overall AOV delta up to
    the documented integer flooring (weights as exact ppm, AOVs as
    floored cents; pytest bounds the reconstruction residual by the
    segment count). The 5-segment grid makes every stage after the
    customer join dim-sized."""
    o = (
        table_scan(spark, sf_dir, "orders")
        .join(
            table_scan(spark, sf_dir, "customer").select(
                "c_custkey", "c_mktsegment"
            ),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .select(
            F.col("c_mktsegment").alias("segment"),
            F.year("o_orderdate").alias("y"),
            F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
        )
    )
    yr = o.agg(
        F.min("y").cast("long").alias("y0"),
        F.max("y").cast("long").alias("y1"),
    )
    g = (
        o.crossJoin(F.broadcast(yr))
        .filter((F.col("y") == F.col("y0")) | (F.col("y") == F.col("y1")))
        .groupBy("segment", "y", "y0")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("cents").cast("long").alias("s"),
        )
        .transform(cached)  # ≤10 rows: both year slices + totals read it
    )
    tot = g.groupBy("y").agg(F.sum("n").cast("long").alias("nn"))
    g0 = g.filter(F.col("y") == F.col("y0")).select(
        "segment", F.col("n").alias("n0"),
        F.expr("s div n").cast("long").alias("a0"),
        F.col("y").alias("ya"),
    )
    g1 = g.filter(F.col("y") != F.col("y0")).select(
        "segment", F.col("n").alias("n1"),
        F.expr("s div n").cast("long").alias("a1"),
        F.col("y").alias("yb"),
    )
    t0 = tot.join(F.broadcast(yr), tot["y"] == yr["y0"]).select(
        F.col("nn").alias("nn0")
    )
    t1 = tot.join(F.broadcast(yr), tot["y"] == yr["y1"]).select(
        F.col("nn").alias("nn1")
    )
    w = (
        g0.join(g1, "segment")
        .crossJoin(F.broadcast(t0))
        .crossJoin(F.broadcast(t1))
    )
    w0 = F.expr("(1000000 * n0) div nn0")
    w1 = F.expr("(1000000 * n1) div nn1")
    return w.select(
        "segment",
        F.col("a0").alias("aov0_cents"),
        F.col("a1").alias("aov1_cents"),
        w0.cast("long").alias("weight0_ppm"),
        w1.cast("long").alias("weight1_ppm"),
        F.expr(
            "(((1000000 * n0) div nn0) * (a1 - a0)) div 1000000"
        )
        .cast("long")
        .alias("rate_effect_cents"),
        F.expr(
            "(a1 * ((1000000 * n1) div nn1 - (1000000 * n0) div nn0))"
            " div 1000000"
        )
        .cast("long")
        .alias("mix_effect_cents"),
    )


@register(
    "orders_theil_inequality_decomposition",
    """
    WITH base AS (
      SELECT n_name,
             CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
      FROM orders
      JOIN customer ON o_custkey = c_custkey
      JOIN nation ON c_nationkey = n_nationkey
    ),
    g AS (
      SELECT n_name, CAST(COUNT(*) AS BIGINT) AS n_g,
             CAST(SUM(CAST(cents AS HUGEINT)) AS BIGINT) AS s_g
      FROM base GROUP BY n_name
    ),
    tot AS (
      SELECT CAST(SUM(CAST(cents AS HUGEINT)) AS BIGINT) AS s,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM base
    ),
    lg AS (
      SELECT b.n_name, b.cents,
             CAST(FLOOR(1000000.0 * ln(
                 (CAST(b.cents AS DOUBLE) * g.n_g) / CAST(g.s_g AS DOUBLE)
             )) AS BIGINT) AS l
      FROM base b JOIN g ON b.n_name = g.n_name
    ),
    w AS (
      SELECT n_name, SUM(CAST(cents AS HUGEINT) * l) AS num
      FROM lg GROUP BY n_name
    )
    SELECT g.n_name,
           g.n_g AS n_orders,
           g.s_g AS cents,
           CAST(w.num // g.s_g AS BIGINT) AS t_within_micro,
           CAST(CAST(g.s_g AS HUGEINT) * 1000000 // tot.s AS BIGINT)
             AS share_ppm,
           CAST(FLOOR(1000000.0 * ln(
               (CAST(g.s_g AS DOUBLE) * tot.n)
               / (CAST(tot.s AS DOUBLE) * g.n_g)
           )) AS BIGINT) AS t_between_micro
    FROM g JOIN w ON g.n_name = w.n_name CROSS JOIN tot
    ORDER BY g.n_name
    """,
)
def q_orders_theil_inequality_decomposition(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Theil-T inequality of order value with the classic WITHIN/BETWEEN
    group decomposition by customer nation — T = Σ_g (S_g/S)·T_g +
    Σ_g (S_g/S)·ln((S_g/S)/(N_g/N)), the additive-decomposability property
    that makes Theil (not Gini) the inequality measure warehouses
    aggregate hierarchically at scale. All emitted quantities are frozen
    integers: per-order micro-nat terms lg = floor(1e6·ln(cents·N_g/S_g))
    make each nation's numerator Σ cents·lg an EXACT decimal sum
    (associative under any partitioning — a float Theil would drift with
    summation order); t_within_micro = that numerator div S_g, biased vs
    the exact-real Theil by at most 2 micro-nats (each per-row floor loses
    <1 micro-nat weighted by cents/S_g, plus the final floor). The same
    libm-ln floor-boundary caveat as doc_dsir_importance_select applies
    (documented there; margin measured in tests). Scale shape: one narrow
    fact scan; nation dim broadcast; the 25-row per-nation aggregate
    broadcast back for the per-row term (never a shuffle of the fact on
    the group key twice); per-nation partial aggregation throughout.
    share_ppm rides DECIMAL(38) so SF1000 sums cannot overflow int64."""
    o = table_scan(spark, sf_dir, "orders").select("o_custkey", "o_totalprice")
    c = table_scan(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = table_scan(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    base = (
        o.join(c, o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
        .select(
            "n_name",
            (F.col("o_totalprice").cast("decimal(18,2)") * 100)
            .cast("long")
            .alias("cents"),
        )
        .transform(cached)
    )
    g = base.groupBy("n_name").agg(
        F.count(F.lit(1)).cast("long").alias("n_g"),
        F.sum(F.col("cents").cast("decimal(28,0)")).cast("long").alias("s_g"),
    ).transform(cached)
    tot = g.agg(
        F.sum(F.col("s_g").cast("decimal(38,0)")).cast("long").alias("s"),
        F.sum("n_g").cast("long").alias("n"),
    )
    lg = base.join(F.broadcast(g), "n_name").select(
        "n_name",
        "cents",
        F.floor(
            F.lit(1000000.0)
            * F.log(
                (F.col("cents").cast("double") * F.col("n_g"))
                / F.col("s_g").cast("double")
            )
        )
        .cast("long")
        .alias("l"),
    )
    w = lg.groupBy("n_name").agg(
        F.sum((F.col("cents") * F.col("l")).cast("decimal(38,0)")).alias("num")
    )
    return (
        g.join(w, "n_name")
        .crossJoin(F.broadcast(tot))
        .select(
            "n_name",
            F.col("n_g").alias("n_orders"),
            F.col("s_g").alias("cents"),
            F.expr("CAST(num div s_g AS BIGINT)").alias("t_within_micro"),
            F.expr(
                "CAST((CAST(s_g AS DECIMAL(38,0)) * 1000000) div s AS BIGINT)"
            ).alias("share_ppm"),
            F.floor(
                F.lit(1000000.0)
                * F.log(
                    (F.col("s_g").cast("double") * F.col("n"))
                    / (F.col("s").cast("double") * F.col("n_g"))
                )
            )
            .cast("long")
            .alias("t_between_micro"),
        )
        .orderBy("n_name")
    )
