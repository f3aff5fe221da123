"""TPC-H-shaped star queries over region/nation/supplier/part plus market-basket and recsys evaluations."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..caching import cached
from ..operators.joins import broadcast_dim_join, shuffle_join
from ..sources.readers import table_scan

from .qshared import (
    _EWMA_W,
    _dsum,
    register,
)



@register(
    "tpch_q1_pricing_summary",
    """
    SELECT l_returnflag, l_linestatus,
           SUM(l_quantity) AS sum_qty,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
           CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE)
             AS sum_disc_price,
           CAST(SUM(CAST(l_extendedprice * (1 - l_discount) * (1 + l_tax) AS DECIMAL(18,6))) AS DOUBLE)
             AS sum_charge,
           SUM(l_quantity) / COUNT(*) AS avg_qty,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_price,
           CAST(SUM(CAST(l_discount AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*) AS avg_disc,
           COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def q_tpch_q1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1-style pricing summary — the flagship scan+agg query. One
    parquet scan (only 7 columns read), partial+final hash aggregate, no
    joins; sums use the exact-decimal idiom; averages are exact-sum / count
    (deterministic double division). SUM(l_quantity) stays double: the values
    are integral, so IEEE addition is exact at any order.

    spread() (r14): the group-by key has ~4 values, so nearly ALL of the
    aggregation work happens in the partial (map-side) aggregate — and a
    single-row-group parquet file scans as ONE task, so without the fan-out
    the whole query runs on one core (guide §2.5, unsplittable input). The
    exchange carries only the 6 post-filter columns; decimal sums are exact
    integers, so re-partitioning cannot change a bit. Measured 1.06 s →
    0.77 s at sf0.1/local[32]; no-op whenever scan parallelism is adequate
    (any real multi-file table)."""
    from ..sources.readers import spread

    li = table_scan(spark, sf_dir, "lineitem")
    filtered = (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp_ntz"))
        .select(
            "l_quantity", "l_extendedprice", "l_discount", "l_tax",
            "l_returnflag", "l_linestatus",
        )
        .transform(spread)
    )
    price = F.col("l_extendedprice")
    disc_price = price * (1 - F.col("l_discount"))
    charge = disc_price * (1 + F.col("l_tax"))
    cnt = F.count(F.lit(1))
    return filtered.groupBy("l_returnflag", "l_linestatus").agg(
        F.sum("l_quantity").alias("sum_qty"),
        _dsum(price, 2, "sum_base_price"),
        _dsum(disc_price, 4, "sum_disc_price"),
        _dsum(charge, 6, "sum_charge"),
        (F.sum("l_quantity") / cnt).alias("avg_qty"),
        (_dsum(price, 2) / cnt).alias("avg_price"),
        (_dsum(F.col("l_discount"), 6) / cnt).alias("avg_disc"),
        cnt.alias("count_order"),
    )


@register(
    "tpch_q3_top_orders",
    """
    SELECT l_orderkey,
           CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE)
             AS revenue,
           CAST(o_orderdate AS DATE) AS o_date
    FROM customer
    JOIN orders ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1997-01-01'
      AND l_shipdate > TIMESTAMP '1997-01-01'
    GROUP BY l_orderkey, o_orderdate
    ORDER BY revenue DESC, l_orderkey
    LIMIT 10
    """,
)
def q_tpch_q3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3-style shipping-priority top-k: selective dimension filter →
    two joins → agg → global top-10. The customer side is broadcast (it is
    tiny relative to the facts); ties broken by l_orderkey so the LIMIT is
    deterministic."""
    c = table_scan(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = table_scan(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp_ntz")
    )
    li = table_scan(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1997-01-01").cast("timestamp_ntz")
    )
    joined = shuffle_join(
        broadcast_dim_join(o, c.select("c_custkey"), o["o_custkey"] == F.col("c_custkey")),
        li,
        F.col("l_orderkey") == o["o_orderkey"],
    )
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        joined.groupBy("l_orderkey", "o_orderdate")
        .agg(_dsum(rev, 4, "revenue"))
        .select("l_orderkey", "revenue", F.col("o_orderdate").cast("date").alias("o_date"))
        .orderBy(F.desc("revenue"), "l_orderkey")
        .limit(10)
    )


# ---------------------------------------------------------------------------
# part/supplier star queries (remaining tables)
# ---------------------------------------------------------------------------

@register(
    "part_brand_stats",
    """
    SELECT p_brand,
           COUNT(*) AS part_cnt,
           CAST(SUM(CAST(p_retailprice AS DECIMAL(18,2))) AS DOUBLE) AS retail_sum,
           MIN(p_size) AS min_size,
           MAX(p_size) AS max_size
    FROM part GROUP BY p_brand
    """,
)
def q_part_brand_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brand-level part profile (exact-decimal sums)."""
    p = table_scan(spark, sf_dir, "part")
    return p.groupBy("p_brand").agg(
        F.count(F.lit(1)).alias("part_cnt"),
        _dsum(F.col("p_retailprice"), 2, "retail_sum"),
        F.min("p_size").alias("min_size"),
        F.max("p_size").alias("max_size"),
    )


@register(
    "supplier_nation_rollup",
    """
    SELECT n_name,
           COUNT(*) AS supplier_cnt,
           CAST(SUM(CAST(s_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS acctbal_sum
    FROM supplier JOIN nation ON s_nationkey = n_nationkey
    GROUP BY n_name
    """,
)
def q_supplier_nation_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Supplier accounting rollup by nation (broadcast dim join)."""
    s = table_scan(spark, sf_dir, "supplier")
    n = table_scan(spark, sf_dir, "nation")
    return (
        broadcast_dim_join(s, n, s["s_nationkey"] == n["n_nationkey"])
        .groupBy("n_name")
        .agg(
            F.count(F.lit(1)).alias("supplier_cnt"),
            _dsum(F.col("s_acctbal"), 2, "acctbal_sum"),
        )
    )


@register(
    "tpch_q5_local_supplier_volume",
    """
    SELECT n_name,
           CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE)
             AS revenue
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
    JOIN nation   ON s_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA'
      AND o_orderdate >= TIMESTAMP '1995-01-01'
      AND o_orderdate < TIMESTAMP '1997-01-01'
    GROUP BY n_name
    """,
)
def q_tpch_q5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5-style local-supplier volume: the full 6-table star join.
    Dims (supplier/nation/region/customer) broadcast; only the two facts
    shuffle."""
    c = table_scan(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    o = table_scan(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1995-01-01").cast("timestamp_ntz"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp_ntz"))
    ).select("o_orderkey", "o_custkey")
    li = table_scan(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_extendedprice", "l_discount"
    )
    s = table_scan(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    n = table_scan(spark, sf_dir, "nation")
    r = table_scan(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")

    joined = (
        shuffle_join(o, li, o["o_orderkey"] == li["l_orderkey"])
        .join(F.broadcast(c), F.col("o_custkey") == c["c_custkey"])
        .join(
            F.broadcast(s),
            (F.col("l_suppkey") == s["s_suppkey"])
            & (c["c_nationkey"] == s["s_nationkey"]),
        )
        .join(F.broadcast(n), s["s_nationkey"] == n["n_nationkey"])
        .join(F.broadcast(r), n["n_regionkey"] == r["r_regionkey"])
    )
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return joined.groupBy("n_name").agg(_dsum(rev, 4, "revenue"))


# ---------------------------------------------------------------------------
# additional TPC-H-shaped star queries
# ---------------------------------------------------------------------------

@register(
    "tpch_q4_order_priority_check",
    """
    SELECT o_orderpriority, COUNT(*) AS order_cnt
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1996-07-01'
      AND o_orderdate < TIMESTAMP '1996-10-01'
      AND EXISTS (SELECT 1 FROM lineitem
                  WHERE l_orderkey = o_orderkey
                    AND l_shipdate > TIMESTAMP '1996-10-01')
    GROUP BY o_orderpriority
    """,
)
def q_tpch_q4(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4-style order-priority check: date slice + EXISTS semi-join
    (late-shipping lineitems) + grouped count. The semi-join build side is
    distinct orderkeys only."""
    o = table_scan(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-07-01").cast("timestamp_ntz"))
        & (F.col("o_orderdate") < F.lit("1996-10-01").cast("timestamp_ntz"))
    )
    late = table_scan(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1996-10-01").cast("timestamp_ntz")
    ).select("l_orderkey")
    return (
        o.join(late, o["o_orderkey"] == late["l_orderkey"], "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_cnt"))
    )


@register(
    "tpch_q10_returned_items",
    """
    SELECT c_custkey, c_name,
           CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE)
             AS revenue,
           n_name
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN nation   ON c_nationkey = n_nationkey
    WHERE o_orderdate >= TIMESTAMP '1996-01-01'
      AND o_orderdate < TIMESTAMP '1996-04-01'
      AND l_returnflag = 'R'
    GROUP BY c_custkey, c_name, n_name
    ORDER BY revenue DESC, c_custkey
    LIMIT 20
    """,
)
def q_tpch_q10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10-style returned-item ranking: selective fact filters, three
    joins, top-20 by revenue with a deterministic key tie-break."""
    c = table_scan(spark, sf_dir, "customer").select("c_custkey", "c_name", "c_nationkey")
    o = table_scan(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp_ntz"))
        & (F.col("o_orderdate") < F.lit("1996-04-01").cast("timestamp_ntz"))
    ).select("o_orderkey", "o_custkey")
    li = table_scan(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R").select(
        "l_orderkey", "l_extendedprice", "l_discount"
    )
    n = table_scan(spark, sf_dir, "nation")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        shuffle_join(o, li, o["o_orderkey"] == li["l_orderkey"])
        .join(F.broadcast(c), F.col("o_custkey") == c["c_custkey"])
        .join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(_dsum(rev, 4, "revenue"))
        .select("c_custkey", "c_name", "revenue", "n_name")
        .orderBy(F.desc("revenue"), "c_custkey")
        .limit(20)
    )


@register(
    "tpch_q14_promo_share",
    """
    SELECT CAST(100.0 * promo / total AS DOUBLE) AS promo_revenue_pct
    FROM (
      SELECT
        CAST(SUM(CASE WHEN p_type LIKE 'PROMO%'
                 THEN CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))
                 ELSE CAST(0 AS DECIMAL(18,4)) END) AS DOUBLE) AS promo,
        CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS total
      FROM lineitem JOIN part ON l_partkey = p_partkey
      WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        AND l_shipdate < TIMESTAMP '1996-02-01'
    )
    """,
)
def q_tpch_q14(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14-style promo revenue share: conditional aggregation over a
    broadcast part join; both sums exact-decimal, ratio one double division."""
    li = table_scan(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp_ntz"))
        & (F.col("l_shipdate") < F.lit("1996-02-01").cast("timestamp_ntz"))
    ).select("l_partkey", "l_extendedprice", "l_discount")
    p = table_scan(spark, sf_dir, "part").select("p_partkey", "p_type")
    rev = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast("decimal(18,4)")
    promo_rev = F.when(F.col("p_type").like("PROMO%"), rev).otherwise(
        F.lit(0).cast("decimal(18,4)")
    )
    joined = broadcast_dim_join(li, p, F.col("l_partkey") == p["p_partkey"])
    agg = joined.agg(
        F.sum(promo_rev).cast("double").alias("promo"),
        F.sum(rev).cast("double").alias("total"),
    )
    return agg.select(
        (F.lit(100.0) * F.col("promo") / F.col("total")).cast("double")
        .alias("promo_revenue_pct")
    )


# ---------------------------------------------------------------------------
# round 2: subquery-shaped TPC-H surface, range join, rank windows, CSV,
# watermarked streaming dedup
# ---------------------------------------------------------------------------
# The testdata is reduced TPC-H (no partsupp; lineitem lacks shipmode/
# commitdate; customer lacks phone) — the shapes below keep each query's
# defining structure (correlated scalar subquery, IN-over-HAVING, disjunctive
# pushdown, scalar-subquery + anti join) with filters adapted to the columns
# that exist.


@register(
    "tpch_q6_forecast_revenue",
    """
    SELECT CAST(SUM(CAST(l_extendedprice * l_discount AS DECIMAL(18,4)))
                AS DOUBLE) AS revenue
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate <  TIMESTAMP '1997-01-01'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
    """,
)
def q_tpch_q6(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6: pure scan-filter-aggregate — the canary for predicate
    pushdown (all four predicates reach the parquet scan) and column pruning
    (only 4 of 11 columns read)."""
    li = table_scan(spark, sf_dir, "lineitem")
    return li.filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp_ntz"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp_ntz"))
        & (F.col("l_discount") >= 0.05)
        & (F.col("l_discount") <= 0.07)
        & (F.col("l_quantity") < 24)
    ).agg(_dsum(F.col("l_extendedprice") * F.col("l_discount"), 4, "revenue"))


@register(
    "tpch_q7_volume_shipping",
    """
    SELECT supp_nation, cust_nation, l_year,
           CAST(SUM(CAST(volume AS DECIMAL(18,4))) AS DOUBLE) AS revenue
    FROM (
      SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
             EXTRACT(year FROM l_shipdate) AS l_year,
             l_extendedprice * (1 - l_discount) AS volume
      FROM supplier, lineitem, orders, customer, nation n1, nation n2
      WHERE s_suppkey = l_suppkey AND o_orderkey = l_orderkey
        AND c_custkey = o_custkey AND s_nationkey = n1.n_nationkey
        AND c_nationkey = n2.n_nationkey
        AND ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
          OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
    ) shipping
    GROUP BY supp_nation, cust_nation, l_year
    """,
)
def q_tpch_q7(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 (volume shipping): a 5-way join where the two nation legs
    are broadcast and the disjunctive nation-pair predicate is applied AFTER
    both joins (it references both sides). lineitem⋈orders is the only
    shuffle pair; supplier/customer/nation ride broadcasts at this shape."""
    li = table_scan(spark, sf_dir, "lineitem")
    o = table_scan(spark, sf_dir, "orders")
    c = table_scan(spark, sf_dir, "customer")
    s = table_scan(spark, sf_dir, "supplier")
    n1 = table_scan(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation")
    )
    n2 = table_scan(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("cust_nation")
    )
    pair = (
        (F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2")
    ) | ((F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1"))
    return (
        li.join(F.broadcast(s), F.col("s_suppkey") == F.col("l_suppkey"))
        .join(o, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(c, F.col("c_custkey") == F.col("o_custkey"))
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("n1_key"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("n2_key"))
        .filter(pair)
        .withColumn("l_year", F.year("l_shipdate").cast("long"))
        .groupBy("supp_nation", "cust_nation", "l_year")
        .agg(
            _dsum(
                F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount")),
                4,
                "revenue",
            )
        )
    )


@register(
    "tpch_q13_customer_distribution",
    """
    SELECT c_count, COUNT(*) AS custdist
    FROM (
      SELECT c_custkey, COUNT(o_orderkey) AS c_count
      FROM customer LEFT JOIN orders
        ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
      GROUP BY c_custkey
    ) c_orders
    GROUP BY c_count
    """,
)
def q_tpch_q13(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 (customer order distribution): left join with a residual
    filter ON THE JOIN (not a WHERE — customers with only urgent orders must
    still appear with count 0), then a re-aggregation of the counts."""
    c = table_scan(spark, sf_dir, "customer")
    o = table_scan(spark, sf_dir, "orders").filter(F.col("o_orderpriority") != "1-URGENT")
    return (
        c.join(o, c["c_custkey"] == o["o_custkey"], "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
        .groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
    )


@register(
    "tpch_q17_small_quantity_revenue",
    """
    WITH thresh AS (
      SELECT l_partkey,
             0.2 * (CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE)
                    / COUNT(*)) AS qty_limit
      FROM lineitem GROUP BY l_partkey
    )
    SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) / 7.0
           AS avg_yearly
    FROM lineitem
    JOIN part ON p_partkey = l_partkey
    JOIN thresh USING (l_partkey)
    WHERE p_brand = 'Brand#23' AND l_quantity < qty_limit
    """,
)
def q_tpch_q17(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 (small-quantity-order revenue): the correlated scalar
    subquery `l_quantity < 0.2*avg(l_quantity per part)` decorrelated into a
    per-part aggregate joined back — the plan Catalyst produces for the
    subquery form, written explicitly. The threshold uses the decimal-sum /
    count formulation so Spark and the oracle compute the identical double
    (a naive AVG(double) differs in summation order across engines and can
    flip the `<` at the boundary)."""
    li = table_scan(spark, sf_dir, "lineitem")
    thresh = li.groupBy("l_partkey").agg(
        (
            F.lit(0.2)
            * (
                F.sum(F.col("l_quantity").cast("decimal(18,4)")).cast("double")
                / F.count(F.lit(1))
            )
        ).alias("qty_limit")
    )
    p = table_scan(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#23")
    return (
        li.join(F.broadcast(p), F.col("p_partkey") == F.col("l_partkey"))
        .join(thresh, "l_partkey")
        .filter(F.col("l_quantity") < F.col("qty_limit"))
        .agg(
            (F.sum(F.col("l_extendedprice").cast("decimal(18,4)")).cast("double") / 7.0)
            .alias("avg_yearly")
        )
    )


@register(
    "tpch_q18_large_orders",
    """
    SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS total_qty
    FROM customer, orders, lineitem
    WHERE o_orderkey IN (
        SELECT l_orderkey FROM lineitem
        GROUP BY l_orderkey
        HAVING SUM(CAST(l_quantity AS DECIMAL(18,4))) > 200
      )
      AND c_custkey = o_custkey AND o_orderkey = l_orderkey
    GROUP BY c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice
    """,
)
def q_tpch_q18(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 (large-volume orders): IN over a HAVING subquery becomes a
    left-semi join against the aggregated key set; the decimal sum keeps the
    `> 200` cut exact in both engines."""
    li = table_scan(spark, sf_dir, "lineitem")
    o = table_scan(spark, sf_dir, "orders")
    c = table_scan(spark, sf_dir, "customer")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum(F.col("l_quantity").cast("decimal(18,4)")).alias("s"))
        .filter(F.col("s") > 200)
        .select("l_orderkey")
    )
    return (
        o.join(big, o["o_orderkey"] == big["l_orderkey"], "left_semi")
        .join(c, F.col("c_custkey") == F.col("o_custkey"))
        .join(li, F.col("o_orderkey") == li["l_orderkey"])
        .groupBy("c_name", "c_custkey", "o_orderkey", "o_orderdate", "o_totalprice")
        .agg(_dsum(F.col("l_quantity"), 4, "total_qty"))
    )


@register(
    "tpch_q19_disjunctive_pushdown",
    """
    SELECT CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4)))
                AS DOUBLE) AS revenue
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 5
           AND l_quantity BETWEEN 1 AND 11)
       OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 10
           AND l_quantity BETWEEN 10 AND 20)
       OR (p_brand = 'Brand#34' AND p_size BETWEEN 1 AND 15
           AND l_quantity BETWEEN 20 AND 30)
    """,
)
def q_tpch_q19(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 (discounted revenue, disjunctive predicates): the classic
    OR-of-ANDs. Catalyst extracts the common single-side conjuncts — the
    l_quantity range [1,30] and p_size range [1,15] are pushed below the
    join as scan filters; the cross-side residual stays on the join."""
    li = table_scan(spark, sf_dir, "lineitem")
    p = table_scan(spark, sf_dir, "part")
    cond = (
        (
            (F.col("p_brand") == "Brand#12")
            & F.col("p_size").between(1, 5)
            & F.col("l_quantity").between(1, 11)
        )
        | (
            (F.col("p_brand") == "Brand#23")
            & F.col("p_size").between(1, 10)
            & F.col("l_quantity").between(10, 20)
        )
        | (
            (F.col("p_brand") == "Brand#34")
            & F.col("p_size").between(1, 15)
            & F.col("l_quantity").between(20, 30)
        )
    )
    return (
        li.join(F.broadcast(p), F.col("p_partkey") == F.col("l_partkey"))
        .filter(cond)
        .agg(
            _dsum(
                F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount")),
                4,
                "revenue",
            )
        )
    )


@register(
    "tpch_q22_dormant_customers",
    """
    WITH avg_bal AS (
      SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(18,4))) AS DOUBLE) / COUNT(*)
             AS a
      FROM customer WHERE c_acctbal > 0
    )
    SELECT c_mktsegment, COUNT(*) AS numcust,
           CAST(SUM(CAST(c_acctbal AS DECIMAL(18,4))) AS DOUBLE) AS totacctbal
    FROM customer, avg_bal
    WHERE c_acctbal > a
      AND NOT EXISTS (SELECT 1 FROM orders
                      WHERE o_custkey = c_custkey
                        AND o_orderpriority = '1-URGENT')
    GROUP BY c_mktsegment
    """,
)
def q_tpch_q22(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 (global sales opportunity): scalar subquery (average
    positive balance) broadcast to every row + NOT EXISTS anti join. The
    scalar reaches the executors as a broadcast single-row cross join — no
    collect, no second action. Dormancy = no urgent orders (every customer
    in the testdata has SOME order, which would make the literal Q22
    predicate vacuous)."""
    c = table_scan(spark, sf_dir, "customer")
    o = (
        table_scan(spark, sf_dir, "orders")
        .filter(F.col("o_orderpriority") == "1-URGENT")
        .select("o_custkey")
    )
    avg_bal = (
        c.filter(F.col("c_acctbal") > 0)
        .agg(
            (
                F.sum(F.col("c_acctbal").cast("decimal(18,4)")).cast("double")
                / F.count(F.lit(1))
            ).alias("a")
        )
    )
    return (
        c.crossJoin(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("a"))
        .join(o, F.col("c_custkey") == F.col("o_custkey"), "left_anti")
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            _dsum(F.col("c_acctbal"), 4, "totacctbal"),
        )
    )


@register(
    "tpch_q8_market_share",
    """
    SELECT l_year,
           CAST(SUM(CAST(CASE WHEN supp_nation = 'NATION_3' THEN volume
                              ELSE 0 END AS DECIMAL(18,4))) AS DOUBLE)
           / CAST(SUM(CAST(volume AS DECIMAL(18,4))) AS DOUBLE) AS mkt_share
    FROM (
      SELECT EXTRACT(year FROM o_orderdate) AS l_year,
             l_extendedprice * (1 - l_discount) AS volume,
             n1.n_name AS supp_nation
      FROM lineitem, orders, customer, supplier,
           nation n1, nation n2, region
      WHERE s_suppkey = l_suppkey AND o_orderkey = l_orderkey
        AND c_custkey = o_custkey AND s_nationkey = n1.n_nationkey
        AND c_nationkey = n2.n_nationkey AND n2.n_regionkey = r_regionkey
        AND r_name = 'ASIA'
    ) nations
    GROUP BY l_year
    """,
)
def q_tpch_q8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 (national market share): two-level conditional aggregation —
    numerator is a CASE-gated subset of the denominator, computed in ONE
    grouped pass (no second scan/join for the share). Customer-side nation →
    region filter rides broadcasts; the only shuffle is lineitem⋈orders.
    Decimal sums make the division bit-exact cross-engine."""
    li = table_scan(spark, sf_dir, "lineitem")
    o = table_scan(spark, sf_dir, "orders")
    c = table_scan(spark, sf_dir, "customer")
    s = table_scan(spark, sf_dir, "supplier")
    n1 = table_scan(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation")
    )
    n2 = table_scan(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_regionkey").alias("n2_region")
    )
    r = table_scan(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    volume = F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount"))
    gated = F.when(F.col("supp_nation") == "NATION_3", volume).otherwise(F.lit(0.0))
    return (
        li.join(F.broadcast(s), F.col("s_suppkey") == F.col("l_suppkey"))
        .join(o, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(c, F.col("c_custkey") == F.col("o_custkey"))
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("n1_key"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("n2_key"))
        .join(F.broadcast(r), F.col("n2_region") == F.col("r_regionkey"))
        .withColumn("l_year", F.year("o_orderdate").cast("long"))
        .groupBy("l_year")
        .agg(
            (
                F.sum(gated.cast("decimal(18,4)")).cast("double")
                / F.sum(volume.cast("decimal(18,4)")).cast("double")
            ).alias("mkt_share")
        )
    )


# ---------------------------------------------------------------------------
# round 3: TPC-H completion (q2/q9/q11/q12/q15/q16/q20/q21 shapes) + LLM
# pipeline additions. The testdata has no partsupp table and lineitem lacks
# shipmode/commit/receipt dates, so the starred queries are *adapted*: the
# join topology, subquery shape, and physical strategy match the TPC-H
# original, with cost/lateness proxies derived from available columns (each
# docstring states the substitution).
# ---------------------------------------------------------------------------


@register(
    "tpch_q2_min_cost_supplier",
    """
    WITH ps AS (
      SELECT l_partkey, l_suppkey,
             CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE)
               / CAST(COUNT(*) AS DOUBLE) AS supply_cost
      FROM lineitem GROUP BY l_partkey, l_suppkey
    ), eu AS (
      SELECT s_suppkey, s_name
      FROM supplier JOIN nation ON s_nationkey = n_nationkey
      JOIN region ON n_regionkey = r_regionkey
      WHERE r_name = 'EUROPE'
    )
    SELECT p_partkey, p_name, s_name, supply_cost
    FROM part, ps, eu
    WHERE p_partkey = l_partkey AND l_suppkey = s_suppkey
      AND p_size <= 15 AND p_type = 'STANDARD'
      AND supply_cost = (SELECT MIN(ps2.supply_cost)
                         FROM ps ps2 JOIN eu eu2 ON ps2.l_suppkey = eu2.s_suppkey
                         WHERE ps2.l_partkey = ps.l_partkey)
    ORDER BY supply_cost, p_partkey, s_name
    LIMIT 100
    """,
)
def q_tpch_q2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2-style min-cost supplier (adapted: no partsupp table, so
    supply cost := the supplier's average sell price of the part from
    lineitem). The oracle states the classic correlated-MIN subquery; the
    Spark plan is the decorrelated form every engine rewrites it to — a
    window MIN over the region-filtered (part, supplier) aggregate, which
    reuses the groupBy partitioning for the window (no extra shuffle) and
    broadcasts the supplier/nation/region dim chain."""
    li = table_scan(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_suppkey", "l_extendedprice"
    )
    ps = li.groupBy("l_partkey", "l_suppkey").agg(
        (
            F.sum(F.col("l_extendedprice").cast("decimal(18,4)")).cast("double")
            / F.count(F.lit(1)).cast("double")
        ).alias("supply_cost")
    )
    s = table_scan(spark, sf_dir, "supplier").select("s_suppkey", "s_name", "s_nationkey")
    n = table_scan(spark, sf_dir, "nation")
    r = table_scan(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    eu = (
        s.join(F.broadcast(n), s["s_nationkey"] == n["n_nationkey"])
        .join(F.broadcast(r), n["n_regionkey"] == r["r_regionkey"])
        .select("s_suppkey", "s_name")
    )
    j = ps.join(F.broadcast(eu), ps["l_suppkey"] == eu["s_suppkey"])
    w = Window.partitionBy("l_partkey")
    best = j.withColumn("__min_cost", F.min("supply_cost").over(w)).filter(
        F.col("supply_cost") == F.col("__min_cost")
    )
    p = table_scan(spark, sf_dir, "part").filter(
        (F.col("p_size") <= 15) & (F.col("p_type") == "STANDARD")
    ).select("p_partkey", "p_name")
    return (
        best.join(F.broadcast(p), best["l_partkey"] == p["p_partkey"])
        .select("p_partkey", "p_name", "s_name", "supply_cost")
        .orderBy("supply_cost", "p_partkey", "s_name")
        .limit(100)
    )


@register(
    "tpch_q9_product_profit",
    """
    SELECT n_name AS nation,
           CAST(EXTRACT(year FROM o_orderdate) AS BIGINT) AS o_year,
           CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
                         - CAST(0.6 AS DOUBLE) * p_retailprice * l_quantity
                    AS DECIMAL(18,4))) AS DOUBLE) AS sum_profit
    FROM lineitem
    JOIN part     ON l_partkey = p_partkey
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN orders   ON l_orderkey = o_orderkey
    JOIN nation   ON s_nationkey = n_nationkey
    WHERE p_name LIKE '%red%'
    GROUP BY n_name, o_year
    """,
)
def q_tpch_q9(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9-style product profit by (supplier nation, order year)
    (adapted: no partsupp, so unit cost := 0.6 × p_retailprice). Five-way
    join where only lineitem⋈orders is fact-fact (sort-merge on orderkey);
    part/supplier/nation broadcast. The p_name LIKE filter prunes the part
    build side before the hash table is built."""
    li = table_scan(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_suppkey",
        "l_quantity", "l_extendedprice", "l_discount",
    )
    p = table_scan(spark, sf_dir, "part").filter(F.col("p_name").like("%red%")).select(
        "p_partkey", "p_retailprice"
    )
    s = table_scan(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    o = table_scan(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    n = table_scan(spark, sf_dir, "nation")
    profit = (
        F.col("l_extendedprice") * (1 - F.col("l_discount"))
        - F.lit(0.6) * F.col("p_retailprice") * F.col("l_quantity")
    )
    return (
        li.join(F.broadcast(p), li["l_partkey"] == p["p_partkey"])
        .join(F.broadcast(s), li["l_suppkey"] == s["s_suppkey"])
        .join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(F.broadcast(n), s["s_nationkey"] == n["n_nationkey"])
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").cast("long").alias("o_year"),
        )
        .agg(_dsum(profit, 4, "sum_profit"))
    )


@register(
    "tpch_q11_important_parts",
    """
    WITH v AS (
      SELECT l_partkey AS p_key,
             CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4)))
                  AS DOUBLE) AS part_value
      FROM lineitem
      JOIN supplier ON l_suppkey = s_suppkey
      JOIN nation   ON s_nationkey = n_nationkey
      JOIN region   ON n_regionkey = r_regionkey
      WHERE r_name = 'ASIA'
      GROUP BY l_partkey
    ), t AS (
      SELECT CAST(SUM(CAST(part_value AS DECIMAL(18,4))) AS DOUBLE)
             * CAST(0.001 AS DOUBLE) AS thr
      FROM v
    )
    SELECT p_key, part_value
    FROM v, t
    WHERE part_value > thr
    ORDER BY part_value DESC, p_key
    """,
)
def q_tpch_q11(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11-style important-stock scan (adapted: part value := Asian
    suppliers' lineitem revenue instead of partsupp inventory value). The
    HAVING-vs-global-scalar shape: one grouped pass builds per-part values,
    a single-row global total is broadcast back as the threshold. The
    per-part aggregate is persisted before being referenced twice —
    without it Spark re-executes the shared lineage and scans lineitem
    twice (verified; exchange reuse doesn't fire across the extra agg). A
    single-partition window (the q15 trick) is wrong HERE because part
    cardinality is unbounded at scale, while the persisted aggregate
    spills per-partition."""
    li = table_scan(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_suppkey", "l_extendedprice", "l_discount"
    )
    s = table_scan(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    n = table_scan(spark, sf_dir, "nation")
    r = table_scan(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    asian = (
        s.join(F.broadcast(n), s["s_nationkey"] == n["n_nationkey"])
        .join(F.broadcast(r), n["n_regionkey"] == r["r_regionkey"])
        .select("s_suppkey")
    )
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    v = (
        li.join(F.broadcast(asian), li["l_suppkey"] == asian["s_suppkey"])
        .groupBy(F.col("l_partkey").alias("p_key"))
        .agg(_dsum(rev, 4, "part_value"))
        .transform(cached)
    )
    t = v.agg(
        (
            F.sum(F.col("part_value").cast("decimal(18,4)")).cast("double")
            * F.lit(0.001)
        ).alias("thr")
    )
    return (
        v.join(F.broadcast(t))
        .filter(F.col("part_value") > F.col("thr"))
        .select("p_key", "part_value")
        .orderBy(F.desc("part_value"), "p_key")
    )


@register(
    "tpch_q12_ship_priority_classes",
    """
    SELECT l_returnflag AS ship_class,
           CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                    THEN 1 ELSE 0 END) AS BIGINT) AS high_line_cnt,
           CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                    THEN 1 ELSE 0 END) AS BIGINT) AS low_line_cnt
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate < TIMESTAMP '1997-01-01'
    GROUP BY ship_class
    """,
)
def q_tpch_q12(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12-style shipping/priority cross-tab (adapted: no l_shipmode
    column, so the class axis is l_returnflag). The signature Q12 shape —
    fact-fact join feeding two complementary conditional counts in one
    grouped pass (no second scan, no self-join)."""
    li = table_scan(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp_ntz"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp_ntz"))
    ).select("l_orderkey", "l_returnflag")
    o = table_scan(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        shuffle_join(li, o, li["l_orderkey"] == o["o_orderkey"])
        .groupBy(F.col("l_returnflag").alias("ship_class"))
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_cnt"),
            F.sum(F.when(~high, 1).otherwise(0)).alias("low_line_cnt"),
        )
    )


@register(
    "tpch_q15_top_supplier",
    """
    WITH rev AS (
      SELECT l_suppkey,
             CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4)))
                  AS DOUBLE) AS total_revenue
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        AND l_shipdate < TIMESTAMP '1996-04-01'
      GROUP BY l_suppkey
    )
    SELECT s_suppkey, s_name, total_revenue
    FROM supplier JOIN rev ON s_suppkey = l_suppkey
    WHERE total_revenue = (SELECT MAX(total_revenue) FROM rev)
    ORDER BY s_suppkey
    """,
)
def q_tpch_q15(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 top supplier: quarterly revenue view + scalar-subquery MAX.
    The per-supplier revenue table is persisted once, the scalar MAX rides a
    broadcast single-row cross join (the q11/q22 idiom) — every rev
    partition filters against the broadcast scalar in place, so no
    single-task global window anywhere and lineitem is scanned exactly once
    (the persist is what stops `rev.agg(max)` from re-running the shared
    lineage; exchange reuse alone doesn't fire across the extra agg —
    verified on the executed plan). Revenue is exact-decimal so the
    equality against MAX is bit-deterministic cross-engine."""
    li = table_scan(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp_ntz"))
        & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp_ntz"))
    ).select("l_suppkey", "l_extendedprice", "l_discount")
    rev = li.groupBy("l_suppkey").agg(
        _dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), 4, "total_revenue")
    ).transform(cached)
    mx = rev.agg(F.max("total_revenue").alias("__mx"))
    s = table_scan(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        rev.crossJoin(F.broadcast(mx))
        .filter(F.col("total_revenue") == F.col("__mx"))
        .join(F.broadcast(s), F.col("l_suppkey") == s["s_suppkey"])
        .select("s_suppkey", "s_name", "total_revenue")
        .orderBy("s_suppkey")
    )


@register(
    "tpch_q16_supplier_part_cnt",
    """
    WITH pairs AS (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem)
    SELECT p_brand, p_type, p_size,
           CAST(COUNT(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
    FROM pairs JOIN part ON p_partkey = l_partkey
    WHERE p_brand <> 'Brand#3' AND p_type <> 'PROMO'
      AND p_size IN (1, 5, 9, 15, 23, 36, 45, 49)
      AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
    GROUP BY p_brand, p_type, p_size
    ORDER BY supplier_cnt DESC, p_brand, p_type, p_size
    """,
)
def q_tpch_q16(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16-style supplier count per part attribute (adapted: the
    part↔supplier relation is the DISTINCT (l_partkey, l_suppkey) pairs
    from lineitem instead of partsupp; the NOT-IN complaint set is the
    negative-balance suppliers). Shape parity: anti-join for NOT IN (a
    broadcast of the tiny excluded set), distinct-pair dedup BEFORE the
    part join shrinks the probe side, COUNT(DISTINCT) grouped on part
    attributes."""
    pairs = (
        table_scan(spark, sf_dir, "lineitem")
        .select("l_partkey", "l_suppkey")
        .distinct()
    )
    bad = table_scan(spark, sf_dir, "supplier").filter(F.col("s_acctbal") < 0).select(
        "s_suppkey"
    )
    p = table_scan(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#3")
        & (F.col("p_type") != "PROMO")
        & F.col("p_size").isin(1, 5, 9, 15, 23, 36, 45, 49)
    ).select("p_partkey", "p_brand", "p_type", "p_size")
    return (
        pairs.join(F.broadcast(bad), pairs["l_suppkey"] == bad["s_suppkey"], "left_anti")
        .join(F.broadcast(p), F.col("l_partkey") == p["p_partkey"])
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.count_distinct(F.col("l_suppkey")).alias("supplier_cnt"))
        .orderBy(F.desc("supplier_cnt"), "p_brand", "p_type", "p_size")
    )


@register(
    "tpch_q20_excess_shipments",
    """
    SELECT s_suppkey, s_name, s_acctbal
    FROM supplier
    JOIN nation ON s_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    WHERE r_name = 'EUROPE'
      AND s_suppkey IN (
        SELECT l_suppkey FROM lineitem
        WHERE l_partkey IN (SELECT p_partkey FROM part
                            WHERE p_name LIKE 'small%')
          AND l_shipdate >= TIMESTAMP '1996-01-01'
          AND l_shipdate < TIMESTAMP '1997-01-01'
        GROUP BY l_suppkey
        HAVING SUM(CAST(l_quantity AS DECIMAL(18,4)))
               > CAST(350 AS DECIMAL(18,4)))
    ORDER BY s_suppkey
    """,
)
def q_tpch_q20(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20-style excess-shipment suppliers (adapted: 'shipped more
    than 350 units of small-named parts in 1996' replaces the partsupp
    available-quantity correlate). Nested-IN shape: inner IN is a broadcast
    semi-join on the filtered part keys, the HAVING aggregate produces the
    supplier keyset, and the outer IN is another semi-join into the
    dim-chain-filtered supplier scan."""
    p = table_scan(spark, sf_dir, "part").filter(F.col("p_name").like("small%")).select(
        "p_partkey"
    )
    li = table_scan(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp_ntz"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp_ntz"))
    ).select("l_partkey", "l_suppkey", "l_quantity")
    heavy = (
        li.join(F.broadcast(p), li["l_partkey"] == p["p_partkey"], "left_semi")
        .groupBy("l_suppkey")
        .agg(F.sum(F.col("l_quantity").cast("decimal(18,4)")).alias("__qty"))
        .filter(F.col("__qty") > F.lit(350).cast("decimal(18,4)"))
        .select("l_suppkey")
    )
    s = table_scan(spark, sf_dir, "supplier")
    n = table_scan(spark, sf_dir, "nation")
    r = table_scan(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    return (
        s.join(F.broadcast(n), s["s_nationkey"] == n["n_nationkey"])
        .join(F.broadcast(r), n["n_regionkey"] == r["r_regionkey"])
        .join(F.broadcast(heavy), s["s_suppkey"] == heavy["l_suppkey"], "left_semi")
        .select("s_suppkey", "s_name", "s_acctbal")
        .orderBy("s_suppkey")
    )


@register(
    "tpch_q21_last_shipping_supplier",
    """
    WITH l1 AS (
      SELECT l_orderkey, l_suppkey, l_shipdate, o_orderdate
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      WHERE o_orderstatus = 'F'
    ),
    multi AS (
      SELECT l_orderkey
      FROM (SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem)
      GROUP BY l_orderkey HAVING COUNT(*) >= 2
    ),
    late AS (
      SELECT DISTINCT l_orderkey, l_suppkey FROM l1
      WHERE l_shipdate > o_orderdate + INTERVAL 60 DAY
    ),
    solo AS (
      SELECT l_orderkey FROM late GROUP BY l_orderkey HAVING COUNT(*) = 1
    )
    SELECT s_name, CAST(COUNT(*) AS BIGINT) AS numwait
    FROM l1 JOIN supplier ON l1.l_suppkey = s_suppkey
    WHERE l1.l_shipdate > l1.o_orderdate + INTERVAL 60 DAY
      AND l1.l_orderkey IN (SELECT l_orderkey FROM multi)
      AND l1.l_orderkey IN (SELECT l_orderkey FROM solo)
    GROUP BY s_name
    ORDER BY numwait DESC, s_name
    LIMIT 100
    """,
)
def q_tpch_q21(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21-style suppliers-who-kept-orders-waiting (adapted: no
    commit/receipt dates, so 'late' := shipped >60 days after the order
    date). The EXISTS/NOT-EXISTS pair decorrelates to two semi-joins
    against tiny aggregated keysets: multi-supplier orders (EXISTS another
    supplier) and single-late-supplier orders (NOT EXISTS another late
    one) — Spark never runs a per-row subquery, and both keysets broadcast."""
    o = table_scan(spark, sf_dir, "orders").filter(
        F.col("o_orderstatus") == "F"
    ).select("o_orderkey", "o_orderdate")
    li = table_scan(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_shipdate"
    )
    l1 = li.join(o, li["l_orderkey"] == o["o_orderkey"]).select(
        "l_orderkey", "l_suppkey", "l_shipdate", "o_orderdate"
    )
    is_late = F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")
    multi = (
        li.select("l_orderkey", "l_suppkey")
        .distinct()
        .groupBy("l_orderkey")
        .agg(F.count(F.lit(1)).alias("__n"))
        .filter(F.col("__n") >= 2)
        .select("l_orderkey")
    )
    late = l1.filter(is_late).select("l_orderkey", "l_suppkey").distinct()
    solo = (
        late.groupBy("l_orderkey")
        .agg(F.count(F.lit(1)).alias("__n"))
        .filter(F.col("__n") == 1)
        .select("l_orderkey")
    )
    s = table_scan(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        l1.filter(is_late)
        .join(F.broadcast(multi), "l_orderkey", "left_semi")
        .join(F.broadcast(solo), "l_orderkey", "left_semi")
        .join(F.broadcast(s), F.col("l_suppkey") == s["s_suppkey"])
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .orderBy(F.desc("numwait"), "s_name")
        .limit(100)
    )


@register(
    "market_basket_pairs",
    """
    WITH d AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem)
    SELECT a.l_partkey AS part_a, b.l_partkey AS part_b, COUNT(*) AS support
    FROM d a JOIN d b
      ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    GROUP BY part_a, part_b
    ORDER BY support DESC, part_a, part_b
    LIMIT 20
    """,
)
def q_market_basket_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket co-occurrence: part pairs appearing in the same order,
    top-20 by support. NOT a self-join: baskets are collected per order
    (one shuffle, collect_set dedups) and the ordered pairs are generated
    ARRAY-SIDE with nested higher-order transforms — per-order fan-out
    bounded by basket size squared (~21 pairs for TPC-H's ≤7-line orders),
    zero extra exchanges, and the pair count partial-aggregates map-side. A
    join-based phrasing (the oracle's) scans lineitem twice and shuffles
    three times. Full (support, part_a, part_b) ordering makes the limit-20
    cut deterministic."""
    li = table_scan(spark, sf_dir, "lineitem")
    baskets = (
        li.select("l_orderkey", "l_partkey")
        .groupBy("l_orderkey")
        .agg(F.array_sort(F.collect_set("l_partkey")).alias("ps"))
    )
    pairs = F.flatten(
        F.transform(
            "ps",
            lambda x: F.transform(
                F.filter("ps", lambda y: y > x),
                lambda y: F.struct(x.alias("part_a"), y.alias("part_b")),
            ),
        )
    )
    return (
        baskets.select(F.explode(pairs).alias("pr"))
        .select("pr.part_a", "pr.part_b")
        .groupBy("part_a", "part_b")
        .agg(F.count(F.lit(1)).alias("support"))
        .orderBy(F.desc("support"), "part_a", "part_b")
        .limit(20)
    )


@register(
    "market_basket_rules",
    """
    WITH d AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    n AS (SELECT COUNT(DISTINCT l_orderkey) AS n_baskets FROM d),
    item AS (SELECT l_partkey, COUNT(*) AS cnt FROM d GROUP BY l_partkey),
    pair AS (
      SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
             COUNT(*) AS support
      FROM d a JOIN d b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY part_a, part_b
    ),
    scored AS (
      SELECT part_a, part_b, support,
             ia.cnt AS cnt_a, ib.cnt AS cnt_b,
             CAST(support * 1000 // ia.cnt AS BIGINT) AS conf_permille,
             CAST(CAST(support AS HUGEINT) * n_baskets * 1000
                  // (CAST(ia.cnt AS HUGEINT) * ib.cnt) AS BIGINT)
               AS lift_permille
      FROM pair
      JOIN item ia ON ia.l_partkey = part_a
      JOIN item ib ON ib.l_partkey = part_b
      CROSS JOIN n
    )
    SELECT part_a, part_b, support, cnt_a, cnt_b, conf_permille,
           lift_permille
    FROM scored
    WHERE support >= 3
    ORDER BY lift_permille DESC, part_a, part_b
    LIMIT 25
    """,
)
def q_market_basket_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Association rules on top of the basket pair counts: confidence
    P(b|a) and lift P(ab)/(P(a)P(b)) — the metrics that separate 'bought
    together often' (support) from 'bought together MORE THAN CHANCE'
    (lift > 1000‰). Both are integer floor cross-multiplications (support·
    N·1000 // (cnt_a·cnt_b) runs in DECIMAL(38)/HUGEINT to dodge int64
    overflow at real basket counts), so no float ratio anywhere. Shape:
    one distinct-pair aggregate (the same inverted self-join as
    market_basket_pairs), two broadcast joins against the skinny per-item
    count table, a 1-row basket total, then a global top-k by lift
    (TakeOrderedAndProject — per-partition heaps, no full sort). The
    support ≥ 3 floor kills the noise pairs a real rules miner prunes with
    min-support."""
    d = (
        table_scan(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .distinct()
        .transform(cached)
    )
    item = d.groupBy("l_partkey").agg(F.count(F.lit(1)).alias("cnt"))
    a, b = d.alias("a"), d.alias("b")
    pair = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .groupBy(
            F.col("a.l_partkey").alias("part_a"),
            F.col("b.l_partkey").alias("part_b"),
        )
        .agg(F.count(F.lit(1)).alias("support"))
    )
    ia = item.select(F.col("l_partkey").alias("part_a"), F.col("cnt").alias("cnt_a"))
    ib = item.select(F.col("l_partkey").alias("part_b"), F.col("cnt").alias("cnt_b"))
    nb = d.select("l_orderkey").distinct().agg(
        F.count(F.lit(1)).alias("n_baskets")
    )
    scored = (
        pair.join(F.broadcast(ia), "part_a")
        .join(F.broadcast(ib), "part_b")
        .crossJoin(F.broadcast(nb))
        .selectExpr(
            "part_a",
            "part_b",
            "support",
            "cnt_a",
            "cnt_b",
            "CAST(support * 1000 div cnt_a AS BIGINT) AS conf_permille",
            "CAST(CAST(support AS DECIMAL(38,0)) * n_baskets * 1000"
            " div (CAST(cnt_a AS DECIMAL(38,0)) * cnt_b) AS BIGINT)"
            " AS lift_permille",
        )
    )
    return (
        scored.filter(F.col("support") >= 3)
        .orderBy(F.desc("lift_permille"), "part_a", "part_b")
        .limit(25)
    )


@register(
    "part_similarity_topk",
    """
    WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    co AS (
      SELECT a.l_partkey AS pa, b.l_partkey AS pb,
             CAST(COUNT(*) AS BIGINT) AS co
      FROM li a JOIN li b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2
    ),
    deg AS (SELECT l_partkey AS p, CAST(COUNT(*) AS BIGINT) AS d
            FROM li GROUP BY 1),
    sym AS (
      SELECT pa AS part, pb AS rec, co FROM co WHERE co >= 2
      UNION ALL
      SELECT pb AS part, pa AS rec, co FROM co WHERE co >= 2
    ),
    scored AS (
      SELECT s.part, s.rec, s.co,
             s.co * s.co * 1000000 // (da.d * db.d) AS cos2_ppm
      FROM sym s JOIN deg da ON da.p = s.part JOIN deg db ON db.p = s.rec
    )
    SELECT part, rec, co, cos2_ppm
    FROM (
      SELECT *, row_number() OVER (
        PARTITION BY part ORDER BY cos2_ppm DESC, co DESC, rec
      ) AS rn
      FROM scored
    ) WHERE rn <= 3
    """,
)
def q_part_similarity_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Item-item collaborative filtering — "customers who bought X also
    bought": co-purchase cosine² similarity with top-3 recommendations
    per part. Co-occurrence pairs are generated ARRAY-SIDE from per-order
    baskets (the `market_basket_pairs` idiom — bounded fan-out, no
    lineitem self-join); degrees come from one explode; the ranking score
    co²·10⁶ div (dₐ·d_b) is cosine-squared in exact integer ppm (sqrt
    would be portable, but integer cross-multiplication makes ORDER
    ties bit-deterministic, which a float cosine cannot). Support floor
    co ≥ 2 prunes noise pairs before the degree join. The top-3 window
    partitions by part — millions of independent partitions at scale.
    Oracle: join-based pair generation, same integer score."""
    li = table_scan(spark, sf_dir, "lineitem")
    # persist-once: baskets feed BOTH the pair counts and the degrees, and
    # co feeds both directions of the symmetric edge list — without the
    # lazy persists Spark recomputes each subtree per consumer (4 lineitem
    # scans measured; 1 after)
    baskets = (
        li.select("l_orderkey", "l_partkey")
        .groupBy("l_orderkey")
        .agg(F.array_sort(F.collect_set("l_partkey")).alias("ps"))
        .transform(cached)
    )
    pairs = F.flatten(
        F.transform(
            "ps",
            lambda x: F.transform(
                F.filter("ps", lambda y: y > x),
                lambda y: F.struct(x.alias("pa"), y.alias("pb")),
            ),
        )
    )
    co = (
        baskets.select(F.explode(pairs).alias("pr"))
        .select("pr.pa", "pr.pb")
        .groupBy("pa", "pb")
        .agg(F.count(F.lit(1)).alias("co"))
        .filter(F.col("co") >= 2)
        .transform(cached)
    )
    deg = (
        baskets.select(F.explode("ps").alias("p"))
        .groupBy("p")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    sym = co.select(
        F.col("pa").alias("part"), F.col("pb").alias("rec"), "co"
    ).unionByName(
        co.select(F.col("pb").alias("part"), F.col("pa").alias("rec"), "co")
    )
    scored = (
        sym.join(deg.withColumnsRenamed({"p": "part", "d": "da"}), "part")
        .join(deg.withColumnsRenamed({"p": "rec", "d": "db"}), "rec")
        .selectExpr(
            "part", "rec", "co", "co * co * 1000000 div (da * db) AS cos2_ppm"
        )
    )
    rn = F.row_number().over(
        Window.partitionBy("part").orderBy(
            F.desc("cos2_ppm"), F.desc("co"), "rec"
        )
    )
    return (
        scored.withColumn("rn", rn)
        .filter(F.col("rn") <= 3)
        .select("part", "rec", "co", "cos2_ppm")
    )


@register(
    "part_skyline_pareto",
    """
    WITH p AS (
      SELECT p_partkey, p_brand, p_size,
             CAST(CAST(p_retailprice AS DECIMAL(18,2)) * 100 AS BIGINT)
               AS price_cents
      FROM part
    ),
    w AS (
      SELECT p_partkey, p_brand, p_size, price_cents,
             MIN(price_cents) OVER (
               PARTITION BY p_brand ORDER BY p_size
               RANGE BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS m1,
             MIN(price_cents) OVER (PARTITION BY p_brand, p_size) AS m2
      FROM p
    )
    SELECT p_partkey, p_brand, CAST(p_size AS INT) AS p_size, price_cents
    FROM w
    WHERE price_cents = m2 AND (m1 IS NULL OR price_cents < m1)
    """,
)
def q_part_skyline_pareto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skyline (Pareto-optimal set) per brand, minimizing (size, price) —
    the multi-criteria shortlist operator (Börzsönyi et al. 2001), solved
    WITHOUT the quadratic dominance join: for 2 criteria, sort by size and
    a row survives iff its price is the minimum of its size group AND
    strictly below every smaller size's minimum — two windows, one
    value-RANGE framed (strictly-preceding sizes), one per-(brand, size).
    O(n log n) per brand, fully partitioned; equal-in-both-dims rows all
    survive (dominance requires strict improvement), exact integer cents.
    At 100 TB this is the shape that works: the dominance join blows up
    quadratically, the sorted sweep shuffles each brand once."""
    p = table_scan(spark, sf_dir, "part").select(
        "p_partkey",
        "p_brand",
        "p_size",
        (F.col("p_retailprice").cast("decimal(18,2)") * 100)
        .cast("long")
        .alias("price_cents"),
    )
    w1 = (
        Window.partitionBy("p_brand")
        .orderBy("p_size")
        .rangeBetween(Window.unboundedPreceding, -1)
    )
    w2 = Window.partitionBy("p_brand", "p_size")
    w = p.select(
        "p_partkey",
        "p_brand",
        F.col("p_size").cast("int").alias("p_size"),
        "price_cents",
        F.min("price_cents").over(w1).alias("m1"),
        F.min("price_cents").over(w2).alias("m2"),
    )
    return w.filter(
        (F.col("price_cents") == F.col("m2"))
        & (F.col("m1").isNull() | (F.col("price_cents") < F.col("m1")))
    ).select("p_partkey", "p_brand", "p_size", "price_cents")


@register(
    "supplier_hhi_by_brand",
    """
    WITH rev AS (
      SELECT p.p_brand, l.l_suppkey,
             CAST(SUM(CAST(CAST(l.l_extendedprice AS DECIMAL(18,2)) * 100
                           AS BIGINT)) AS BIGINT) AS cents
      FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
      GROUP BY p.p_brand, l.l_suppkey
    ),
    t AS (
      SELECT p_brand, CAST(SUM(cents) AS BIGINT) AS total,
             CAST(SUM(CAST(cents AS HUGEINT) * cents) AS HUGEINT) AS sq,
             CAST(COUNT(*) AS BIGINT) AS n_suppliers
      FROM rev GROUP BY p_brand
    )
    SELECT p_brand, n_suppliers,
           CAST(CASE WHEN total = 0 THEN NULL
                ELSE (sq * 1000000)
                     // (CAST(total AS HUGEINT) * total) END AS BIGINT)
             AS hhi_ppm
    FROM t
    """,
)
def q_supplier_hhi_by_brand(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Herfindahl–Hirschman concentration index per brand — is this
    brand's supply single-sourced? HHI = Σ shareᵢ², held exact by
    clearing the denominator (Σcᵢ²/T² — never floored per-share), in
    HUGEINT/DECIMAL(38) ppm: 10⁶ = monopoly, 10⁶/n = perfectly split.
    Completes the concentration family (Pareto cumulative share, Gini
    rank-sum, now HHI) — three different answers to 'how concentrated?'.
    Two stacked partial aggs (supplier revenue, then brand moments) with
    the part dim broadcast onto the fact scan."""
    li = table_scan(spark, sf_dir, "lineitem").select(
        "l_partkey",
        "l_suppkey",
        (F.col("l_extendedprice").cast("decimal(18,2)") * 100)
        .cast("long")
        .alias("cents"),
    )
    p = table_scan(spark, sf_dir, "part").select("p_partkey", "p_brand")
    rev = (
        li.join(F.broadcast(p), li["l_partkey"] == p["p_partkey"])
        .groupBy("p_brand", "l_suppkey")
        .agg(F.sum("cents").alias("cents"))
    )
    t = rev.groupBy("p_brand").agg(
        F.sum("cents").alias("total"),
        F.sum(F.col("cents").cast("decimal(38,0)") * F.col("cents")).alias("sq"),
        F.count(F.lit(1)).alias("n_suppliers"),
    )
    return t.selectExpr(
        "p_brand",
        "n_suppliers",
        "CAST(CASE WHEN total = 0 THEN NULL"
        "     ELSE (sq * 1000000)"
        "          div (CAST(total AS DECIMAL(38,0)) * total) END AS BIGINT)"
        " AS hhi_ppm",
    )


@register(
    "part_trgm_fuzzy_search",
    """
    WITH names AS (
      SELECT p_partkey, p_name, concat('  ', p_name, ' ') AS padded
      FROM part
    ),
    tg AS (
      SELECT DISTINCT p_partkey, p_name,
             substr(padded, CAST(i AS INT) + 1, 3) AS tri
      FROM names, UNNEST(range(length(padded) - 2)) AS u(i)
    ),
    qt AS (
      SELECT DISTINCT substr(concat('  ', 'red widgit', ' '),
                             CAST(i AS INT) + 1, 3) AS tri
      FROM UNNEST(range(length(concat('  ', 'red widgit', ' ')) - 2)) AS u(i)
    ),
    qn AS (SELECT CAST(COUNT(*) AS BIGINT) AS nq FROM qt),
    hits AS (
      SELECT tg.p_partkey, tg.p_name, CAST(COUNT(*) AS BIGINT) AS shared
      FROM tg JOIN qt ON qt.tri = tg.tri
      GROUP BY tg.p_partkey, tg.p_name
    ),
    sz AS (SELECT p_partkey, CAST(COUNT(*) AS BIGINT) AS nt FROM tg
           GROUP BY p_partkey),
    scored AS (
      SELECT h.p_partkey, h.p_name, h.shared,
             CAST(h.shared * 1000000 // (sz.nt + qn.nq - h.shared)
                  AS BIGINT) AS sim_ppm
      FROM hits h JOIN sz ON sz.p_partkey = h.p_partkey CROSS JOIN qn
    )
    SELECT p_partkey, p_name, shared AS shared_trigrams, sim_ppm
    FROM scored ORDER BY sim_ppm DESC, p_partkey LIMIT 10
    """,
)
def q_part_trgm_fuzzy_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trigram fuzzy string search (the pg_trgm model) — find parts
    matching the MISSPELLED query 'red widgit': names pad with two
    leading + one trailing space (pg_trgm's boundary convention, so
    prefixes weigh more), character trigrams build an inverted index,
    candidates come from the trigram equi-join (only names sharing ≥1
    trigram — never a full edit-distance scan), and trigram-set Jaccard
    ranks in exact integer ppm. This is entity-level fuzzy SEARCH —
    distinct from entity_resolution_fuzzy (pairwise linkage) and
    doc-level Jaccard (document resemblance). Scale: the index is the
    skinny (trigram, key) table; a query touches only its trigrams'
    posting lists."""
    QUERY = "red widgit"
    p = table_scan(spark, sf_dir, "part").select(
        "p_partkey", "p_name", F.concat(F.lit("  "), F.col("p_name"), F.lit(" ")).alias("padded")
    )
    tg = (
        p.select(
            "p_partkey",
            "p_name",
            F.explode(
                F.expr(
                    "transform(sequence(1, length(padded) - 2),"
                    " i -> substring(padded, i, 3))"
                )
            ).alias("tri"),
        )
        .distinct()
    )
    padded_q = "  " + QUERY + " "
    qtris = sorted({padded_q[i : i + 3] for i in range(len(padded_q) - 2)})
    qt = spark.createDataFrame([(t,) for t in qtris], "tri string")
    nq = len(qtris)
    hits = tg.join(F.broadcast(qt), "tri").groupBy("p_partkey", "p_name").agg(
        F.count(F.lit(1)).alias("shared")
    )
    sz = tg.groupBy(F.col("p_partkey").alias("pk2")).agg(
        F.count(F.lit(1)).alias("nt")
    )
    scored = hits.join(sz, hits["p_partkey"] == sz["pk2"]).selectExpr(
        "p_partkey",
        "p_name",
        "shared",
        f"(shared * 1000000) div (nt + {nq} - shared) AS sim_ppm",
    )
    return (
        scored.orderBy(F.desc("sim_ppm"), "p_partkey")
        .limit(10)
        .select("p_partkey", "p_name", F.col("shared").alias("shared_trigrams"), "sim_ppm")
    )


@register(
    "recsys_coverage_diversity_eval",
    """
    WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    co AS (
      SELECT a.l_partkey AS pa, b.l_partkey AS pb,
             CAST(COUNT(*) AS BIGINT) AS co
      FROM li a JOIN li b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2
    ),
    deg AS (SELECT l_partkey AS p, CAST(COUNT(*) AS BIGINT) AS d
            FROM li GROUP BY 1),
    sym AS (
      SELECT pa AS part, pb AS rec, co FROM co WHERE co >= 2
      UNION ALL
      SELECT pb AS part, pa AS rec, co FROM co WHERE co >= 2
    ),
    scored AS (
      SELECT s.part, s.rec, s.co,
             s.co * s.co * 1000000 // (da.d * db.d) AS cos2_ppm
      FROM sym s JOIN deg da ON da.p = s.part JOIN deg db ON db.p = s.rec
    ),
    recs AS (
      SELECT part, rec FROM (
        SELECT *, row_number() OVER (
          PARTITION BY part ORDER BY cos2_ppm DESC, co DESC, rec
        ) AS rn FROM scored
      ) WHERE rn <= 3
    ),
    cat AS (SELECT CAST(COUNT(*) AS BIGINT) AS catalog_size FROM deg),
    cov AS (SELECT CAST(COUNT(DISTINCT rec) AS BIGINT) AS n_recommended
            FROM recs),
    rp AS (
      SELECT r1.part, LEAST(r1.rec, r2.rec) AS ra,
             GREATEST(r1.rec, r2.rec) AS rb
      FROM recs r1 JOIN recs r2
        ON r1.part = r2.part AND r1.rec < r2.rec
    ),
    ild AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_rec_pairs,
             CAST(SUM(1000000 - COALESCE(sc.cos2_ppm, 0)) AS BIGINT)
               AS sum_dissim
      FROM rp LEFT JOIN scored sc ON sc.part = rp.ra AND sc.rec = rp.rb
    )
    SELECT cat.catalog_size, cov.n_recommended,
           CAST(cov.n_recommended * 1000 // cat.catalog_size AS BIGINT)
             AS coverage_permille,
           ild.n_rec_pairs,
           CAST(CASE WHEN ild.n_rec_pairs = 0 THEN NULL
                ELSE ild.sum_dissim // ild.n_rec_pairs END AS BIGINT)
             AS mean_ild_ppm
    FROM cat CROSS JOIN cov CROSS JOIN ild
    """,
)
def q_recsys_coverage_diversity_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recommender evaluation beyond accuracy — catalog COVERAGE (what
    fraction of items ever get recommended; low coverage = popularity
    bias) and intra-list DIVERSITY (mean pairwise dissimilarity
    1 − cos² inside each top-3 list; recs that are clones of each other
    score low): the two beyond-accuracy metrics every recsys audit
    reports, computed over the SAME item-item pipeline as
    part_similarity_topk (identical CTE chain, so this row evaluates
    exactly what that query serves). Rec-list pairs come from a per-part
    self-join of the 3-row lists (≤3 pairs per part); unknown rec-rec
    similarity coalesces to 0 (maximally diverse), matching how a serving
    system treats never-co-purchased items. All integer ppm."""
    li = table_scan(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey"
    ).distinct().transform(cached)
    a, b = li.alias("a"), li.alias("b")
    co = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .groupBy(
            F.col("a.l_partkey").alias("pa"), F.col("b.l_partkey").alias("pb")
        )
        .agg(F.count(F.lit(1)).alias("co"))
        .filter(F.col("co") >= 2)
    )
    deg = li.groupBy(F.col("l_partkey").alias("p")).agg(
        F.count(F.lit(1)).alias("d")
    )
    sym = co.selectExpr("pa AS part", "pb AS rec", "co").unionByName(
        co.selectExpr("pb AS part", "pa AS rec", "co")
    )
    scored = (
        sym.join(deg.selectExpr("p AS part", "d AS da"), "part")
        .join(deg.selectExpr("p AS rec", "d AS db"), "rec")
        .selectExpr(
            "part", "rec", "co", "(co * co * 1000000) div (da * db) AS cos2_ppm"
        )
        .transform(cached)
    )
    wr = Window.partitionBy("part").orderBy(
        F.desc("cos2_ppm"), F.desc("co"), "rec"
    )
    recs = (
        scored.withColumn("rn", F.row_number().over(wr))
        .filter(F.col("rn") <= 3)
        .select("part", "rec")
        .transform(cached)
    )
    cat = deg.agg(F.count(F.lit(1)).alias("catalog_size"))
    cov = recs.agg(F.countDistinct("rec").alias("n_recommended"))
    r1 = recs.selectExpr("part", "rec AS rec1")
    r2 = recs.selectExpr("part AS part2", "rec AS rec2")
    rp = r1.join(
        r2,
        (F.col("part") == F.col("part2")) & (F.col("rec1") < F.col("rec2")),
    ).select(
        F.least("rec1", "rec2").alias("ra"), F.greatest("rec1", "rec2").alias("rb")
    )
    ild = rp.join(
        scored.selectExpr("part AS ra", "rec AS rb", "cos2_ppm"),
        ["ra", "rb"],
        "left",
    ).agg(
        F.count(F.lit(1)).alias("n_rec_pairs"),
        F.sum(F.lit(1000000) - F.coalesce("cos2_ppm", F.lit(0))).alias(
            "sum_dissim"
        ),
    )
    return (
        cat.crossJoin(cov)
        .crossJoin(ild)
        .selectExpr(
            "catalog_size",
            "n_recommended",
            "(n_recommended * 1000) div catalog_size AS coverage_permille",
            "n_rec_pairs",
            "CAST(CASE WHEN n_rec_pairs = 0 THEN NULL"
            "     ELSE sum_dissim div n_rec_pairs END AS BIGINT)"
            " AS mean_ild_ppm",
        )
    )


@register(
    "market_basket_triples",
    """
    WITH b AS (
      SELECT l_orderkey, list_distinct(list(l_partkey)) AS items
      FROM lineitem GROUP BY l_orderkey
    ),
    s AS (SELECT l_orderkey, list_sort(items) AS items FROM b
          WHERE len(items) >= 3),
    tri AS (
      SELECT items[i + 1] AS a, items[j + 1] AS bb, items[k + 1] AS c
      FROM s,
           UNNEST(range(len(items))) AS ui(i),
           UNNEST(range(len(items))) AS uj(j),
           UNNEST(range(len(items))) AS uk(k)
      WHERE i < j AND j < k
    )
    SELECT a AS item_a, bb AS item_b, c AS item_c,
           CAST(COUNT(*) AS BIGINT) AS support
    FROM tri GROUP BY a, bb, c
    HAVING COUNT(*) >= 3
    ORDER BY support DESC, a, bb, c LIMIT 20
    """,
)
def q_market_basket_triples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequent 3-itemsets — the next Apriori level above
    market_basket_pairs: co-purchase triples with support ≥ 3, top-20.
    Triple generation is ARRAY-SIDE over each sorted basket (C(n,3)
    combinations via a JVM nested-transform flatten — baskets are ≤7
    items, so ≤35 triples per order, bounded fan-out with NO basket
    self-join), then one (a,b,c) partial-agg count and a distributed
    TakeOrdered. At supermarket scale this is exactly how you'd do it:
    per-basket combination explode bounded by basket size, never a
    three-way join."""
    li = table_scan(spark, sf_dir, "lineitem")
    b = li.groupBy("l_orderkey").agg(
        F.array_sort(F.collect_set("l_partkey")).alias("items")
    ).filter(F.size("items") >= 3)
    tri = b.selectExpr(
        "explode(flatten(flatten("
        " transform(sequence(0, size(items) - 3), i ->"
        "  transform(sequence(i + 1, size(items) - 2), j ->"
        "   transform(sequence(j + 1, size(items) - 1), k ->"
        "    named_struct('a', items[i], 'b', items[j], 'c', items[k])"
        "   )))))) AS t"
    )
    return (
        tri.select(
            F.col("t.a").alias("item_a"),
            F.col("t.b").alias("item_b"),
            F.col("t.c").alias("item_c"),
        )
        .groupBy("item_a", "item_b", "item_c")
        .agg(F.count(F.lit(1)).alias("support"))
        .filter(F.col("support") >= 3)
        .orderBy(F.desc("support"), "item_a", "item_b", "item_c")
        .limit(20)
    )


@register(
    "simpsons_reversal_detector",
    """
    WITH b AS (
      SELECT p.p_brand,
             CASE WHEN l.l_discount >= 0.05 THEN 1 ELSE 0 END AS grp,
             CASE WHEN l.l_returnflag = 'R' THEN 1 ELSE 0 END AS ret
      FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    ),
    strata AS (
      SELECT p_brand,
             CAST(SUM(CASE WHEN grp = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_hi,
             CAST(SUM(CASE WHEN grp = 1 THEN ret ELSE 0 END) AS BIGINT)
               AS r_hi,
             CAST(SUM(CASE WHEN grp = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_lo,
             CAST(SUM(CASE WHEN grp = 0 THEN ret ELSE 0 END) AS BIGINT)
               AS r_lo
      FROM b GROUP BY p_brand
    ),
    overall AS (
      SELECT CAST(SUM(n_hi) AS BIGINT) AS on_hi,
             CAST(SUM(r_hi) AS BIGINT) AS or_hi,
             CAST(SUM(n_lo) AS BIGINT) AS on_lo,
             CAST(SUM(r_lo) AS BIGINT) AS or_lo
      FROM strata
    )
    SELECT s.p_brand, s.n_hi, s.r_hi, s.n_lo, s.r_lo,
           (o.or_hi * o.on_lo > o.or_lo * o.on_hi) AS overall_hi_worse,
           CASE WHEN s.n_hi = 0 OR s.n_lo = 0 THEN NULL
                ELSE s.r_hi * s.n_lo > s.r_lo * s.n_hi END AS stratum_hi_worse,
           CASE WHEN s.n_hi = 0 OR s.n_lo = 0 THEN NULL
                ELSE (s.r_hi * s.n_lo > s.r_lo * s.n_hi)
                     <> (o.or_hi * o.on_lo > o.or_lo * o.on_hi) END
             AS is_reversal
    FROM strata s CROSS JOIN overall o
    """,
)
def q_simpsons_reversal_detector(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Simpson's-paradox detector — does the discount→returns association
    FLIP inside strata? The aggregation trap every analyst eventually
    hits, as a query: compare the high-discount vs low-discount return
    rate overall and within each brand stratum, all comparisons
    CROSS-MULTIPLIED (r₁n₂ > r₂n₁ — no division, no float, no ties
    ambiguity), and flag strata whose direction contradicts the marginal.
    One fact pass building the 2×2 per stratum, one overall fold
    broadcast back. A reversal row is the signal to condition on the
    stratum before drawing the causal conclusion."""
    li = table_scan(spark, sf_dir, "lineitem").select(
        "l_partkey",
        F.when(F.col("l_discount") >= 0.05, 1).otherwise(0).alias("grp"),
        F.when(F.col("l_returnflag") == "R", 1).otherwise(0).alias("ret"),
    )
    p = table_scan(spark, sf_dir, "part").select("p_partkey", "p_brand")
    b = li.join(F.broadcast(p), li["l_partkey"] == p["p_partkey"])
    strata = b.groupBy("p_brand").agg(
        F.sum(F.when(F.col("grp") == 1, 1).otherwise(0)).alias("n_hi"),
        F.sum(F.when(F.col("grp") == 1, F.col("ret")).otherwise(0)).alias("r_hi"),
        F.sum(F.when(F.col("grp") == 0, 1).otherwise(0)).alias("n_lo"),
        F.sum(F.when(F.col("grp") == 0, F.col("ret")).otherwise(0)).alias("r_lo"),
    )
    overall = strata.agg(
        F.sum("n_hi").alias("on_hi"),
        F.sum("r_hi").alias("or_hi"),
        F.sum("n_lo").alias("on_lo"),
        F.sum("r_lo").alias("or_lo"),
    )
    return strata.crossJoin(F.broadcast(overall)).selectExpr(
        "p_brand",
        "n_hi",
        "r_hi",
        "n_lo",
        "r_lo",
        "(or_hi * on_lo > or_lo * on_hi) AS overall_hi_worse",
        "CASE WHEN n_hi = 0 OR n_lo = 0 THEN NULL"
        " ELSE r_hi * n_lo > r_lo * n_hi END AS stratum_hi_worse",
        "CASE WHEN n_hi = 0 OR n_lo = 0 THEN NULL"
        " ELSE (r_hi * n_lo > r_lo * n_hi)"
        "      <> (or_hi * on_lo > or_lo * on_hi) END AS is_reversal",
    )


@register(
    "part_dual_sourcing_coverage",
    """
    WITH ps AS (
      SELECT p.p_brand, l.l_partkey,
             CAST(COUNT(DISTINCT l.l_suppkey) AS BIGINT) AS n_suppliers
      FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
      GROUP BY p.p_brand, l.l_partkey
    )
    SELECT p_brand,
           CAST(COUNT(*) AS BIGINT) AS n_parts,
           CAST(SUM(CASE WHEN n_suppliers >= 2 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_dual_sourced,
           CAST(CAST(SUM(CASE WHEN n_suppliers >= 2 THEN 1 ELSE 0 END)
                     AS BIGINT) * 1000 // COUNT(*) AS BIGINT)
             AS coverage_permille
    FROM ps GROUP BY p_brand
    """,
)
def q_part_dual_sourcing_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dual-sourcing coverage per brand — the supply-chain resilience
    number (what fraction of parts could survive losing their main
    supplier?): distinct suppliers per part from the fact table, coverage
    = share of parts with ≥2, in floored per-mille. Pairs with
    supplier_hhi_by_brand (HHI says revenue is concentrated; this says
    whether an ALTERNATIVE even exists). Two stacked partial aggs with
    the part dim broadcast."""
    li = table_scan(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey")
    p = table_scan(spark, sf_dir, "part").select("p_partkey", "p_brand")
    ps = (
        li.join(F.broadcast(p), li["l_partkey"] == p["p_partkey"])
        .groupBy("p_brand", "l_partkey")
        .agg(F.countDistinct("l_suppkey").alias("n_suppliers"))
    )
    return ps.groupBy("p_brand").agg(
        F.count(F.lit(1)).alias("n_parts"),
        F.sum(F.when(F.col("n_suppliers") >= 2, 1).otherwise(0)).alias(
            "n_dual_sourced"
        ),
    ).selectExpr(
        "p_brand",
        "n_parts",
        "n_dual_sourced",
        "(n_dual_sourced * 1000) div n_parts AS coverage_permille",
    )


@register(
    "part_name_oov_rate",
    r"""
    WITH vocab AS (
      SELECT DISTINCT t FROM (
        SELECT UNNEST(string_split_regex(TRIM(text), '\s+')) AS t
        FROM documents WHERE TRIM(text) <> ''
      ) WHERE t <> ''
    ),
    nt AS (
      SELECT p_brand, UNNEST(string_split(p_name, ' ')) AS t FROM part
    ),
    flags AS (
      SELECT nt.p_brand,
             CASE WHEN v.t IS NULL THEN 1 ELSE 0 END AS oov
      FROM nt LEFT JOIN vocab v ON v.t = nt.t
      WHERE nt.t <> ''
    )
    SELECT p_brand, CAST(COUNT(*) AS BIGINT) AS n_name_tokens,
           CAST(SUM(oov) AS BIGINT) AS n_oov,
           CAST(CAST(SUM(oov) AS BIGINT) * 1000 // COUNT(*) AS BIGINT)
             AS oov_rate_permille
    FROM flags GROUP BY p_brand
    """,
)
def q_part_name_oov_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Out-of-vocabulary rate of part-name tokens against the document
    corpus vocabulary — the coverage check a tokenizer/embedding trained
    on one corpus needs before serving another domain (high OOV ⇒ the
    entity domain is unrepresented): name tokens left-anti-probe the
    distinct corpus vocab, rate per brand in floored per-mille. The
    vocab is the skinny distinct-token table — the join shuffles tokens,
    never documents."""
    docs = table_scan(spark, sf_dir, "documents").filter(
        F.trim(F.col("text")) != ""
    )
    vocab = (
        docs.select(
            F.explode(F.split(F.trim(F.col("text")), r"\s+")).alias("t")
        )
        .filter(F.col("t") != "")
        .distinct()
    )
    nt = (
        table_scan(spark, sf_dir, "part")
        .select("p_brand", F.explode(F.split("p_name", " ")).alias("t"))
        .filter(F.col("t") != "")
    )
    flags = nt.join(
        vocab.withColumnRenamed("t", "vt"),
        nt["t"] == F.col("vt"),
        "left",
    ).select(
        "p_brand", F.when(F.col("vt").isNull(), 1).otherwise(0).alias("oov")
    )
    return flags.groupBy("p_brand").agg(
        F.count(F.lit(1)).alias("n_name_tokens"),
        F.sum("oov").alias("n_oov"),
    ).selectExpr(
        "p_brand",
        "n_name_tokens",
        "n_oov",
        "(n_oov * 1000) div n_name_tokens AS oov_rate_permille",
    )


@register(
    "part_newsvendor_stock_level",
    """
    WITH daily AS (
      SELECT p.p_brand AS brand, CAST(l.l_shipdate AS DATE) AS day,
             CAST(SUM(CAST(CAST(l.l_quantity AS DECIMAL(18,2)) * 100
                           AS BIGINT)) AS BIGINT) AS demand
      FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
      GROUP BY 1, 2
    ),
    ranked AS (
      SELECT brand, demand,
             ROW_NUMBER() OVER (PARTITION BY brand ORDER BY demand) AS rn,
             COUNT(*) OVER (PARTITION BY brand) AS n
      FROM daily
    )
    SELECT brand,
           CAST(MAX(n) AS BIGINT) AS n_days,
           CAST(MAX(CASE WHEN rn = (9 * n + 9) // 10 THEN demand END)
                AS BIGINT) AS stock_q90_cents,
           CAST(MAX(CASE WHEN rn = (n + 1) // 2 THEN demand END)
                AS BIGINT) AS median_demand_cents
    FROM ranked
    GROUP BY brand
    """,
)
def q_part_newsvendor_stock_level(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Newsvendor service-level stocking — the inventory operator behind
    every replenishment pipeline: with underage cost 9× overage, the
    critical fractile is 0.9, and the optimal stock is the smallest q with
    F(q) ≥ 0.9 — the EXACT per-brand 90th percentile (order statistic at
    rank ⌈0.9·n⌉) of daily demand, not an approx_percentile sketch whose
    error lands directly in safety stock. Pipeline: one data-sized
    grouped sum collapses lineitem to the (brand, day) demand table
    (broadcast join to part — the dim is small), then rank selection runs
    inside a window PARTITIONED by brand over calendar-bounded rows
    (~2.4k days × 25 brands regardless of data volume). The lower median
    rides the same window for an interquantile spread read. Demand is
    exact integer cents end-to-end."""
    li = table_scan(spark, sf_dir, "lineitem").select(
        "l_partkey",
        F.col("l_shipdate").cast("date").alias("day"),
        (F.col("l_quantity").cast("decimal(18,2)") * 100)
        .cast("long")
        .alias("qc"),
    )
    p = table_scan(spark, sf_dir, "part").select(
        "p_partkey", F.col("p_brand").alias("brand")
    )
    daily = (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .groupBy("brand", "day")
        .agg(F.sum("qc").alias("demand"))
    )
    wr = Window.partitionBy("brand").orderBy("demand")
    wn = Window.partitionBy("brand")
    ranked = daily.select(
        "brand",
        "demand",
        F.row_number().over(wr).alias("rn"),
        F.count(F.lit(1)).over(wn).alias("n"),
    )
    return ranked.groupBy("brand").agg(
        F.max("n").cast("long").alias("n_days"),
        F.max(
            F.when(F.col("rn") == F.expr("(9 * n + 9) div 10"), F.col("demand"))
        )
        .cast("long")
        .alias("stock_q90_cents"),
        F.max(
            F.when(F.col("rn") == F.expr("(n + 1) div 2"), F.col("demand"))
        )
        .cast("long")
        .alias("median_demand_cents"),
    )


@register(
    "part_abc_xyz_matrix",
    """
    WITH weekly AS (
      SELECT p.p_brand AS brand,
             date_trunc('week', CAST(l.l_shipdate AS DATE)) AS wk,
             CAST(SUM(CAST(CAST(l.l_quantity AS DECIMAL(18,2)) * 100
                           AS BIGINT)) AS BIGINT) AS demand,
             CAST(SUM(CAST(CAST(l.l_extendedprice AS DECIMAL(18,2)) * 100
                           AS BIGINT)) AS BIGINT) AS revenue
      FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
      GROUP BY 1, 2
    ),
    br AS (
      SELECT brand, CAST(COUNT(*) AS BIGINT) AS n_weeks,
             CAST(CAST(SUM(demand) AS HUGEINT) AS BIGINT) AS s1,
             SUM(CAST(demand AS HUGEINT) * demand) AS s2,
             CAST(CAST(SUM(revenue) AS HUGEINT) AS BIGINT) AS rev
      FROM weekly GROUP BY brand
    ),
    ranked AS (
      SELECT brand, n_weeks, s1, s2, rev,
             ROW_NUMBER() OVER (ORDER BY rev DESC, brand) AS rk,
             COUNT(*) OVER () AS nb
      FROM br
    )
    SELECT brand, n_weeks, rev AS revenue_cents,
           CASE WHEN rk * 5 <= nb THEN 'A'
                WHEN rk * 2 <= nb THEN 'B' ELSE 'C' END AS abc_class,
           CASE WHEN 4 * (n_weeks * s2 - CAST(s1 AS HUGEINT) * s1)
                     <= CAST(s1 AS HUGEINT) * s1 THEN 'X'
                WHEN (n_weeks * s2 - CAST(s1 AS HUGEINT) * s1)
                     <= CAST(s1 AS HUGEINT) * s1 THEN 'Y'
                ELSE 'Z' END AS xyz_class,
           (CASE WHEN rk * 5 <= nb THEN 'A'
                 WHEN rk * 2 <= nb THEN 'B' ELSE 'C' END)
           || (CASE WHEN 4 * (n_weeks * s2 - CAST(s1 AS HUGEINT) * s1)
                         <= CAST(s1 AS HUGEINT) * s1 THEN 'X'
                    WHEN (n_weeks * s2 - CAST(s1 AS HUGEINT) * s1)
                         <= CAST(s1 AS HUGEINT) * s1 THEN 'Y'
                    ELSE 'Z' END) AS matrix_cell
    FROM ranked
    """,
)
def q_part_abc_xyz_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ABC×XYZ inventory classification — the two-axis segmentation every
    supply planner starts from: ABC = revenue importance (top 20 % of
    brands by revenue = A, next 30 % = B, rest C, via integer
    cross-multiplied rank thresholds rk·5 ≤ nb / rk·2 ≤ nb), XYZ = demand
    PREDICTABILITY from the weekly coefficient of variation, classified
    without ever computing a float CV: cv² = (n·ΣX² − (ΣX)²)/(ΣX)², so
    X (cv ≤ 0.5) ⇔ 4·(nS₂ − S₁²) ≤ S₁² and Y (cv ≤ 1) ⇔ nS₂ − S₁² ≤ S₁²,
    compared in DECIMAL(38)/HUGEINT (S₁² passes int64 beyond ~SF10). One
    data-sized grouped sum builds the (brand, week) demand table; the
    classification runs over the ≤25-row brand aggregate — its ranking
    window is bounded by the brand domain, not data volume. AX cells are
    the automate-replenishment quadrant; CZ the review-manually one."""
    li = table_scan(spark, sf_dir, "lineitem").select(
        "l_partkey",
        F.date_trunc("week", F.col("l_shipdate").cast("date"))
        .cast("date")
        .alias("wk"),
        (F.col("l_quantity").cast("decimal(18,2)") * 100)
        .cast("long")
        .alias("qc"),
        (F.col("l_extendedprice").cast("decimal(18,2)") * 100)
        .cast("long")
        .alias("pc"),
    )
    p = table_scan(spark, sf_dir, "part").select(
        "p_partkey", F.col("p_brand").alias("brand")
    )
    weekly = (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .groupBy("brand", "wk")
        .agg(F.sum("qc").alias("demand"), F.sum("pc").alias("revenue"))
    )
    br = weekly.groupBy("brand").agg(
        F.count(F.lit(1)).alias("n_weeks"),
        F.sum("demand").alias("s1"),
        F.sum(F.col("demand").cast("decimal(38,0)") * F.col("demand")).alias(
            "s2"
        ),
        F.sum("revenue").alias("rev"),
    )
    w = Window.orderBy(F.col("rev").desc(), F.col("brand"))
    ranked = br.select(
        "brand",
        "n_weeks",
        "s1",
        "s2",
        "rev",
        F.row_number().over(w).alias("rk"),
        F.count(F.lit(1)).over(Window.partitionBy()).alias("nb"),
    )
    var_num = F.col("n_weeks") * F.col("s2") - F.col("s1").cast(
        "decimal(38,0)"
    ) * F.col("s1")
    s1sq = F.col("s1").cast("decimal(38,0)") * F.col("s1")
    abc = (
        F.when(F.col("rk") * 5 <= F.col("nb"), "A")
        .when(F.col("rk") * 2 <= F.col("nb"), "B")
        .otherwise("C")
    )
    xyz = (
        F.when(4 * var_num <= s1sq, "X")
        .when(var_num <= s1sq, "Y")
        .otherwise("Z")
    )
    return ranked.select(
        "brand",
        "n_weeks",
        F.col("rev").alias("revenue_cents"),
        abc.alias("abc_class"),
        xyz.alias("xyz_class"),
        F.concat(abc, xyz).alias("matrix_cell"),
    )


@register(
    "part_croston_intermittent_demand",
    f"""
    WITH daily AS (
      SELECT l_partkey AS part, CAST(l_shipdate AS DATE) AS day,
             CAST(SUM(CAST(CAST(l_quantity AS DECIMAL(18,2)) * 100
                           AS BIGINT)) AS BIGINT) AS z
      FROM lineitem GROUP BY 1, 2
    ),
    seq AS (
      SELECT part, day, z,
             datediff('day', LAG(day) OVER w, day) AS gap,
             ROW_NUMBER() OVER (PARTITION BY part ORDER BY day DESC) AS rn,
             COUNT(*) OVER (PARTITION BY part) AS nd
      FROM daily
      WINDOW w AS (PARTITION BY part ORDER BY day)
    ),
    folded AS (
      SELECT part, MAX(nd) AS n_demand_days,
             CAST(SUM(z * CASE rn {" ".join(f"WHEN {k + 1} THEN {w}" for k, w in enumerate(_EWMA_W))} ELSE 0 END)
                  AS BIGINT) AS sz,
             CAST(SUM(CASE rn {" ".join(f"WHEN {k + 1} THEN {w}" for k, w in enumerate(_EWMA_W))} ELSE 0 END)
                  AS BIGINT) AS wz,
             CAST(SUM(CASE WHEN gap IS NULL THEN 0
                      ELSE gap * CASE rn {" ".join(f"WHEN {k + 1} THEN {w}" for k, w in enumerate(_EWMA_W))} ELSE 0 END
                      END) AS BIGINT) AS sx,
             CAST(SUM(CASE WHEN gap IS NULL THEN 0
                      ELSE CASE rn {" ".join(f"WHEN {k + 1} THEN {w}" for k, w in enumerate(_EWMA_W))} ELSE 0 END
                      END) AS BIGINT) AS wx
      FROM seq WHERE rn <= 8
      GROUP BY part
    )
    SELECT part, CAST(n_demand_days AS BIGINT) AS n_demand_days,
           CAST(sz // wz AS BIGINT) AS size_hat_cents,
           CAST((1000000 * sx) // wx AS BIGINT) AS interval_hat_ppm_days,
           CAST((CAST(1000000 AS HUGEINT) * sz * wx)
                // (CAST(wz AS HUGEINT) * sx) AS BIGINT)
             AS croston_rate_ppm_cents_per_day
    FROM folded
    WHERE n_demand_days >= 2 AND sx > 0
    """,
)
def q_part_croston_intermittent_demand(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Croston's method — THE forecaster for intermittent demand (most
    part-level series are mostly zeros, where a plain moving average
    smears demand into nothing): smooth the nonzero demand SIZES ẑ and the
    inter-demand INTERVALS x̂ separately, forecast rate = ẑ/x̂ per day.
    Both smoothers are the house trailing-8 EWMA with α = 1/4 and exact
    integer weights 3ᵏ·4⁷⁻ᵏ (events_ewma_smooth), applied over each
    part's 8 most recent demand days; leading parts renormalize over the
    weights present, intervals skip each series' first day (gap
    undefined). The rate is the cross-product (10⁶·S_z·W_x)/(W_z·S_x) in
    DECIMAL(38)/HUGEINT — every output an exact integer floor, bitwise
    across engines. One data-sized grouped sum (daily demand), one
    shuffle on part for the per-part window over demand DAYS (sparse by
    construction — the whole point of Croston), then an 8-row-per-part
    fold."""
    daily = (
        table_scan(spark, sf_dir, "lineitem")
        .groupBy(
            F.col("l_partkey").alias("part"),
            F.col("l_shipdate").cast("date").alias("day"),
        )
        .agg(
            F.sum(
                (F.col("l_quantity").cast("decimal(18,2)") * 100).cast("long")
            ).alias("z")
        )
    )
    wa = Window.partitionBy("part").orderBy("day")
    wd = Window.partitionBy("part").orderBy(F.col("day").desc())
    wn = Window.partitionBy("part")
    seq = daily.select(
        "part",
        "day",
        "z",
        F.datediff("day", F.lag("day").over(wa)).alias("gap"),
        F.row_number().over(wd).alias("rn"),
        F.count(F.lit(1)).over(wn).alias("nd"),
    ).filter(F.col("rn") <= 8)
    warr = F.array(*[F.lit(w) for w in _EWMA_W])
    wk = F.element_at(warr, F.col("rn"))
    folded = seq.groupBy("part").agg(
        F.max("nd").alias("n_demand_days"),
        F.sum(F.col("z") * wk).alias("sz"),
        F.sum(wk).alias("wz"),
        F.sum(
            F.when(F.col("gap").isNull(), 0).otherwise(F.col("gap") * wk)
        ).alias("sx"),
        F.sum(F.when(F.col("gap").isNull(), 0).otherwise(wk)).alias("wx"),
    )
    return (
        folded.filter((F.col("n_demand_days") >= 2) & (F.col("sx") > 0))
        .select(
            "part",
            F.col("n_demand_days").cast("long").alias("n_demand_days"),
            F.expr("sz div wz").cast("long").alias("size_hat_cents"),
            F.expr("(1000000 * sx) div wx")
            .cast("long")
            .alias("interval_hat_ppm_days"),
            F.expr(
                "(CAST(1000000 AS DECIMAL(38,0)) * sz * wx)"
                " div (CAST(wz AS DECIMAL(38,0)) * sx)"
            )
            .cast("long")
            .alias("croston_rate_ppm_cents_per_day"),
        )
    )


@register(
    "supplier_blast_radius_sole_source",
    """
    WITH ps AS (
      SELECT l_partkey, COUNT(DISTINCT l_suppkey) AS ns
      FROM lineitem GROUP BY 1
    ),
    sole AS (SELECT l_partkey FROM ps WHERE ns = 1),
    risk AS (
      SELECT l.l_suppkey AS s_suppkey,
             COUNT(DISTINCT l.l_partkey) AS n_sole_parts,
             CAST(SUM(CAST(CAST(l.l_extendedprice AS DECIMAL(18,2)) * 100
                           AS BIGINT)) AS BIGINT) AS revenue_at_risk_cents
      FROM lineitem l JOIN sole USING (l_partkey)
      GROUP BY 1
    ),
    tot AS (
      SELECT l_suppkey AS s_suppkey,
             CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100
                           AS BIGINT)) AS BIGINT) AS total_rev
      FROM lineitem GROUP BY 1
    )
    SELECT r.s_suppkey, CAST(r.n_sole_parts AS BIGINT) AS n_sole_parts,
           r.revenue_at_risk_cents,
           CAST((1000000 * r.revenue_at_risk_cents) // t.total_rev
                AS BIGINT) AS risk_share_ppm
    FROM risk r JOIN tot t USING (s_suppkey)
    """,
)
def q_supplier_blast_radius_sole_source(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Supplier blast radius — the supply-chain risk audit
    part_dual_sourcing_coverage (part-grain exposure) doesn't answer at
    the SUPPLIER grain: if supplier S fails tomorrow, how much revenue
    flows through parts NOBODY else supplies? Sole-sourced parts come
    from a distinct-count aggregate; each supplier's at-risk revenue is a
    semi-join of lineitem against that (skinny, broadcastable) part list;
    risk_share_ppm = at-risk / supplier-total revenue says whether the
    exposure is the supplier's core business or a sliver. Exact integer
    cents and ppm floors end-to-end. Both aggregates are partial-agg
    shuffles on their natural keys; the sole-part list is the only
    broadcast — at 100 TB it stays proportional to the PART domain, not
    the fact table."""
    li = table_scan(spark, sf_dir, "lineitem").select(
        "l_partkey",
        "l_suppkey",
        (F.col("l_extendedprice").cast("decimal(18,2)") * 100)
        .cast("long")
        .alias("pc"),
    )
    sole = (
        li.groupBy("l_partkey")
        .agg(F.countDistinct("l_suppkey").alias("ns"))
        .filter(F.col("ns") == 1)
        .select("l_partkey")
    )
    risk = (
        li.join(F.broadcast(sole), "l_partkey", "left_semi")
        .groupBy(F.col("l_suppkey").alias("s_suppkey"))
        .agg(
            F.countDistinct("l_partkey").alias("n_sole_parts"),
            F.sum("pc").alias("revenue_at_risk_cents"),
        )
    )
    tot = li.groupBy(F.col("l_suppkey").alias("s_suppkey")).agg(
        F.sum("pc").alias("total_rev")
    )
    return risk.join(tot, "s_suppkey").select(
        "s_suppkey",
        F.col("n_sole_parts").cast("long").alias("n_sole_parts"),
        "revenue_at_risk_cents",
        F.expr("(1000000 * revenue_at_risk_cents) div total_rev")
        .cast("long")
        .alias("risk_share_ppm"),
    )


@register(
    "part_price_elasticity_arc",
    """
    WITH per AS (
      SELECT p_brand,
             CASE WHEN l_shipdate >= TIMESTAMP '1998-07-01 00:00:00'
                  THEN 2 ELSE 1 END AS period,
             CAST(SUM(CAST(CAST(l_quantity AS DECIMAL(18,2)) * 100
                           AS BIGINT)) AS BIGINT) AS q,
             CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100
                           AS BIGINT)) AS BIGINT) AS r
      FROM lineitem JOIN part ON l_partkey = p_partkey
      GROUP BY 1, 2
    ),
    wide AS (
      SELECT p_brand,
             CAST(MAX(CASE WHEN period = 1 THEN q END) AS BIGINT) AS q1,
             CAST(MAX(CASE WHEN period = 2 THEN q END) AS BIGINT) AS q2,
             CAST(MAX(CASE WHEN period = 1 THEN r END) AS BIGINT) AS r1,
             CAST(MAX(CASE WHEN period = 2 THEN r END) AS BIGINT) AS r2
      FROM per GROUP BY p_brand
    ),
    calc AS (
      SELECT p_brand, q1, q2, r1, r2,
             CAST(q2 - q1 AS HUGEINT) * (r1 * CAST(q2 AS HUGEINT) + r2 * CAST(q1 AS HUGEINT)) AS num,
             (CAST(r2 AS HUGEINT) * q1 - CAST(r1 AS HUGEINT) * q2) * (q1 + CAST(q2 AS HUGEINT)) AS den
      FROM wide
      WHERE q1 IS NOT NULL AND q2 IS NOT NULL AND q1 > 0 AND q2 > 0
    )
    SELECT p_brand, q1 AS qty1_centi, q2 AS qty2_centi,
           r1 AS rev1_cents, r2 AS rev2_cents,
           CASE WHEN den = 0 THEN NULL
                ELSE CAST(CASE WHEN (num >= 0) = (den >= 0) THEN 1 ELSE -1 END
                          * ((ABS(num) * 1000000) // ABS(den)) AS BIGINT)
                END AS elasticity_ppm
    FROM calc
    """,
)
def q_part_price_elasticity_arc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arc (midpoint) price elasticity of demand per brand between the two
    halves of the shipping history (cut 1998-07-01) — the pricing-analytics
    primitive: how many percent does quantity move per percent of price
    move? The midpoint formula e = (ΔQ·(P1+P2)) / (ΔP·(Q1+Q2)) is
    symmetric in the two periods (no base-period bias). Each period's
    price is the revenue/quantity RATIO, so substituting P_i = R_i/Q_i and
    clearing denominators gives the all-integer form
    num = (Q2−Q1)·(R1·Q2 + R2·Q1), den = (R2·Q1 − R1·Q2)·(Q1+Q2) —
    the division only happens once, as a sign-split ppm floor (exact on
    both engines; DECIMAL(38)/HUGEINT intermediates bound the ~1e24
    products). Brands missing either period, or with zero quantity, are
    excluded; a zero price change yields NULL (elasticity undefined).
    One fact-table aggregate with the part dim broadcast, then a 25-row
    brand fold — nothing but the first groupBy touches data-sized rows."""
    cut = F.lit("1998-07-01 00:00:00").cast("timestamp_ntz")
    li = table_scan(spark, sf_dir, "lineitem").select(
        "l_partkey",
        F.when(F.col("l_shipdate") >= cut, 2).otherwise(1).alias("period"),
        (F.col("l_quantity").cast("decimal(18,2)") * 100)
        .cast("long")
        .alias("qc"),
        (F.col("l_extendedprice").cast("decimal(18,2)") * 100)
        .cast("long")
        .alias("rc"),
    )
    pt = table_scan(spark, sf_dir, "part").select("p_partkey", "p_brand")
    per = (
        li.join(F.broadcast(pt), li["l_partkey"] == pt["p_partkey"])
        .groupBy("p_brand", "period")
        .agg(F.sum("qc").alias("q"), F.sum("rc").alias("r"))
    )
    wide = per.groupBy("p_brand").agg(
        F.max(F.when(F.col("period") == 1, F.col("q"))).alias("q1"),
        F.max(F.when(F.col("period") == 2, F.col("q"))).alias("q2"),
        F.max(F.when(F.col("period") == 1, F.col("r"))).alias("r1"),
        F.max(F.when(F.col("period") == 2, F.col("r"))).alias("r2"),
    )
    calc = wide.filter(
        F.col("q1").isNotNull()
        & F.col("q2").isNotNull()
        & (F.col("q1") > 0)
        & (F.col("q2") > 0)
    ).select(
        "p_brand",
        "q1",
        "q2",
        "r1",
        "r2",
        F.expr(
            "CAST(q2 - q1 AS DECIMAL(38,0))"
            " * (r1 * CAST(q2 AS DECIMAL(19,0)) + r2 * CAST(q1 AS DECIMAL(19,0)))"
        ).alias("num"),
        F.expr(
            "(CAST(r2 AS DECIMAL(19,0)) * q1 - CAST(r1 AS DECIMAL(19,0)) * q2)"
            " * CAST(q1 + CAST(q2 AS DECIMAL(19,0)) AS DECIMAL(38,0))"
        ).alias("den"),
    )
    e = F.when(F.col("den") == 0, F.lit(None).cast("long")).otherwise(
        (
            F.when(
                (F.col("num") >= 0) == (F.col("den") >= 0), F.lit(1)
            ).otherwise(F.lit(-1))
            * F.expr("(ABS(num) * 1000000) div ABS(den)")
        ).cast("long")
    )
    return calc.select(
        "p_brand",
        F.col("q1").alias("qty1_centi"),
        F.col("q2").alias("qty2_centi"),
        F.col("r1").alias("rev1_cents"),
        F.col("r2").alias("rev2_cents"),
        e.alias("elasticity_ppm"),
    )


@register(
    "market_concentration_cr4",
    """
    WITH rev AS (
      SELECT n.n_name, l.l_suppkey,
             CAST(SUM(CAST(CAST(l.l_extendedprice AS DECIMAL(18,2)) * 100
                           AS BIGINT)) AS BIGINT) AS r
      FROM lineitem l
      JOIN supplier s ON l.l_suppkey = s.s_suppkey
      JOIN nation n ON s.s_nationkey = n.n_nationkey
      GROUP BY n.n_name, l.l_suppkey
    ),
    ranked AS (
      SELECT n_name, r,
             ROW_NUMBER() OVER (PARTITION BY n_name
                                ORDER BY r DESC, l_suppkey) AS rk
      FROM rev
    )
    SELECT n_name,
           CAST(COUNT(*) AS BIGINT) AS n_suppliers,
           CAST(SUM(CASE WHEN rk <= 4 THEN r ELSE 0 END) AS BIGINT)
             AS top4_rev_cents,
           CAST(SUM(r) AS BIGINT) AS total_rev_cents,
           CAST((1000000 * CAST(SUM(CASE WHEN rk <= 4 THEN r ELSE 0 END)
                                AS HUGEINT)) // SUM(r) AS BIGINT)
             AS cr4_ppm
    FROM ranked GROUP BY n_name
    """,
)
def q_market_concentration_cr4(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CR4 concentration ratio per supplier nation — the antitrust-style
    complement to supplier_hhi_by_brand: HHI weights every firm
    quadratically; CR4 answers the blunter question regulators and
    category managers ask first — what share of the market do the four
    largest suppliers hold? Top-4 membership is a rank window PARTITIONED
    by nation (deterministic supplier-id tie-break), so nothing global
    anywhere; the share is an exact ppm floor over DECIMAL(38)/HUGEINT
    sums. Plan: one fact-table aggregate with both dims broadcast, one
    nation-partitioned rank, one fold — the per-nation supplier lists
    (not the fact rows) are all that reaches the window."""
    li = table_scan(spark, sf_dir, "lineitem").select(
        "l_suppkey",
        (F.col("l_extendedprice").cast("decimal(18,2)") * 100)
        .cast("long")
        .alias("rc"),
    )
    sup = table_scan(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_nationkey"
    )
    nat = table_scan(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name"
    )
    rev = (
        li.join(F.broadcast(sup), li["l_suppkey"] == sup["s_suppkey"])
        .join(F.broadcast(nat), sup["s_nationkey"] == nat["n_nationkey"])
        .groupBy("n_name", "l_suppkey")
        .agg(F.sum("rc").alias("r"))
    )
    w = Window.partitionBy("n_name").orderBy(
        F.col("r").desc(), F.col("l_suppkey").asc()
    )
    ranked = rev.select("n_name", "r", F.row_number().over(w).alias("rk"))
    g = ranked.groupBy("n_name").agg(
        F.count(F.lit(1)).cast("long").alias("n_suppliers"),
        F.sum(F.when(F.col("rk") <= 4, F.col("r")).otherwise(0))
        .cast("long")
        .alias("top4_rev_cents"),
        F.sum("r").cast("long").alias("total_rev_cents"),
    )
    return g.select(
        "n_name",
        "n_suppliers",
        "top4_rev_cents",
        "total_rev_cents",
        F.expr(
            "(1000000 * CAST(top4_rev_cents AS DECIMAL(38,0)))"
            " div total_rev_cents"
        )
        .cast("long")
        .alias("cr4_ppm"),
    )


@register(
    "nation_ship_delay_exact_p95",
    """
    WITH d AS (
      SELECT n.n_name,
             CAST(date_diff('day', CAST(o.o_orderdate AS DATE),
                            CAST(l.l_shipdate AS DATE)) AS BIGINT) AS delay
      FROM lineitem l
      JOIN orders o ON l.l_orderkey = o.o_orderkey
      JOIN supplier s ON l.l_suppkey = s.s_suppkey
      JOIN nation n ON s.s_nationkey = n.n_nationkey
    ),
    h AS (
      SELECT n_name, delay, CAST(COUNT(*) AS BIGINT) AS cnt
      FROM d GROUP BY n_name, delay
    ),
    w AS (
      SELECT n_name, delay, cnt,
             CAST(SUM(cnt) OVER (PARTITION BY n_name ORDER BY delay
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS BIGINT) AS cum,
             CAST(SUM(cnt) OVER (PARTITION BY n_name) AS BIGINT) AS n
      FROM h
    )
    SELECT n_name, n AS n_lineitems,
           CAST(MIN(CASE WHEN 2 * cum >= n THEN delay END) AS BIGINT)
             AS p50_delay_days,
           CAST(MIN(CASE WHEN 20 * cum >= 19 * n THEN delay END) AS BIGINT)
             AS p95_delay_days
    FROM w GROUP BY n_name, n
    """,
)
def q_nation_ship_delay_exact_p95(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """EXACT per-group median + p95 of shipment delay by supplier nation —
    the SLA percentile table, done the scale-correct way: a per-group sort
    window over raw line items would put n/25 rows through each task, so
    the rows first collapse onto the (nation, delay-days) HISTOGRAM (the
    delay domain is calendar-bounded — a few thousand distinct values at
    any fact size), and the percentile is the smallest delay whose
    cumulative count reaches ⌈q·n⌉ — the cross-multiplied form
    (20·cum ≥ 19·n) keeps it pure integer. One fact-table aggregate with
    three dims broadcast, then per-nation walks over the bounded
    histogram. The exact-order-statistic semantics match
    percentile_disc, not the interpolating percentile_cont."""
    li = table_scan(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", F.col("l_shipdate").cast("date").alias("sd")
    )
    o = table_scan(spark, sf_dir, "orders").select(
        "o_orderkey", F.col("o_orderdate").cast("date").alias("od")
    )
    sup = table_scan(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_nationkey"
    )
    nat = table_scan(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    d = (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(F.broadcast(sup), li["l_suppkey"] == sup["s_suppkey"])
        .join(F.broadcast(nat), sup["s_nationkey"] == nat["n_nationkey"])
        .select("n_name", F.datediff("sd", "od").cast("long").alias("delay"))
    )
    h = d.groupBy("n_name", "delay").agg(F.count(F.lit(1)).alias("cnt"))
    wcum = (
        Window.partitionBy("n_name")
        .orderBy("delay")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wall = Window.partitionBy("n_name")
    w = h.select(
        "n_name",
        "delay",
        F.sum("cnt").over(wcum).alias("cum"),
        F.sum("cnt").over(wall).alias("n"),
    )
    return w.groupBy("n_name", F.col("n").alias("n_lineitems")).agg(
        F.min(F.when(2 * F.col("cum") >= F.col("n"), F.col("delay")))
        .cast("long")
        .alias("p50_delay_days"),
        F.min(F.when(20 * F.col("cum") >= 19 * F.col("n"), F.col("delay")))
        .cast("long")
        .alias("p95_delay_days"),
    )


@register(
    "part_prefix_autocomplete_topk",
    """
    WITH c AS (
      SELECT substr(p_name, 1, 4) AS prefix, p_name,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM part GROUP BY 1, 2
    ),
    r AS (
      SELECT prefix, p_name, n,
             row_number() OVER (PARTITION BY prefix
                                ORDER BY n DESC, p_name) AS rank
      FROM c
    )
    SELECT prefix, CAST(rank AS BIGINT) AS rank, p_name AS suggestion, n
    FROM r WHERE rank <= 3
    """,
)
def q_part_prefix_autocomplete_topk(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Prefix-autocomplete index — the search-infrastructure table behind
    every type-ahead box: for each 4-character name prefix, the top-3
    suggestions by frequency (name as deterministic tie-break). The
    build is the scalable shape autocomplete serving expects: one
    partial-agg (prefix, name) count, one PREFIX-partitioned rank window
    (the per-key top-k never crosses partitions), emit rank ≤ 3. Longer
    prefixes are the same plan keyed differently; serving reads become
    point lookups on the materialized index. Complements
    part_trgm_fuzzy_search (typo tolerance) with the exact-prefix hot
    path."""
    c = table_scan(spark, sf_dir, "part").groupBy(
        F.substring("p_name", 1, 4).alias("prefix"),
        F.col("p_name"),
    ).agg(F.count(F.lit(1)).cast("long").alias("n"))
    w = Window.partitionBy("prefix").orderBy(F.desc("n"), "p_name")
    return (
        c.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= 3)
        .select(
            "prefix", "rank", F.col("p_name").alias("suggestion"), "n"
        )
    )


@register(
    "part_demand_sbc_classification",
    """
    WITH bm AS (
      SELECT p.p_brand AS brand,
             CAST(date_trunc('month', l.l_shipdate) AS DATE) AS month,
             CAST(SUM(CAST(l.l_quantity AS BIGINT)) AS BIGINT) AS x
      FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
      GROUP BY 1, 2
    ),
    span AS (
      SELECT CAST(COUNT(DISTINCT month) AS BIGINT) AS total_months FROM bm
    ),
    g AS (
      SELECT brand,
             CAST(COUNT(*) AS BIGINT) AS demand_months,
             CAST(SUM(x) AS BIGINT) AS sx,
             CAST(SUM(x * x) AS BIGINT) AS sxx
      FROM bm GROUP BY brand
    ),
    s AS (
      SELECT g.brand, g.demand_months, span.total_months,
             CAST((1000 * span.total_months) // g.demand_months AS BIGINT)
               AS adi_milli,
             CAST((1000000 * (g.demand_months * g.sxx - g.sx * g.sx))
                  // (g.sx * g.sx) AS BIGINT) AS cv2_ppm
      FROM g CROSS JOIN span
    )
    SELECT brand, demand_months, total_months, adi_milli, cv2_ppm,
           CASE WHEN adi_milli < 1320 AND cv2_ppm < 490000 THEN 'smooth'
                WHEN adi_milli < 1320 THEN 'erratic'
                WHEN cv2_ppm < 490000 THEN 'intermittent'
                ELSE 'lumpy' END AS sbc_class
    FROM s
    """,
)
def q_part_demand_sbc_classification(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Syntetos–Boylan–Croston (SBC) demand classification — the
    inventory-planning segmentation that decides WHICH forecaster each
    series gets (smooth → exponential smoothing, intermittent/lumpy →
    Croston/SBA — the events_croston_* family this query routes into):
    per brand, ADI (average inter-demand interval = months in span /
    months with demand) and CV² of the nonzero monthly demand sizes,
    against the canonical cutoffs ADI 1.32 and CV² 0.49 — embedded as
    exact milli/ppm literals, compared in integers (CV² via the
    n·Σx² − (Σx)² identity over BIGINT sums — no float variance). One
    fact join partial-aggregated to the bounded brand×month grid; the
    classification runs on ≤25 rows."""
    li = table_scan(spark, sf_dir, "lineitem").select(
        "l_partkey",
        F.date_trunc("month", F.col("l_shipdate")).cast("date").alias(
            "month"
        ),
        F.col("l_quantity").cast("long").alias("qty"),
    )
    p = table_scan(spark, sf_dir, "part").select("p_partkey", "p_brand")
    bm = (
        li.join(F.broadcast(p), li["l_partkey"] == p["p_partkey"])
        .groupBy(F.col("p_brand").alias("brand"), "month")
        .agg(F.sum("qty").cast("long").alias("x"))
        .transform(cached)  # bounded brand×month grid, read by span and stats
    )
    span = bm.agg(
        F.countDistinct("month").cast("long").alias("total_months")
    )
    g = bm.groupBy("brand").agg(
        F.count(F.lit(1)).cast("long").alias("demand_months"),
        F.sum("x").cast("long").alias("sx"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"),
    )
    s = g.crossJoin(F.broadcast(span)).select(
        "brand",
        "demand_months",
        "total_months",
        F.expr("(1000 * total_months) div demand_months")
        .cast("long")
        .alias("adi_milli"),
        F.expr(
            "(1000000 * (demand_months * sxx - sx * sx)) div (sx * sx)"
        )
        .cast("long")
        .alias("cv2_ppm"),
    )
    return s.select(
        "brand",
        "demand_months",
        "total_months",
        "adi_milli",
        "cv2_ppm",
        F.when(
            (F.col("adi_milli") < 1320) & (F.col("cv2_ppm") < 490000),
            "smooth",
        )
        .when(F.col("adi_milli") < 1320, "erratic")
        .when(F.col("cv2_ppm") < 490000, "intermittent")
        .otherwise("lumpy")
        .alias("sbc_class"),
    )
