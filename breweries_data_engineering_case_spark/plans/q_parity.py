"""Reference-parity surface: scans, projections, filters, windows, aggregations, sinks, SQL/function surface, systems queries."""

from __future__ import annotations

import hashlib
import json
import tempfile
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import IntegerType, LongType, StringType, StructField, StructType

from ..functions.cleaning import stamp_date
from ..operators.agg import grouped_count, grouping_sets_counts, regroup_sum
from ..operators.dedup import dedup_rownum
from ..operators.enforce import range_check
from ..operators.joins import broadcast_dim_join, shuffle_join
from ..sources.readers import json_array_scan, source_fingerprint, table_scan
from ..sources.writers import (
    idempotent_date_overwrite,
    session_workspace,
    staged_dir,
    write_partitioned_parquet,
)
from .silver import clean_breweries

from .qshared import (
    _QUARTILE_RANKS,
    _dsum,
    _exact_rank_cutoffs,
    register,
)



# ---------------------------------------------------------------------------
# §2.1 sources / scans
# ---------------------------------------------------------------------------

@register("parquet_scan", "SELECT * FROM region")
def q_parquet_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S4 — Parquet scan (≈ read_parquet, app/tasks/gold.py:50-53,71)."""
    return table_scan(spark, sf_dir, "region")


@register("json_scan", "SELECT * FROM nation")
def q_json_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S3 — JSON-array file scan with explicit schema (≈ read_json_auto over
    bronze page files, app/tasks/silver.py:19; files are arrays per
    app/io/storage.py:23, each written on one line)."""
    def build(out: Path) -> None:
        rows = [r.asDict() for r in table_scan(spark, sf_dir, "nation").collect()]
        rows.sort(key=lambda r: r["n_nationkey"])
        out.mkdir()
        (out / "nation.json").write_text(json.dumps(rows))

    out = staged_dir(spark, "json_scan:" + source_fingerprint(sf_dir, "nation"), build)
    target = out / "nation.json"
    schema = StructType(
        [
            StructField("n_nationkey", IntegerType()),
            StructField("n_name", StringType()),
            StructField("n_regionkey", IntegerType()),
        ]
    )
    return json_array_scan(spark, str(target), schema).select(
        "n_nationkey", "n_name", "n_regionkey"
    )


@register(
    "union_all_files",
    "SELECT * FROM nation UNION ALL SELECT * FROM nation",
)
def q_union_all_files(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O2 — union-all of multiple inputs (≈ the bronze glob concatenating all
    page files of a run, app/tasks/silver.py:9-12,19)."""
    n = table_scan(spark, sf_dir, "nation")
    return n.unionByName(n)


# ---------------------------------------------------------------------------
# §2.2 projections / scalar expressions
# ---------------------------------------------------------------------------

@register(
    "cast_to_string",
    "SELECT CAST(c_custkey AS VARCHAR) AS custkey_str, c_name FROM customer",
)
def q_cast_to_string(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P1 — CAST(x AS VARCHAR) normalization (app/tasks/silver.py:23-34)."""
    return table_scan(spark, sf_dir, "customer").select(
        F.col("c_custkey").cast("string").alias("custkey_str"), "c_name"
    )


@register(
    "trim_normalize",
    "SELECT c_custkey, TRIM('  ' || c_name || '  ') AS name_trimmed FROM customer",
)
def q_trim_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P2 — TRIM both ends (app/tasks/silver.py:24-34); padding injected so
    the trim provably fires."""
    c = table_scan(spark, sf_dir, "customer")
    padded = F.concat(F.lit("  "), F.col("c_name"), F.lit("  "))
    return c.select("c_custkey", F.trim(padded).alias("name_trimmed"))


@register(
    "nullif_blank",
    """
    SELECT c_custkey,
           NULLIF(TRIM(CASE WHEN c_custkey % 3 = 0 THEN '   ' ELSE c_name END), '')
             AS name_or_null
    FROM customer
    """,
)
def q_nullif_blank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P3 — blank-as-missing: NULLIF(TRIM(x), '') (app/tasks/silver.py:24-34);
    every third row is forced blank so the NULL path provably fires."""
    c = table_scan(spark, sf_dir, "customer")
    maybe_blank = F.when(F.col("c_custkey") % 3 == 0, F.lit("   ")).otherwise(F.col("c_name"))
    return c.select(
        "c_custkey", F.nullif(F.trim(maybe_blank), F.lit("")).alias("name_or_null")
    )


@register(
    "coalesce_fallback",
    """
    SELECT c_custkey,
           COALESCE(NULLIF(CASE WHEN c_custkey % 3 = 0 THEN '' ELSE c_mktsegment END, ''),
                    'UNKNOWN') AS segment
    FROM customer
    """,
)
def q_coalesce_fallback(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P4 — COALESCE fallback chain (≈ state ← state_province,
    app/tasks/silver.py:27-30)."""
    c = table_scan(spark, sf_dir, "customer")
    seg = F.when(F.col("c_custkey") % 3 == 0, F.lit("")).otherwise(F.col("c_mktsegment"))
    return c.select(
        "c_custkey",
        F.coalesce(F.nullif(seg, F.lit("")), F.lit("UNKNOWN")).alias("segment"),
    )


@register(
    "try_cast_double",
    """
    SELECT event_id,
           TRY_CAST(regexp_extract(props, '"k": (\\d+)', 1) AS DOUBLE) AS k_value,
           TRY_CAST(event_type AS DOUBLE) AS never_a_number
    FROM events
    """,
)
def q_try_cast_double(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P5 — TRY_CAST → DOUBLE, NULL on malformed (app/tasks/silver.py:33-34):
    one column parses (digits extracted from props), one never does."""
    e = table_scan(spark, sf_dir, "events")
    return e.select(
        "event_id",
        F.regexp_extract("props", r'"k": (\d+)', 1).try_cast("double").alias("k_value"),
        F.col("event_type").try_cast("double").alias("never_a_number"),
    )


@register(
    "date_literal_stamp",
    "SELECT o_orderkey, DATE '2024-06-01' AS ingestion_date FROM orders",
)
def q_date_literal_stamp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P7 — constant run-date column (≈ DATE '{d}', app/tasks/gold.py:101)."""
    return table_scan(spark, sf_dir, "orders").select(
        "o_orderkey", stamp_date("2024-06-01").alias("ingestion_date")
    )


# ---------------------------------------------------------------------------
# §2.3 filters
# ---------------------------------------------------------------------------

@register(
    "notnull_enforce",
    """
    SELECT c_custkey, name_or_null AS c_name, c_mktsegment
    FROM (SELECT c_custkey,
                 NULLIF(CASE WHEN c_custkey % 4 = 0 THEN '' ELSE c_name END, '') AS name_or_null,
                 c_mktsegment
          FROM customer)
    WHERE name_or_null IS NOT NULL AND c_mktsegment IS NOT NULL
    """,
)
def q_notnull_enforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F1 — conjunctive NOT NULL contract filter (app/tasks/silver.py:44-48);
    NULLs are injected first so the filter provably drops rows."""
    c = table_scan(spark, sf_dir, "customer")
    name = F.nullif(
        F.when(F.col("c_custkey") % 4 == 0, F.lit("")).otherwise(F.col("c_name")), F.lit("")
    )
    df = c.select("c_custkey", name.alias("c_name"), "c_mktsegment")
    return df.filter(F.col("c_name").isNotNull() & F.col("c_mktsegment").isNotNull())


@register(
    "range_check_between",
    """
    SELECT c_custkey, c_acctbal
    FROM customer
    WHERE c_acctbal IS NULL OR c_acctbal BETWEEN 0 AND 5000
    """,
)
def q_range_check_between(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F2 — NULL-passing range check (≈ lat/lon bounds,
    app/tasks/silver.py:49-50)."""
    return range_check(
        table_scan(spark, sf_dir, "customer").select("c_custkey", "c_acctbal"),
        "c_acctbal",
        0.0,
        5000.0,
    )


@register(
    "partition_date_filter",
    """
    SELECT o_orderkey, CAST(o_orderdate AS DATE) AS o_date, o_orderpriority
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1996-02-01'
    """,
)
def q_partition_date_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F3 — run-slice date filter (≈ WHERE ingestion_date = DATE '{d}',
    app/tasks/gold.py:101); on a date-partitioned layout Catalyst turns this
    into partition pruning."""
    o = table_scan(spark, sf_dir, "orders")
    return o.filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp_ntz"))
        & (F.col("o_orderdate") < F.lit("1996-02-01").cast("timestamp_ntz"))
    ).select(
        "o_orderkey", F.col("o_orderdate").cast("date").alias("o_date"), "o_orderpriority"
    )


# ---------------------------------------------------------------------------
# §2.5 window dedup
# ---------------------------------------------------------------------------

@register(
    "window_dedup_rownum",
    """
    SELECT l_orderkey, l_linenumber, l_partkey, l_quantity
    FROM (SELECT l_orderkey, l_linenumber, l_partkey, l_quantity,
                 ROW_NUMBER() OVER (PARTITION BY l_orderkey
                                    ORDER BY l_linenumber, l_partkey, l_quantity) AS rn
          FROM lineitem)
    WHERE rn = 1
    """,
)
def q_window_dedup_rownum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W1 — ROW_NUMBER dedup, one row per key (app/tasks/silver.py:37-41).
    The tie-break orders over ALL projected columns (l_linenumber alone is
    not unique in the testdata), so the survivor is the lexicographic
    minimum — deterministic cross-engine (the reference's ORDER BY id is
    engine-arbitrary)."""
    li = table_scan(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_partkey", "l_quantity"
    )
    return dedup_rownum(li, ["l_orderkey"], ["l_linenumber", "l_partkey", "l_quantity"])


# ---------------------------------------------------------------------------
# §2.6 aggregations
# ---------------------------------------------------------------------------

@register(
    "agg_count_group_by",
    """
    SELECT l_returnflag, l_linestatus, COUNT(*) AS cnt
    FROM lineitem GROUP BY l_returnflag, l_linestatus
    """,
)
def q_agg_count_group_by(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1 — grouped COUNT(*) (≈ GROUP BY ALL, app/tasks/gold.py:76-85)."""
    return grouped_count(
        table_scan(spark, sf_dir, "lineitem"),
        ["l_returnflag", "l_linestatus"],
        count_name="cnt",
    )


@register(
    "agg_sum_regroup",
    """
    SELECT l_returnflag, CAST(SUM(cnt) AS BIGINT) AS cnt
    FROM (SELECT l_returnflag, l_linestatus, COUNT(*) AS cnt
          FROM lineitem GROUP BY l_returnflag, l_linestatus)
    GROUP BY l_returnflag
    """,
)
def q_agg_sum_regroup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2 — coarser granularity by summing pre-aggregated counts
    (app/tasks/gold.py:133-138)."""
    base = grouped_count(
        table_scan(spark, sf_dir, "lineitem"),
        ["l_returnflag", "l_linestatus"],
        count_name="cnt",
    )
    return regroup_sum(base, ["l_returnflag"], count_col="cnt")


@register(
    "grouping_sets_hierarchy",
    """
    SELECT COALESCE(l_returnflag, '') AS l_returnflag,
           COALESCE(l_linestatus, '') AS l_linestatus,
           cnt, lvl
    FROM (SELECT l_returnflag, l_linestatus, COUNT(*) AS cnt,
                 CAST(GROUPING_ID(l_returnflag, l_linestatus) AS BIGINT) AS lvl
          FROM lineitem
          GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ()))
    """,
)
def q_grouping_sets_hierarchy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3 — the aggregation hierarchy as ONE grouping-sets pass (the
    reference materializes each level separately, app/tasks/gold.py:115-178;
    one shuffle replaces four). ``lvl`` (grouping_id) disambiguates subtotal
    rows from genuine NULL-dim groups in the mixed-level output."""
    return grouping_sets_counts(
        table_scan(spark, sf_dir, "lineitem"),
        [["l_returnflag", "l_linestatus"], ["l_returnflag"], []],
        count_name="cnt",
        blank_fill="",
        level_col="lvl",
    )


@register("scalar_count", "SELECT COUNT(*) AS cnt FROM orders")
def q_scalar_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4 — scalar COUNT(*) (app/tasks/silver.py:73)."""
    return table_scan(spark, sf_dir, "orders").agg(F.count(F.lit(1)).alias("cnt"))


@register("scalar_max_check", "SELECT MAX(o_totalprice) AS max_price FROM orders")
def q_scalar_max_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A5 — MAX quality metric (soda/checks/gold_breweries.yml:3). MAX over
    doubles is order-insensitive, so no decimal trick is needed."""
    return table_scan(spark, sf_dir, "orders").agg(F.max("o_totalprice").alias("max_price"))


# ---------------------------------------------------------------------------
# §2.7 sort
# ---------------------------------------------------------------------------

@register(
    "order_by_multi",
    """
    SELECT o_orderpriority, o_orderstatus, o_orderkey
    FROM orders ORDER BY o_orderpriority, o_orderstatus, o_orderkey
    """,
)
def q_order_by_multi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O1 — multi-column global ORDER BY (app/tasks/gold.py:84 etc.): range
    partition + per-partition sort in Spark."""
    return (
        table_scan(spark, sf_dir, "orders")
        .select("o_orderpriority", "o_orderstatus", "o_orderkey")
        .orderBy("o_orderpriority", "o_orderstatus", "o_orderkey")
    )


# ---------------------------------------------------------------------------
# composed silver/gold parity (the reference's flagship semantics)
# ---------------------------------------------------------------------------

_SILVER_RAW_SQL = """
    SELECT CAST(c_custkey AS VARCHAR)                                        AS id,
           '  ' || c_name || '  '                                            AS name,
           CASE WHEN c_custkey % 7 = 0 THEN '' ELSE c_mktsegment END         AS brewery_type,
           CASE WHEN c_custkey % 11 = 0 THEN NULL ELSE 'United States' END   AS country,
           CASE WHEN c_custkey % 5 = 0 THEN '   ' ELSE c_mktsegment END      AS state,
           'FallbackProvince'                                                AS state_province,
           c_name                                                            AS city,
           CAST(NULL AS VARCHAR)                                             AS postal_code,
           CAST((c_custkey % 200) - 100 AS VARCHAR)                          AS latitude,
           CAST((c_custkey % 400) - 200 AS VARCHAR)                          AS longitude
    FROM customer
"""


def _silver_raw_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brewery-shaped dirty input derived deterministically from customer —
    exercises every cleaning rule (blank→NULL, fallback, try_cast, range)."""
    c = table_scan(spark, sf_dir, "customer")
    k = F.col("c_custkey")
    return c.select(
        k.cast("string").alias("id"),
        F.concat(F.lit("  "), F.col("c_name"), F.lit("  ")).alias("name"),
        F.when(k % 7 == 0, F.lit("")).otherwise(F.col("c_mktsegment")).alias("brewery_type"),
        F.when(k % 11 == 0, F.lit(None).cast("string"))
        .otherwise(F.lit("United States"))
        .alias("country"),
        F.when(k % 5 == 0, F.lit("   ")).otherwise(F.col("c_mktsegment")).alias("state"),
        F.lit("FallbackProvince").alias("state_province"),
        F.col("c_name").alias("city"),
        F.lit(None).cast("string").alias("postal_code"),
        ((k % 200) - 100).cast("string").alias("latitude"),
        ((k % 400) - 200).cast("string").alias("longitude"),
    )


@register(
    "silver_clean_contract",
    f"""
    WITH raw AS ({_SILVER_RAW_SQL}),
    cleaned AS (
        SELECT NULLIF(TRIM(CAST(id AS VARCHAR)), '')            AS id,
               NULLIF(TRIM(CAST(name AS VARCHAR)), '')          AS name,
               NULLIF(TRIM(CAST(brewery_type AS VARCHAR)), '')  AS brewery_type,
               NULLIF(TRIM(CAST(country AS VARCHAR)), '')       AS country,
               COALESCE(NULLIF(TRIM(CAST(state AS VARCHAR)), ''),
                        NULLIF(TRIM(CAST(state_province AS VARCHAR)), '')) AS state,
               NULLIF(TRIM(CAST(city AS VARCHAR)), '')          AS city,
               NULLIF(TRIM(CAST(postal_code AS VARCHAR)), '')   AS postal_code,
               TRY_CAST(NULLIF(TRIM(CAST(latitude AS VARCHAR)), '') AS DOUBLE)  AS latitude,
               TRY_CAST(NULLIF(TRIM(CAST(longitude AS VARCHAR)), '') AS DOUBLE) AS longitude
        FROM raw
    )
    SELECT * FROM cleaned
    WHERE id IS NOT NULL AND name IS NOT NULL AND country IS NOT NULL AND state IS NOT NULL
      AND (latitude IS NULL OR latitude BETWEEN -90 AND 90)
      AND (longitude IS NULL OR longitude BETWEEN -180 AND 180)
    """,
)
def q_silver_clean_contract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full silver cleaning semantics (app/tasks/silver.py:17-53) over a
    deterministic brewery-shaped derivation of customer. Input ids are unique
    so the (arbitrary-tie-break) dedup is a provable no-op and the output is
    cross-engine deterministic."""
    return clean_breweries(_silver_raw_df(spark, sf_dir))


@register(
    "gold_counts_hierarchy",
    f"""
    WITH raw AS ({_SILVER_RAW_SQL}),
    cleaned AS (
        SELECT NULLIF(TRIM(CAST(id AS VARCHAR)), '')            AS id,
               NULLIF(TRIM(CAST(name AS VARCHAR)), '')          AS name,
               NULLIF(TRIM(CAST(brewery_type AS VARCHAR)), '')  AS brewery_type,
               NULLIF(TRIM(CAST(country AS VARCHAR)), '')       AS country,
               COALESCE(NULLIF(TRIM(CAST(state AS VARCHAR)), ''),
                        NULLIF(TRIM(CAST(state_province AS VARCHAR)), '')) AS state,
               TRY_CAST(NULLIF(TRIM(CAST(latitude AS VARCHAR)), '') AS DOUBLE)  AS latitude,
               TRY_CAST(NULLIF(TRIM(CAST(longitude AS VARCHAR)), '') AS DOUBLE) AS longitude
        FROM raw
    ),
    silver AS (
        SELECT * FROM cleaned
        WHERE id IS NOT NULL AND name IS NOT NULL AND country IS NOT NULL AND state IS NOT NULL
          AND (latitude IS NULL OR latitude BETWEEN -90 AND 90)
          AND (longitude IS NULL OR longitude BETWEEN -180 AND 180)
    )
    SELECT COALESCE(country, '') AS country,
           COALESCE(state, '') AS state,
           COALESCE(brewery_type, '') AS brewery_type,
           COUNT(*) AS brewery_count
    FROM silver GROUP BY country, state, brewery_type
    """,
)
def q_gold_counts_hierarchy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gold base counts over the cleaned contract (app/tasks/gold.py:74-86):
    COUNT(*) by (country, state, brewery_type) with NULL dims → ''."""
    silver = clean_breweries(_silver_raw_df(spark, sf_dir))
    return grouped_count(silver, ["country", "state", "brewery_type"])


# ---------------------------------------------------------------------------
# joins (extension surface, SURVEY.md §2.4/§7 step 8)
# ---------------------------------------------------------------------------

@register(
    "join_broadcast_dim",
    """
    SELECT r_name, n_name, COUNT(*) AS customer_cnt
    FROM customer
    JOIN nation ON c_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    GROUP BY r_name, n_name
    """,
)
def q_join_broadcast_dim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Star-schema dimension lookup: both dims broadcast, the fact side never
    shuffles for the join (one shuffle total, for the aggregation)."""
    c = table_scan(spark, sf_dir, "customer")
    n = table_scan(spark, sf_dir, "nation")
    r = table_scan(spark, sf_dir, "region")
    joined = broadcast_dim_join(
        broadcast_dim_join(c, n, c["c_nationkey"] == n["n_nationkey"]),
        r,
        n["n_regionkey"] == r["r_regionkey"],
    )
    return joined.groupBy("r_name", "n_name").agg(F.count(F.lit(1)).alias("customer_cnt"))


@register(
    "join_shuffle_fact",
    """
    SELECT o_orderpriority,
           COUNT(*) AS line_cnt,
           CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE)
             AS revenue
    FROM orders JOIN lineitem ON l_orderkey = o_orderkey
    GROUP BY o_orderpriority
    """,
)
def q_join_shuffle_fact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fact-fact equi-join on the order key (sort-merge / shuffled-hash under
    AQE, skew-split at runtime); revenue via the exact-decimal idiom."""
    o = table_scan(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
    li = table_scan(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_extendedprice", "l_discount"
    )
    joined = shuffle_join(o, li, o["o_orderkey"] == li["l_orderkey"])
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return joined.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("line_cnt"), _dsum(rev, 4, "revenue")
    )


# ---------------------------------------------------------------------------
# analytic windows beyond the reference (rank/lag/top-k per group)
# ---------------------------------------------------------------------------

@register(
    "topk_per_group",
    """
    SELECT o_orderpriority, o_orderkey, o_totalprice, CAST(rnk AS INT) AS rnk
    FROM (SELECT o_orderpriority, o_orderkey, o_totalprice,
                 ROW_NUMBER() OVER (PARTITION BY o_orderpriority
                                    ORDER BY o_totalprice DESC, o_orderkey) AS rnk
          FROM orders)
    WHERE rnk <= 3
    """,
)
def q_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 orders per priority — per-key top-k as one window pass (the
    generalization of W1's keep-one). Tie-break by o_orderkey."""
    o = table_scan(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderpriority").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey")
    )
    return (
        o.select("o_orderpriority", "o_orderkey", "o_totalprice")
        .withColumn("rnk", F.row_number().over(w).cast("int"))
        .filter(F.col("rnk") <= 3)
    )


@register(
    "window_lag_lead",
    """
    SELECT o_custkey, o_orderkey,
           LAG(o_orderkey) OVER (PARTITION BY o_custkey ORDER BY o_orderkey) AS prev_orderkey,
           LEAD(o_orderkey) OVER (PARTITION BY o_custkey ORDER BY o_orderkey) AS next_orderkey
    FROM orders
    """,
)
def q_window_lag_lead(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LAG/LEAD over a deterministic per-customer ordering (unique key)."""
    o = table_scan(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderkey")
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.lag("o_orderkey").over(w).alias("prev_orderkey"),
        F.lead("o_orderkey").over(w).alias("next_orderkey"),
    )


@register(
    "window_running_agg",
    """
    SELECT o_custkey, o_orderkey,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
                OVER (PARTITION BY o_custkey ORDER BY o_orderkey
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
             AS running_total
    FROM orders
    """,
)
def q_window_running_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running total with an explicit ROWS frame; per-partition ordered
    decimal accumulation is deterministic cross-engine."""
    o = table_scan(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).over(w).cast("double")
        .alias("running_total"),
    )


# ---------------------------------------------------------------------------
# joins beyond inner: outer / semi / anti; set ops; pivot
# ---------------------------------------------------------------------------

@register(
    "join_left_outer_nulls",
    """
    SELECT n_name, r_name
    FROM nation LEFT JOIN region
      ON n_regionkey = r_regionkey AND r_name <> 'EUROPE'
    """,
)
def q_join_left_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left outer join with a non-equi residual condition — unmatched rows
    keep NULL right columns."""
    n = table_scan(spark, sf_dir, "nation")
    r = table_scan(spark, sf_dir, "region")
    return n.join(
        F.broadcast(r),
        on=[n["n_regionkey"] == r["r_regionkey"], r["r_name"] != "EUROPE"],
        how="left",
    ).select("n_name", "r_name")


@register(
    "join_semi",
    """
    SELECT c_custkey, c_name FROM customer
    WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
    """,
)
def q_join_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-semi join (EXISTS): customers with at least one order. The build
    side is only the distinct keys — no payload shuffle."""
    c = table_scan(spark, sf_dir, "customer")
    o = table_scan(spark, sf_dir, "orders").select("o_custkey")
    return c.join(o, c["c_custkey"] == o["o_custkey"], "left_semi").select(
        "c_custkey", "c_name"
    )


@register(
    "join_anti",
    """
    SELECT c_custkey, c_name FROM customer
    WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
    """,
)
def q_join_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-anti join (NOT EXISTS): customers with no orders."""
    c = table_scan(spark, sf_dir, "customer")
    o = table_scan(spark, sf_dir, "orders").select("o_custkey")
    return c.join(o, c["c_custkey"] == o["o_custkey"], "left_anti").select(
        "c_custkey", "c_name"
    )


@register(
    "set_ops_intersect_except",
    """
    SELECT c_nationkey AS nationkey, 'both' AS src FROM customer
    INTERSECT
    SELECT s_nationkey, 'both' FROM supplier
    UNION ALL
    (SELECT c_nationkey, 'customer_only' FROM customer
     EXCEPT
     SELECT s_nationkey, 'customer_only' FROM supplier)
    """,
)
def q_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT / EXCEPT (distinct set semantics) composed with UNION ALL."""
    c = table_scan(spark, sf_dir, "customer").select(
        F.col("c_nationkey").alias("nationkey")
    )
    s = table_scan(spark, sf_dir, "supplier").select(
        F.col("s_nationkey").alias("nationkey")
    )
    both = c.intersect(s).withColumn("src", F.lit("both"))
    # EXCEPT is distinct-set semantics → subtract (NOT exceptAll, which is
    # bag semantics and leaves duplicate left rows alive)
    only_c = c.subtract(s).withColumn("src", F.lit("customer_only"))
    return both.select("nationkey", "src").unionByName(only_c.select("nationkey", "src"))


@register(
    "pivot_event_types",
    """
    SELECT user_id,
           COUNT(*) FILTER (WHERE event_type = 'click')    AS click_cnt,
           COUNT(*) FILTER (WHERE event_type = 'view')     AS view_cnt,
           COUNT(*) FILTER (WHERE event_type = 'purchase') AS purchase_cnt
    FROM events GROUP BY user_id
    """,
)
def q_pivot_event_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot (wide conditional aggregation) — explicit value list so the plan
    is a single pass with no pre-scan for distinct pivot values."""
    e = table_scan(spark, sf_dir, "events")
    return (
        e.groupBy("user_id")
        .pivot("event_type", ["click", "view", "purchase"])
        .agg(F.count(F.lit(1)))
        .select(
            "user_id",
            F.coalesce(F.col("click"), F.lit(0)).alias("click_cnt"),
            F.coalesce(F.col("view"), F.lit(0)).alias("view_cnt"),
            F.coalesce(F.col("purchase"), F.lit(0)).alias("purchase_cnt"),
        )
    )


# ---------------------------------------------------------------------------
# scalar-function surface beyond the reference (strings, dates, math, maps)
# ---------------------------------------------------------------------------

@register(
    "string_functions",
    """
    SELECT p_partkey,
           lower(p_name) AS name_lower,
           upper(p_brand) AS brand_upper,
           substr(p_type, 1, 5) AS type_head,
           concat(p_brand, ':', p_type) AS brand_type,
           replace(p_name, ' ', '_') AS name_snake,
           length(p_name) AS name_len,
           CASE WHEN regexp_matches(p_type, '^(STANDARD|SMALL)') THEN 1 ELSE 0 END AS is_std_small,
           lpad(CAST(p_size AS VARCHAR), 4, '0') AS size_padded
    FROM part
    """,
)
def q_string_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String-function sweep (lower/upper/substr/concat/replace/length/
    regexp/lpad) — the reference uses none of these (SURVEY §2.8); provided
    as engine surface."""
    p = table_scan(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.lower("p_name").alias("name_lower"),
        F.upper("p_brand").alias("brand_upper"),
        F.substring("p_type", 1, 5).alias("type_head"),
        F.concat_ws(":", "p_brand", "p_type").alias("brand_type"),
        F.replace(F.col("p_name"), F.lit(" "), F.lit("_")).alias("name_snake"),
        F.length("p_name").cast("long").alias("name_len"),
        F.when(F.col("p_type").rlike("^(STANDARD|SMALL)"), 1).otherwise(0)
        .cast("int")
        .alias("is_std_small"),
        F.lpad(F.col("p_size").cast("string"), 4, "0").alias("size_padded"),
    )


@register(
    "date_functions",
    """
    SELECT o_orderkey,
           CAST(year(o_orderdate) AS INT) AS order_year,
           CAST(month(o_orderdate) AS INT) AS order_month,
           CAST(day(o_orderdate) AS INT) AS order_day,
           CAST(dayofweek(o_orderdate) + 1 AS INT) AS order_dow,  -- DuckDB Sun=0, Spark Sun=1
           CAST(date_trunc('month', o_orderdate) AS DATE) AS month_start,
           CAST(o_orderdate + INTERVAL 30 DAY AS DATE) AS due_date,
           datediff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE)) AS days_since_epoch_start
    FROM orders
    """,
)
def q_date_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date/time-function sweep (extract, trunc, add, diff)."""
    o = table_scan(spark, sf_dir, "orders")
    d = F.col("o_orderdate")
    return o.select(
        "o_orderkey",
        F.year(d).cast("int").alias("order_year"),
        F.month(d).cast("int").alias("order_month"),
        F.dayofmonth(d).cast("int").alias("order_day"),
        F.dayofweek(d).cast("int").alias("order_dow"),
        F.date_trunc("month", d).cast("date").alias("month_start"),
        F.date_add(d.cast("date"), 30).alias("due_date"),
        F.datediff(d.cast("date"), F.to_date(F.lit("1995-01-01")))
        .cast("long")
        .alias("days_since_epoch_start"),
    )


@register(
    "math_bucketing",
    """
    SELECT CAST(floor(o_totalprice / 20000) AS BIGINT) AS price_bucket,
           COUNT(*) AS cnt,
           MIN(o_totalprice) AS bucket_min,
           MAX(o_totalprice) AS bucket_max
    FROM orders GROUP BY 1
    """,
)
def q_math_bucketing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Histogram bucketing via floor division (round/abs/floor surface) —
    the building block for numeric distribution profiling."""
    o = table_scan(spark, sf_dir, "orders")
    return (
        o.groupBy(
            F.floor(F.col("o_totalprice") / 20000).cast("long").alias("price_bucket")
        )
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.min("o_totalprice").alias("bucket_min"),
            F.max("o_totalprice").alias("bucket_max"),
        )
    )


@register(
    "approx_distinct_users",
    """
    SELECT event_type,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_users,
           TRUE AS within_bound
    FROM events GROUP BY event_type
    """,
)
def q_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog++ approximate distinct — the 100 TB path for cardinality
    (exact distinct shuffles every key; HLL ships a 1.5 KB sketch).

    Bounded oracle (VERDICT r8 #1): the HLL estimate itself is
    engine-specific, so the emitted columns are the deterministic witness —
    the exact distinct (riding the same single agg pass; Spark plans
    multi-distinct via expand, one shuffle) and ``within_bound`` asserting
    |approx − exact| ≤ max(2, 5% · exact) — ~2.5σ at rsd = 0.02. The oracle
    recomputes the exact count and asserts the bound holds for every group,
    so rows + schema + value-hash are all green-checkable while the sketch
    still runs. Accuracy is additionally anchored in
    tests/test_sketch_anchors.py, and ``events_bitmap_distinct`` is the
    fully-oracle-checked EXACT mergeable twin of the same aggregation."""
    e = table_scan(spark, sf_dir, "events")
    return e.groupBy("event_type").agg(
        F.approx_count_distinct("user_id", rsd=0.02).alias("__approx_users"),
        F.countDistinct("user_id").alias("exact_users"),
    ).select(
        "event_type",
        "exact_users",
        (
            F.abs(F.col("__approx_users") - F.col("exact_users"))
            <= F.greatest(F.lit(2.0), F.col("exact_users") * 0.05)
        ).alias("within_bound"),
    )


@register(
    "order_price_percentiles",
    """
    SELECT o_orderpriority,
           quantile_cont(o_totalprice, 0.5) AS p50,
           quantile_cont(o_totalprice, 0.9) AS p90,
           quantile_cont(o_totalprice, 0.99) AS p99
    FROM orders GROUP BY o_orderpriority
    """,
)
def q_order_price_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles (PERCENTILE_CONT semantics): sort-based
    exact aggregate; interpolation between exactly-stored doubles is
    deterministic cross-engine. The approximate scale path is
    approx_percentile (sketch-based, rows-only like approx_distinct)."""
    o = table_scan(spark, sf_dir, "orders")
    return o.groupBy("o_orderpriority").agg(
        F.percentile("o_totalprice", 0.5).alias("p50"),
        F.percentile("o_totalprice", 0.9).alias("p90"),
        F.percentile("o_totalprice", 0.99).alias("p99"),
    )


@register(
    "grouped_zscore",
    """
    WITH stats AS (
      SELECT event_type,
             CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS s1,
             CAST(SUM(CAST(value * value AS DECIMAL(24,8))) AS DOUBLE) AS s2,
             COUNT(*) AS n
      FROM events GROUP BY event_type
    )
    SELECT event_id, e.event_type,
           (value - s1 / n) / sqrt(s2 / n - (s1 / n) * (s1 / n)) AS zscore
    FROM events e JOIN stats USING (event_type)
    """,
)
def q_grouped_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group z-score normalization as pure expressions: exact decimal
    moment sums (deterministic) broadcast back over the rows — the
    built-in-first way to write what applyInPandas is often (wastefully)
    used for; the pandas twin is grouped_zscore_pandas."""
    e = table_scan(spark, sf_dir, "events")
    stats = e.groupBy("event_type").agg(
        F.sum(F.col("value").cast("decimal(18,4)")).cast("double").alias("s1"),
        F.sum((F.col("value") * F.col("value")).cast("decimal(24,8)")).cast("double")
        .alias("s2"),
        F.count(F.lit(1)).alias("n"),
    )
    joined = e.join(F.broadcast(stats), "event_type")
    mean = F.col("s1") / F.col("n")
    std = F.sqrt(F.col("s2") / F.col("n") - mean * mean)
    return joined.select(
        "event_id", "event_type", ((F.col("value") - mean) / std).alias("zscore")
    )


@register(
    "grouped_zscore_pandas",
    """
    WITH q AS (
      SELECT event_id, event_type,
             CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS v
      FROM events
    ),
    s AS (
      SELECT event_type, COUNT(*) AS n, CAST(SUM(v) AS BIGINT) AS s1,
             CAST(SUM(v * v) AS BIGINT) AS s2
      FROM q GROUP BY event_type
    )
    SELECT event_id, q.event_type,
           CASE WHEN n * s2 - s1 * s1 > 0
                THEN CAST(v * n - s1 AS DOUBLE)
                     / sqrt(CAST(n * s2 - s1 * s1 AS DOUBLE))
                ELSE CAST(0 AS DOUBLE) END AS zscore
    FROM q JOIN s USING (event_type)
    """,
)
def q_grouped_zscore_pandas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The same normalization as a grouped-map applyInPandas — the pattern
    for per-group logic that genuinely needs imperative pandas (model
    scoring, per-group fitting). Each group arrives as one Arrow-backed
    pandas DataFrame. UPGRADED rows-only → full oracle: values are
    quantized JVM-side (decimal(18,2)·100 → int64 cents, the portable
    fixed-point idiom) and the group pass accumulates PYTHON INTS (exact,
    order-independent — unlike numpy double summation, which made the old
    twin rows-only). The z-score is the all-integer identity
    (v·n − s1) / √(n·s2 − s1²): numerator < 2^53 (exact double),
    denominator is one correctly-rounded int→double conversion + sqrt —
    both bitwise cross-engine — so even the emitted doubles hash-match.
    Bounds: v ≤ 5.7e4 (value ≤ 570.21·100), so n·s2 stays inside int64
    through ~10⁹ rows per group."""
    import pandas as pd

    e = table_scan(spark, sf_dir, "events").select(
        "event_id",
        "event_type",
        (F.col("value").cast("decimal(18,2)") * 100).cast("long").alias("v"),
    )

    def norm(pdf: pd.DataFrame) -> pd.DataFrame:
        import math

        v = [int(x) for x in pdf["v"]]
        n = len(v)
        s1 = sum(v)
        s2 = sum(x * x for x in v)
        var = n * s2 - s1 * s1
        if var > 0:
            denom = math.sqrt(float(var))
            z = [float(x * n - s1) / denom for x in v]
        else:
            z = [0.0] * n
        return pd.DataFrame(
            {"event_id": pdf["event_id"], "event_type": pdf["event_type"], "zscore": z}
        )

    return e.groupBy("event_type").applyInPandas(
        norm, schema="event_id long, event_type string, zscore double"
    )


@register(
    "window_ntile_quartiles",
    """
    SELECT o_orderkey,
           CAST(ntile(4) OVER (ORDER BY o_totalprice, o_orderkey) AS INT) AS price_quartile
    FROM orders
    """,
)
def q_window_ntile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NTILE bucketing over a deterministic total order (global sort window —
    single-partition by construction; at scale, bucket within groups or use
    approx quantile cutoffs instead)."""
    o = table_scan(spark, sf_dir, "orders")
    w = Window.orderBy("o_totalprice", "o_orderkey")
    return o.select(
        "o_orderkey", F.ntile(4).over(w).cast("int").alias("price_quartile")
    )


@register(
    "unpivot_measures",
    """
    SELECT o_orderkey, 'o_totalprice' AS measure, CAST(o_totalprice AS DOUBLE) AS value
    FROM orders
    UNION ALL
    SELECT o_orderkey, 'o_custkey', CAST(o_custkey AS DOUBLE) FROM orders
    """,
)
def q_unpivot_measures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNPIVOT (melt) wide measures to long form — the inverse of pivot;
    values coerce to the common double type."""
    o = table_scan(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice", "o_custkey"
    )
    return o.unpivot("o_orderkey", ["o_totalprice", "o_custkey"], "measure", "value")


@register(
    "agg_rollup",
    """
    SELECT COALESCE(l_returnflag, '@total') AS l_returnflag,
           COALESCE(l_linestatus, '@total') AS l_linestatus,
           cnt
    FROM (SELECT l_returnflag, l_linestatus, COUNT(*) AS cnt
          FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus))
    """,
)
def q_agg_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP — hierarchical subtotals (prefix grouping sets) in one pass."""
    li = table_scan(spark, sf_dir, "lineitem")
    out = li.rollup("l_returnflag", "l_linestatus").agg(F.count(F.lit(1)).alias("cnt"))
    return out.select(
        F.coalesce(F.col("l_returnflag"), F.lit("@total")).alias("l_returnflag"),
        F.coalesce(F.col("l_linestatus"), F.lit("@total")).alias("l_linestatus"),
        "cnt",
    )


@register(
    "agg_cube",
    """
    SELECT COALESCE(o_orderstatus, '@total') AS o_orderstatus,
           COALESCE(o_orderpriority, '@total') AS o_orderpriority,
           cnt
    FROM (SELECT o_orderstatus, o_orderpriority, COUNT(*) AS cnt
          FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority))
    """,
)
def q_agg_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE — all 2^n grouping combinations in one pass."""
    o = table_scan(spark, sf_dir, "orders")
    out = o.cube("o_orderstatus", "o_orderpriority").agg(F.count(F.lit(1)).alias("cnt"))
    return out.select(
        F.coalesce(F.col("o_orderstatus"), F.lit("@total")).alias("o_orderstatus"),
        F.coalesce(F.col("o_orderpriority"), F.lit("@total")).alias("o_orderpriority"),
        "cnt",
    )


# ---------------------------------------------------------------------------
# sinks + ingestion as driver-checkable queries (SURVEY §2.1 S1/S5/S6)
# ---------------------------------------------------------------------------

@register(
    "rest_paginated_ingest",
    """
    WITH g AS (SELECT CAST(x AS INT) AS n FROM UNNEST(range(10)) AS t(x))
    SELECT CAST(n AS VARCHAR) AS id,
           'Brewery ' || CAST(n AS VARCHAR) AS name,
           CASE WHEN (n % 4) % 2 = 0 THEN 'micro' ELSE 'brewpub' END
             AS brewery_type,
           'United States' AS country,
           CASE WHEN (n // 4) % 2 = 0 THEN 'California' ELSE 'Texas' END
             AS state
    FROM g ORDER BY id
    """,
)
def q_rest_paginated_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S1/S2 — paginated REST ingestion exercised offline: a deterministic
    fake fetcher yields 3 pages of brewery records; pages land as bronze
    JSON-array files (uuid-keyed) and are read back with the explicit raw
    schema (app/tasks/extract.py:29-77, app/io/storage.py:14-30). The page
    content is a pure function of (page, index), so the oracle REGENERATES
    the expected records from an integer range — the whole fetch → bronze
    JSON write → glob read-back loop is value-checked, not just
    row-counted."""
    from ..schemas import BREWERY_RAW_SCHEMA
    from ..sources.rest import ingest_to_bronze

    per_page = 4
    pages = [
        [
            {
                "id": str(p * per_page + i),
                "name": f"Brewery {p * per_page + i}",
                "brewery_type": "micro" if i % 2 == 0 else "brewpub",
                "country": "United States",
                "state": "California" if p % 2 == 0 else "Texas",
                "city": f"City{p}",
                "latitude": str(34.0 + i),
                "longitude": str(-118.0 - i),
            }
            for i in range(per_page if p < 2 else 2)  # last page short → stop
        ]
        for p in range(3)
    ]

    def fetch(page: int):
        return (pages[page - 1] if page <= len(pages) else []), None

    # a fresh bronze dir per call: the returned frame scans its pages
    # lazily, so a shared dir would let a concurrent call rewrite them
    bronze = Path(tempfile.mkdtemp(dir=session_workspace(spark)))
    ingest_to_bronze(fetch, str(bronze), "2024-06-01", per_page=per_page)
    raw = json_array_scan(
        spark, str(bronze / "ingestion_date=2024-06-01" / "*.json"), BREWERY_RAW_SCHEMA
    )
    return raw.select("id", "name", "brewery_type", "country", "state").orderBy("id")


@register(
    "s3_object_store_roundtrip",
    """
    WITH g AS (SELECT CAST(x AS INT) AS n FROM UNNEST(range(10)) AS t(x))
    SELECT CAST(n AS VARCHAR) AS id,
           'Brewery ' || CAST(n AS VARCHAR) AS name,
           CASE WHEN (n % 4) % 2 = 0 THEN 'micro' ELSE 'brewpub' END
             AS brewery_type,
           'United States' AS country,
           CASE WHEN (n // 4) % 2 = 0 THEN 'California' ELSE 'Texas' END
             AS state
    FROM g ORDER BY id
    """,
)
def q_s3_object_store_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S9 — the object-store path EXECUTED live (VERDICT r9 #3): bronze
    pages are PUT to a real in-process S3 HTTP server (moto, standing in
    for the reference's MinIO container — docker-compose.yml:19-41,
    app/io/storage.py:22-30), then read back DISTRIBUTED through the
    boto3-backed Python DataSource (one executor GET per object;
    sources/object_store.py) and parsed with from_json against the raw
    contract. Page content is the same pure function of (page, index) as
    rest_paginated_ingest, so the oracle regenerates the expected records
    from an integer range — LIST/PUT/GET all actually cross the S3 wire
    before the values are checked. The JVM s3a:// config stays at
    session.py (needs hadoop-aws jars; tests/test_s3a_smoke.py documents
    the live env) — this query proves the storage PROTOCOL + layout +
    read-back semantics without them."""
    from ..schemas import BREWERY_RAW_SCHEMA
    from ..sources.object_store import (
        ensure_local_object_store,
        ingest_to_bronze_s3,
        list_keys,
        register_object_store_sources,
        s3_client,
    )

    endpoint = ensure_local_object_store()
    options = {"endpoint_url": endpoint, "access_key": "t", "secret_key": "t"}
    client = s3_client(options)
    bucket = "bdec-registry"
    try:
        client.create_bucket(Bucket=bucket)
    except Exception:  # noqa: BLE001 — BucketAlreadyOwnedByYou on re-run
        pass
    key = hashlib.md5(sf_dir.encode()).hexdigest()[:12]
    prefix = f"bronze-{key}"
    # idempotent re-run: clear the prefix before re-publishing
    for k in list_keys(client, bucket, prefix + "/"):
        client.delete_object(Bucket=bucket, Key=k)

    per_page = 4
    pages = [
        [
            {
                "id": str(p * per_page + i),
                "name": f"Brewery {p * per_page + i}",
                "brewery_type": "micro" if i % 2 == 0 else "brewpub",
                "country": "United States",
                "state": "California" if p % 2 == 0 else "Texas",
                "city": f"City{p}",
                "latitude": str(34.0 + i),
                "longitude": str(-118.0 - i),
            }
            for i in range(per_page if p < 2 else 2)  # last page short → stop
        ]
        for p in range(3)
    ]

    def fetch(page: int):
        return (pages[page - 1] if page <= len(pages) else []), None

    ingest_to_bronze_s3(
        fetch, options, bucket, prefix, "2024-06-01", per_page=per_page
    )
    register_object_store_sources(spark)
    raw_objects = (
        spark.read.format("s3_json_scan")
        .options(
            bucket=bucket, prefix=f"{prefix}/ingestion_date=2024-06-01/", **options
        )
        .load()
    )
    records = raw_objects.select(
        F.explode(
            F.from_json("content", f"array<{BREWERY_RAW_SCHEMA.simpleString()}>")
        ).alias("r")
    ).select("r.*")
    return records.select(
        "id", "name", "brewery_type", "country", "state"
    ).orderBy("id")


@register(
    "s3_parquet_partitioned_roundtrip",
    """
    WITH g AS (SELECT CAST(x AS INT) AS n FROM UNNEST(range(10)) AS t(x))
    SELECT CAST(n AS VARCHAR) AS id,
           'Brewery ' || CAST(n AS VARCHAR) AS name,
           CASE WHEN (n % 4) % 2 = 0 THEN 'micro' ELSE 'brewpub' END
             AS brewery_type,
           'California' AS state
    FROM g WHERE (n // 4) % 2 = 0 ORDER BY id
    """,
)
def q_s3_parquet_partitioned_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S5 on the object store, executed live: hive-partitioned parquet
    WRITE through the two-phase-commit S3 sink (tasks PUT staged parquet
    objects, driver publishes to `state=X/part-*.parquet` + `_SUCCESS`
    LAST — the reference's `COPY TO s3://silver PARTITION_BY` semantics,
    app/tasks/silver.py:61-71, without hadoop-aws jars), then a READ with
    an EqualTo partition filter that PRUNES object keys at planning time
    (only `state=California` objects schedule tasks — the custom-source
    analogue of parquet partition pruning, asserted in
    tests/test_object_store.py). The oracle regenerates the pruned slice
    from the integer range, so PUT/COPY/LIST/GET and the pruning decision
    all execute against a real S3 API before values are checked."""
    from ..sources.object_store import (
        ensure_local_object_store,
        list_keys,
        register_parquet_object_store_sources,
        s3_client,
    )

    endpoint = ensure_local_object_store()
    options = {"endpoint_url": endpoint, "access_key": "t", "secret_key": "t"}
    client = s3_client(options)
    bucket = "bdec-registry"
    try:
        client.create_bucket(Bucket=bucket)
    except Exception:  # noqa: BLE001 — BucketAlreadyOwnedByYou on re-run
        pass
    key = hashlib.md5(sf_dir.encode()).hexdigest()[:12]
    prefix = f"silver-{key}"
    for k in list_keys(client, bucket, prefix + "/"):
        client.delete_object(Bucket=bucket, Key=k)

    rows = [
        (
            str(n),
            f"Brewery {n}",
            "micro" if (n % 4) % 2 == 0 else "brewpub",
            "California" if (n // 4) % 2 == 0 else "Texas",
        )
        for n in range(10)
    ]
    schema = "id string, name string, brewery_type string, state string"
    df = spark.createDataFrame(rows, schema)
    register_parquet_object_store_sources(spark)
    (
        df.repartition(2)
        .write.format("s3_parquet_sink")
        .options(bucket=bucket, prefix=prefix, partition_by="state", **options)
        .mode("overwrite")
        .save()
    )
    back = (
        spark.read.format("s3_parquet_scan")
        .schema(schema)
        .options(bucket=bucket, prefix=prefix, partition_by="state", **options)
        .load()
    )
    return back.filter(F.col("state") == "California").orderBy("id")


@register(
    "partitioned_parquet_write",
    """
    SELECT l_returnflag, l_linestatus, COUNT(*) AS cnt,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS qty_sum
    FROM lineitem GROUP BY l_returnflag, l_linestatus
    """,
)
def q_partitioned_parquet_write(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S5 — hive-partitioned snappy write + partition-discovering read-back
    (app/tasks/silver.py:61-71): lineitem lands partitioned by
    (l_returnflag, l_linestatus); the read-back recovers partition columns
    from directories and must aggregate to exactly the source's numbers —
    the oracle never sees the round-trip, so any loss would mismatch."""
    out = tempfile.mkdtemp(dir=session_workspace(spark))
    li = table_scan(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_quantity", "l_returnflag", "l_linestatus"
    )
    write_partitioned_parquet(li, out, ["l_returnflag", "l_linestatus"])
    back = spark.read.parquet(out)
    return back.groupBy("l_returnflag", "l_linestatus").agg(
        F.count(F.lit(1)).alias("cnt"), _dsum(F.col("l_quantity"), 2, "qty_sum")
    )


@register(
    "idempotent_date_overwrite",
    """
    SELECT DATE '2024-01-01' AS ingestion_date, COUNT(*) AS cnt FROM nation
    UNION ALL
    SELECT DATE '2024-01-02' AS ingestion_date, COUNT(*) AS cnt FROM region
    """,
)
def q_idempotent_date_overwrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S6 — idempotent per-date replace (app/tasks/gold.py:89-113 as dynamic
    partition overwrite): date1 is written TWICE (second write must replace,
    not append) plus a different date2; the read-back per-date counts only
    match the oracle if the overwrite touched exactly its own partition."""
    out = tempfile.mkdtemp(dir=session_workspace(spark))
    nation = table_scan(spark, sf_dir, "nation")
    region = table_scan(spark, sf_dir, "region")
    idempotent_date_overwrite(nation, out, "2024-01-01")
    idempotent_date_overwrite(nation, out, "2024-01-01")  # re-run, same date
    idempotent_date_overwrite(region, out, "2024-01-02")
    back = spark.read.parquet(out)
    return back.groupBy("ingestion_date").agg(F.count(F.lit(1)).alias("cnt"))


@register(
    "sql_view_catalog",
    """
    SELECT l_returnflag,
           CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE)
             AS revenue
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1995-01-01' AND l_shipdate < TIMESTAMP '1996-01-01'
      AND l_discount BETWEEN 0.03 AND 0.07 AND l_quantity < 24
    GROUP BY l_returnflag
    """,
)
def q_sql_view_catalog(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S7 + the SQL front door — TPC-H Q6-style revenue-forecast filter run
    as a pure SQL string over a registered temp view
    (createOrReplaceTempView ≈ app/tasks/silver.py:54, gold.py:36-41):
    proving the engine's full-SQL surface, not just the DataFrame API."""
    table_scan(spark, sf_dir, "lineitem").createOrReplaceTempView("v_lineitem")
    return spark.sql(
        """
        SELECT l_returnflag,
               CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE)
                 AS revenue
        FROM v_lineitem
        WHERE l_shipdate >= TIMESTAMP_NTZ '1995-01-01'
          AND l_shipdate < TIMESTAMP_NTZ '1996-01-01'
          AND l_discount BETWEEN 0.03 AND 0.07 AND l_quantity < 24
        GROUP BY l_returnflag
        """
    )


@register(
    "explode_unnest",
    """
    SELECT doc_id, UNNEST(string_split_regex(TRIM(text), '\\s+')) AS token
    FROM documents WHERE doc_id < 50
    """,
)
def q_explode_unnest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array explode (UNNEST): one output row per token — the lateral
    fan-out primitive under every shingle/band pipeline here."""
    d = table_scan(spark, sf_dir, "documents").filter(F.col("doc_id") < 50)
    return d.select(
        "doc_id", F.explode(F.split(F.trim(F.col("text")), r"\s+")).alias("token")
    )


@register(
    "null_safe_equality",
    """
    SELECT c_custkey,
           (NULLIF(c_mktsegment, 'BUILDING') IS NOT DISTINCT FROM NULLIF(c_mktsegment, 'AUTOMOBILE'))
             AS segs_match
    FROM customer
    """,
)
def q_null_safe_equality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-safe equality (<=> / IS NOT DISTINCT FROM): NULL<=>NULL is TRUE,
    NULL<=>x is FALSE — three-valued-logic-free comparison."""
    c = table_scan(spark, sf_dir, "customer")
    a = F.nullif(F.col("c_mktsegment"), F.lit("BUILDING"))
    b = F.nullif(F.col("c_mktsegment"), F.lit("AUTOMOBILE"))
    return c.select("c_custkey", a.eqNullSafe(b).alias("segs_match"))


@register(
    "multi_distinct_agg",
    """
    SELECT o_orderstatus,
           COUNT(DISTINCT o_custkey) AS distinct_customers,
           COUNT(DISTINCT o_orderpriority) AS distinct_priorities,
           COUNT(*) AS order_cnt
    FROM orders GROUP BY o_orderstatus
    """,
)
def q_multi_distinct_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multiple DISTINCT aggregates in one query — Spark plans this as an
    Expand (one replica per distinct set) + two-phase aggregate; exact, one
    logical pass over the input."""
    o = table_scan(spark, sf_dir, "orders")
    return o.groupBy("o_orderstatus").agg(
        F.countDistinct("o_custkey").alias("distinct_customers"),
        F.countDistinct("o_orderpriority").alias("distinct_priorities"),
        F.count(F.lit(1)).alias("order_cnt"),
    )


@register(
    "range_join_value_bands",
    """
    SELECT band_name, COUNT(*) AS cnt,
           CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS value_sum
    FROM events
    JOIN (VALUES ('p00_10', 0.0, 10.0), ('p10_50', 10.0, 50.0),
                 ('p50_200', 50.0, 200.0), ('p200_inf', 200.0, 1e308))
         AS bands(band_name, lo, hi)
      ON value >= lo AND value < hi
    GROUP BY band_name
    """,
)
def q_range_join_value_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range (interval) join: fact value ∈ [lo, hi) against a tiny band
    dimension. A non-equi join has no hash key, so Spark plans
    BroadcastNestedLoopJoin — correct and cheap ONLY because the build side
    is 4 rows; the general scale path for big-×-big range joins is binning
    both sides to an equi key first (see events_asof_join)."""
    e = table_scan(spark, sf_dir, "events")
    bands = spark.createDataFrame(
        [
            ("p00_10", 0.0, 10.0),
            ("p10_50", 10.0, 50.0),
            ("p50_200", 50.0, 200.0),
            ("p200_inf", 200.0, 1e308),
        ],
        "band_name string, lo double, hi double",
    )
    return (
        e.join(
            F.broadcast(bands),
            (F.col("value") >= F.col("lo")) & (F.col("value") < F.col("hi")),
        )
        .groupBy("band_name")
        .agg(F.count(F.lit(1)).alias("cnt"), _dsum(F.col("value"), 4, "value_sum"))
    )


@register(
    "window_rank_distribution",
    """
    SELECT o_orderkey, o_orderstatus,
           percent_rank() OVER w AS pr,
           cume_dist()    OVER w AS cd,
           first_value(o_totalprice) OVER w AS cheapest
    FROM orders
    WINDOW w AS (PARTITION BY o_orderstatus ORDER BY o_totalprice, o_orderkey)
    """,
)
def q_window_rank_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution window functions (percent_rank / cume_dist) plus
    first_value over the same window spec — one sort per partition serves
    all three. The ORDER BY includes the unique o_orderkey so rank-based
    results are deterministic under o_totalprice ties."""
    o = table_scan(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderstatus").orderBy("o_totalprice", "o_orderkey")
    return o.select(
        "o_orderkey",
        "o_orderstatus",
        F.percent_rank().over(w).alias("pr"),
        F.cume_dist().over(w).alias("cd"),
        F.first("o_totalprice").over(w).alias("cheapest"),
    )


@register("csv_scan", "SELECT n_nationkey, n_name, n_regionkey FROM nation")
def q_csv_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV source with an explicit schema (no inference pass — schema
    inference reads the data twice and is banned at 100 TB), header on,
    PERMISSIVE mode. The nation table is landed as CSV once per session so
    the oracle can check the round-trip against the parquet original."""
    staging = staged_dir(
        spark,
        "csv_nation:" + source_fingerprint(sf_dir, "nation"),
        lambda out: table_scan(spark, sf_dir, "nation")
        .select("n_nationkey", "n_name", "n_regionkey")
        .write.option("header", True)
        .csv(str(out)),
    )
    return (
        spark.read.schema("n_nationkey bigint, n_name string, n_regionkey bigint")
        .option("header", True)
        .option("mode", "PERMISSIVE")
        .csv(str(staging))
    )


@register(
    "join_salted_skew",
    """
    WITH stats AS (
      SELECT event_type,
             CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) / COUNT(*)
             AS mean_v
      FROM events GROUP BY event_type
    )
    SELECT e.event_type, COUNT(*) AS cnt_above
    FROM events e JOIN stats s ON e.event_type = s.event_type
    WHERE e.value > s.mean_v
    GROUP BY e.event_type
    """,
)
def q_join_salted_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-salted join checked against the plain-join oracle: event_type
    has 5 values over 10⁴+ rows — the pathological low-cardinality key where
    every row of a key lands on one reducer. salted_join spreads each key
    over 16 (key, salt) buckets by replicating the 5-row build side; the
    oracle proves salting changes the partitioning, never the result."""
    from ..operators.joins import salted_join

    e = table_scan(spark, sf_dir, "events")
    stats = e.groupBy("event_type").agg(
        (
            F.sum(F.col("value").cast("decimal(18,4)")).cast("double")
            / F.count(F.lit(1))
        ).alias("mean_v")
    )
    return (
        salted_join(e, stats, "event_type", salt_buckets=16)
        .filter(F.col("value") > F.col("mean_v"))
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("cnt_above"))
    )


@register(
    "sorted_scan_prune",
    """
    SELECT COUNT(*) AS cnt,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE)
             AS price_sum
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1997-03-01'
      AND l_shipdate <  TIMESTAMP '1997-04-01'
    """,
)
def q_sorted_scan_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-layout-aware scan: lineitem is landed ONCE per session
    range-partitioned + sorted by l_shipdate, so each parquet file covers a
    narrow, non-overlapping shipdate range and the pushed-down date predicate
    skips whole files/row-groups via footer min/max — the layout that turns
    a 100 TB full scan into a touched-fraction scan. The oracle runs the
    same filter over the unsorted original: identical results, different
    I/O. File-range disjointness is asserted in tests/test_scale_mechanics.py."""
    staging = staged_dir(
        spark,
        "sorted_lineitem:" + source_fingerprint(sf_dir, "lineitem"),
        lambda out: table_scan(spark, sf_dir, "lineitem")
        .repartitionByRange(8, "l_shipdate")
        .sortWithinPartitions("l_shipdate")
        .write.parquet(str(out)),
    )
    li = spark.read.parquet(str(staging))
    return li.filter(
        (F.col("l_shipdate") >= F.lit("1997-03-01").cast("timestamp_ntz"))
        & (F.col("l_shipdate") < F.lit("1997-04-01").cast("timestamp_ntz"))
    ).agg(
        F.count(F.lit(1)).alias("cnt"),
        _dsum(F.col("l_extendedprice"), 4, "price_sum"),
    )


@register(
    "stratified_sample_hash",
    """
    SELECT event_id, event_type
    FROM events
    WHERE event_type = 'purchase'
       OR CAST(concat('0x', substr(md5(CAST(event_id AS VARCHAR) || ':'
                                       || event_type), 1, 15))
               AS BIGINT) % 10 = 0
    """,
)
def q_stratified_sample_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Class-rebalancing stratified sample: keep ALL of the rare class
    ('purchase'), a deterministic 10% of everything else — selection by
    portable hash of (id, stratum), so the sample is reproducible across
    engines/runs/partitionings (unlike Bernoulli df.sample, whose RNG is
    engine-internal). One scan, pure filter — no shuffle, no sort."""
    from ..functions.hashing import portable_hash64

    e = table_scan(spark, sf_dir, "events")
    h = portable_hash64(
        F.concat(F.col("event_id").cast("string"), F.lit(":"), F.col("event_type"))
    )
    return e.filter((F.col("event_type") == "purchase") | (h % 10 == 0)).select(
        "event_id", "event_type"
    )


@register(
    "cdc_merge_upsert",
    """
    WITH upd AS (
      SELECT o_orderkey, o_custkey, 'U' AS o_orderstatus,
             o_totalprice + 1000 AS o_totalprice, o_orderdate,
             o_orderpriority, FALSE AS deleted
      FROM orders WHERE o_orderkey % 100 = 0
      UNION ALL
      SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate,
             o_orderpriority, TRUE
      FROM orders WHERE o_orderkey % 97 = 0 AND o_orderkey % 100 <> 0
      UNION ALL
      SELECT o_orderkey + 10000000, o_custkey, 'N', 1.0, o_orderdate,
             o_orderpriority, FALSE
      FROM orders WHERE o_orderkey % 500 = 0
    )
    SELECT COALESCE(u.o_orderkey, t.o_orderkey) AS o_orderkey,
           CASE WHEN u.o_orderkey IS NOT NULL THEN u.o_orderstatus
                ELSE t.o_orderstatus END AS o_orderstatus,
           CASE WHEN u.o_orderkey IS NOT NULL THEN u.o_totalprice
                ELSE t.o_totalprice END AS o_totalprice
    FROM orders t FULL OUTER JOIN upd u ON t.o_orderkey = u.o_orderkey
    WHERE NOT COALESCE(u.deleted, FALSE)
    """,
)
def q_cdc_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC merge (operators/merge.py) applied to a deterministic change set
    over orders — updates (every 100th key, repriced), tombstones (every
    97th, minus update overlap), inserts (shifted keys). Returns the merged
    snapshot projection; the oracle replays the same merge relationally.
    Update images win by presence (NULLs in the new image overwrite), and
    the key join is the bucketing key, so the merge is shuffle-free on
    bucketed tables at scale."""
    from ..operators.merge import merge_upsert

    o = table_scan(spark, sf_dir, "orders")
    k = F.col("o_orderkey")
    upd = (
        o.filter(k % 100 == 0)
        .withColumn("o_orderstatus", F.lit("U"))
        .withColumn("o_totalprice", F.col("o_totalprice") + 1000)
        .withColumn("_deleted", F.lit(False))
    )
    dels = (
        o.filter((k % 97 == 0) & (k % 100 != 0)).withColumn("_deleted", F.lit(True))
    )
    ins = (
        o.filter(k % 500 == 0)
        .withColumn("o_orderkey", k + 10_000_000)
        .withColumn("o_orderstatus", F.lit("N"))
        .withColumn("o_totalprice", F.lit(1.0))
        .withColumn("_deleted", F.lit(False))
    )
    changes = upd.unionByName(dels).unionByName(ins)
    merged = merge_upsert(o, changes, key="o_orderkey", deleted_col="_deleted")
    return merged.select("o_orderkey", "o_orderstatus", "o_totalprice")


@register(
    "bucketed_join_zero_shuffle",
    """
    SELECT o_orderstatus, COUNT(*) AS cnt,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE)
             AS price_sum
    FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    GROUP BY o_orderstatus
    """,
)
def q_bucketed_join_zero_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The fact-fact join over tables BUCKETED on the join key (16 buckets,
    sorted): both sides arrive pre-partitioned, so the join itself plans
    with no Exchange — the shuffle was paid once at write time
    (sources/writers.py:stage_bucketed_table). The only exchange left is the
    final small aggregation's. Asserted in tests/test_plan_invariants.py;
    the oracle joins the unbucketed originals."""
    from ..sources.writers import stage_bucketed_table

    def table_key(name: str) -> str:
        return hashlib.md5(source_fingerprint(sf_dir, name).encode()).hexdigest()[:12]

    o = stage_bucketed_table(
        spark,
        f"bdec_orders_b_{table_key('orders')}",
        ["o_orderkey"],
        num_buckets=16,
        sort_cols=["o_orderkey"],
        builder=lambda: table_scan(spark, sf_dir, "orders").select(
            "o_orderkey", "o_orderstatus"
        ),
    )
    li = stage_bucketed_table(
        spark,
        f"bdec_lineitem_b_{table_key('lineitem')}",
        ["l_orderkey"],
        num_buckets=16,
        sort_cols=["l_orderkey"],
        builder=lambda: table_scan(spark, sf_dir, "lineitem").select(
            "l_orderkey", "l_extendedprice"
        ),
    )
    return (
        o.join(li, o["o_orderkey"] == li["l_orderkey"])
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            _dsum(F.col("l_extendedprice"), 4, "price_sum"),
        )
    )


@register(
    "key_skew_profile",
    """
    WITH k AS (
      SELECT o_custkey AS key, COUNT(*) AS cnt FROM orders GROUP BY o_custkey
    ),
    tot AS (SELECT CAST(SUM(CAST(cnt AS BIGINT)) AS BIGINT) AS n,
                   COUNT(*) AS distinct_keys FROM k)
    SELECT k.key, k.cnt,
           CAST(k.cnt AS DOUBLE) / tot.n AS frac,
           tot.distinct_keys
    FROM k, tot
    ORDER BY k.cnt DESC, k.key
    LIMIT 20
    """,
)
def q_key_skew_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heavy-hitter skew diagnosis: per-key counts, each hitter's fraction
    of the table, and the distinct-key count in one pass — the numbers that
    decide between plain shuffle, AQE skew-split, and salting for a join
    key. Top-20 via a total ordering (cnt desc, key) so ties are
    deterministic. The totals ride a broadcast single-row cross join."""
    o = table_scan(spark, sf_dir, "orders")
    k = o.groupBy(F.col("o_custkey").alias("key")).agg(F.count(F.lit(1)).alias("cnt"))
    tot = k.agg(
        F.sum("cnt").cast("long").alias("n"), F.count(F.lit(1)).alias("distinct_keys")
    )
    return (
        k.crossJoin(F.broadcast(tot))
        .select(
            "key",
            "cnt",
            (F.col("cnt").cast("double") / F.col("n")).alias("frac"),
            "distinct_keys",
        )
        .orderBy(F.desc("cnt"), "key")
        .limit(20)
    )


@register(
    "benchmark_contamination",
    """
    WITH tok AS (
      SELECT doc_id, string_split_regex(TRIM(text), '\\s+') AS t
      FROM documents
    ),
    sh AS (
      SELECT DISTINCT doc_id,
             CAST(concat('0x', substr(md5(array_to_string(
                    list_slice(t, i+1, i+5), ' ')), 1, 15)) AS BIGINT) AS h
      FROM tok, UNNEST(range(GREATEST(len(t) - 4, 0))) AS u(i)
    ),
    bench AS (SELECT doc_id AS bench_doc_id, h FROM sh WHERE doc_id < 50),
    corp  AS (SELECT doc_id AS corpus_doc_id, h FROM sh WHERE doc_id >= 50)
    SELECT corpus_doc_id, bench_doc_id,
           CAST(COUNT(DISTINCT corp.h) AS BIGINT) AS shared_5grams
    FROM corp JOIN bench USING (h)
    GROUP BY corpus_doc_id, bench_doc_id
    HAVING COUNT(DISTINCT corp.h) >= 3
    """,
)
def q_benchmark_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decontamination screen: corpus documents sharing ≥3 distinct 5-gram
    shingles with any held-out benchmark document (doc_id < 50 stands in
    for the benchmark set). Equi-join on the portable shingle hash — never
    all-pairs; at 100 TB, cap hot shingles first (drop n-grams whose
    document frequency exceeds a threshold — stop-phrases contaminate
    nothing but dominate the join) and the bench side broadcasts."""
    from ..functions.hashing import portable_hash64
    from ..operators.fuzzy_dedup import word_shingles

    d = table_scan(spark, sf_dir, "documents")
    sh5 = word_shingles("text", 5)
    hashed = d.select(
        "doc_id",
        F.explode(F.transform(sh5, lambda s: portable_hash64(s))).alias("h"),
    ).distinct()
    bench = hashed.filter(F.col("doc_id") < 50).select(
        F.col("doc_id").alias("bench_doc_id"), "h"
    )
    corp = hashed.filter(F.col("doc_id") >= 50).select(
        F.col("doc_id").alias("corpus_doc_id"), "h"
    )
    return (
        corp.join(F.broadcast(bench), "h")
        .groupBy("corpus_doc_id", "bench_doc_id")
        .agg(F.countDistinct("h").alias("shared_5grams"))
        .filter(F.col("shared_5grams") >= 3)
    )


@register(
    "dq_cross_field_check",
    """
    SELECT source,
           COUNT(*) AS doc_cnt,
           CAST(SUM(CASE WHEN n_chars <> length(text) THEN 1 ELSE 0 END)
                AS BIGINT) AS n_chars_violations,
           CAST(SUM(CASE WHEN lang NOT IN ('en','es','de','fr','zh') THEN 1
                         ELSE 0 END) AS BIGINT) AS lang_domain_violations
    FROM documents
    GROUP BY source
    """,
)
def q_dq_cross_field_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-field data-quality audit (the distributed analog of the
    reference's declarative soda checks, soda/checks/*.yml): per-source
    violation counts for a denormalized-field invariant (n_chars must equal
    length(text)) and a domain constraint on lang — one grouped pass, all
    constraints as CASE aggregates, so adding a rule never adds a scan."""
    d = table_scan(spark, sf_dir, "documents")
    return d.groupBy("source").agg(
        F.count(F.lit(1)).alias("doc_cnt"),
        F.sum(
            F.when(F.col("n_chars") != F.length("text"), 1).otherwise(0)
        )
        .cast("long")
        .alias("n_chars_violations"),
        F.sum(
            F.when(~F.col("lang").isin("en", "es", "de", "fr", "zh"), 1).otherwise(0)
        )
        .cast("long")
        .alias("lang_domain_violations"),
    )


@register(
    "schema_evolution_union",
    """
    SELECT doc_id, source, lang, NULL AS n_chars FROM documents
    WHERE doc_id % 2 = 0
    UNION ALL
    SELECT doc_id, source, NULL, n_chars FROM documents
    WHERE doc_id % 2 = 1
    """,
)
def q_schema_evolution_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-evolution union: two table 'versions' with different column
    sets combined via unionByName(allowMissingColumns=True) — absent columns
    null-fill instead of erroring, the standard pattern for reading a lake
    table across schema versions. Oracle unions explicit NULL projections."""
    d = table_scan(spark, sf_dir, "documents")
    v1 = d.filter(F.col("doc_id") % 2 == 0).select("doc_id", "source", "lang")
    v2 = d.filter(F.col("doc_id") % 2 == 1).select("doc_id", "source", "n_chars")
    return v1.unionByName(v2, allowMissingColumns=True)


@register("orc_scan", "SELECT n_nationkey, n_name, n_regionkey FROM nation")
def q_orc_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC source round-trip (columnar format #2): nation landed as ORC once
    per session, read back with pushdown/pruning semantics identical to the
    parquet path — the same declarative plan works across storage formats.
    Oracle checks against the parquet original."""
    staging = staged_dir(
        spark,
        "orc_nation:" + source_fingerprint(sf_dir, "nation"),
        lambda out: table_scan(spark, sf_dir, "nation")
        .select("n_nationkey", "n_name", "n_regionkey")
        .write.orc(str(out)),
    )
    return spark.read.orc(str(staging))


@register(
    "zorder_scan_prune",
    """
    SELECT COUNT(*) AS cnt,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS qty_sum
    FROM lineitem
    WHERE l_partkey % 256 < 16 AND l_orderkey % 256 < 16
    """,
)
def q_zorder_scan_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton) clustered layout: lineitem landed ONCE sorted by the
    bit-interleave of (l_orderkey, l_partkey) low bytes, so file/row-group
    min-max stats cluster in BOTH dimensions — a predicate on either key
    (or both, as here) skips most of the table, which single-column sorting
    can only do for its one key. The interleave is pure integer arithmetic
    (16 shift-mask terms, whole-stage codegen); the oracle filters the
    unsorted original."""
    def build(out: Path) -> None:
        a = F.pmod(F.col("l_orderkey"), F.lit(256))
        b = F.pmod(F.col("l_partkey"), F.lit(256))
        z = F.lit(0).cast("long")
        for i in range(8):
            z = (
                z
                + (F.shiftright(a, i).bitwiseAND(F.lit(1)) * F.lit(1 << (2 * i)))
                + (F.shiftright(b, i).bitwiseAND(F.lit(1)) * F.lit(1 << (2 * i + 1)))
            )
        (
            table_scan(spark, sf_dir, "lineitem")
            .withColumn("__z", z)
            .repartitionByRange(8, "__z")
            .sortWithinPartitions("__z")
            .drop("__z")
            .write.parquet(str(out))
        )

    staging = staged_dir(
        spark, "zorder_lineitem:" + source_fingerprint(sf_dir, "lineitem"), build
    )
    li = spark.read.parquet(str(staging))
    return li.filter(
        (F.pmod(F.col("l_partkey"), F.lit(256)) < 16)
        & (F.pmod(F.col("l_orderkey"), F.lit(256)) < 16)
    ).agg(
        F.count(F.lit(1)).alias("cnt"),
        _dsum(F.col("l_quantity"), 4, "qty_sum"),
    )


@register(
    "approx_order_percentiles",
    """
    SELECT o_orderpriority,
           quantile_cont(o_totalprice, 0.5) AS p50_exact,
           quantile_cont(o_totalprice, 0.95) AS p95_exact,
           TRUE AS within_bound
    FROM orders GROUP BY o_orderpriority
    """,
)
def q_approx_order_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate percentiles (KLL-style quantile sketch) of order value
    per priority — the 100 TB path: exact percentiles sort every group,
    the sketch is a fixed-size mergeable summary (map-side partial merge,
    tiny shuffle).

    Bounded oracle (VERDICT r8 #1): the sketch outputs are engine-specific,
    so the emitted columns are the exact percentiles (Spark ``percentile``
    and DuckDB ``quantile_cont`` both do linear interpolation at rank
    (n−1)·p over doubles — verified bitwise-identical at sf0.01) plus
    ``within_bound``, which asserts both sketch values land within 2% of
    the group's value scale (accuracy 10000 ⇒ rank error ≤ n/10⁴, far
    inside that). The oracle recomputes the exact percentiles and asserts
    the bound, making rows + schema + value-hash all checkable while the
    sketch still rides the same agg pass. Error is additionally asserted
    in tests/test_sketch_anchors.py."""
    o = table_scan(spark, sf_dir, "orders")
    return (
        o.groupBy("o_orderpriority")
        .agg(
            F.approx_percentile(
                "o_totalprice", F.array(F.lit(0.5), F.lit(0.95)), F.lit(10000)
            ).alias("pcts"),
            F.percentile("o_totalprice", F.lit(0.5)).alias("p50_exact"),
            F.percentile("o_totalprice", F.lit(0.95)).alias("p95_exact"),
        )
        .select(
            "o_orderpriority",
            "p50_exact",
            "p95_exact",
            (
                (
                    F.abs(F.col("pcts")[0] - F.col("p50_exact"))
                    <= F.greatest(F.abs(F.col("p95_exact")), F.lit(1.0)) * 0.02
                )
                & (
                    F.abs(F.col("pcts")[1] - F.col("p95_exact"))
                    <= F.greatest(F.abs(F.col("p95_exact")), F.lit(1.0)) * 0.02
                )
            ).alias("within_bound"),
        )
    )


@register(
    "dq_benford_first_digit",
    """
    WITH cents AS (
      SELECT CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS c
      FROM orders
    ),
    d AS (
      SELECT CAST(substr(CAST(c AS VARCHAR), 1, 1) AS INT) AS digit FROM cents
    )
    SELECT digit, COUNT(*) AS cnt,
           COUNT(*) * 1000 // CAST(SUM(COUNT(*)) OVER () AS BIGINT) AS per_mille
    FROM d GROUP BY digit
    """,
)
def q_dq_benford_first_digit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford first-significant-digit audit over order totals — the
    fraud/data-quality screen for 'organic' numeric distributions. The first
    digit is taken from the INTEGER cents value (decimal-exact ×100, then
    int→string, which is exact in both engines — never stringify a raw
    double), and the per-mille share is integer floor-division so no
    float comparison exists anywhere. One partial-agg pass over the scan +
    a 9-row window."""
    o = table_scan(spark, sf_dir, "orders")
    cents = o.select(
        (F.col("o_totalprice").cast("decimal(18,2)") * 100)
        .cast("long")
        .alias("c")
    )
    d = cents.select(
        F.substring(F.col("c").cast("string"), 1, 1).cast("int").alias("digit")
    )
    agg = d.groupBy("digit").agg(F.count(F.lit(1)).alias("cnt"))
    total = F.sum("cnt").over(
        Window.orderBy(F.lit(1)).rowsBetween(
            Window.unboundedPreceding, Window.unboundedFollowing
        )
    )
    return agg.select(
        "digit", "cnt", F.expr("cnt * 1000").cast("long").alias("_num"), total.alias("_den")
    ).selectExpr(
        "digit",
        "cnt",
        "_num div _den AS per_mille",
    )


@register(
    "dq_referential_orphans",
    """
    WITH li AS (
      SELECT 'lineitem.l_orderkey->orders' AS edge,
             COUNT(*) AS child_rows,
             COUNT(*) FILTER (WHERE l_orderkey IS NULL) AS null_keys,
             COUNT(*) FILTER (WHERE l_orderkey IS NOT NULL
                              AND o_orderkey IS NULL) AS orphan_rows
      FROM lineitem LEFT JOIN orders ON l_orderkey = o_orderkey
    ),
    oc AS (
      SELECT 'orders.o_custkey->customer' AS edge,
             COUNT(*) AS child_rows,
             COUNT(*) FILTER (WHERE o_custkey IS NULL) AS null_keys,
             COUNT(*) FILTER (WHERE o_custkey IS NOT NULL
                              AND c_custkey IS NULL) AS orphan_rows
      FROM orders LEFT JOIN customer ON o_custkey = c_custkey
    ),
    cn AS (
      SELECT 'customer.c_nationkey->nation' AS edge,
             COUNT(*) AS child_rows,
             COUNT(*) FILTER (WHERE c_nationkey IS NULL) AS null_keys,
             COUNT(*) FILTER (WHERE c_nationkey IS NOT NULL
                              AND n_nationkey IS NULL) AS orphan_rows
      FROM customer LEFT JOIN nation ON c_nationkey = n_nationkey
    )
    SELECT edge, child_rows, null_keys, orphan_rows FROM li
    UNION ALL SELECT edge, child_rows, null_keys, orphan_rows FROM oc
    UNION ALL SELECT edge, child_rows, null_keys, orphan_rows FROM cn
    """,
)
def q_dq_referential_orphans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential-integrity audit: one row per foreign-key edge with child
    row count, NULL-key count, and orphan count (non-null key with no parent).
    Each edge is a LEFT join against the DISTINCT parent-key projection —
    the parent side collapses to its key column before the join, so the
    customer/nation probes broadcast and even the orders side ships only one
    skinny long column into the fact join. A conformance gate every
    warehouse load should run before publishing (the reference's Soda checks
    express row-level nullness; this is the cross-table completion of that
    idea)."""
    li = table_scan(spark, sf_dir, "lineitem").select("l_orderkey")
    o = table_scan(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    c = table_scan(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = table_scan(spark, sf_dir, "nation").select("n_nationkey")

    def audit(child: DataFrame, key: str, parent: DataFrame, pkey: str, edge: str,
              bcast: bool) -> DataFrame:
        pk = parent.select(pkey).distinct()
        joined = child.join(
            F.broadcast(pk) if bcast else pk,
            child[key] == pk[pkey],
            "left",
        )
        return joined.agg(
            F.lit(edge).alias("edge"),
            F.count(F.lit(1)).alias("child_rows"),
            F.count(F.when(F.col(key).isNull(), 1)).alias("null_keys"),
            F.count(
                F.when(F.col(key).isNotNull() & F.col(pkey).isNull(), 1)
            ).alias("orphan_rows"),
        )

    return (
        audit(li, "l_orderkey", o, "o_orderkey", "lineitem.l_orderkey->orders",
              bcast=False)
        .unionByName(
            audit(o, "o_custkey", c, "c_custkey", "orders.o_custkey->customer",
                  bcast=True)
        )
        .unionByName(
            audit(c, "c_nationkey", n, "n_nationkey",
                  "customer.c_nationkey->nation", bcast=True)
        )
    )


@register(
    "python_datasource_scan",
    """
    WITH items AS (
      SELECT CAST(i AS BIGINT) AS item_id, CAST(i // 200 AS INT) AS page
      FROM UNNEST(range(1600)) AS t(i)
    ),
    f AS (SELECT * FROM items WHERE page <= 3),
    feat AS (
      SELECT page, item_id,
             CASE CAST(concat('0x', substr(md5('feed:'
                    || CAST(item_id AS VARCHAR)), 1, 15)) AS BIGINT) % 4
               WHEN 0 THEN 'alpha' WHEN 1 THEN 'beta'
               WHEN 2 THEN 'gamma' ELSE 'delta' END AS category,
             CAST(concat('0x', substr(md5('amt:'
                    || CAST(item_id AS VARCHAR)), 1, 15)) AS BIGINT) % 10000
               AS amount
      FROM f
    )
    SELECT category, COUNT(*) AS items,
           CAST(SUM(amount) AS BIGINT) AS total_amount
    FROM feat GROUP BY category
    """,
)
def q_python_datasource_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scan through a CUSTOM Python DataSource (Spark 4 DSv2 API,
    sources/python_datasource.py): the synthetic paginated feed is read
    page-per-InputPartition (executor-parallel, not a driver loop — contrast
    sources/rest.py, which ports the reference's imperative pagination from
    app/tasks/extract.py:29-77), and the `page <= 3` predicate is PUSHED
    into the connector (`pushFilters`), pruning 4 of 8 page partitions
    before any task launches. Feed content is md5-portable-hash generated,
    so the oracle regenerates the identical rows from a bare integer range —
    the connector's output is fully value-checked, not just row-counted."""
    from ..sources.python_datasource import register_feed_source

    register_feed_source(spark)
    feed = (
        spark.read.format("synthetic_feed")
        .option("pages", 8)
        .option("rows_per_page", 200)
        .load()
    )
    return (
        feed.filter(F.col("page") <= 3)
        .groupBy("category")
        .agg(
            F.count(F.lit(1)).alias("items"),
            F.sum("amount").cast("long").alias("total_amount"),
        )
    )


@register(
    "binary_file_scan",
    """
    WITH g AS (SELECT CAST(x AS INT) AS i FROM UNNEST(range(5)) AS t(x)),
    blobs AS (
      SELECT 'blob-' || CAST(i AS VARCHAR) || '.bin' AS fname,
             repeat('blob-' || CAST(i AS VARCHAR) || ':'
                    || md5('seed:' || CAST(i AS VARCHAR)), i + 1) AS content
      FROM g
    )
    SELECT fname, CAST(length(content) AS BIGINT) AS byte_len,
           md5(content) AS content_md5
    FROM blobs ORDER BY fname
    """,
)
def q_binary_file_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whole-file binary ingestion via Spark's `binaryFile` source — the
    scan that feeds multimodal pipelines (images/audio land as one row per
    FILE with path, length, and raw bytes, then decode runs as Arrow
    batches downstream — operators/multimodal.py). Five deterministic
    blobs are staged once and read back; the query emits basename, byte
    length, and content md5, so the oracle regenerates the exact bytes
    from their ASCII recipe and the whole write→scan→hash loop is
    value-checked. At 100 TB the binaryFile source parallelizes per file
    (maxPartitionBytes-capped) and pushes path-glob + length filters into
    the listing — never reading payloads it can drop."""
    import hashlib as _hl

    def build(out: Path) -> None:
        out.mkdir()
        for i in range(5):
            body = (f"blob-{i}:" + _hl.md5(f"seed:{i}".encode()).hexdigest()) * (i + 1)
            (out / f"blob-{i}.bin").write_bytes(body.encode())

    staging = staged_dir(spark, "binary_files", build)
    raw = spark.read.format("binaryFile").load(str(staging / "*.bin"))
    return (
        raw.select(
            F.element_at(F.split(F.col("path"), "/"), -1).alias("fname"),
            F.col("length").alias("byte_len"),
            F.md5(F.col("content")).alias("content_md5"),
        )
        .orderBy("fname")
    )


@register(
    "array_functions",
    """
    WITH d AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents)
    SELECT doc_id,
           CAST(len(w) AS BIGINT) AS n_tokens,
           CAST(len(list_filter(w, x -> length(x) > 5)) AS BIGINT) AS n_long,
           CAST(list_sum(list_transform(w, x -> length(x))) AS BIGINT)
             AS total_chars,
           array_to_string(
             list_slice(list_sort(list_distinct(list_filter(w, x -> x <> ''))),
                        1, 5), ',') AS first5_sorted,
           len(list_filter(w, x -> x = 'the')) > 0 AS has_the
    FROM d
    """,
)
def q_array_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Higher-order array-function parity surface (the sibling of
    string_functions / date_functions): transform + filter + aggregate
    (fold) + exists + distinct/sort/slice/join, all JVM-side lambda
    expressions inside whole-stage codegen — the idioms every
    token-array pipeline composes. distinct-then-sort canonicalizes the
    engine-specific distinct ordering on both sides."""
    d = table_scan(spark, sf_dir, "documents").select(
        "doc_id", F.split("text", " ").alias("w")
    )
    wlen = F.transform("w", lambda x: F.length(x))
    nonblank = F.filter("w", lambda x: x != "")
    return d.select(
        "doc_id",
        F.size("w").cast("long").alias("n_tokens"),
        F.size(F.filter("w", lambda x: F.length(x) > 5)).cast("long").alias("n_long"),
        F.aggregate(wlen, F.lit(0), lambda acc, x: acc + x)
        .cast("long")
        .alias("total_chars"),
        F.array_join(
            F.slice(F.array_sort(F.array_distinct(nonblank)), 1, 5), ","
        ).alias("first5_sorted"),
        F.exists("w", lambda x: x == F.lit("the")).alias("has_the"),
    )


@register(
    "join_hint_shuffle_hash",
    """
    SELECT c.c_mktsegment,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
             AS revenue
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    GROUP BY c.c_mktsegment
    """,
)
def q_join_hint_shuffle_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-strategy HINT control — the optimizer-override surface a tuned
    100-TB job uses when it knows better than the stats: SHUFFLE_HASH
    forces a hash join (build the smaller post-shuffle side in memory, no
    sort of either side) where the planner would default to sort-merge for
    two large inputs. Results are hint-invariant (the oracle is the plain
    join); tests/test_plan_invariants assert the physical plan actually
    honored the hint (ShuffledHashJoin, no SortMergeJoin). The same syntax
    carries MERGE / BROADCAST / SHUFFLE_REPLICATE_NL."""
    o = table_scan(spark, sf_dir, "orders")
    c = table_scan(spark, sf_dir, "customer").hint("shuffle_hash")
    return (
        o.join(c, o["o_custkey"] == c["c_custkey"])
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("revenue"),
        )
    )


# ---------------------------------------------------------------------------
# round-6 additions: recursive SQL, _metadata audit, XML source, corrupt-row
# quarantine, pigeonhole heavy hitters, exact KS drift, URL canonicalization,
# dynamic partition pruning
# ---------------------------------------------------------------------------


@register(
    "sql_recursive_subtree_rollup",
    """
    WITH RECURSIVE up(node, anc) AS (
      SELECT c_custkey, c_custkey FROM customer
      UNION ALL
      SELECT node, anc // 2 FROM up WHERE anc > 1
    ),
    cents AS (
      SELECT c_custkey AS node,
             CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT) AS c
      FROM customer
    )
    SELECT u.anc AS ancestor,
           CAST(COUNT(*) AS BIGINT) AS subtree_nodes,
           CAST(SUM(c.c) AS BIGINT) AS subtree_cents
    FROM up u JOIN cents c ON c.node = u.node
    GROUP BY u.anc
    """,
)
def q_sql_recursive_subtree_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recursive-CTE subtree rollup — Spark 4's WITH RECURSIVE surface
    (UNION ALL form; Spark rejects recursive UNION), run through
    ``spark.sql`` over a temp view. The implicit forest ``parent(k) = k
    DIV 2`` gives every customer a ⌈log₂ N⌉-deep ancestor chain; the
    recursion enumerates (node, ancestor) pairs and the final aggregate
    rolls exact account-balance cents up to every ancestor — the
    bill-of-materials/org-chart aggregation plain SQL cannot express.
    Depth is data-bounded at ~log₂(custkey) levels (≈18 at SF 1), far
    under Spark's default 100-level recursion limit; each level is one
    join-free projection, so the plan scales as O(N log N) rows shuffled
    once at the final GROUP BY. Oracle: the identical recursion in DuckDB
    (`//` = Spark's `DIV`)."""
    table_scan(spark, sf_dir, "customer").createOrReplaceTempView(
        "bdec_r6_customer"
    )
    return spark.sql(
        """
        WITH RECURSIVE up(node, anc) AS (
          SELECT c_custkey, c_custkey FROM bdec_r6_customer
          UNION ALL
          SELECT node, anc DIV 2 FROM up WHERE anc > 1
        ),
        cents AS (
          SELECT c_custkey AS node,
                 CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT) AS c
          FROM bdec_r6_customer
        )
        SELECT u.anc AS ancestor,
               COUNT(*) AS subtree_nodes,
               SUM(c.c) AS subtree_cents
        FROM up u JOIN cents c ON c.node = u.node
        GROUP BY u.anc
        """
    )


@register(
    "parquet_meta_partition_audit",
    """
    SELECT n_regionkey, CAST(COUNT(*) AS BIGINT) AS row_cnt,
           TRUE AS path_ok
    FROM nation GROUP BY n_regionkey
    """,
)
def q_parquet_meta_partition_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hidden ``_metadata`` file-metadata column over a hive-partitioned
    parquet layout: nation is landed once per session partitioned by
    n_regionkey, read back, and audited — rows are grouped by the partition
    value EXTRACTED FROM THE PHYSICAL FILE PATH (``_metadata.file_path``),
    and ``path_ok`` asserts the path-derived key equals the logical
    partition column for every row. This is the partition-layout audit a
    lakehouse runs after a backfill (files landed in the wrong directory
    show up as path_ok=false or a count drift); ``_metadata`` is evaluated
    scan-side from the file listing, so the audit adds no extra I/O beyond
    the scan itself."""
    staging = staged_dir(
        spark,
        "meta_nation:" + source_fingerprint(sf_dir, "nation"),
        lambda out: table_scan(spark, sf_dir, "nation")
        .write.partitionBy("n_regionkey")
        .parquet(str(out)),
    )
    df = spark.read.parquet(str(staging))
    meta = df.select(
        F.col("n_regionkey").cast("long").alias("rk_col"),
        F.regexp_extract(
            F.col("_metadata.file_path"), r"n_regionkey=(\d+)", 1
        )
        .cast("long")
        .alias("rk_path"),
    )
    return meta.groupBy(F.col("rk_path").alias("n_regionkey")).agg(
        F.count(F.lit(1)).alias("row_cnt"),
        F.bool_and(F.col("rk_path") == F.col("rk_col")).alias("path_ok"),
    )


@register("xml_scan", "SELECT n_nationkey, n_name, n_regionkey FROM nation")
def q_xml_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native XML source (merged into Spark 4 from spark-xml): nation is
    landed as XML once per session (rowTag elements), read back with an
    explicit schema — schema inference over XML costs a full extra pass and
    is banned at scale, same rule as csv_scan. The oracle checks the
    round-trip against the parquet original."""
    staging = staged_dir(
        spark,
        "xml_nation:" + source_fingerprint(sf_dir, "nation"),
        lambda out: table_scan(spark, sf_dir, "nation")
        .select("n_nationkey", "n_name", "n_regionkey")
        .write.format("xml")
        .option("rowTag", "nation")
        .save(str(out)),
    )
    return (
        spark.read.format("xml")
        .option("rowTag", "nation")
        .schema("n_nationkey bigint, n_name string, n_regionkey bigint")
        .load(str(staging))
    )


@register(
    "json_corrupt_quarantine",
    """
    SELECT event_type, FALSE AS quarantined, CAST(COUNT(*) AS BIGINT) AS cnt
    FROM events WHERE event_id % 97 <> 0 GROUP BY event_type
    UNION ALL
    SELECT CAST(NULL AS VARCHAR), TRUE, CAST(COUNT(*) AS BIGINT)
    FROM events WHERE event_id % 97 = 0
    """,
)
def q_json_corrupt_quarantine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corrupt-record quarantine — the schema-drift safety net of every
    JSON ingest: events are landed as JSON lines with every 97th record
    deterministically mangled into invalid JSON, then read back PERMISSIVE
    with ``columnNameOfCorruptRecord`` so bad rows survive as raw text in
    ``_corrupt`` instead of killing the job (FAILFAST) or vanishing
    (DROPMALFORMED). Output splits counts by (event_type, quarantined);
    the oracle recomputes both populations from the plant rule, so the
    driver check proves no record was lost OR misclassified. Parsing is
    JVM-side Jackson; the quarantine branch is a column predicate, not a
    Python pass."""
    def build(out: Path) -> None:
        line = F.to_json(F.struct("event_id", "user_id", "event_type"))
        table_scan(spark, sf_dir, "events").select(
            F.when(F.col("event_id") % 97 == 0, F.concat(F.lit("{corrupt!"), line))
            .otherwise(line)
            .alias("value")
        ).write.text(str(out))

    staging = staged_dir(
        spark, "json_corrupt:" + source_fingerprint(sf_dir, "events"), build
    )
    df = (
        spark.read.schema(
            "event_id long, user_id long, event_type string, _corrupt string"
        )
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt")
        .json(str(staging))
    )
    return df.groupBy(
        "event_type", F.col("_corrupt").isNotNull().alias("quarantined")
    ).agg(F.count(F.lit(1)).alias("cnt"))


@register(
    "dpp_partitioned_fact_join",
    """
    SELECT strftime(o_orderdate, '%Y-%m') AS o_month,
           CAST(COUNT(*) AS BIGINT) AS order_cnt,
           CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT))
                AS BIGINT) AS cents
    FROM orders
    WHERE strftime(o_orderdate, '%Y-%m') BETWEEN '1996-03' AND '1996-06'
    GROUP BY 1
    """,
)
def q_dpp_partitioned_fact_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic partition pruning: orders are landed once per session as
    parquet partitioned by order month, then joined to a month dimension
    that is filtered at runtime. Because the join key is the fact's
    PARTITION column and the dim side broadcasts, Catalyst injects a
    dynamic pruning subquery into the fact scan — only the 4 matching
    month directories are read, never the full fact table. This is THE
    mechanism that makes star-schema queries touch 1/100th of a 100 TB
    fact; tests/test_plan_invariants.py asserts the
    ``dynamicpruningexpression`` is present in the executed plan. The dim
    is derived from the unpartitioned orders table (a different source
    than the fact), as in a real date-dimension join."""
    staging = staged_dir(
        spark,
        "dpp_orders:" + source_fingerprint(sf_dir, "orders"),
        lambda out: table_scan(spark, sf_dir, "orders")
        .select(
            "o_orderkey",
            "o_totalprice",
            F.date_format("o_orderdate", "yyyy-MM").alias("o_month"),
        )
        .write.partitionBy("o_month")
        .parquet(str(out)),
    )
    fact = spark.read.parquet(str(staging))
    dim = (
        table_scan(spark, sf_dir, "orders")
        .select(F.date_format("o_orderdate", "yyyy-MM").alias("o_month"))
        .distinct()
        .filter(F.col("o_month").between("1996-03", "1996-06"))
    )
    cents = F.col("o_totalprice").cast("decimal(18,2)") * 100
    return (
        fact.join(F.broadcast(dim), "o_month")
        .groupBy("o_month")
        .agg(
            F.count(F.lit(1)).alias("order_cnt"),
            F.sum(cents.cast("long")).alias("cents"),
        )
    )


@register(
    "python_datasource_stream",
    """
    WITH items AS (
      SELECT CAST(i AS BIGINT) AS item_id FROM UNNEST(range(1600)) AS t(i)
    ),
    feat AS (
      SELECT item_id,
             CASE CAST(concat('0x', substr(md5('feed:'
                    || CAST(item_id AS VARCHAR)), 1, 15)) AS BIGINT) % 4
               WHEN 0 THEN 'alpha' WHEN 1 THEN 'beta'
               WHEN 2 THEN 'gamma' ELSE 'delta' END AS category,
             CAST(concat('0x', substr(md5('amt:'
                    || CAST(item_id AS VARCHAR)), 1, 15)) AS BIGINT) % 10000
               AS amount
      FROM items
    )
    SELECT category, COUNT(*) AS items,
           CAST(SUM(amount) AS BIGINT) AS total_amount
    FROM feat GROUP BY category
    """,
)
def q_python_datasource_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING custom Python DataSource (Spark 4 ``streamReader`` API,
    sources/python_datasource.py: FeedStreamReader) — the streaming sibling
    of python_datasource_scan and the last Python-connector surface:
    offsets advance 2 feed pages per micro-batch (8 pages → 4 micro-batches,
    driven to exhaustion with ``processAllAvailable``), and each batch's
    offset range fans out as one InputPartition per page so EXECUTORS read
    the pages in parallel — the distributed reader, not the driver-side
    SimpleDataSourceStreamReader. The complete-mode aggregation proves
    state carries across micro-batch boundaries; the feed is md5-portable,
    so the oracle regenerates every streamed row from a bare integer range
    and the final aggregate is fully value-checked."""
    from ..sources.python_datasource import register_feed_stream_source

    register_feed_stream_source(spark)
    feed = (
        spark.readStream.format("synthetic_feed_stream")
        .option("pages", 8)
        .option("rows_per_page", 200)
        .option("pages_per_batch", 2)
        .load()
    )
    agg = feed.groupBy("category").agg(
        F.count(F.lit(1)).alias("items"),
        F.sum("amount").cast("long").alias("total_amount"),
    )
    qname = "bdec_feed_stream_out"
    q = (
        agg.writeStream.format("memory")
        .queryName(qname)
        .outputMode("complete")
        .option("checkpointLocation", tempfile.mkdtemp(dir=session_workspace(spark)))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
        q.awaitTermination(60)
    # snapshot the memory sink so the returned frame is static
    out = spark.table(qname).collect()
    return spark.createDataFrame(
        out, "category string, items long, total_amount long"
    )


@register(
    "map_functions",
    """
    WITH c AS (
      SELECT user_id, event_type, COUNT(*) AS cnt
      FROM events WHERE user_id < 40 GROUP BY 1, 2
    )
    SELECT user_id,
           string_agg(event_type || ':' || CAST(cnt AS VARCHAR),
                      ',' ORDER BY event_type) AS all_counts,
           COALESCE(string_agg(
             CASE WHEN cnt >= 3
                  THEN event_type || ':' || CAST(cnt * 2 AS VARCHAR) END,
             ',' ORDER BY event_type), '') AS kept_doubled,
           CAST(COUNT(*) AS BIGINT) AS n_types,
           CAST(SUM(CASE WHEN cnt >= 3 THEN 1 ELSE 0 END) AS BIGINT)
             AS kept_types
    FROM c GROUP BY user_id
    """,
)
def q_map_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MapType higher-order surface — the complex-type family the array-HOF
    query (array_functions) does not touch: per-user event-type count maps
    built with ``map_from_entries`` over sorted entries (deterministic key
    order), then ``map_filter`` (keep counts ≥ 3), ``transform_values``
    (doubling), ``map_keys`` + ``element_at`` for canonical
    stringification. All lambdas are JVM codegen; maps never leave the
    executor as maps (the emitted canonical string is engine-portable,
    since neither engine hashes map columns deterministically). Each map op
    runs on a BOUND column (chained selects), never a captured expression —
    the per-element re-evaluation trap in NOTES.md."""
    e = table_scan(spark, sf_dir, "events").filter(F.col("user_id") < 40)
    cnts = e.groupBy("user_id", "event_type").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    m = cnts.groupBy("user_id").agg(
        F.map_from_entries(
            F.array_sort(F.collect_list(F.struct("event_type", "cnt")))
        ).alias("m")
    )
    filt = m.select(
        "user_id", "m", F.map_filter("m", lambda k, v: v >= 3).alias("kept")
    )
    doubled = filt.select(
        "user_id",
        "m",
        "kept",
        F.transform_values("kept", lambda k, v: v * 2).alias("kept2"),
    )

    def canon(mp: str):
        col = F.col(mp)
        return F.array_join(
            F.transform(
                F.map_keys(col),
                lambda k: F.concat(
                    k, F.lit(":"), F.element_at(col, k).cast("string")
                ),
            ),
            ",",
        )

    return doubled.select(
        "user_id",
        canon("m").alias("all_counts"),
        canon("kept2").alias("kept_doubled"),
        F.size("m").cast("long").alias("n_types"),
        F.size("kept").cast("long").alias("kept_types"),
    )


@register(
    "grouped_stats_arrow",
    """
    SELECT o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(MIN(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT))
                AS BIGINT) AS min_cents,
           CAST(MAX(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT))
                AS BIGINT) AS max_cents,
           CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT))
                AS BIGINT) AS sum_cents
    FROM orders GROUP BY o_orderpriority
    """,
)
def q_grouped_stats_arrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped ``applyInArrow`` (Spark 4) — the zero-copy grouped-Python
    surface completing the execution matrix next to applyInPandas
    (grouped_zscore_pandas), cogrouped applyInPandas, mapInArrow
    (doc_token_stats_arrow) and the Arrow UDTF: each order-priority group
    arrives as ONE pyarrow.Table and per-group stats are computed with
    pyarrow.compute kernels (no pandas conversion, no Python-object
    round-trip). Integer cents make every stat exact in both engines. The
    semantics are deliberately a plain aggregate so the oracle fully
    value-checks the Arrow path; a real workload would use this shape for
    per-group logic SQL can't express (per-entity model scoring, custom
    sketch merges)."""
    import pyarrow as pa
    import pyarrow.compute as pc

    o = table_scan(spark, sf_dir, "orders").select(
        "o_orderpriority",
        (F.col("o_totalprice").cast("decimal(18,2)") * 100)
        .cast("long")
        .alias("cents"),
    )

    def stats(table: "pa.Table") -> "pa.Table":
        c = table.column("cents")
        return pa.table(
            {
                "o_orderpriority": [table.column("o_orderpriority")[0].as_py()],
                "n": pa.array([table.num_rows], type=pa.int64()),
                "min_cents": pa.array([pc.min(c).as_py()], type=pa.int64()),
                "max_cents": pa.array([pc.max(c).as_py()], type=pa.int64()),
                "sum_cents": pa.array([pc.sum(c).as_py()], type=pa.int64()),
            }
        )

    return o.groupBy("o_orderpriority").applyInArrow(
        stats,
        schema="o_orderpriority string, n long, min_cents long, "
        "max_cents long, sum_cents long",
    )


@register(
    "agg_functions_modern",
    """
    SELECT r_name,
           string_agg(n_name, ',' ORDER BY n_name) AS nations,
           arg_max(n_name, n_nationkey) AS max_key_nation,
           arg_min(n_name, n_nationkey) AS min_key_nation,
           CAST(COUNT(*) FILTER (WHERE n_nationkey % 2 = 0) AS BIGINT)
             AS even_keys,
           bool_or(n_nationkey > 20) AS has_high_key
    FROM nation JOIN region ON n_regionkey = r_regionkey
    GROUP BY r_name
    """,
)
def q_agg_functions_modern(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Modern aggregate surface added in Spark 4.x: ``listagg ... WITHIN
    GROUP (ORDER BY ...)`` (deterministic ordered concatenation — the ANSI
    form, not a collect_list+array_join workaround), ``max_by``/``min_by``
    (DuckDB arg_max/arg_min) over unique keys, ``count_if``, and
    ``bool_or`` — each the idiomatic one-pass form of a pattern that
    otherwise costs a self-join or a window. Grouped per region over the
    nation dim (keys unique ⇒ every aggregate deterministic). mode() is
    deliberately absent: its tie-break order differs between engines."""
    n = table_scan(spark, sf_dir, "nation")
    r = table_scan(spark, sf_dir, "region")
    n.join(
        F.broadcast(r), n["n_regionkey"] == r["r_regionkey"]
    ).createOrReplaceTempView("bdec_r6_nation_region")
    return spark.sql(
        """
        SELECT r_name,
               listagg(n_name, ',') WITHIN GROUP (ORDER BY n_name) AS nations,
               max_by(n_name, n_nationkey) AS max_key_nation,
               min_by(n_name, n_nationkey) AS min_key_nation,
               count_if(n_nationkey % 2 = 0) AS even_keys,
               bool_or(n_nationkey > 20) AS has_high_key
        FROM bdec_r6_nation_region
        GROUP BY r_name
        """
    )


@register(
    "parquet_sized_files_write",
    """
    WITH t AS (SELECT COUNT(*) AS total FROM orders)
    SELECT CAST(CEIL(total / 5000.0) AS BIGINT) AS n_files,
           CAST(total AS BIGINT) AS total_rows,
           CAST(LEAST(total, 5000) AS BIGINT) AS max_file_rows,
           CAST(total - (CEIL(total / 5000.0) - 1) * 5000 AS BIGINT)
             AS last_file_rows
    FROM t
    """,
)
def q_parquet_sized_files_write(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-size governance — the small-files/large-files control every
    100 TB lakehouse write needs: orders are landed once per session with
    ``maxRecordsPerFile=5000`` from a single writer task, so the layout is
    deterministic (⌈total/5000⌉ sequential chunks). The AUDIT reads the
    landing back and derives the file statistics from the
    ``_metadata.file_name`` hidden column — per-file row counts, file
    count, and the short last chunk — and the oracle recomputes all of
    them from arithmetic over COUNT(*) alone, so the driver check proves
    the writer actually honored the record cap. (In production the cap
    pairs with AQE advisory partition sizes; one task is used here only to
    pin determinism.)"""
    staging = staged_dir(
        spark,
        "sized_orders:" + source_fingerprint(sf_dir, "orders"),
        lambda out: table_scan(spark, sf_dir, "orders")
        .select("o_orderkey", "o_totalprice")
        .repartition(1)
        .sortWithinPartitions("o_orderkey")
        .write.option("maxRecordsPerFile", 5000)
        .parquet(str(out)),
    )
    per_file = (
        spark.read.parquet(str(staging))
        .groupBy(F.col("_metadata.file_name").alias("f"))
        .agg(F.count(F.lit(1)).alias("rows"))
    )
    return per_file.agg(
        F.count(F.lit(1)).alias("n_files"),
        F.sum("rows").alias("total_rows"),
        F.max("rows").alias("max_file_rows"),
        F.min("rows").alias("last_file_rows"),
    )


# ---------------------------------------------------------------------------
# round 7: modern SQL surface — unpivot, pipe syntax, parameterized SQL,
# collation-aware grouping, correlated LATERAL
# ---------------------------------------------------------------------------

@register(
    "unpivot_metrics",
    """
    WITH agg AS (
      SELECT c_mktsegment,
             CAST(COUNT(*) AS BIGINT) AS cnt,
             CAST(SUM(CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT))
                  AS BIGINT) AS bal_cents,
             CAST(MIN(c_custkey) AS BIGINT) AS min_key,
             CAST(MAX(c_custkey) AS BIGINT) AS max_key
      FROM customer GROUP BY c_mktsegment
    )
    SELECT c_mktsegment, metric, val
    FROM agg UNPIVOT (val FOR metric IN (cnt, bal_cents, min_key, max_key))
    """,
)
def q_unpivot_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide→long reshaping via the native ``DataFrame.unpivot`` (SQL
    UNPIVOT / melt) — the inverse of `pivot_event_types` and the standard
    way to turn a metrics-per-column aggregate into a (key, metric, value)
    fact for generic downstream consumers (dashboards, metric stores).
    Spark's unpivot is a zero-shuffle Expand node over the already-reduced
    aggregate — at 100 TB the only shuffle is the upstream groupBy; the
    reshape itself is free. All four metrics are BIGINT so the long `val`
    column needs no lossy common-type coercion. Oracle: DuckDB UNPIVOT of
    the identical aggregate."""
    c = table_scan(spark, sf_dir, "customer")
    cents = (F.col("c_acctbal").cast("decimal(18,2)") * 100).cast("long")
    agg = c.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("cnt"),
        F.sum(cents).alias("bal_cents"),
        F.min("c_custkey").alias("min_key"),
        F.max("c_custkey").alias("max_key"),
    )
    return agg.unpivot(
        ["c_mktsegment"],
        ["cnt", "bal_cents", "min_key", "max_key"],
        "metric",
        "val",
    )


@register(
    "sql_pipe_syntax",
    """
    SELECT o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS order_cnt,
           CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT))
                AS BIGINT) AS cents
    FROM orders
    WHERE o_orderstatus = 'F'
    GROUP BY o_orderpriority
    """,
)
def q_sql_pipe_syntax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4's SQL pipe syntax (`|>` operators, SQL:2023-adjacent): the
    same filter→extend→aggregate chain a DataFrame expresses, written as a
    linear pipeline. Pipe stages are pure sugar — Catalyst plans this
    identically to the plain GROUP BY oracle (scan with pushed filter,
    partial/final hash agg), so the surface costs nothing at scale."""
    table_scan(spark, sf_dir, "orders").createOrReplaceTempView(
        "bdec_r7_orders_pipe"
    )
    return spark.sql(
        """
        FROM bdec_r7_orders_pipe
        |> WHERE o_orderstatus = 'F'
        |> EXTEND CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
             AS price_cents
        |> AGGREGATE COUNT(*) AS order_cnt, SUM(price_cents) AS cents
             GROUP BY o_orderpriority
        """
    )


@register(
    "sql_parameterized_filter",
    """
    SELECT o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS order_cnt,
           CAST(MIN(o_orderkey) AS BIGINT) AS min_orderkey
    FROM orders
    WHERE o_orderstatus = 'O'
      AND CAST(o_totalprice AS DECIMAL(18,2)) >= 50000.00
    GROUP BY o_orderpriority
    """,
)
def q_sql_parameterized_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parameterized ``spark.sql`` (named-marker binding, Spark 3.4+) —
    the injection-safe templating surface every query service needs.
    Parameters bind as literals BEFORE analysis, so Catalyst still
    constant-folds and pushes the predicate into the parquet scan exactly
    as if it were inlined; the oracle is the same query with the
    parameters spelled out."""
    table_scan(spark, sf_dir, "orders").createOrReplaceTempView(
        "bdec_r7_orders_param"
    )
    return spark.sql(
        """
        SELECT o_orderpriority,
               COUNT(*) AS order_cnt,
               MIN(o_orderkey) AS min_orderkey
        FROM bdec_r7_orders_param
        WHERE o_orderstatus = :status
          AND CAST(o_totalprice AS DECIMAL(18,2)) >= :min_price
        GROUP BY o_orderpriority
        """,
        args={"status": "O", "min_price": 50000.00},
    )


@register(
    "string_collation_group",
    """
    WITH cased AS (
      SELECT CASE WHEN c_custkey % 3 = 0 THEN lower(c_mktsegment)
                  WHEN c_custkey % 3 = 1 THEN c_mktsegment
                  ELSE concat(upper(substr(c_mktsegment, 1, 1)),
                              lower(substr(c_mktsegment, 2)))
             END AS seg_cased,
             c_custkey
      FROM customer
    )
    SELECT lower(seg_cased) AS segment,
           CAST(COUNT(*) AS BIGINT) AS cnt,
           CAST(COUNT(DISTINCT seg_cased) AS BIGINT) AS case_variants
    FROM cased GROUP BY lower(seg_cased)
    """,
)
def q_string_collation_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collation-aware grouping — Spark 4 collations (``UTF8_LCASE``)
    make case-insensitive semantics a TYPE property instead of a
    lower()-wrapper convention: the groupBy key is the collated column
    itself, comparisons/joins/aggs all honor it, and (unlike the
    lower() rewrite) the optimizer can still prune and push down on the
    original column. A deterministically re-cased segment column is
    grouped under UTF8_LCASE; `case_variants` counts the DISTINCT
    original-case spellings folded into each group — under the collated
    type the distinct-count is on the BINARY (case-exact) collation so
    each spelling still counts separately. The emitted key is lower()ed
    because the collated group representative (first-seen spelling) is
    legitimately engine-unspecified."""
    c = table_scan(spark, sf_dir, "customer")
    seg = F.col("c_mktsegment")
    cased = c.select(
        F.when(F.col("c_custkey") % 3 == 0, F.lower(seg))
        .when(F.col("c_custkey") % 3 == 1, seg)
        .otherwise(F.initcap(F.lower(seg)))
        .alias("seg_cased")
    )
    return (
        cased.select(F.collate(F.col("seg_cased"), "UTF8_LCASE").alias("k"))
        .groupBy("k")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.count_distinct(
                F.collate(F.col("k"), "UTF8_BINARY")
            ).alias("case_variants"),
        )
        .select(
            F.lower(F.col("k")).cast("string").alias("segment"),
            "cnt",
            "case_variants",
        )
    )


@register(
    "sql_lateral_correlated",
    """
    SELECT m.c_mktsegment, l.c_custkey, l.bal_cents
    FROM (SELECT DISTINCT c_mktsegment FROM customer) m,
         LATERAL (
           SELECT c_custkey,
                  CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT)
                    AS bal_cents
           FROM customer c
           WHERE c.c_mktsegment = m.c_mktsegment
           ORDER BY bal_cents DESC, c_custkey
           LIMIT 3
         ) l
    """,
)
def q_sql_lateral_correlated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated LATERAL subquery — the SQL spelling of per-group top-k
    (`topk_per_group` is the DataFrame/window twin). Spark decorrelates
    the LATERAL into a ranked window over one shuffle of the inner table —
    no per-driving-row re-execution — so the plan is the same
    partition-local sort + filter you would write by hand; ties are broken
    by the unique custkey so both engines pick identical rows."""
    table_scan(spark, sf_dir, "customer").createOrReplaceTempView(
        "bdec_r7_customer_lat"
    )
    return spark.sql(
        """
        SELECT m.c_mktsegment, l.c_custkey, l.bal_cents
        FROM (SELECT DISTINCT c_mktsegment FROM bdec_r7_customer_lat) m,
             LATERAL (
               SELECT c_custkey,
                      CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT)
                        AS bal_cents
               FROM bdec_r7_customer_lat c
               WHERE c.c_mktsegment = m.c_mktsegment
               ORDER BY bal_cents DESC, c_custkey
               LIMIT 3
             ) l
        """
    )


# ---------------------------------------------------------------------------
# round 7: systems surface — Python DataSource write path, left-outer
# stream-stream join
# ---------------------------------------------------------------------------

@register(
    "python_datasource_write",
    """
    SELECT lang, source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars
    FROM documents GROUP BY lang, source
    """,
)
def q_python_datasource_write(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom Python DataSource WRITE path (Spark 4 DSv2) — completes the
    connector matrix (batch read with pushFilters, distributed streaming
    read, now a writable sink): documents flow through
    ``df.write.format("jsonl_audit_sink")`` into a two-phase-commit JSONL
    sink (executors stage uniquely-named files, the driver publishes
    part-N names + a _SUCCESS manifest only after all tasks succeed —
    sources/python_datasource.py:JsonlSinkWriter). The returned aggregate
    runs over the FILES READ BACK from the sink, so the oracle equality
    over the original table proves the writer committed every row exactly
    once — a lost task file or double-published stage would break the
    counts. Write parallelism is the upstream partitioning (4 tasks here,
    N at scale); the commit is O(files) driver metadata, the data path
    never funnels through the driver."""
    import json as _json

    from ..sources.python_datasource import register_jsonl_sink

    register_jsonl_sink(spark)
    # a fresh sink root per call: a commit/abort rmtree of a shared root
    # would delete a concurrent writer's staged files (ADVICE r7)
    out = Path(tempfile.mkdtemp(dir=session_workspace(spark)))
    src = table_scan(spark, sf_dir, "documents").select(
        "doc_id", "lang", "source", "n_chars"
    )
    n_src = src.count()
    (
        src.repartition(4, "doc_id")
        .write.format("jsonl_audit_sink")
        .mode("overwrite")
        .save(str(out))
    )
    # the commit protocol's own receipt: _SUCCESS is written LAST, so its
    # presence + row count is the transactional proof the read-back relies on
    success = out / "_SUCCESS"
    if not success.exists():
        raise RuntimeError(f"jsonl_audit_sink commit left no _SUCCESS in {out}")
    manifest = _json.loads(success.read_text())
    if manifest.get("rows") != n_src:
        raise RuntimeError(
            f"_SUCCESS rows {manifest.get('rows')} != source rows {n_src}"
        )
    schema = StructType(
        [
            StructField("doc_id", LongType()),
            StructField("lang", StringType()),
            StructField("source", StringType()),
            StructField("n_chars", LongType()),
        ]
    )
    return (
        spark.read.schema(schema)
        .json(str(out / "part-*.jsonl"))
        .groupBy("lang", "source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
        )
    )


@register(
    "grouped_agg_pandas_udf",
    """
    SELECT l_returnflag,
           CAST(COUNT(*) AS BIGINT) AS n_lines,
           CAST(CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100
                             AS BIGINT)
                         * CAST(l_quantity AS BIGINT)) AS HUGEINT)
                // CAST(SUM(CAST(l_quantity AS BIGINT)) AS HUGEINT)
                AS BIGINT) AS wmean_cents
    FROM lineitem GROUP BY l_returnflag
    """,
)
def q_grouped_agg_pandas_udf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUPED_AGG pandas UDF — the last cell of the grouped-Python
    matrix (applyInPandas ✓, applyInArrow ✓, cogroup ✓, scalar arrow_udf
    ✓; here the Series→scalar AGGREGATE form that drops into a normal
    ``groupBy().agg`` next to JVM aggregates): quantity-weighted mean
    price per returnflag in exact int64 (cents·qty sums stay < 2⁶³ to
    SF ≈ 100; floor division matches the HUGEINT oracle bit-for-bit).
    The plan's AggregateInPandas node receives Arrow batches per group —
    partial aggregation is NOT available to Python aggs (the whole group
    ships), which is exactly why the sweep tracks this node type and the
    docstring of every user of it must justify group sizes; returnflag
    has 3 dim-sized groups."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    def _wmean(cents, qty):
        return int(cents.mul(qty).sum() // qty.sum())

    # real type objects, not strings: `from __future__ import annotations`
    # would stringify inline hints and pandas_udf cannot infer GROUPED_AGG
    _wmean.__annotations__ = {"cents": pd.Series, "qty": pd.Series, "return": int}
    wmean_cents = pandas_udf(_wmean, "long")

    def _n(qty):
        return len(qty)

    # pandas aggregates cannot mix with JVM aggregates in one agg()
    # (INVALID_PANDAS_UDF_PLACEMENT) — the row count is a pandas agg too
    _n.__annotations__ = {"qty": pd.Series, "return": int}
    n_rows = pandas_udf(_n, "long")

    li = table_scan(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        (F.col("l_extendedprice").cast("decimal(18,2)") * 100)
        .cast("long")
        .alias("cents"),
        F.col("l_quantity").cast("long").alias("qty"),
    )
    return li.groupBy("l_returnflag").agg(
        n_rows("qty").alias("n_lines"),
        wmean_cents("cents", "qty").alias("wmean_cents"),
    )


@register(
    "udtf_analyze_kv_columns",
    """
    SELECT event_type AS t,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT))
                AS BIGINT) AS cents
    FROM events GROUP BY event_type
    """,
)
def q_udtf_analyze_kv_columns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Polymorphic Python UDTF — ``analyze()`` computes the OUTPUT SCHEMA
    from a constant argument at plan time (the Spark 4 API that lets one
    table function serve any key set, the way a real telemetry KV
    exploder must): events are serialized to a k=v;k=v line, the UDTF is
    asked for columns 't,v' via LATERAL, and the extracted columns
    re-aggregate to the per-type cents totals the oracle computes from
    the raw table — a full round-trip proof that the dynamic schema and
    the extraction agree. ``useArrow=True`` keeps it ArrowEvalPythonUDTF
    (the row-at-a-time variant is sweep-banned); the static-schema twin
    is doc_udtf_sentence_split."""
    from pyspark.sql.functions import udtf
    from pyspark.sql.udtf import AnalyzeArgument, AnalyzeResult

    @udtf(useArrow=True)
    class KVExpand:
        @staticmethod
        def analyze(kv: AnalyzeArgument, keys: AnalyzeArgument) -> AnalyzeResult:
            wanted = [k.strip() for k in keys.value.split(",")]
            return AnalyzeResult(
                StructType([StructField(k, StringType()) for k in wanted])
            )

        def eval(self, kv: str, keys: str):
            wanted = [k.strip() for k in keys.split(",")]
            d = dict(p.split("=", 1) for p in kv.split(";") if "=" in p)
            yield tuple(d.get(k) for k in wanted)

    spark.udtf.register("bdec_kv_expand", KVExpand)
    e = table_scan(spark, sf_dir, "events")
    cents = (F.col("value").cast("decimal(18,2)") * 100).cast("long")
    e.select(
        F.concat(
            F.lit("t="),
            F.col("event_type"),
            F.lit(";u="),
            F.col("user_id").cast("string"),
            F.lit(";v="),
            cents.cast("string"),
        ).alias("kv")
    ).createOrReplaceTempView("bdec_r7_kv_events")
    return spark.sql(
        """
        SELECT x.t, COUNT(*) AS n, SUM(CAST(x.v AS BIGINT)) AS cents
        FROM bdec_r7_kv_events, LATERAL bdec_kv_expand(kv, 't,v') x
        GROUP BY x.t
        """
    )


@register(
    "sql_scripting_variables",
    """
    WITH c AS (
      SELECT o_orderpriority,
             CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
               AS cents
      FROM orders
    ),
    thr AS (SELECT CAST(SUM(cents) AS BIGINT) // COUNT(*) AS t FROM c)
    SELECT o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_above,
           t AS threshold_cents
    FROM c CROSS JOIN thr WHERE cents > t
    GROUP BY o_orderpriority, t
    """,
)
def q_sql_scripting_variables(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL scripting (Spark 4 BEGIN…END, SQL/PSM-style) with a local
    variable — the procedural-SQL surface migrations from warehouse
    stored procedures need: the script computes the corpus-wide average
    order value into a DECLAREd variable with one statement, then uses it
    as a scalar predicate in the next. The variable binds as a literal at
    the second statement's analysis, so the filter still pushes down —
    procedurality costs nothing in the plan (this is the scripted twin of
    `tpch_q11_important_parts`' scalar-broadcast shape; the script's SET
    runs the aggregate as its own tiny job first). Threshold is exact
    integer cents (decimal per-row cast, floor-div average) so both
    engines cut identically."""
    table_scan(spark, sf_dir, "orders").createOrReplaceTempView(
        "bdec_r7_orders_script"
    )
    return spark.sql(
        """
        BEGIN
          DECLARE thr BIGINT DEFAULT 0;
          SET thr = (
            SELECT SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                            AS BIGINT)) DIV COUNT(*)
            FROM bdec_r7_orders_script
          );
          SELECT o_orderpriority,
                 COUNT(*) AS n_above,
                 thr AS threshold_cents
          FROM bdec_r7_orders_script
          WHERE CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
                  > thr
          GROUP BY o_orderpriority;
        END
        """
    )


@register(
    "map_functions_extended",
    """
    WITH c AS (
      SELECT user_id,
             CASE WHEN CAST(ts AS DATE) <= DATE '2024-01-15'
                  THEN 'h1' ELSE 'h2' END AS half,
             event_type, CAST(COUNT(*) AS BIGINT) AS cnt
      FROM events WHERE user_id < 40 GROUP BY 1, 2, 3
    ),
    tot AS (
      SELECT user_id, event_type, CAST(SUM(cnt) AS BIGINT) AS total
      FROM c GROUP BY user_id, event_type
    )
    SELECT t.user_id,
           (SELECT string_agg(upper(event_type) || ':'
                              || CAST(total AS VARCHAR), ','
                              ORDER BY upper(event_type) || ':'
                                       || CAST(total AS VARCHAR))
            FROM tot t2 WHERE t2.user_id = t.user_id) AS merged_upper,
           (SELECT string_agg(half || '_' || event_type || ':'
                              || CAST(cnt AS VARCHAR), ','
                              ORDER BY half || '_' || event_type || ':'
                                       || CAST(cnt AS VARCHAR))
            FROM c c2 WHERE c2.user_id = t.user_id) AS halves,
           CAST(COUNT(*) AS BIGINT) AS n_types
    FROM tot t GROUP BY t.user_id
    """,
)
def q_map_functions_extended(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The REMAINING MapType higher-order functions (`map_functions`
    covers map_from_entries / map_filter / transform_values / map_keys /
    element_at): per-user first-half vs second-half event-count maps are
    merged with ``map_zip_with`` (union of key sets, null-padded sides
    coalesced), re-keyed with ``transform_keys`` (upper-cased), and
    namespaced+combined with ``map_concat`` over disjoint prefixed keys.
    Outputs canonicalize as LEXICOGRAPHICALLY SORTED entry strings
    (array_sort over map_entries renderings) — map key ORDER is
    construction-dependent and engine-specific, so sorting the rendered
    entries is the only portable serialization; all lambdas are JVM
    codegen."""
    e = table_scan(spark, sf_dir, "events").filter(F.col("user_id") < 40)
    half = F.when(F.to_date("ts") <= F.lit("2024-01-15").cast("date"), "h1").otherwise(
        "h2"
    )
    cnts = (
        e.select("user_id", half.alias("half"), "event_type")
        .groupBy("user_id", "half", "event_type")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )

    def half_map(tag: str):
        return F.map_from_entries(
            F.array_sort(
                F.collect_list(
                    F.when(
                        F.col("half") == tag, F.struct("event_type", "cnt")
                    )
                )
            )
        )

    # collect_list drops the NULLs the when() emits for the other half
    maps = cnts.groupBy("user_id").agg(
        half_map("h1").alias("m1"), half_map("h2").alias("m2")
    )
    merged = maps.select(
        "user_id",
        "m1",
        "m2",
        F.map_zip_with(
            "m1",
            "m2",
            lambda k, v1, v2: F.coalesce(v1, F.lit(0)) + F.coalesce(v2, F.lit(0)),
        ).alias("mm"),
    )
    upperized = merged.select(
        "user_id",
        "m1",
        "m2",
        F.transform_keys("mm", lambda k, v: F.upper(k)).alias("mu"),
    )
    combined = upperized.select(
        "user_id",
        "mu",
        F.map_concat(
            F.transform_keys("m1", lambda k, v: F.concat(F.lit("h1_"), k)),
            F.transform_keys("m2", lambda k, v: F.concat(F.lit("h2_"), k)),
        ).alias("mc"),
    )

    def canon(mp: str):
        return F.array_join(
            F.array_sort(
                F.transform(
                    F.map_entries(F.col(mp)),
                    lambda kv: F.concat(
                        kv["key"], F.lit(":"), kv["value"].cast("string")
                    ),
                )
            ),
            ",",
        )

    return combined.select(
        "user_id",
        canon("mu").alias("merged_upper"),
        canon("mc").alias("halves"),
        F.size("mu").cast("long").alias("n_types"),
    )


@register(
    "try_arithmetic_functions",
    """
    WITH c AS (
      SELECT o_orderpriority,
             CASE WHEN o_orderkey % 7 = 0 THEN NULL
                  ELSE 100.0 / CAST(o_orderkey % 7 AS DOUBLE) END AS d,
             CASE WHEN o_orderkey > 1000 THEN NULL
                  ELSE 9223372036854774807 + o_orderkey END AS a
      FROM orders
    )
    SELECT o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(COUNT(*) - COUNT(d) AS BIGINT) AS n_div_null,
           CAST(SUM(CAST(d AS DECIMAL(18,6))) AS DOUBLE) AS div_sum,
           CAST(COUNT(*) - COUNT(a) AS BIGINT) AS n_add_overflow
    FROM c GROUP BY o_orderpriority
    """,
)
def q_try_arithmetic_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Error-safe arithmetic (`try_divide` / `try_add`, the ANSI-mode
    escape hatches): division by zero and int64 overflow return NULL
    instead of failing the job — the semantics a 100 TB pipeline needs so
    one poisoned row cannot kill a stage. Division-by-zero cells are
    `o_orderkey % 7 = 0`; overflow cells add the orderkey to
    (MAX_LONG − 1000), so keys above 1000 overflow and the rest land just
    under the ceiling — both outcomes counted per priority, with the
    surviving quotients summed through the exact-decimal idiom. The
    oracle replays both NULL rules with explicit CASE guards (DuckDB has
    no try_* family; its `//0` raises like ANSI Spark would)."""
    o = table_scan(spark, sf_dir, "orders")
    c = o.select(
        "o_orderpriority",
        F.try_divide(
            F.lit(100.0), (F.col("o_orderkey") % 7).cast("double")
        ).alias("d"),
        F.try_add(F.lit(9223372036854774807), F.col("o_orderkey")).alias("a"),
    )
    return c.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n"),
        (F.count(F.lit(1)) - F.count("d")).alias("n_div_null"),
        F.sum(F.col("d").cast("decimal(18,6)")).cast("double").alias("div_sum"),
        (F.count(F.lit(1)) - F.count("a")).alias("n_add_overflow"),
    )


@register(
    "sql_group_by_all",
    """
    SELECT l_returnflag, l_linestatus,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1995-01-01'
    GROUP BY ALL
    ORDER BY ALL
    """,
)
def q_sql_group_by_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUP BY ALL / ORDER BY ALL (Spark 3.4+/4 modern SQL sugar, same
    dialect as DuckDB — the oracle IS the identical statement): every
    non-aggregate select item becomes a grouping key, every output column
    an order key. Resolves at analysis time to a plain hash aggregate +
    sort — zero plan difference from spelling the columns out, so
    pushdown, partial agg, and AQE all behave identically; the decimal-sum
    idiom keeps the double exact cross-engine."""
    li = table_scan(spark, sf_dir, "lineitem")
    li.createOrReplaceTempView("li_gba")
    return spark.sql(
        """
        SELECT l_returnflag, l_linestatus,
               COUNT(*) AS n_rows,
               CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty
        FROM li_gba
        WHERE l_shipdate >= TIMESTAMP '1995-01-01'
        GROUP BY ALL
        ORDER BY ALL
        """
    )


@register(
    "sql_identifier_clause",
    """
    SELECT l_returnflag,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def q_sql_identifier_clause(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The IDENTIFIER() clause (Spark 3.4+) — parameterizing TABLE and
    COLUMN names safely, completing the parameterized-SQL surface
    (sql_parameterized_filter binds VALUES; this binds IDENTIFIERS):
    `IDENTIFIER(:tbl)` / `IDENTIFIER(:grp)` resolve at analysis time from
    named parameters, so no string concatenation (no SQL injection) and
    the resolved plan is byte-identical to the literal query — pushdown,
    partial agg, and AQE unaffected. The oracle replays the RESOLVED
    query (DuckDB has no IDENTIFIER clause — resolution happens before
    any engine-visible semantics)."""
    li = table_scan(spark, sf_dir, "lineitem")
    li.createOrReplaceTempView("li_ident")
    return spark.sql(
        """
        SELECT IDENTIFIER(:grp),
               COUNT(*) AS n_rows,
               CAST(SUM(CAST(IDENTIFIER(:qty) AS DECIMAL(18,4))) AS DOUBLE)
                 AS sum_qty
        FROM IDENTIFIER(:tbl)
        GROUP BY IDENTIFIER(:grp)
        """,
        args={"tbl": "li_ident", "grp": "l_returnflag", "qty": "l_quantity"},
    )


@register(
    "dq_k_anonymity",
    """
    WITH g AS (
      SELECT n_name, c_mktsegment, CAST(COUNT(*) AS BIGINT) AS n_rows
      FROM customer JOIN nation ON c_nationkey = n_nationkey
      GROUP BY n_name, c_mktsegment
    )
    SELECT n_name, c_mktsegment, n_rows, n_rows >= 5 AS k_anonymous
    FROM g
    """,
)
def q_dq_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity audit (k=5) over the quasi-identifier pair
    (nation, market segment) — the privacy companion to doc_pii_scrub:
    any equivalence class smaller than k re-identifies its members, so
    the release decision is per-GROUP, flagged here as a boolean on the
    grouped counts (suppression/generalization is then a filter/rollup
    on the flagged classes). One grouped count with the dim broadcast —
    the audit costs one partial-agg shuffle at any table size."""
    cust = table_scan(spark, sf_dir, "customer").select(
        "c_mktsegment", "c_nationkey"
    )
    nat = table_scan(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    g = (
        cust.join(F.broadcast(nat), cust["c_nationkey"] == nat["n_nationkey"])
        .groupBy("n_name", "c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n_rows"))
    )
    return g.select(
        "n_name", "c_mktsegment", "n_rows", (F.col("n_rows") >= 5).alias("k_anonymous")
    )


@register(
    "join_runtime_bloom_filter",
    """
    SELECT l_returnflag,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE)
             AS revenue
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    WHERE o_orderpriority = '1-URGENT'
    GROUP BY l_returnflag
    """,
)
def q_join_runtime_bloom_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Runtime bloom-filter join pruning — Spark's dynamic
    semi-join-reduction (SPARK-32268): when a selective filter sits on the
    build side of a shuffle join, the optimizer injects a
    bloom_filter_agg subquery over the filtered keys and a might_contain
    predicate on the probe side, so most probe rows die AT THE SCAN
    instead of riding the shuffle — at 100 TB this is the difference
    between shuffling the whole fact table and shuffling the ~matching
    slice. Runs on an isolated `spark.newSession()` (shared SparkContext,
    own SQLConf) so the thresholds that make the demo deterministic at
    test scale — creation-side cap raised, probe-side scan floor zeroed,
    broadcast disabled to force the shuffle join that bloom pruning
    targets — never leak into other queries' plans.
    tests/test_round7c_ops.py asserts might_contain is in the physical
    plan; the result itself equals the plain join (bloom has no false
    negatives), which is what the oracle checks."""
    s2 = spark.newSession()
    s2.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
    s2.conf.set(
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold", "100MB"
    )
    s2.conf.set(
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
        "0",
    )
    s2.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    o = (
        table_scan(s2, sf_dir, "orders")
        .filter(F.col("o_orderpriority") == "1-URGENT")
        .select("o_orderkey")
    )
    li = table_scan(s2, sf_dir, "lineitem").select(
        "l_orderkey", "l_returnflag", "l_extendedprice"
    )
    j = li.join(o, li["l_orderkey"] == o["o_orderkey"])
    return j.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n_rows"),
        _dsum(F.col("l_extendedprice"), alias="revenue"),
    )


@register(
    "sql_udf_scalar",
    """
    SELECT o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(CASE
             WHEN CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
                  >= 20000000 THEN 3
             WHEN CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
                  >= 10000000 THEN 2
             ELSE 1 END) AS BIGINT) AS total_tier_points
    FROM orders GROUP BY o_orderpriority
    """,
)
def q_sql_udf_scalar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL scalar UDFs (CREATE TEMPORARY FUNCTION … RETURN expr, Spark
    3.5+) — reusable business logic WITHOUT leaving the JVM: the function
    body is inlined into the plan at analysis time, so it costs exactly
    what the written-out CASE costs (whole-stage codegen, pushdown — zero
    UDF overhead, unlike Python/pandas UDFs) while keeping one canonical
    definition. Two functions compose (cents() inside tier_points()), and
    the oracle replays the INLINED expression — proof the indirection is
    semantics-free."""
    s2 = spark.newSession()
    li = table_scan(s2, sf_dir, "orders")
    li.createOrReplaceTempView("orders_udf_demo")
    s2.sql(
        "CREATE OR REPLACE TEMPORARY FUNCTION to_cents(p DOUBLE)"
        " RETURNS BIGINT RETURN CAST(CAST(p AS DECIMAL(18,2)) * 100 AS BIGINT)"
    )
    s2.sql(
        "CREATE OR REPLACE TEMPORARY FUNCTION tier_points(p DOUBLE)"
        " RETURNS INT RETURN CASE WHEN to_cents(p) >= 20000000 THEN 3"
        " WHEN to_cents(p) >= 10000000 THEN 2 ELSE 1 END"
    )
    return s2.sql(
        """
        SELECT o_orderpriority,
               COUNT(*) AS n_orders,
               CAST(SUM(tier_points(o_totalprice)) AS BIGINT)
                 AS total_tier_points
        FROM orders_udf_demo GROUP BY o_orderpriority
        """
    )


@register(
    "set_ops_all_bag_semantics",
    """
    SELECT nationkey, kind FROM (
      SELECT c_nationkey AS nationkey, 'common_multiplicity' AS kind
      FROM customer
      INTERSECT ALL
      SELECT s_nationkey, 'common_multiplicity' FROM supplier
    )
    UNION ALL
    SELECT nationkey, kind FROM (
      SELECT c_nationkey AS nationkey, 'customer_surplus' AS kind
      FROM customer
      EXCEPT ALL
      SELECT s_nationkey, 'customer_surplus' FROM supplier
    )
    """,
)
def q_set_ops_all_bag_semantics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT ALL / EXCEPT ALL — BAG semantics (multiplicity
    min / multiplicity difference), completing the set-operator family
    next to the distinct-semantics set_ops_intersect_except: per nation
    key, INTERSECT ALL keeps min(#customers, #suppliers) copies and
    EXCEPT ALL keeps the surplus — the relational way to compare
    multiplicities without ever building count columns by hand. Spark
    plans both as aggregate+generate (count min / count difference then
    replicate), one shuffle each — no join."""
    c = table_scan(spark, sf_dir, "customer").select(
        F.col("c_nationkey").alias("nationkey")
    )
    s = table_scan(spark, sf_dir, "supplier").select(
        F.col("s_nationkey").alias("nationkey")
    )
    common = (
        c.withColumn("kind", F.lit("common_multiplicity"))
        .intersectAll(s.withColumn("kind", F.lit("common_multiplicity")))
    )
    surplus = (
        c.withColumn("kind", F.lit("customer_surplus"))
        .exceptAll(s.withColumn("kind", F.lit("customer_surplus")))
    )
    return common.unionByName(surplus)


@register(
    "window_ntile_quartiles_scaled",
    """
    WITH v AS (
      SELECT o_orderkey,
             CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS c
      FROM orders
    ),
    n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM v),
    r AS (SELECT c, ROW_NUMBER() OVER (ORDER BY c) AS rn FROM v),
    cuts AS (
      SELECT MAX(CASE WHEN rn = (1*n + 3) // 4 THEN c END) AS c1,
             MAX(CASE WHEN rn = (2*n + 3) // 4 THEN c END) AS c2,
             MAX(CASE WHEN rn = (3*n + 3) // 4 THEN c END) AS c3
      FROM r CROSS JOIN n
    )
    SELECT o_orderkey,
           CAST(CASE WHEN c <= c1 THEN 1 WHEN c <= c2 THEN 2
                     WHEN c <= c3 THEN 3 ELSE 4 END AS INT) AS price_quartile
    FROM v CROSS JOIN cuts
    """,
)
def q_window_ntile_quartiles_scaled(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Scale-path twin of window_ntile_quartiles (VERDICT r7 ask #7): the
    global-sort NTILE is replaced by VALUE-based quartiles against exact
    rank cutoffs from the distributed selection kernel
    (_exact_rank_cutoffs) — no row of the fact table ever passes through a
    single-partition window; the only global window is the ≤1024-row
    histogram walk. Semantics shift from NTILE's equal-count buckets
    (ties split across buckets by position) to value buckets (ties share a
    bucket — the stable definition under distribution); cutoff_i is the
    exact ceil(i·n/4)-th smallest price in integer cents, bitwise equal to
    the oracle's ROW_NUMBER rank selection."""
    v = table_scan(spark, sf_dir, "orders").select(
        "o_orderkey",
        (F.col("o_totalprice").cast("decimal(18,2)") * 100)
        .cast("long")
        .alias("v"),
    )
    cuts = _exact_rank_cutoffs(v.select("v"), _QUARTILE_RANKS)
    return v.crossJoin(F.broadcast(cuts)).selectExpr(
        "o_orderkey",
        "CAST(CASE WHEN v <= c1 THEN 1 WHEN v <= c2 THEN 2"
        " WHEN v <= c3 THEN 3 ELSE 4 END AS INT) AS price_quartile",
    )


@register(
    "dq_l_diversity",
    """
    WITH g AS (
      SELECT n_name, c_mktsegment,
             CAST(COUNT(*) AS BIGINT) AS n_rows,
             CAST(COUNT(DISTINCT
               (CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT)
                + 100000) // 100000) AS BIGINT) AS l_distinct
      FROM customer JOIN nation ON c_nationkey = n_nationkey
      GROUP BY n_name, c_mktsegment
    )
    SELECT n_name, c_mktsegment, n_rows, l_distinct,
           l_distinct >= 3 AS l_diverse
    FROM g
    """,
)
def q_dq_l_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """l-diversity audit (l=3) — the privacy check k-anonymity
    (dq_k_anonymity, same quasi-identifier pair nation x market segment)
    can't make: a group of 1000 people is k-anonymous but still leaks if
    they ALL share one sensitive value (homogeneity attack). The sensitive
    attribute is the account-balance thousand-dollar band, computed in
    exact integer cents with a +$1000 offset so the one negative band
    never hits the div-truncates vs //-floors divergence. A release
    requires BOTH flags: every equivalence class has >= k members AND >= l
    distinct sensitive values. One grouped distinct-count with the dim
    broadcast — the same one-shuffle cost as the k-anonymity audit at any
    table size (distinct-count partial-aggregates per band before the
    shuffle)."""
    cust = table_scan(spark, sf_dir, "customer").select(
        "c_mktsegment",
        "c_nationkey",
        F.expr(
            "(CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT)"
            " + 100000) div 100000"
        ).alias("band"),
    )
    nat = table_scan(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    g = (
        cust.join(F.broadcast(nat), cust["c_nationkey"] == nat["n_nationkey"])
        .groupBy("n_name", "c_mktsegment")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.countDistinct("band").cast("long").alias("l_distinct"),
        )
    )
    return g.select(
        "n_name",
        "c_mktsegment",
        "n_rows",
        "l_distinct",
        (F.col("l_distinct") >= 3).alias("l_diverse"),
    )


@register(
    "dq_freshness_by_type",
    """
    WITH t AS (
      SELECT event_type, MAX(ts) AS latest,
             CAST(COUNT(*) AS BIGINT) AS n_events
      FROM events GROUP BY event_type
    ),
    g AS (SELECT MAX(latest) AS frontier FROM t)
    SELECT t.event_type, t.n_events, t.latest,
           CAST(date_diff('second', t.latest, g.frontier) AS BIGINT)
             AS lag_behind_frontier_s,
           date_diff('second', t.latest, g.frontier) > 86400 AS stale
    FROM t CROSS JOIN g
    """,
)
def q_dq_freshness_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source freshness audit — the first data-quality page every
    ingestion dashboard shows: how far does each event type's latest
    timestamp LAG the dataset frontier (the max across all types)?
    Anchoring on the frontier instead of wall-clock ``now()`` keeps the
    audit deterministic and replayable (the reference's Soda checks pin
    freshness the same way — relative to data, not to the clock). A type
    lagging >24 h behind the frontier is flagged stale — the signature of
    a wedged upstream producer. One grouped max + a single-row frontier
    broadcast; cost is a partial-agg count at any volume."""
    t = (
        table_scan(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(
            F.max("ts").alias("latest"),
            F.count(F.lit(1)).cast("long").alias("n_events"),
        )
    )
    g = t.agg(F.max("latest").alias("frontier"))
    j = t.crossJoin(F.broadcast(g))
    lag = (
        F.unix_timestamp("frontier") - F.unix_timestamp("latest")
    ).cast("long")
    return j.select(
        "event_type",
        "n_events",
        "latest",
        lag.alias("lag_behind_frontier_s"),
        (lag > 86400).alias("stale"),
    )


@register(
    "sql_variant_json_extract",
    """
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(MIN(CAST(json_extract_string(props, '$.k') AS BIGINT))
             AS BIGINT) AS min_k,
           CAST(MAX(CAST(json_extract_string(props, '$.k') AS BIGINT))
             AS BIGINT) AS max_k,
           CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT))
             AS BIGINT) AS sum_k,
           CAST(COUNT(DISTINCT CAST(json_extract_string(props, '$.k')
             AS BIGINT)) AS BIGINT) AS n_distinct_k
    FROM events GROUP BY event_type
    """,
)
def q_sql_variant_json_extract(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Spark 4 VARIANT surface — the open-format semi-structured type that
    replaces string-JSON hot paths: ``parse_json`` builds the binary
    VARIANT once, ``variant_get`` extracts typed paths with NO per-row
    string re-parsing downstream (the Parquet/Iceberg variant shredding
    story at scale). The events `props` JSON column is parsed to VARIANT,
    `$.k` is extracted as a typed INT, and per-type stats aggregate over
    it — all JVM-side, no UDF. DuckDB replays via json_extract_string +
    CAST (its JSON path engine), so the oracle proves the typed extraction
    semantics match across engines. At 100 TB the parse is one scan-stage
    map; everything after is ordinary columnar aggregation."""
    e = table_scan(spark, sf_dir, "events").select(
        "event_type",
        F.variant_get(F.parse_json(F.col("props")), "$.k", "long").alias(
            "k"
        ),
    )
    return e.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.min("k").cast("long").alias("min_k"),
        F.max("k").cast("long").alias("max_k"),
        F.sum("k").cast("long").alias("sum_k"),
        F.countDistinct("k").cast("long").alias("n_distinct_k"),
    )


@register(
    "dq_referential_integrity_audit",
    """
    WITH checks AS (
      SELECT 'lineitem.l_orderkey->orders' AS fk_edge,
             CAST(COUNT(*) AS BIGINT) AS n_child_rows,
             CAST(SUM(CASE WHEN o.o_orderkey IS NULL THEN 1 ELSE 0 END)
               AS BIGINT) AS n_orphans
      FROM lineitem l LEFT JOIN orders o ON l.l_orderkey = o.o_orderkey
      UNION ALL
      SELECT 'lineitem.l_partkey->part',
             CAST(COUNT(*) AS BIGINT),
             CAST(SUM(CASE WHEN p.p_partkey IS NULL THEN 1 ELSE 0 END)
               AS BIGINT)
      FROM lineitem l LEFT JOIN part p ON l.l_partkey = p.p_partkey
      UNION ALL
      SELECT 'lineitem.l_suppkey->supplier',
             CAST(COUNT(*) AS BIGINT),
             CAST(SUM(CASE WHEN s.s_suppkey IS NULL THEN 1 ELSE 0 END)
               AS BIGINT)
      FROM lineitem l LEFT JOIN supplier s ON l.l_suppkey = s.s_suppkey
      UNION ALL
      SELECT 'orders.o_custkey->customer',
             CAST(COUNT(*) AS BIGINT),
             CAST(SUM(CASE WHEN c.c_custkey IS NULL THEN 1 ELSE 0 END)
               AS BIGINT)
      FROM orders o LEFT JOIN customer c ON o.o_custkey = c.c_custkey
      UNION ALL
      SELECT 'customer.c_nationkey->nation',
             CAST(COUNT(*) AS BIGINT),
             CAST(SUM(CASE WHEN n.n_nationkey IS NULL THEN 1 ELSE 0 END)
               AS BIGINT)
      FROM customer c LEFT JOIN nation n ON c.c_nationkey = n.n_nationkey
      UNION ALL
      SELECT 'supplier.s_nationkey->nation',
             CAST(COUNT(*) AS BIGINT),
             CAST(SUM(CASE WHEN n.n_nationkey IS NULL THEN 1 ELSE 0 END)
               AS BIGINT)
      FROM supplier s LEFT JOIN nation n ON s.s_nationkey = n.n_nationkey
    )
    SELECT fk_edge, n_child_rows, n_orphans,
           CAST((1000000 * n_orphans) // n_child_rows AS BIGINT)
             AS orphan_ppm
    FROM checks
    """,
)
def q_dq_referential_integrity_audit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Referential-integrity audit over every FK edge of the star schema —
    the data-quality page that catches broken ingests BEFORE a join
    silently drops rows downstream: per edge, child-row count, orphan
    count (child key with no parent), and exact orphan ppm. Orphans are
    counted via LEFT-join-null (one pass per edge, partial aggs; the dim
    sides broadcast) rather than NOT IN (which at scale would build the
    same hash anyway but with NULL-semantics footguns). Clean synthetic
    data audits to zero orphans on every edge — the point of an RI gate
    is the zero, and any future testdata regression flips a row here
    before it corrupts a silent inner join elsewhere."""

    def check(child, ckey, parent, pkey, label, broadcast_parent=True):
        c = table_scan(spark, sf_dir, child).select(F.col(ckey))
        p = table_scan(spark, sf_dir, parent).select(
            F.col(pkey).alias("__pk")
        )
        if broadcast_parent:
            p = F.broadcast(p)
        j = c.join(p, F.col(ckey) == F.col("__pk"), "left")
        return j.agg(
            F.lit(label).alias("fk_edge"),
            F.count(F.lit(1)).cast("long").alias("n_child_rows"),
            F.sum(F.when(F.col("__pk").isNull(), 1).otherwise(0))
            .cast("long")
            .alias("n_orphans"),
        )

    checks = (
        check(
            "lineitem", "l_orderkey", "orders", "o_orderkey",
            "lineitem.l_orderkey->orders", broadcast_parent=False,
        )
        .unionByName(
            check("lineitem", "l_partkey", "part", "p_partkey",
                  "lineitem.l_partkey->part")
        )
        .unionByName(
            check("lineitem", "l_suppkey", "supplier", "s_suppkey",
                  "lineitem.l_suppkey->supplier")
        )
        .unionByName(
            check("orders", "o_custkey", "customer", "c_custkey",
                  "orders.o_custkey->customer")
        )
        .unionByName(
            check("customer", "c_nationkey", "nation", "n_nationkey",
                  "customer.c_nationkey->nation")
        )
        .unionByName(
            check("supplier", "s_nationkey", "nation", "n_nationkey",
                  "supplier.s_nationkey->nation")
        )
    )
    return checks.select(
        "fk_edge",
        "n_child_rows",
        "n_orphans",
        F.expr("(1000000 * n_orphans) div n_child_rows")
        .cast("long")
        .alias("orphan_ppm"),
    )


@register(
    "dq_pk_uniqueness_audit",
    """
    WITH checks AS (
      SELECT 'orders(o_orderkey)' AS pk, CAST(COUNT(*) AS BIGINT) AS n_rows,
             CAST(COUNT(DISTINCT o_orderkey) AS BIGINT) AS n_distinct
      FROM orders
      UNION ALL
      SELECT 'customer(c_custkey)', CAST(COUNT(*) AS BIGINT),
             CAST(COUNT(DISTINCT c_custkey) AS BIGINT) FROM customer
      UNION ALL
      SELECT 'part(p_partkey)', CAST(COUNT(*) AS BIGINT),
             CAST(COUNT(DISTINCT p_partkey) AS BIGINT) FROM part
      UNION ALL
      SELECT 'supplier(s_suppkey)', CAST(COUNT(*) AS BIGINT),
             CAST(COUNT(DISTINCT s_suppkey) AS BIGINT) FROM supplier
      UNION ALL
      SELECT 'nation(n_nationkey)', CAST(COUNT(*) AS BIGINT),
             CAST(COUNT(DISTINCT n_nationkey) AS BIGINT) FROM nation
      UNION ALL
      SELECT 'events(event_id)', CAST(COUNT(*) AS BIGINT),
             CAST(COUNT(DISTINCT event_id) AS BIGINT) FROM events
      UNION ALL
      SELECT 'documents(doc_id)', CAST(COUNT(*) AS BIGINT),
             CAST(COUNT(DISTINCT doc_id) AS BIGINT) FROM documents
      UNION ALL
      SELECT 'embeddings(vec_id)', CAST(COUNT(*) AS BIGINT),
             CAST(COUNT(DISTINCT vec_id) AS BIGINT) FROM embeddings
      UNION ALL
      SELECT 'lineitem(l_orderkey,l_linenumber)', CAST(COUNT(*) AS BIGINT),
             CAST(COUNT(DISTINCT (l_orderkey, l_linenumber)) AS BIGINT)
      FROM lineitem
    )
    SELECT pk, n_rows, n_distinct,
           n_rows - n_distinct AS n_excess_rows,
           CAST((1000000 * (n_rows - n_distinct)) // n_rows AS BIGINT)
             AS dup_ppm,
           n_rows = n_distinct AS is_unique
    FROM checks
    """,
)
def q_dq_pk_uniqueness_audit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Primary-key uniqueness audit across every table of the schema —
    the DQ gate that pairs with dq_referential_integrity_audit (parents
    must be unique for FK semantics to mean anything): per declared key,
    row count vs distinct-key count, excess rows, and exact dup ppm.
    This audit is NOT vacuous on the testdata: the lineitem composite
    (l_orderkey, l_linenumber) is deliberately NON-unique (the documented
    tie-break trap every dedup/top-k query here must survive), so its
    row flags is_unique = false with a real excess count — asserted in
    pytest. Each check is one partial-agg distinct count; tables audit
    independently, so at scale the nine checks run as one fused job of
    independent aggregates."""

    def check(table, label, *cols):
        t = table_scan(spark, sf_dir, table)
        return t.agg(
            F.lit(label).alias("pk"),
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.countDistinct(*[F.col(c) for c in cols])
            .cast("long")
            .alias("n_distinct"),
        )

    checks = (
        check("orders", "orders(o_orderkey)", "o_orderkey")
        .unionByName(check("customer", "customer(c_custkey)", "c_custkey"))
        .unionByName(check("part", "part(p_partkey)", "p_partkey"))
        .unionByName(check("supplier", "supplier(s_suppkey)", "s_suppkey"))
        .unionByName(check("nation", "nation(n_nationkey)", "n_nationkey"))
        .unionByName(check("events", "events(event_id)", "event_id"))
        .unionByName(check("documents", "documents(doc_id)", "doc_id"))
        .unionByName(check("embeddings", "embeddings(vec_id)", "vec_id"))
        .unionByName(
            check(
                "lineitem",
                "lineitem(l_orderkey,l_linenumber)",
                "l_orderkey",
                "l_linenumber",
            )
        )
    )
    return checks.select(
        "pk",
        "n_rows",
        "n_distinct",
        (F.col("n_rows") - F.col("n_distinct"))
        .cast("long")
        .alias("n_excess_rows"),
        F.expr("(1000000 * (n_rows - n_distinct)) div n_rows")
        .cast("long")
        .alias("dup_ppm"),
        (F.col("n_rows") == F.col("n_distinct")).alias("is_unique"),
    )


@register(
    "dq_order_total_reconciliation",
    """
    WITH li AS (
      SELECT l_orderkey,
             CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)
                      * (100 - CAST(ROUND(l_discount * 100) AS BIGINT))
                      * (100 + CAST(ROUND(l_tax * 100) AS BIGINT)))
               AS BIGINT) AS calc_scaled
      FROM lineitem GROUP BY l_orderkey
    ),
    o AS (
      SELECT o.o_orderkey,
             CAST(ROUND(o.o_totalprice * 100) AS BIGINT) * 10000
               AS total_scaled,
             li.calc_scaled
      FROM orders o LEFT JOIN li ON o.o_orderkey = li.l_orderkey
    ),
    b AS (
      SELECT CASE
               WHEN calc_scaled IS NULL THEN 'no_lineitems'
               WHEN calc_scaled = total_scaled THEN 'exact'
               WHEN abs(calc_scaled - total_scaled) * 20 <= total_scaled
                 THEN 'within_5pct'
               ELSE 'mismatch' END AS recon_status
      FROM o
    ),
    g AS (
      SELECT recon_status, CAST(COUNT(*) AS BIGINT) AS n_orders
      FROM b GROUP BY recon_status
    ),
    t AS (SELECT CAST(SUM(n_orders) AS BIGINT) AS tot FROM g)
    SELECT g.recon_status, g.n_orders,
           CAST((1000000 * g.n_orders) // t.tot AS BIGINT) AS share_ppm
    FROM g CROSS JOIN t
    """,
)
def q_dq_order_total_reconciliation(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Cross-table reconciliation audit — the third leg of the DQ tripod
    (after referential integrity and key uniqueness): does the order
    header total equal Σ extendedprice·(1−discount)·(1+tax) over its
    lines (the TPC-H invariant)? Both sides compare in EXACT scaled
    integers (cents × percent × percent — no float product ever crosses
    the comparison), bucketed exact / within-5 % / mismatch /
    no_lineitems. The audit is non-vacuous by design of the synthetic
    data: it detects that this corpus does NOT maintain the invariant
    (zero exact matches, ~4 % within 5 %) and that 257-odd orders have no
    lines at all — exactly the findings a reconciliation page exists to
    surface, asserted in pytest. One fact aggregate + one header join."""
    li = (
        table_scan(spark, sf_dir, "lineitem")
        .select(
            "l_orderkey",
            (
                F.round(F.col("l_extendedprice") * 100).cast("long")
                * (100 - F.round(F.col("l_discount") * 100).cast("long"))
                * (100 + F.round(F.col("l_tax") * 100).cast("long"))
            ).alias("scaled"),
        )
        .groupBy("l_orderkey")
        .agg(F.sum("scaled").cast("long").alias("calc_scaled"))
    )
    o = (
        table_scan(spark, sf_dir, "orders")
        .select(
            "o_orderkey",
            (F.round(F.col("o_totalprice") * 100).cast("long") * 10000)
            .alias("total_scaled"),
        )
        .join(li, F.col("o_orderkey") == F.col("l_orderkey"), "left")
    )
    b = o.select(
        F.when(F.col("calc_scaled").isNull(), "no_lineitems")
        .when(F.col("calc_scaled") == F.col("total_scaled"), "exact")
        .when(
            F.abs(F.col("calc_scaled") - F.col("total_scaled")) * 20
            <= F.col("total_scaled"),
            "within_5pct",
        )
        .otherwise("mismatch")
        .alias("recon_status")
    )
    g = b.groupBy("recon_status").agg(
        F.count(F.lit(1)).cast("long").alias("n_orders")
    )
    t = g.agg(F.sum("n_orders").cast("long").alias("tot"))
    return g.crossJoin(F.broadcast(t)).select(
        "recon_status",
        "n_orders",
        F.expr("(1000000 * n_orders) div tot").cast("long").alias(
            "share_ppm"
        ),
    )


@register(
    "dq_expectations_suite",
    """
    WITH checks AS (
      SELECT 'orders.totalprice_positive' AS expectation,
             CAST(COUNT(*) AS BIGINT) AS n_rows,
             CAST(SUM(CASE WHEN o_totalprice <= 0 THEN 1 ELSE 0 END)
               AS BIGINT) AS n_violations
      FROM orders
      UNION ALL
      SELECT 'orders.priority_in_domain', CAST(COUNT(*) AS BIGINT),
             CAST(SUM(CASE WHEN o_orderpriority NOT IN
               ('1-URGENT','2-HIGH','3-MEDIUM','4-NOT SPECIFIED','5-LOW')
               THEN 1 ELSE 0 END) AS BIGINT)
      FROM orders
      UNION ALL
      SELECT 'orders.orderdate_in_range', CAST(COUNT(*) AS BIGINT),
             CAST(SUM(CASE WHEN o_orderdate < TIMESTAMP '1990-01-01'
                    OR o_orderdate >= TIMESTAMP '2010-01-01'
               THEN 1 ELSE 0 END) AS BIGINT)
      FROM orders
      UNION ALL
      SELECT 'lineitem.discount_in_unit_interval',
             CAST(COUNT(*) AS BIGINT),
             CAST(SUM(CASE WHEN l_discount < 0 OR l_discount > 0.5
               THEN 1 ELSE 0 END) AS BIGINT)
      FROM lineitem
      UNION ALL
      SELECT 'lineitem.quantity_positive_integer',
             CAST(COUNT(*) AS BIGINT),
             CAST(SUM(CASE WHEN l_quantity <= 0
                    OR l_quantity <> ROUND(l_quantity)
               THEN 1 ELSE 0 END) AS BIGINT)
      FROM lineitem
      UNION ALL
      SELECT 'events.value_non_negative', CAST(COUNT(*) AS BIGINT),
             CAST(SUM(CASE WHEN value < 0 THEN 1 ELSE 0 END) AS BIGINT)
      FROM events
      UNION ALL
      SELECT 'events.type_in_domain', CAST(COUNT(*) AS BIGINT),
             CAST(SUM(CASE WHEN event_type NOT IN
               ('view','click','signup','purchase','error')
               THEN 1 ELSE 0 END) AS BIGINT)
      FROM events
      UNION ALL
      SELECT 'documents.lang_in_domain', CAST(COUNT(*) AS BIGINT),
             CAST(SUM(CASE WHEN lang NOT IN ('en','de','fr','es','zh')
               THEN 1 ELSE 0 END) AS BIGINT)
      FROM documents
      UNION ALL
      SELECT 'documents.nchars_matches_text', CAST(COUNT(*) AS BIGINT),
             CAST(SUM(CASE WHEN n_chars <> length(text) THEN 1 ELSE 0 END)
               AS BIGINT)
      FROM documents
    )
    SELECT expectation, n_rows, n_violations,
           CAST((1000000 * n_violations) // n_rows AS BIGINT)
             AS violation_ppm,
           n_violations = 0 AS passed
    FROM checks
    """,
)
def q_dq_expectations_suite(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Declarative expectations suite — the Great-Expectations-style
    checklist run as ONE query: range expectations (positive totals,
    discount ∈ [0, 0.5], dates in a sane window), domain expectations
    (priority / event-type / language in their enumerations), and a
    redundancy expectation (documents.n_chars == length(text) — the
    derived-column consistency class). Each expectation reports rows,
    violations, exact ppm, and a pass flag; the suite extends the DQ
    family (RI orphans, PK uniqueness, header/line reconciliation,
    freshness) with VALUE-level contracts. Each check is one partial
    aggregate over its table; Spark fuses the per-table checks into
    shared scans. Adding an expectation is one UNION branch — the suite
    IS the contract file."""

    def ck(table, label, violation_col):
        t = table_scan(spark, sf_dir, table)
        return t.agg(
            F.lit(label).alias("expectation"),
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.sum(F.when(violation_col, 1).otherwise(0))
            .cast("long")
            .alias("n_violations"),
        )

    checks = (
        ck("orders", "orders.totalprice_positive",
           F.col("o_totalprice") <= 0)
        .unionByName(
            ck("orders", "orders.priority_in_domain",
               ~F.col("o_orderpriority").isin(
                   "1-URGENT", "2-HIGH", "3-MEDIUM",
                   "4-NOT SPECIFIED", "5-LOW"))
        )
        .unionByName(
            ck("orders", "orders.orderdate_in_range",
               (F.col("o_orderdate") < F.lit("1990-01-01").cast("timestamp"))
               | (F.col("o_orderdate")
                  >= F.lit("2010-01-01").cast("timestamp")))
        )
        .unionByName(
            ck("lineitem", "lineitem.discount_in_unit_interval",
               (F.col("l_discount") < 0) | (F.col("l_discount") > 0.5))
        )
        .unionByName(
            ck("lineitem", "lineitem.quantity_positive_integer",
               (F.col("l_quantity") <= 0)
               | (F.col("l_quantity") != F.round(F.col("l_quantity"))))
        )
        .unionByName(
            ck("events", "events.value_non_negative", F.col("value") < 0)
        )
        .unionByName(
            ck("events", "events.type_in_domain",
               ~F.col("event_type").isin(
                   "view", "click", "signup", "purchase", "error"))
        )
        .unionByName(
            ck("documents", "documents.lang_in_domain",
               ~F.col("lang").isin("en", "de", "fr", "es", "zh"))
        )
        .unionByName(
            ck("documents", "documents.nchars_matches_text",
               F.col("n_chars") != F.length("text"))
        )
    )
    return checks.select(
        "expectation",
        "n_rows",
        "n_violations",
        F.expr("(1000000 * n_violations) div n_rows")
        .cast("long")
        .alias("violation_ppm"),
        (F.col("n_violations") == 0).alias("passed"),
    )


@register(
    "sql_string_functions_surface",
    """
    SELECT CAST(p_partkey AS BIGINT) AS p_partkey,
           lpad(CAST(p_partkey AS VARCHAR), 8, '0') AS padded_key,
           translate(p_name, 'aeiou', 'AEIOU') AS vowels_up,
           reverse(p_name) AS reversed_name,
           split_part(p_name, ' ', 1) AS first_word,
           CAST(strpos(p_name, 'a') AS BIGINT) AS first_a_pos,
           left(p_name, 3) AS prefix3,
           repeat(left(p_name, 1), 3) AS initial_x3,
           CAST(length(p_name) AS BIGINT) AS name_len
    FROM part WHERE p_partkey < 500
    """,
)
def q_sql_string_functions_surface(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """String-function surface exercise — the everyday text toolbox a
    reference user expects to keep working verbatim after switching
    engines: lpad (zero-padded keys), translate (character mapping),
    reverse, split_part (field extraction), instr/strpos (first-match
    position, 1-based, 0 when absent on BOTH engines), left, repeat, and
    length — each paired with its DuckDB twin in the oracle so the exact
    cross-engine semantics (padding direction, empty-match positions,
    multibyte lengths) are value-checked, not assumed. Pure scan-stage
    expressions over a bounded key slice; every function stays inside
    whole-stage codegen."""
    return (
        table_scan(spark, sf_dir, "part")
        .filter(F.col("p_partkey") < 500)
        .select(
            F.col("p_partkey").cast("long"),
            F.lpad(F.col("p_partkey").cast("string"), 8, "0").alias(
                "padded_key"
            ),
            F.translate("p_name", "aeiou", "AEIOU").alias("vowels_up"),
            F.reverse("p_name").alias("reversed_name"),
            F.expr("split_part(p_name, ' ', 1)").alias("first_word"),
            F.instr("p_name", "a").cast("long").alias("first_a_pos"),
            F.expr("left(p_name, 3)").alias("prefix3"),
            F.repeat(F.expr("left(p_name, 1)"), 3).alias("initial_x3"),
            F.length("p_name").cast("long").alias("name_len"),
        )
    )


@register(
    "sql_array_functions_surface",
    """
    WITH t AS (
      SELECT doc_id,
             list_slice(string_split_regex(TRIM(text), '\\s+'), 1, 8)
               AS toks
      FROM documents WHERE TRIM(text) <> ''
    )
    SELECT doc_id,
           CAST(len(toks) AS BIGINT) AS n,
           array_to_string(list_sort(toks), ',') AS sorted_toks,
           array_to_string(list_sort(list_distinct(toks)), ',')
             AS distinct_sorted,
           array_to_string(list_reverse(toks), ',') AS reversed_toks,
           toks[1] AS first_tok,
           toks[-1] AS last_tok,
           list_contains(toks, 'the') AS has_the,
           CAST(COALESCE(list_position(toks, 'a'), 0) AS BIGINT)
             AS pos_of_a,
           COALESCE(array_to_string(list_sort(list_intersect(toks,
             ['a', 'the', 'data', 'table'])), ','), '') AS stop_hits,
           CAST(len(flatten([toks, toks])) AS BIGINT) AS doubled_len
    FROM t
    """,
)
def q_sql_array_functions_surface(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Array/higher-order-function surface exercise — the collection
    toolbox a reference user leans on for token-level work, value-checked
    against DuckDB's list functions so the exact cross-engine semantics
    hold: sort, distinct(+sort — distinct ORDER is engine-specific, so
    portability means normalizing, the documented trap), reverse,
    first/last element (1-based and negative indexing), membership,
    1-based position with a 0-when-absent contract (Spark array_position
    and DuckDB list_position agree on found positions; the COALESCE pins
    the absent case), intersection against a literal stoplist (again
    sort-normalized — intersection order differs between engines, and
    DuckDB's array_to_string of an EMPTY list yields NULL where Spark's
    array_join yields '' — the oracle's COALESCE pins that contract), and
    flatten. List-valued results are emitted JOINED to strings — the
    portable-scalar output contract the oracle type-lint enforces. All
    scan-stage expressions over the first 8 tokens per doc — bounded
    payload, zero shuffle."""
    t = (
        table_scan(spark, sf_dir, "documents")
        .filter(F.trim(F.col("text")) != "")
        .select(
            "doc_id",
            F.slice(F.split(F.trim(F.col("text")), r"\s+"), 1, 8).alias(
                "toks"
            ),
        )
    )
    return t.select(
        "doc_id",
        F.size("toks").cast("long").alias("n"),
        F.array_join(F.array_sort("toks"), ",").alias("sorted_toks"),
        F.array_join(F.array_sort(F.array_distinct("toks")), ",").alias(
            "distinct_sorted"
        ),
        F.array_join(F.reverse("toks"), ",").alias("reversed_toks"),
        F.element_at("toks", 1).alias("first_tok"),
        F.element_at("toks", -1).alias("last_tok"),
        F.array_contains("toks", "the").alias("has_the"),
        F.array_position("toks", "a").cast("long").alias("pos_of_a"),
        F.array_join(
            F.array_sort(
                F.array_intersect(
                    "toks",
                    F.array(
                        F.lit("a"), F.lit("the"), F.lit("data"),
                        F.lit("table"),
                    ),
                )
            ),
            ",",
        ).alias("stop_hits"),
        F.size(F.flatten(F.array("toks", "toks")))
        .cast("long")
        .alias("doubled_len"),
    )
