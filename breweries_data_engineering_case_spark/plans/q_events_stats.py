"""Event/behavioral statistics: drift tests, experimentation, forecasting, anomaly and growth accounting."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..caching import cached
from ..sources.readers import table_scan

from .qshared import (
    _DECILE_RANKS,
    _EWMA_W,
    _exact_rank_cutoffs,
    register,
)

# Documented dim bounds for the driver-side lattice family's bounded
# collects (VERDICT r14 #3). event_type is a schema-level enum (5 values
# in the shared testdata); 100 distinct states is already far outside the
# schema contract, and |S|² = 10⁴ collected count rows is the point where
# a driver-side fixed point stops being "not data work" — fail loudly
# there instead of iterating an unbounded lattice on the driver.
_LATTICE_STATES_MAX = 100
# Shapley channel universe: the coalition lattice is 2^C — the identical
# assumption the old in-plan `sequence(0, 2^c−1)` explode made. C > 20
# (2^20 = 1,048,576 coalitions) is where both forms stop being dim-sized.
_SHAPLEY_CHANNELS_MAX = 20


@register(
    "events_retention_cohorts",
    """
    WITH e AS (SELECT user_id, CAST(ts AS DATE) AS day FROM events),
    f AS (SELECT user_id, MIN(day) AS cohort_day FROM e GROUP BY user_id)
    SELECT cohort_day,
           CAST(date_diff('day', cohort_day, day) // 7 AS BIGINT) AS week_offset,
           COUNT(DISTINCT e.user_id) AS active_users
    FROM e JOIN f USING (user_id)
    GROUP BY cohort_day, week_offset
    """,
)
def q_events_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention matrix — the product-analytics staple: users grouped
    by first-seen day, activity counted per week offset. Two grouped passes:
    per-user first day (partial-agg min), then a fact⋈cohort join that
    broadcasts the skinny per-user table and one distinct-count shuffle on
    (cohort_day, week_offset). At 100 TB the per-user min table is the only
    state (|users| ≪ |events|); no window, no global sort."""
    e = table_scan(spark, sf_dir, "events").select(
        "user_id", F.to_date("ts").alias("day")
    )
    first = e.groupBy("user_id").agg(F.min("day").alias("cohort_day"))
    return (
        e.join(first, "user_id")
        .select(
            "user_id",
            "cohort_day",
            F.floor(F.datediff("day", "cohort_day") / F.lit(7))
            .cast("long")
            .alias("week_offset"),
        )
        .groupBy("cohort_day", "week_offset")
        .agg(F.countDistinct("user_id").alias("active_users"))
    )


@register(
    "events_value_mad_outliers",
    """
    WITH m AS (
      SELECT event_type, quantile_cont(value, 0.5) AS med
      FROM events GROUP BY event_type
    ), d AS (
      SELECT e.event_type, med, abs(value - med) AS dev
      FROM events e JOIN m USING (event_type)
    ), md AS (
      SELECT event_type, quantile_cont(dev, 0.5) AS mad FROM d GROUP BY event_type
    )
    SELECT d.event_type, MIN(d.med) AS med, MIN(md.mad) AS mad,
           COUNT(CASE WHEN d.dev > 3 * md.mad THEN 1 END) AS n_outliers
    FROM d JOIN md USING (event_type)
    GROUP BY d.event_type
    """,
)
def q_events_value_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust outlier detection via median absolute deviation — the
    rank-based alternative to z-scores (grouped_zscore_*) that a heavy-tailed
    metric needs. Three grouped passes (median → MAD → conditional count);
    the per-type medians ride broadcast joins, and the deviation intermediate
    is persisted so events is scanned once. `F.percentile` and DuckDB
    quantile_cont are bitwise-identical (NOTES rule); |v−med| and 3·mad are
    single IEEE ops, so the strict > boundary agrees cross-engine."""
    e = table_scan(spark, sf_dir, "events").select("event_type", "value")
    med = e.groupBy("event_type").agg(
        F.percentile("value", F.lit(0.5)).alias("med")
    )
    d = e.join(F.broadcast(med), "event_type").select(
        "event_type", "med", F.abs(F.col("value") - F.col("med")).alias("dev")
    )
    d = d.transform(cached)
    mad = d.groupBy("event_type").agg(F.percentile("dev", F.lit(0.5)).alias("mad"))
    out = (
        d.join(F.broadcast(mad), "event_type")
        .groupBy("event_type")
        .agg(
            F.min("med").alias("med"),
            F.min("mad").alias("mad"),
            F.count(
                F.when(F.col("dev") > F.lit(3.0) * F.col("mad"), F.lit(1))
            ).alias("n_outliers"),
        )
    )
    return out


@register(
    "events_stickiness_dau_wau",
    """
    WITH ud AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
    dau AS (SELECT day, COUNT(*) AS dau FROM ud GROUP BY day),
    contrib AS (
      SELECT DISTINCT user_id, day + CAST(i AS INT) AS wd
      FROM ud, UNNEST(range(7)) AS u(i)
    ),
    wau AS (
      SELECT c.wd AS day, COUNT(DISTINCT c.user_id) AS wau
      FROM contrib c JOIN dau d ON c.wd = d.day
      GROUP BY c.wd
    )
    SELECT d.day, d.dau, CAST(w.wau AS BIGINT) AS wau,
           CAST(d.dau * 1000 // w.wau AS BIGINT) AS stickiness_permille
    FROM dau d JOIN wau w ON d.day = w.day
    """,
)
def q_events_stickiness_dau_wau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DAU/WAU stickiness per day — EXACT trailing-7-day distinct users via
    the CONTRIBUTION-EXPLODE pattern: each active (user, day) fans out to
    the ≤7 window-end days it contributes to, and a plain distinct-count
    per window-end day gives the exact sliding distinct — turning an
    un-mergeable sliding COUNT(DISTINCT) into two ordinary partial-agg
    shuffles (no per-day re-scan, no window over raw events, no sketch
    error; the 7× fan-out runs over the DISTINCT user-day grid, not the
    event stream). This is the exact-answer complement to
    events_dau_hll_mergeable's sketch path; stickiness is integer
    per-mille floor division."""
    e = table_scan(spark, sf_dir, "events")
    ud = e.select(
        "user_id", F.col("ts").cast("date").alias("day")
    ).distinct().transform(cached)
    dau = ud.groupBy("day").agg(F.count(F.lit(1)).alias("dau"))
    contrib = ud.select(
        "user_id",
        F.explode(
            F.sequence(F.col("day"), F.date_add("day", 6))
        ).alias("wd"),
    ).distinct()
    wau = (
        contrib.join(
            F.broadcast(dau.select(F.col("day").alias("wd"))), "wd"
        )
        .groupBy("wd")
        .agg(F.count(F.lit(1)).alias("wau"))
    )
    return (
        dau.join(wau, dau["day"] == wau["wd"])
        .selectExpr(
            "day",
            "dau",
            "CAST(wau AS BIGINT) AS wau",
            "CAST(dau * 1000 div wau AS BIGINT) AS stickiness_permille",
        )
    )


@register(
    "events_markov_transitions",
    """
    WITH t AS (
      SELECT event_type AS from_type,
             LEAD(event_type) OVER (
               PARTITION BY user_id ORDER BY ts, event_id) AS to_type
      FROM events
    ),
    c AS (
      SELECT from_type, to_type, CAST(COUNT(*) AS BIGINT) AS n_transitions
      FROM t WHERE to_type IS NOT NULL GROUP BY from_type, to_type
    ),
    tot AS (
      SELECT from_type, CAST(SUM(n_transitions) AS BIGINT) AS total
      FROM c GROUP BY from_type
    )
    SELECT c.from_type, c.to_type, c.n_transitions,
           CAST(c.n_transitions * 1000 // tot.total AS BIGINT) AS per_mille
    FROM c JOIN tot USING (from_type)
    """,
)
def q_events_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over per-user event sequences
    (the session-model / next-event-prediction feature): LEAD over
    (user_id, ts, event_id) pairs each event with its successor, counts
    collapse to the |types|² transition matrix, and probabilities are
    emitted as integer per-mille (floor division on both engines — the
    ADVICE r4 `div`/`//` idiom; counts are non-negative so floor ≡ trunc).
    Scale: the window partitions by user (millions of independent
    partitions), the matrix is dim-sized, and the row-total join is a
    broadcast. Tiebreak on event_id makes the sequence a total order."""
    e = table_scan(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    t = (
        e.select("user_id", "event_id", "ts", "event_type")
        .withColumn("to_type", F.lead("event_type").over(w))
        .filter(F.col("to_type").isNotNull())
    )
    counts = t.groupBy(
        F.col("event_type").alias("from_type"), F.col("to_type")
    ).agg(F.count(F.lit(1)).alias("n_transitions"))
    totals = counts.groupBy("from_type").agg(F.sum("n_transitions").alias("total"))
    return (
        counts.join(F.broadcast(totals), "from_type")
        .select(
            "from_type",
            "to_type",
            "n_transitions",
            F.expr("n_transitions * 1000 div total").alias("per_mille"),
        )
    )


@register(
    "events_cogroup_purchase_attribution",
    """
    WITH e AS (
      SELECT user_id, event_type, epoch_us(ts) AS us
      FROM events WHERE event_type IN ('click', 'purchase')
    ),
    u AS (SELECT DISTINCT user_id FROM e),
    c AS (SELECT user_id, COUNT(*) AS n_clicks
          FROM e WHERE event_type = 'click' GROUP BY user_id),
    p AS (SELECT user_id, COUNT(*) AS n_purchases, MIN(us) AS first_p
          FROM e WHERE event_type = 'purchase' GROUP BY user_id),
    cb AS (SELECT e.user_id, COUNT(*) AS cnt
           FROM e JOIN p ON e.user_id = p.user_id
           WHERE e.event_type = 'click' AND e.us < p.first_p
           GROUP BY e.user_id)
    SELECT u.user_id,
           CAST(COALESCE(c.n_clicks, 0) AS BIGINT) AS n_clicks,
           CAST(COALESCE(p.n_purchases, 0) AS BIGINT) AS n_purchases,
           CAST(COALESCE(cb.cnt, 0) AS BIGINT) AS clicks_before_first_purchase
    FROM u
    LEFT JOIN c ON u.user_id = c.user_id
    LEFT JOIN p ON u.user_id = p.user_id
    LEFT JOIN cb ON u.user_id = cb.user_id
    """,
)
def q_events_cogroup_purchase_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cogrouped pandas join — the LAST modern Python-on-Spark surface
    (after mapInPandas, applyInPandas, applyInPandasWithState, the UDTF and
    the DataSource): ``groupBy(k).cogroup(other.groupBy(k)).applyInPandas``
    hands each user's clicks AND purchases to one Python function as two
    aligned pandas frames — the shape for per-key logic spanning two tables
    (feature/label alignment, per-entity model scoring). Here it computes
    click→purchase attribution (clicks strictly before the first purchase)
    in pure int64 microsecond arithmetic, so the output is exact and the
    DuckDB relational replay value-checks the whole path. Scale: cogroup is
    one co-partitioned shuffle of both sides — same cost as the equi-join
    it replaces, state-free."""
    import pandas as pd

    e = (
        table_scan(spark, sf_dir, "events")
        .filter(F.col("event_type").isin("click", "purchase"))
        .select(
            "user_id",
            "event_type",
            F.unix_micros(F.col("ts").cast("timestamp")).alias("us"),
        )
    )
    clicks = e.filter(F.col("event_type") == "click").select("user_id", "us")
    purchases = e.filter(F.col("event_type") == "purchase").select("user_id", "us")

    def attrib(key: tuple, left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
        n_c, n_p = len(left), len(right)
        before = int((left["us"] < int(right["us"].min())).sum()) if n_p else 0
        return pd.DataFrame(
            {
                "user_id": [key[0]],
                "n_clicks": [n_c],
                "n_purchases": [n_p],
                "clicks_before_first_purchase": [before],
            }
        )

    return (
        clicks.groupBy("user_id")
        .cogroup(purchases.groupBy("user_id"))
        .applyInPandas(
            attrib,
            schema="user_id long, n_clicks long, n_purchases long, "
            "clicks_before_first_purchase long",
        )
    )


@register(
    "events_distribution_drift",
    """
    WITH e AS (
      SELECT event_type, epoch_us(ts) AS us FROM events
    ),
    b AS (SELECT MIN(us) AS lo, MAX(us) AS hi FROM e),
    s AS (
      SELECT event_type,
             CAST(SUM(CASE WHEN us * 2 <= lo + hi THEN 1 ELSE 0 END) AS BIGINT)
               AS n_first,
             CAST(SUM(CASE WHEN us * 2 <= lo + hi THEN 0 ELSE 1 END) AS BIGINT)
               AS n_second
      FROM e, b GROUP BY event_type
    ),
    t AS (
      SELECT CAST(SUM(n_first) AS BIGINT) AS t_first,
             CAST(SUM(n_second) AS BIGINT) AS t_second
      FROM s
    )
    SELECT event_type, n_first, n_second,
           CAST(n_first * 1000 // t_first AS BIGINT) AS pm_first,
           CAST(n_second * 1000 // t_second AS BIGINT) AS pm_second,
           CAST(ABS(n_first * 1000 // t_first - n_second * 1000 // t_second)
                AS BIGINT) AS drift_pm
    FROM s, t
    """,
)
def q_events_distribution_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution-drift screen (the train/serve skew check a data-quality
    gate runs between two snapshots): event-type composition of the first
    time-half vs the second, as integer per-mille shares plus their
    absolute difference (the per-class term of total-variation distance).
    PSI/KL need log — not bitwise-portable — so the emitted statistic is
    pure integer arithmetic: midpoint test by cross-multiplication
    (us·2 ≤ lo+hi, no division), shares by the floor-div idiom. Shape: one
    pass → per-(type, side) counts; the time bounds and side totals are
    single-row broadcasts (never a global window)."""
    e = table_scan(spark, sf_dir, "events").select(
        "event_type", F.unix_micros(F.col("ts").cast("timestamp")).alias("us")
    )
    bounds = e.agg(F.min("us").alias("lo"), F.max("us").alias("hi"))
    tagged = e.crossJoin(F.broadcast(bounds)).select(
        "event_type",
        (F.col("us") * 2 <= F.col("lo") + F.col("hi")).alias("is_first"),
    )
    s = tagged.groupBy("event_type").agg(
        F.sum(F.when(F.col("is_first"), 1).otherwise(0)).alias("n_first"),
        F.sum(F.when(F.col("is_first"), 0).otherwise(1)).alias("n_second"),
    )
    totals = s.agg(
        F.sum("n_first").alias("t_first"), F.sum("n_second").alias("t_second")
    )
    return (
        s.crossJoin(F.broadcast(totals))
        .selectExpr(
            "event_type",
            "n_first",
            "n_second",
            "n_first * 1000 div t_first AS pm_first",
            "n_second * 1000 div t_second AS pm_second",
            "abs(n_first * 1000 div t_first - n_second * 1000 div t_second)"
            " AS drift_pm",
        )
    )


@register(
    "events_ks_drift",
    """
    WITH e AS (
      SELECT event_type, value,
             CASE WHEN ts >= TIMESTAMP '2024-01-16 00:00:00'
                  THEN 1 ELSE 0 END AS is_b
      FROM events
    ),
    pv AS (
      SELECT event_type, value,
             SUM(1 - is_b) AS a, SUM(is_b) AS b
      FROM e GROUP BY event_type, value
    ),
    c AS (
      SELECT event_type, value,
             CAST(SUM(a) OVER w AS BIGINT) AS cum_a,
             CAST(SUM(b) OVER w AS BIGINT) AS cum_b
      FROM pv
      WINDOW w AS (PARTITION BY event_type ORDER BY value
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    ),
    t AS (
      SELECT event_type, CAST(SUM(a) AS BIGINT) AS n_a,
             CAST(SUM(b) AS BIGINT) AS n_b
      FROM pv GROUP BY event_type
    )
    SELECT c.event_type, t.n_a, t.n_b,
           CAST(MAX(ABS(cum_a * n_b - cum_b * n_a)) AS BIGINT) AS ks_num,
           CAST(MAX(ABS(cum_a * n_b - cum_b * n_a)) * 1000
                // (n_a * n_b) AS BIGINT) AS ks_permille
    FROM c JOIN t ON c.event_type = t.event_type
    GROUP BY c.event_type, t.n_a, t.n_b
    """,
)
def q_events_ks_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact two-sample Kolmogorov–Smirnov drift statistic per event_type
    between the first 15 days and the rest of the month — the
    distribution-shift monitor for a feature/score column (the sibling of
    events_distribution_drift's TVD, but over the FULL CDF, not bucketed).
    D = max|F₁(x) − F₂(x)| is computed without a single float division:
    per distinct value the two cumulative counts are cross-multiplied by
    the opposite sample size, so ``ks_num = max|cumA·n_b − cumB·n_a|`` is
    an exact integer in both engines and the reported per-mille is integer
    floor-division. One shuffle groups (type, value); the CDF walk is a
    per-type ordered window; sample totals ride a broadcast join."""
    cut = F.lit("2024-01-16 00:00:00").cast("timestamp_ntz")
    e = table_scan(spark, sf_dir, "events").select(
        "event_type", "value", (F.col("ts") >= cut).cast("long").alias("is_b")
    )
    pv = e.groupBy("event_type", "value").agg(
        F.sum(F.lit(1) - F.col("is_b")).alias("a"),
        F.sum("is_b").alias("b"),
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("value")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    c = pv.select(
        "event_type",
        F.sum("a").over(w).alias("cum_a"),
        F.sum("b").over(w).alias("cum_b"),
    )
    t = pv.groupBy("event_type").agg(
        F.sum("a").alias("n_a"), F.sum("b").alias("n_b")
    )
    gap = F.abs(F.col("cum_a") * F.col("n_b") - F.col("cum_b") * F.col("n_a"))
    return (
        c.join(F.broadcast(t), "event_type")
        .groupBy("event_type", "n_a", "n_b")
        .agg(F.max(gap).alias("ks_num"))
        .selectExpr(
            "event_type",
            "n_a",
            "n_b",
            "ks_num",
            "ks_num * 1000 div (n_a * n_b) AS ks_permille",
        )
    )


@register(
    "events_ewma_smooth",
    f"""
    WITH hourly AS (
      SELECT event_type, date_trunc('hour', ts) AS hour,
             CAST(SUM(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT))
                  AS BIGINT) // COUNT(*) AS avg_cents
      FROM events GROUP BY 1, 2
    ),
    lagged AS (
      SELECT event_type, hour, avg_cents,
             {", ".join(f"lag(avg_cents, {k}) OVER w AS x{k}" for k in range(1, 8))}
      FROM hourly
      WINDOW w AS (PARTITION BY event_type ORDER BY hour)
    )
    SELECT event_type, hour, avg_cents,
           ({" + ".join(f"COALESCE(x{k} * {w}, 0)" for k, w in list(enumerate(_EWMA_W))[1:])}
            + avg_cents * {_EWMA_W[0]})
           // ({" + ".join(f"CASE WHEN x{k} IS NULL THEN 0 ELSE {w} END" for k, w in list(enumerate(_EWMA_W))[1:])}
               + {_EWMA_W[0]}) AS ewma_cents
    FROM lagged
    """,
)
def q_events_ewma_smooth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially-weighted moving average — THE streaming smoother, in
    exact integers: per (event_type, hour) the trailing-8 EWMA with
    α = 1/4 is a weighted sum with weights 3ᵏ·4⁷⁻ᵏ (the geometric decay
    (3/4)ᵏ scaled integer-exact by 4⁷), truncated at 8 lags where the
    residual weight is < 10 %. Leading hours renormalize over the weights
    actually present, so the series has no warm-up bias. Eight flat LAG
    terms over one per-series window — a single shuffle on the dim-sized
    series key, every expression whole-stage-codegen'd, no Python, no
    float: floor division of two exact int64 sums is bit-identical on
    both engines. (Full-history EWMA needs pow(), which is NOT
    cross-engine portable — NOTES.md; the truncated-window form is how a
    production scorer bounds state anyway.)"""
    e = table_scan(spark, sf_dir, "events")
    cents = (F.col("value").cast("decimal(18,2)") * 100).cast("long")
    hourly = (
        e.select("event_type", F.date_trunc("hour", "ts").alias("hour"), cents.alias("c"))
        .groupBy("event_type", "hour")
        .agg(F.expr("sum(c) div count(*)").alias("avg_cents"))
    )
    w = Window.partitionBy("event_type").orderBy("hour")
    lagged = hourly.select(
        "event_type",
        "hour",
        "avg_cents",
        *[F.lag("avg_cents", k).over(w).alias(f"x{k}") for k in range(1, 8)],
    )
    num_sql = " + ".join(
        [f"avg_cents * {_EWMA_W[0]}"]
        + [f"COALESCE(x{k} * {w}, 0)" for k, w in list(enumerate(_EWMA_W))[1:]]
    )
    den_sql = " + ".join(
        [str(_EWMA_W[0])]
        + [
            f"CASE WHEN x{k} IS NULL THEN 0 ELSE {w} END"
            for k, w in list(enumerate(_EWMA_W))[1:]
        ]
    )
    return lagged.selectExpr(
        "event_type",
        "hour",
        "avg_cents",
        f"({num_sql}) div ({den_sql}) AS ewma_cents",
    )


@register(
    "events_cusum_drift",
    """
    WITH hourly AS (
      SELECT event_type, date_trunc('hour', ts) AS hour,
             CAST(SUM(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT))
                  AS BIGINT) // COUNT(*) AS x
      FROM events GROUP BY 1, 2
    ),
    base AS (
      SELECT event_type,
             CAST(SUM(x) AS BIGINT) // COUNT(*) AS k
      FROM hourly WHERE hour < TIMESTAMP '2024-01-08 00:00:00'
      GROUP BY event_type
    ),
    p AS (
      SELECT h.event_type, h.hour, h.x, b.k,
             CAST(SUM(h.x - b.k - b.k // 10) OVER (
               PARTITION BY h.event_type ORDER BY h.hour
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             AS BIGINT) AS pref
      FROM hourly h JOIN base b ON b.event_type = h.event_type
    ),
    s AS (
      SELECT event_type, hour, x, k, pref,
             CAST(pref - LEAST(0, MIN(pref) OVER (
               PARTITION BY event_type ORDER BY hour
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
             AS BIGINT) AS cusum
      FROM p
    )
    SELECT event_type, hour, x, cusum,
           CASE WHEN cusum > 4 * k THEN 1 ELSE 0 END AS alarm
    FROM s
    """,
)
def q_events_cusum_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM change-point detector over hourly value series — the
    sequential drift monitor (Page's cumulative sum) that SQL/DataFrames
    "can't" express because S_t = max(0, S_{t-1} + x_t − k) is a
    recursion (run with the standard +k/10 slack so in-control noise
    decays instead of random-walking into the threshold): it CAN, via the
    prefix identity
    S_t = P_t − min(0, min_{j≤t} P_j) with P the running sum of (x − k) —
    two stacked per-series windows, no recursion, no UDF, exact integers
    end-to-end. The reference level k is each series' first-week mean
    (broadcast dim join); the alarm fires when the accumulated positive
    drift exceeds 4k. Windows partition by series — millions of
    independent series at scale, one shuffle total."""
    e = table_scan(spark, sf_dir, "events")
    cents = (F.col("value").cast("decimal(18,2)") * 100).cast("long")
    hourly = (
        e.select("event_type", F.date_trunc("hour", "ts").alias("hour"), cents.alias("c"))
        .groupBy("event_type", "hour")
        .agg(F.expr("sum(c) div count(*)").alias("x"))
        .transform(cached)
    )
    cut = F.lit("2024-01-08 00:00:00").cast("timestamp_ntz")
    base = (
        hourly.filter(F.col("hour") < cut)
        .groupBy("event_type")
        .agg(F.expr("sum(x) div count(*)").alias("k"))
    )
    ordered = Window.partitionBy("event_type").orderBy("hour")
    running = ordered.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    p = hourly.join(F.broadcast(base), "event_type").select(
        "event_type",
        "hour",
        "x",
        "k",
        F.sum(
            F.col("x") - F.col("k") - F.expr("k div 10")
        ).over(running).alias("pref"),
    )
    s = p.select(
        "event_type",
        "hour",
        "x",
        "k",
        (
            F.col("pref")
            - F.least(F.lit(0).cast("long"), F.min("pref").over(running))
        ).alias("cusum"),
    )
    return s.select(
        "event_type",
        "hour",
        "x",
        "cusum",
        F.when(F.col("cusum") > 4 * F.col("k"), 1).otherwise(0).alias("alarm"),
    )


@register(
    "events_mannwhitney_drift",
    """
    WITH e AS (
      SELECT event_type, value,
             CASE WHEN ts < TIMESTAMP '2024-01-16 00:00:00'
                  THEN 0 ELSE 1 END AS late
      FROM events
    ),
    pv AS (
      SELECT event_type, value,
             CAST(SUM(CASE WHEN late = 0 THEN 1 ELSE 0 END) AS BIGINT) AS a,
             CAST(SUM(late) AS BIGINT) AS b
      FROM e GROUP BY event_type, value
    ),
    c AS (
      SELECT event_type, a, b,
             CAST(SUM(b) OVER (PARTITION BY event_type ORDER BY value
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             AS BIGINT) AS cum_b
      FROM pv
    )
    SELECT event_type,
           CAST(SUM(a) AS BIGINT) AS n_a,
           CAST(SUM(b) AS BIGINT) AS n_b,
           CAST(SUM(a * (2 * (cum_b - b) + b)) AS BIGINT) AS u2x,
           CAST((CAST(SUM(a * (2 * (cum_b - b) + b)) AS BIGINT)
                 - CAST(SUM(a) AS BIGINT) * CAST(SUM(b) AS BIGINT)) * 1000
                // (CAST(SUM(a) AS BIGINT) * CAST(SUM(b) AS BIGINT))
             AS BIGINT) AS rank_biserial_permille
    FROM c GROUP BY event_type
    """,
)
def q_events_mannwhitney_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann–Whitney U rank-sum drift test per series — the nonparametric
    LOCATION-shift monitor completing the statistics family (KS = max CDF
    gap, z-test = proportions, bootstrap = CI, CUSUM = sequential): for
    each event_type, first-half vs second-half values are compared via
    U = #{(a,b): a > b} + ½·ties, computed WITHOUT ranking a single row —
    per distinct value the early/late counts cross-multiply against the
    running late-count (U·2 stays an exact integer through the ½-tie
    term), so the only shuffle is the (type, value) group and the CDF
    walk is a per-series window, exactly the `events_ks_drift` shape. The
    emitted effect size is the rank-biserial correlation in integer
    per-mille: 0 = no shift, ±1000 = total separation."""
    cut = F.lit("2024-01-16 00:00:00").cast("timestamp_ntz")
    e = table_scan(spark, sf_dir, "events").select(
        "event_type", "value", (F.col("ts") >= cut).cast("long").alias("late")
    )
    pv = e.groupBy("event_type", "value").agg(
        F.sum(F.lit(1) - F.col("late")).alias("a"),
        F.sum("late").alias("b"),
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("value")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    c = pv.select(
        "event_type", "a", "b", F.sum("b").over(w).alias("cum_b")
    )
    term = F.col("a") * (2 * (F.col("cum_b") - F.col("b")) + F.col("b"))
    return (
        c.groupBy("event_type")
        .agg(
            F.sum("a").alias("n_a"),
            F.sum("b").alias("n_b"),
            F.sum(term).alias("u2x"),
        )
        .selectExpr(
            "event_type",
            "n_a",
            "n_b",
            "u2x",
            "(u2x - n_a * n_b) * 1000 div (n_a * n_b)"
            " AS rank_biserial_permille",
        )
    )


@register(
    "events_autocorr_daily",
    """
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS day,
             CAST(COUNT(*) AS BIGINT) AS cnt
      FROM events GROUP BY event_type, CAST(ts AS DATE)
    ),
    lags AS (SELECT UNNEST([1, 2, 3]) AS lag),
    pr AS (
      SELECT a.event_type, l.lag, a.cnt AS x, b.cnt AS y
      FROM daily a
      CROSS JOIN lags l
      JOIN daily b ON b.event_type = a.event_type
                  AND b.day = a.day + CAST(l.lag AS INT)
    ),
    m AS (
      SELECT event_type, lag,
             CAST(COUNT(*) AS DOUBLE) AS n,
             CAST(CAST(SUM(x) AS BIGINT) AS DOUBLE) AS sx,
             CAST(CAST(SUM(y) AS BIGINT) AS DOUBLE) AS sy,
             CAST(CAST(SUM(x * y) AS BIGINT) AS DOUBLE) AS sxy,
             CAST(CAST(SUM(x * x) AS BIGINT) AS DOUBLE) AS sxx,
             CAST(CAST(SUM(y * y) AS BIGINT) AS DOUBLE) AS syy
      FROM pr GROUP BY event_type, lag
    )
    SELECT event_type, CAST(lag AS INT) AS lag, CAST(n AS BIGINT) AS n_pairs,
           CASE WHEN ((n * sxx) - (sx * sx)) <= 0
                  OR ((n * syy) - (sy * sy)) <= 0 THEN NULL
                ELSE ((n * sxy) - (sx * sy))
                     / (sqrt((n * sxx) - (sx * sx))
                        * sqrt((n * syy) - (sy * sy))) END AS acf
    FROM m
    """,
)
def q_events_autocorr_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Autocorrelation function of the daily event-count series at lags
    1–3 per event type — the seasonality/self-similarity diagnostic that
    complements the drift family (KS / CUSUM / Mann-Whitney detect SHIFTS;
    ACF detects PERIODICITY). Lag pairs come from an equi-join of the tiny
    daily aggregate to itself on day+lag (NOT a window over raw events —
    the 30-row-per-type series is the only thing shuffled); the Pearson
    formula runs on exact BIGINT moments cast to double, one fixed IEEE
    tree on both engines (the lineitem_corr idiom), with a zero-variance
    guard emitting NULL. Moments are exact below ~3·10⁶ events/day/type
    per 30-day window; beyond that cast the products to DECIMAL before
    summing."""
    e = table_scan(spark, sf_dir, "events")
    daily = e.groupBy(
        "event_type", F.col("ts").cast("date").alias("day")
    ).agg(F.count(F.lit(1)).alias("cnt"))
    al = daily.select(
        "event_type",
        "day",
        F.col("cnt").alias("x"),
        F.explode(F.array(F.lit(1), F.lit(2), F.lit(3))).alias("lag"),
    )
    bside = daily.select(
        F.col("event_type").alias("et2"),
        F.col("day").alias("day2"),
        F.col("cnt").alias("y"),
    )
    pr = al.join(
        bside,
        (F.col("et2") == F.col("event_type"))
        & (F.col("day2") == F.date_add(F.col("day"), F.col("lag"))),
    )
    m = pr.groupBy("event_type", "lag").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum("x").cast("double").alias("sx"),
        F.sum("y").cast("double").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast("double").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("double").alias("sxx"),
        F.sum(F.col("y") * F.col("y")).cast("double").alias("syy"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    sxy, sxx, syy = F.col("sxy"), F.col("sxx"), F.col("syy")
    vx = (n * sxx) - (sx * sx)
    vy = (n * syy) - (sy * sy)
    acf = F.when((vx <= 0) | (vy <= 0), F.lit(None).cast("double")).otherwise(
        ((n * sxy) - (sx * sy)) / (F.sqrt(vx) * F.sqrt(vy))
    )
    return m.select(
        "event_type",
        F.col("lag").cast("int").alias("lag"),
        n.cast("long").alias("n_pairs"),
        acf.alias("acf"),
    )


@register(
    "events_seasonal_naive_backtest",
    """
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS day,
             CAST(COUNT(*) AS BIGINT) AS cnt
      FROM events GROUP BY event_type, CAST(ts AS DATE)
    ),
    ev AS (
      SELECT a.event_type, a.cnt AS actual, b.cnt AS fc,
             ABS(a.cnt - b.cnt) * 1000 // a.cnt AS ape_permille
      FROM daily a JOIN daily b
        ON b.event_type = a.event_type AND b.day = a.day - 7
    )
    SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_eval_days,
           CAST(CAST(SUM(ape_permille) AS BIGINT) // COUNT(*) AS BIGINT)
             AS mape_permille
    FROM ev GROUP BY event_type
    """,
)
def q_events_seasonal_naive_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal-naive forecast backtest — the baseline every real forecast
    has to beat, evaluated the way production backtests run: predict each
    day with the value 7 days earlier (weekly seasonality), score MAPE per
    series. Exact integers throughout (per-day APE floors to per-mille,
    MAPE is the floored mean of floors — both engines replay the same
    rounding). Shape: one daily roll-up shuffle, then a self-equi-join of
    the tiny per-type series on day−7 — the fact stream is aggregated
    BEFORE any join, so the backtest costs O(series), not O(events)."""
    e = table_scan(spark, sf_dir, "events")
    daily = e.groupBy(
        "event_type", F.col("ts").cast("date").alias("day")
    ).agg(F.count(F.lit(1)).alias("cnt"))
    b = daily.select(
        F.col("event_type").alias("et2"),
        F.col("day").alias("day2"),
        F.col("cnt").alias("fc"),
    )
    ev = daily.join(
        b,
        (F.col("et2") == F.col("event_type"))
        & (F.col("day2") == F.date_sub(F.col("day"), 7)),
    ).selectExpr(
        "event_type", "(ABS(cnt - fc) * 1000) div cnt AS ape_permille"
    )
    return ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_eval_days"),
        F.expr("SUM(ape_permille) div COUNT(*)").alias("mape_permille"),
    )


def _holt_coeffs() -> tuple[int, list[int]]:
    """Exact one-step-ahead Holt (double-exponential) forecast as an
    integer convolution over the trailing 8 points: with α=β=1/2 and init
    l₁=x₁, b₁=0 the recursion is linear with dyadic-rational weights, so
    the h=1 forecast is Σ cₖ·xₖ / D with D = 2¹⁴. Returned coeffs are
    ordered OLDEST-first (x₁..x₈) and sum to exactly D."""
    from fractions import Fraction as Fr
    from math import lcm

    n = 8
    L = [Fr(0)] * n
    B = [Fr(0)] * n
    L[0] = Fr(1)
    for t in range(1, n):
        xt = [Fr(0)] * n
        xt[t] = Fr(1)
        newL = [Fr(1, 2) * xt[i] + Fr(1, 2) * (L[i] + B[i]) for i in range(n)]
        newB = [Fr(1, 2) * (newL[i] - L[i]) + Fr(1, 2) * B[i] for i in range(n)]
        L, B = newL, newB
    f = [L[i] + B[i] for i in range(n)]
    d = lcm(*[c.denominator for c in f])
    return d, [int(c * d) for c in f]


def _holt_oracle() -> str:
    d, cs = _holt_coeffs()
    # rn = 1 is the NEWEST day, so rn k pairs with coefficient x_{9-k}
    terms = " + ".join(
        f"SUM(CASE WHEN rn = {k} THEN cnt ELSE 0 END) * ({cs[8 - k]})"
        for k in range(1, 9)
    )
    return f"""
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS day,
             CAST(COUNT(*) AS BIGINT) AS cnt
      FROM events GROUP BY event_type, CAST(ts AS DATE)
    ),
    r AS (
      SELECT event_type, cnt,
             ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY day DESC)
               AS rn
      FROM daily
    ),
    s AS (
      SELECT event_type, CAST({terms} AS BIGINT) AS num
      FROM r WHERE rn <= 8
      GROUP BY event_type HAVING COUNT(*) = 8
    )
    SELECT event_type,
           CAST(CASE WHEN num < 0 THEN -((-num * 1000000) // {d})
                     ELSE (num * 1000000) // {d} END AS BIGINT)
             AS forecast_micro
    FROM s
    """


@register("events_holt_forecast", _holt_oracle())
def q_events_holt_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt linear-trend (double exponential smoothing) one-step forecast
    per event series — made EXACT by unrolling: any linear recursive
    filter over a bounded window is a fixed convolution, so with α=β=1/2
    the 8-day Holt forecast is Σ cₖxₖ/2¹⁴ with integer cₖ (computed once
    from the recursion with Fraction arithmetic — `_holt_coeffs`, summing
    to exactly 2¹⁴), emitted in sign-split floored micro units. No
    stateful scan, no float: the "recursion" costs one 8-row-per-series
    conditional aggregate after the daily roll-up, embarrassingly parallel
    across series. Series shorter than 8 days are dropped (HAVING n=8),
    identically on both engines."""
    d, cs = _holt_coeffs()
    e = table_scan(spark, sf_dir, "events")
    daily = e.groupBy(
        "event_type", F.col("ts").cast("date").alias("day")
    ).agg(F.count(F.lit(1)).alias("cnt"))
    w = Window.partitionBy("event_type").orderBy(F.desc("day"))
    r = daily.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") <= 8)
    num = None
    for k in range(1, 9):
        term = F.sum(
            F.when(F.col("rn") == k, F.col("cnt")).otherwise(F.lit(0))
        ) * F.lit(cs[8 - k])
        num = term if num is None else num + term
    s = (
        r.groupBy("event_type")
        .agg(num.alias("num"), F.count(F.lit(1)).alias("n_days"))
        .filter(F.col("n_days") == 8)
    )
    return s.selectExpr(
        "event_type",
        f"CAST(CASE WHEN num < 0 THEN -((-num * 1000000) div {d})"
        f"          ELSE (num * 1000000) div {d} END AS BIGINT)"
        " AS forecast_micro",
    )


@register(
    "events_poisson_anomaly_days",
    """
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS day,
             CAST(COUNT(*) AS BIGINT) AS cnt
      FROM events GROUP BY event_type, CAST(ts AS DATE)
    ),
    lam AS (
      SELECT event_type, CAST(SUM(cnt) AS BIGINT) AS total,
             CAST(COUNT(*) AS BIGINT) AS n_days
      FROM daily GROUP BY event_type
    )
    SELECT d.event_type, d.day, d.cnt,
           CAST(l.total * 1000 // l.n_days AS BIGINT) AS lambda_permille,
           (1000 * d.cnt - l.total * 1000 // l.n_days)
             * (1000 * d.cnt - l.total * 1000 // l.n_days)
             > 9000 * (l.total * 1000 // l.n_days) AS is_anomaly
    FROM daily d JOIN lam l ON l.event_type = d.event_type
    """,
)
def q_events_poisson_anomaly_days(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Poisson rate anomaly flags — under a Poisson(λ) null, a day is
    anomalous when (x−λ)²/λ > 9 (|z| > 3 in the normal approximation).
    λ is the per-series daily mean held in exact per-mille, and the
    threshold check cross-multiplies into a pure integer inequality
    (1000x − λₚ)² > 9000·λₚ — no division, no float, no sqrt; every day
    emitted with its flag so downstream alerting is a filter. One daily
    roll-up + one per-series mean broadcast back onto the (tiny)
    aggregate — O(series·days) after the single corpus-sized count."""
    e = table_scan(spark, sf_dir, "events")
    daily = e.groupBy(
        "event_type", F.col("ts").cast("date").alias("day")
    ).agg(F.count(F.lit(1)).alias("cnt"))
    lam = daily.groupBy("event_type").agg(
        F.sum("cnt").alias("total"), F.count(F.lit(1)).alias("n_days")
    )
    return (
        daily.join(F.broadcast(lam), "event_type")
        .selectExpr(
            "event_type",
            "day",
            "cnt",
            "(total * 1000) div n_days AS lambda_permille",
            "(1000 * cnt - (total * 1000) div n_days)"
            " * (1000 * cnt - (total * 1000) div n_days)"
            " > 9000 * ((total * 1000) div n_days) AS is_anomaly",
        )
    )


@register(
    "events_type_gini_impurity",
    """
    WITH c AS (
      SELECT user_id, event_type, CAST(COUNT(*) AS BIGINT) AS cnt
      FROM events GROUP BY user_id, event_type
    ),
    u AS (
      SELECT user_id, CAST(SUM(cnt) AS BIGINT) AS total,
             CAST(SUM(cnt * cnt) AS BIGINT) AS sq,
             CAST(COUNT(*) AS BIGINT) AS n_types
      FROM c GROUP BY user_id
    )
    SELECT user_id, total AS n_events, n_types,
           CAST((total * total - sq) * 1000000
                // (total * total) AS BIGINT) AS gini_ppm
    FROM u
    """,
)
def q_events_type_gini_impurity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Behavioral diversity per user as Gini impurity 1 − Σpᵢ² — the
    log-free diversity index (Shannon entropy needs ln, which differs in
    the last ulp across libm implementations; Gini is a pure rational):
    (T² − Σc²)·10⁶ / T² as one floored integer per user, 0 =
    single-behavior, →10⁶·(1−1/k) = maximally mixed over k types. Two
    stacked partial-agg shuffles on the same user key (the second
    re-aggregates the first — AQE coalesces them), no join, no float."""
    e = table_scan(spark, sf_dir, "events")
    c = e.groupBy("user_id", "event_type").agg(F.count(F.lit(1)).alias("cnt"))
    u = c.groupBy("user_id").agg(
        F.sum("cnt").alias("total"),
        F.sum(F.col("cnt") * F.col("cnt")).alias("sq"),
        F.count(F.lit(1)).alias("n_types"),
    )
    return u.selectExpr(
        "user_id",
        "total AS n_events",
        "n_types",
        "((total * total - sq) * 1000000) div (total * total) AS gini_ppm",
    )


@register(
    "events_burstiness_fano",
    """
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS day,
             CAST(COUNT(*) AS BIGINT) AS cnt
      FROM events GROUP BY event_type, CAST(ts AS DATE)
    ),
    m AS (
      SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(cnt) AS BIGINT) AS sx,
             CAST(SUM(cnt * cnt) AS BIGINT) AS sxx
      FROM daily GROUP BY event_type
    )
    SELECT event_type, n AS n_days, sx AS n_events,
           CAST(CASE WHEN n <= 1 OR sx = 0 THEN NULL
                ELSE (CAST(n AS HUGEINT) * sxx - CAST(sx AS HUGEINT) * sx)
                     * 1000000 // ((CAST(n AS HUGEINT) - 1) * sx)
           END AS BIGINT) AS fano_ppm
    FROM m
    """,
)
def q_events_burstiness_fano(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Burstiness via the Fano factor — sample variance over mean of the
    daily count series per type, the dispersion diagnostic that pairs with
    events_poisson_anomaly_days (Fano ≈ 10⁶ ppm ⇒ Poisson-consistent,
    ≫ ⇒ bursty/overdispersed, ≪ ⇒ regular): var/mean = (nΣx² − (Σx)²) /
    ((n−1)·Σx) as one HUGEINT/DECIMAL(38) rational floored to ppm — the
    integer-moment idiom, no float, degenerate series NULL-guarded. One
    daily roll-up + one per-series moment fold."""
    e = table_scan(spark, sf_dir, "events")
    daily = e.groupBy(
        "event_type", F.col("ts").cast("date").alias("day")
    ).agg(F.count(F.lit(1)).alias("cnt"))
    m = daily.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("cnt").alias("sx"),
        F.sum(F.col("cnt") * F.col("cnt")).alias("sxx"),
    )
    return m.selectExpr(
        "event_type",
        "n AS n_days",
        "sx AS n_events",
        # combined divisor: floor(floor(X/a)/b) == floor(X/(ab)) for
        # positive ints, and the single div keeps the intermediate inside
        # DECIMAL(38) instead of clipping at Spark div's BIGINT result
        "CAST(CASE WHEN n <= 1 OR sx = 0 THEN NULL"
        "     ELSE (CAST(n AS DECIMAL(38,0)) * sxx - CAST(sx AS DECIMAL(38,0)) * sx)"
        "          * 1000000 div ((CAST(n AS DECIMAL(38,0)) - 1) * sx)"
        " END AS BIGINT) AS fano_ppm",
    )


@register(
    "events_cuped_variance_reduction",
    """
    WITH per_user AS (
      SELECT user_id,
             CAST(SUM(CASE WHEN ts < TIMESTAMP '2024-01-16' THEN 1 ELSE 0 END)
                  AS BIGINT) AS x,
             CAST(SUM(CASE WHEN ts >= TIMESTAMP '2024-01-16' THEN 1 ELSE 0 END)
                  AS BIGINT) AS y
      FROM events GROUP BY user_id
    ),
    m AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
             CAST(SUM(x * x) AS BIGINT) AS sxx,
             CAST(SUM(y * y) AS BIGINT) AS syy,
             CAST(SUM(x * y) AS BIGINT) AS sxy
      FROM per_user
    ),
    s AS (
      SELECT n, sx, sy,
             CAST(n AS HUGEINT) * sxy - CAST(sx AS HUGEINT) * sy AS cov_n,
             CAST(n AS HUGEINT) * sxx - CAST(sx AS HUGEINT) * sx AS varx_n,
             CAST(n AS HUGEINT) * syy - CAST(sy AS HUGEINT) * sy AS vary_n
      FROM m
    )
    SELECT CAST(n AS BIGINT) AS n_users,
           CAST(CASE WHEN varx_n = 0 THEN NULL
                     WHEN cov_n < 0 THEN -((-cov_n * 1000000) // varx_n)
                     ELSE (cov_n * 1000000) // varx_n END AS BIGINT)
             AS theta_ppm,
           CAST(CASE WHEN varx_n = 0 OR vary_n = 0 THEN NULL
                     ELSE (cov_n * cov_n * 1000000) // (varx_n * vary_n)
                END AS BIGINT) AS var_reduction_ppm
    FROM s
    """,
)
def q_events_cuped_variance_reduction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED (Deng et al. 2013) — the industry-standard A/B variance
    reduction: adjust the experiment metric Y by the pre-period covariate
    X via θ = cov(X,Y)/var(X); the achievable variance reduction is
    exactly ρ². Here X = per-user event count in the first half of the
    window, Y = the second half, and both θ and ρ² are emitted as EXACT
    integer rationals from one pass of integer moments (HUGEINT /
    DECIMAL(38) cross-products, sign-split floor for θ, NULL-guarded
    degenerate variance) — no float, no second scan. Shape: one per-user
    conditional aggregate (both halves in one pass over the fact
    stream), one scalar moment fold — the cheapest possible CUPED
    calibration at any scale."""
    cut = F.lit("2024-01-16 00:00:00").cast("timestamp_ntz")
    e = table_scan(spark, sf_dir, "events")
    per_user = e.groupBy("user_id").agg(
        F.sum(F.when(F.col("ts") < cut, 1).otherwise(0)).alias("x"),
        F.sum(F.when(F.col("ts") >= cut, 1).otherwise(0)).alias("y"),
    )
    m = per_user.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
    )
    s = m.selectExpr(
        "n",
        "CAST(n AS DECIMAL(38,0)) * sxy - CAST(sx AS DECIMAL(38,0)) * sy"
        " AS cov_n",
        "CAST(n AS DECIMAL(38,0)) * sxx - CAST(sx AS DECIMAL(38,0)) * sx"
        " AS varx_n",
        "CAST(n AS DECIMAL(38,0)) * syy - CAST(sy AS DECIMAL(38,0)) * sy"
        " AS vary_n",
    )
    return s.selectExpr(
        "CAST(n AS BIGINT) AS n_users",
        "CAST(CASE WHEN varx_n = 0 THEN NULL"
        "          WHEN cov_n < 0 THEN -((-cov_n * 1000000) div varx_n)"
        "          ELSE (cov_n * 1000000) div varx_n END AS BIGINT)"
        " AS theta_ppm",
        "CAST(CASE WHEN varx_n = 0 OR vary_n = 0 THEN NULL"
        "          ELSE (cov_n * cov_n * 1000000) div (varx_n * vary_n)"
        "     END AS BIGINT) AS var_reduction_ppm",
    )


@register(
    "events_ab_power_mde",
    """
    WITH a AS (
      SELECT user_id,
             CAST(concat('0x', substr(md5(CAST(user_id AS VARCHAR)), 1, 15))
                  AS BIGINT) % 2 AS arm,
             CAST(COUNT(*) AS BIGINT) >= 14 AS converted
      FROM events WHERE event_type = 'view' GROUP BY user_id
    ),
    m AS (
      SELECT CAST(SUM(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n0,
             CAST(SUM(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
             CAST(SUM(CASE WHEN converted THEN 1 ELSE 0 END) AS BIGINT) AS c
      FROM a
    )
    SELECT n0 AS n_control, n1 AS n_treatment,
           CAST(c * 1000 // (n0 + n1) AS BIGINT) AS pooled_rate_permille,
           CASE WHEN n0 = 0 OR n1 = 0 THEN NULL
                ELSE (1.959963984540054 + 0.8416212335729143)
                     * sqrt((CAST(c AS DOUBLE) / (n0 + n1))
                            * (1.0 - CAST(c AS DOUBLE) / (n0 + n1))
                            * (1.0 / n0 + 1.0 / n1)) END
             AS mde_abs
    FROM m
    """,
)
def q_events_ab_power_mde(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A/B power analysis — the minimum detectable effect at α=0.05 /
    power=0.8 for the experiment the registry's z-test would run:
    MDE = (z₀.₉₇₅ + z₀.₈)·√(p̄(1−p̄)(1/n₀+1/n₁)), with arms assigned by
    the portable hash (the stable engine-replayable randomization) and
    conversion defined exactly as in events_ab_proportion_test. The z
    constants are written as literal doubles and √ is the one correctly-
    rounded IEEE op, so the whole formula is a fixed deterministic tree
    over exact integer counts — completing the experimentation kit
    (design → MDE here, analysis → z-test, sensitivity → CUPED). One
    per-user aggregate + one scalar fold."""
    e = table_scan(spark, sf_dir, "events")
    from ..functions.hashing import portable_hash64

    a = (
        e.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg((F.count(F.lit(1)) >= 14).alias("converted"))
        .select(
            (F.pmod(portable_hash64(F.col("user_id")), F.lit(2))).alias("arm"),
            "converted",
        )
    )
    m = a.agg(
        F.sum(F.when(F.col("arm") == 0, 1).otherwise(0)).alias("n0"),
        F.sum(F.when(F.col("arm") == 1, 1).otherwise(0)).alias("n1"),
        F.sum(F.when(F.col("converted"), 1).otherwise(0)).alias("c"),
    )
    return m.selectExpr(
        "n0 AS n_control",
        "n1 AS n_treatment",
        "(c * 1000) div (n0 + n1) AS pooled_rate_permille",
        "CASE WHEN n0 = 0 OR n1 = 0 THEN NULL"
        " ELSE (1.959963984540054D + 0.8416212335729143D)"
        "      * sqrt((CAST(c AS DOUBLE) / (n0 + n1))"
        "             * (1.0D - CAST(c AS DOUBLE) / (n0 + n1))"
        "             * (1.0D / n0 + 1.0D / n1)) END"
        " AS mde_abs",
    )


@register(
    "events_forecast_backtest_tournament",
    """
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS day,
             CAST(COUNT(*) AS BIGINT) AS cnt
      FROM events GROUP BY event_type, CAST(ts AS DATE)
    ),
    ev AS (
      SELECT a.event_type, a.day, a.cnt AS actual,
             n.cnt AS fc_naive, s.cnt AS fc_seasonal
      FROM daily a
      JOIN daily n ON n.event_type = a.event_type AND n.day = a.day - 1
      JOIN daily s ON s.event_type = a.event_type AND s.day = a.day - 7
    ),
    ape AS (
      SELECT event_type,
             ABS(actual - fc_naive) * 1000 // actual AS ape_naive,
             ABS(actual - fc_seasonal) * 1000 // actual AS ape_seasonal
      FROM ev
    ),
    m AS (
      SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_eval_days,
             CAST(CAST(SUM(ape_naive) AS BIGINT) // COUNT(*) AS BIGINT)
               AS mape_naive_permille,
             CAST(CAST(SUM(ape_seasonal) AS BIGINT) // COUNT(*) AS BIGINT)
               AS mape_seasonal_permille
      FROM ape GROUP BY event_type
    )
    SELECT event_type, n_eval_days, mape_naive_permille,
           mape_seasonal_permille,
           CASE WHEN mape_seasonal_permille < mape_naive_permille
                THEN 'seasonal_naive' ELSE 'naive' END AS winner
    FROM m
    """,
)
def q_events_forecast_backtest_tournament(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Forecast-method tournament — the model-selection loop every
    forecasting pipeline runs, as ONE relational pass: score naive
    (yesterday) against seasonal-naive (last week) on the SAME evaluable
    days (both-lags-present join keeps the comparison fair), per-series
    integer MAPE with winner-takes-ties-to-naive. At 100 TB this is the
    shape of backtest infrastructure: forecasts as lag-joins over the
    pre-aggregated series table, methods as columns — adding a method
    adds a join + a column, never a rescan of the fact stream."""
    e = table_scan(spark, sf_dir, "events")
    daily = e.groupBy(
        "event_type", F.col("ts").cast("date").alias("day")
    ).agg(F.count(F.lit(1)).alias("cnt"))
    n = daily.select(
        F.col("event_type").alias("et_n"),
        F.col("day").alias("day_n"),
        F.col("cnt").alias("fc_naive"),
    )
    sN = daily.select(
        F.col("event_type").alias("et_s"),
        F.col("day").alias("day_s"),
        F.col("cnt").alias("fc_seasonal"),
    )
    ev = (
        daily.join(
            n,
            (F.col("et_n") == F.col("event_type"))
            & (F.col("day_n") == F.date_sub(F.col("day"), 1)),
        )
        .join(
            sN,
            (F.col("et_s") == F.col("event_type"))
            & (F.col("day_s") == F.date_sub(F.col("day"), 7)),
        )
        .selectExpr(
            "event_type",
            "(ABS(cnt - fc_naive) * 1000) div cnt AS ape_naive",
            "(ABS(cnt - fc_seasonal) * 1000) div cnt AS ape_seasonal",
        )
    )
    m = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_eval_days"),
        F.expr("SUM(ape_naive) div COUNT(*)").alias("mape_naive_permille"),
        F.expr("SUM(ape_seasonal) div COUNT(*)").alias(
            "mape_seasonal_permille"
        ),
    )
    return m.selectExpr(
        "event_type",
        "n_eval_days",
        "mape_naive_permille",
        "mape_seasonal_permille",
        "CASE WHEN mape_seasonal_permille < mape_naive_permille"
        " THEN 'seasonal_naive' ELSE 'naive' END AS winner",
    )


@register(
    "events_diff_in_diff",
    """
    WITH per_user AS (
      SELECT user_id,
             CAST(concat('0x', substr(md5(CAST(user_id AS VARCHAR)), 1, 15))
                  AS BIGINT) % 2 AS arm,
             CAST(SUM(CASE WHEN ts < TIMESTAMP '2024-01-16' THEN 1 ELSE 0 END)
                  AS BIGINT) AS pre,
             CAST(SUM(CASE WHEN ts >= TIMESTAMP '2024-01-16' THEN 1 ELSE 0 END)
                  AS BIGINT) AS post
      FROM events GROUP BY user_id
    ),
    m AS (
      SELECT
        CAST(SUM(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_t,
        CAST(SUM(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_c,
        CAST(SUM(CASE WHEN arm = 1 THEN pre ELSE 0 END) AS BIGINT) AS st_pre,
        CAST(SUM(CASE WHEN arm = 1 THEN post ELSE 0 END) AS BIGINT) AS st_post,
        CAST(SUM(CASE WHEN arm = 0 THEN pre ELSE 0 END) AS BIGINT) AS sc_pre,
        CAST(SUM(CASE WHEN arm = 0 THEN post ELSE 0 END) AS BIGINT) AS sc_post
      FROM per_user
    )
    SELECT n_t AS n_treatment, n_c AS n_control,
           st_pre, st_post, sc_pre, sc_post,
           CAST(CASE WHEN n_t = 0 OR n_c = 0 THEN NULL
                ELSE CASE WHEN ((st_post - st_pre) * n_c
                               - (sc_post - sc_pre) * n_t) < 0
                  THEN -((-((st_post - st_pre) * n_c
                            - (sc_post - sc_pre) * n_t)
                          * CAST(1000000 AS HUGEINT)) // (n_t * n_c))
                  ELSE (((st_post - st_pre) * n_c
                         - (sc_post - sc_pre) * n_t)
                        * CAST(1000000 AS HUGEINT)) // (n_t * n_c) END
           END AS BIGINT) AS did_micro
    FROM m
    """,
)
def q_events_diff_in_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Difference-in-differences — the quasi-experimental estimator that
    completes the causal-inference family (z-test, CUPED, MDE, now DiD):
    DiD = (T̄_post − T̄_pre) − (C̄_post − C̄_pre), held EXACT by clearing
    the per-arm denominators — (ΔS_T·n_C − ΔS_C·n_T)·10⁶ / (n_T·n_C) in
    HUGEINT/DECIMAL(38) with sign-split floor (per-user micro units).
    Arms by portable hash, pre/post split at the window midpoint,
    everything from ONE per-user conditional aggregate + one scalar fold
    — the same single-pass shape as the CUPED calibration."""
    cut = F.lit("2024-01-16 00:00:00").cast("timestamp_ntz")
    e = table_scan(spark, sf_dir, "events")
    from ..functions.hashing import portable_hash64

    per_user = e.groupBy("user_id").agg(
        F.sum(F.when(F.col("ts") < cut, 1).otherwise(0)).alias("pre"),
        F.sum(F.when(F.col("ts") >= cut, 1).otherwise(0)).alias("post"),
    ).select(
        F.pmod(portable_hash64(F.col("user_id")), F.lit(2)).alias("arm"),
        "pre",
        "post",
    )
    m = per_user.agg(
        F.sum(F.when(F.col("arm") == 1, 1).otherwise(0)).alias("n_t"),
        F.sum(F.when(F.col("arm") == 0, 1).otherwise(0)).alias("n_c"),
        F.sum(F.when(F.col("arm") == 1, F.col("pre")).otherwise(0)).alias("st_pre"),
        F.sum(F.when(F.col("arm") == 1, F.col("post")).otherwise(0)).alias("st_post"),
        F.sum(F.when(F.col("arm") == 0, F.col("pre")).otherwise(0)).alias("sc_pre"),
        F.sum(F.when(F.col("arm") == 0, F.col("post")).otherwise(0)).alias("sc_post"),
    )
    return m.selectExpr(
        "n_t AS n_treatment",
        "n_c AS n_control",
        "st_pre",
        "st_post",
        "sc_pre",
        "sc_post",
        "CAST(CASE WHEN n_t = 0 OR n_c = 0 THEN NULL"
        " ELSE CASE WHEN ((st_post - st_pre) * n_c"
        "              - (sc_post - sc_pre) * n_t) < 0"
        "   THEN -((-((st_post - st_pre) * n_c - (sc_post - sc_pre) * n_t)"
        "           * CAST(1000000 AS DECIMAL(38,0))) div (n_t * n_c))"
        "   ELSE (((st_post - st_pre) * n_c - (sc_post - sc_pre) * n_t)"
        "         * CAST(1000000 AS DECIMAL(38,0))) div (n_t * n_c) END"
        " END AS BIGINT) AS did_micro",
    )


def _markov_absorb_oracle(rounds: int = 4) -> str:
    head = """
    WITH t AS (
      SELECT event_type AS from_type,
             LEAD(event_type) OVER (
               PARTITION BY user_id ORDER BY ts, event_id) AS to_type
      FROM events
    ),
    c AS (SELECT from_type, to_type, CAST(COUNT(*) AS BIGINT) AS n
          FROM t WHERE to_type IS NOT NULL GROUP BY from_type, to_type),
    tot AS (SELECT from_type, CAST(SUM(n) AS BIGINT) AS tn FROM c
            GROUP BY from_type),
    m AS (SELECT c.from_type, c.to_type,
                 CAST((c.n * 1000) // tot.tn AS BIGINT) AS pm
          FROM c JOIN tot USING (from_type)),
    states AS (SELECT DISTINCT from_type AS s FROM c
               UNION SELECT DISTINCT to_type FROM c),
    p0 AS (SELECT s, CAST(CASE WHEN s = 'purchase' THEN 1000 ELSE 0 END
                          AS BIGINT) AS p
           FROM states)"""
    body = ""
    for k in range(1, rounds + 1):
        body += f""",
    p{k} AS (
      SELECT st.s,
             CAST(CASE WHEN st.s = 'purchase' THEN 1000
                  ELSE COALESCE(CAST(SUM(m.pm * pp.p) AS BIGINT) // 1000, 0)
             END AS BIGINT) AS p
      FROM states st
      LEFT JOIN m ON m.from_type = st.s
      LEFT JOIN p{k - 1} pp ON pp.s = m.to_type
      GROUP BY st.s
    )"""
    return (
        head
        + body
        + f"""
    SELECT s AS event_type, p AS absorb_permille FROM p{rounds}
    """
    )


@register("events_markov_absorption_4step", _markov_absorb_oracle(4))
def q_events_markov_absorption_4step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Absorbing-Markov-chain conversion probability — from each state,
    the probability of reaching 'purchase' within 4 steps under the
    empirical transition matrix: the funnel question ('how close is a
    click to a purchase?') answered by chain analysis rather than path
    enumeration. purchase is made absorbing (p≡1000‰); each round applies
    p ← T·p in integer per-mille with a single floor per (state, round) —
    both engines replay the identical floored fixed point, unrolled in
    the oracle. The matrix is |states|² — |states| is the event-type
    vocabulary, a schema-level enum (5 here), dim-sized at any corpus
    scale — so after the one corpus-sized LEAD pass the transition
    counts are COLLECTED (≤|S|² rows) and the 4-round vector iteration
    runs driver-side in exact Python integers (optimization round r14,
    guide §5 — the same bounded-collect move as the removal-attribution
    lattice, implemented independently so the two queries stay
    cross-checks for each other). Every operand is non-negative, so
    Python ``//`` replays SQL ``div`` bit-for-bit; the oracle MATCH at
    three SFs is the equivalence proof. The in-plan form spent ~2 s of
    per-round stage scheduling + AQE re-planning on ≤25-row joins."""
    e = table_scan(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    t = (
        e.select("user_id", "event_id", "ts", "event_type")
        .withColumn("to_type", F.lead("event_type").over(w))
        .filter(F.col("to_type").isNotNull())
        .select(F.col("event_type").alias("from_type"), "to_type")
    )
    from ..operators.agg import bounded_collect

    cnt = {
        (r["from_type"], r["to_type"]): r["n"]
        for r in bounded_collect(
            t.groupBy("from_type", "to_type").agg(F.count(F.lit(1)).alias("n")),
            _LATTICE_STATES_MAX**2,
            "events_markov_absorption_4step transition counts (|S|² for a "
            f"schema-level event-type enum, |S| ≤ {_LATTICE_STATES_MAX})",
        )
    }
    tn: dict[str, int] = {}
    for (f, _), n in cnt.items():
        tn[f] = tn.get(f, 0) + n
    pm = {(f, to): (n * 1000) // tn[f] for (f, to), n in cnt.items()}
    states = sorted({f for f, _ in cnt} | {to for _, to in cnt})
    p = {s: 1000 if s == "purchase" else 0 for s in states}
    for _ in range(4):
        # the SQL left joins: states with no outgoing transition sum
        # nothing (COALESCE → 0); every to_type is itself a state, so
        # the p' lookup never misses
        p = {
            s: 1000
            if s == "purchase"
            else sum(pm[(s, to)] * p[to] for to in states if (s, to) in pm)
            // 1000
            for s in states
        }
    return spark.createDataFrame(
        [(s, p[s]) for s in states],
        "event_type string, absorb_permille bigint",
    )


@register(
    "events_uplift_by_activity_band",
    """
    WITH per_user AS (
      SELECT user_id,
             CAST(concat('0x', substr(md5(CAST(user_id AS VARCHAR)), 1, 15))
                  AS BIGINT) % 2 AS arm,
             CAST(SUM(CASE WHEN ts < TIMESTAMP '2024-01-16' THEN 1 ELSE 0 END)
                  AS BIGINT) AS pre,
             CAST(SUM(CASE WHEN ts >= TIMESTAMP '2024-01-16' THEN 1 ELSE 0 END)
                  AS BIGINT) AS post
      FROM events GROUP BY user_id
    ),
    banded AS (
      SELECT CASE WHEN pre < 10 THEN '00-09' WHEN pre < 20 THEN '10-19'
                  WHEN pre < 30 THEN '20-29' ELSE '30+' END AS pre_band,
             arm, CASE WHEN post >= 14 THEN 1 ELSE 0 END AS conv
      FROM per_user
    ),
    m AS (
      SELECT pre_band,
             CAST(SUM(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_t,
             CAST(SUM(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_c,
             CAST(SUM(CASE WHEN arm = 1 THEN conv ELSE 0 END) AS BIGINT)
               AS conv_t,
             CAST(SUM(CASE WHEN arm = 0 THEN conv ELSE 0 END) AS BIGINT)
               AS conv_c
      FROM banded GROUP BY pre_band
    )
    SELECT pre_band, n_t AS n_treatment, n_c AS n_control,
           conv_t, conv_c,
           CAST(CASE WHEN n_t = 0 OR n_c = 0 THEN NULL
                ELSE conv_t * 1000 // n_t - conv_c * 1000 // n_c
           END AS BIGINT) AS uplift_permille
    FROM m
    """,
)
def q_events_uplift_by_activity_band(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heterogeneous treatment effects by pre-period activity band — the
    uplift-segmentation view (who does the treatment actually move?):
    users band by their pre-period event count on FIXED VALUE EDGES (no
    quantile estimation — bands replay exactly on any engine/shard),
    arms by portable hash, and per-band uplift = treatment conversion
    minus control conversion in floored per-mille. The banded extension
    of the overall z-test/DiD estimators — one per-user aggregate + one
    band fold."""
    cut = F.lit("2024-01-16 00:00:00").cast("timestamp_ntz")
    e = table_scan(spark, sf_dir, "events")
    from ..functions.hashing import portable_hash64

    per_user = e.groupBy("user_id").agg(
        F.sum(F.when(F.col("ts") < cut, 1).otherwise(0)).alias("pre"),
        F.sum(F.when(F.col("ts") >= cut, 1).otherwise(0)).alias("post"),
    ).select(
        F.pmod(portable_hash64(F.col("user_id")), F.lit(2)).alias("arm"),
        "pre",
        "post",
    )
    banded = per_user.selectExpr(
        "CASE WHEN pre < 10 THEN '00-09' WHEN pre < 20 THEN '10-19'"
        " WHEN pre < 30 THEN '20-29' ELSE '30+' END AS pre_band",
        "arm",
        "CASE WHEN post >= 14 THEN 1 ELSE 0 END AS conv",
    )
    m = banded.groupBy("pre_band").agg(
        F.sum(F.when(F.col("arm") == 1, 1).otherwise(0)).alias("n_t"),
        F.sum(F.when(F.col("arm") == 0, 1).otherwise(0)).alias("n_c"),
        F.sum(F.when(F.col("arm") == 1, F.col("conv")).otherwise(0)).alias(
            "conv_t"
        ),
        F.sum(F.when(F.col("arm") == 0, F.col("conv")).otherwise(0)).alias(
            "conv_c"
        ),
    )
    return m.selectExpr(
        "pre_band",
        "n_t AS n_treatment",
        "n_c AS n_control",
        "conv_t",
        "conv_c",
        "CAST(CASE WHEN n_t = 0 OR n_c = 0 THEN NULL"
        " ELSE (conv_t * 1000) div n_t - (conv_c * 1000) div n_c"
        " END AS BIGINT) AS uplift_permille",
    )


@register(
    "events_type_affinity_lift",
    """
    WITH u AS (
      SELECT DISTINCT user_id, event_type FROM events
    ),
    n AS (SELECT CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users FROM u),
    per AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_t FROM u
            GROUP BY event_type),
    pair AS (
      SELECT a.event_type AS type_a, b.event_type AS type_b,
             CAST(COUNT(*) AS BIGINT) AS n_both
      FROM u a JOIN u b
        ON a.user_id = b.user_id AND a.event_type < b.event_type
      GROUP BY a.event_type, b.event_type
    )
    SELECT p.type_a, p.type_b, p.n_both,
           CAST((CAST(p.n_both AS HUGEINT) * n.n_users * 1000000)
                // (CAST(pa.n_t AS HUGEINT) * pb.n_t) AS BIGINT) AS lift_ppm
    FROM pair p
    JOIN per pa ON pa.event_type = p.type_a
    JOIN per pb ON pb.event_type = p.type_b
    CROSS JOIN n
    """,
)
def q_events_type_affinity_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Behavior-affinity lift matrix — for every pair of event types, does
    doing one make a user more likely to do the other? lift =
    P(a∧b)/(P(a)·P(b)) over the distinct user-type grid, cleared to the
    exact integer n_both·N·10⁶/(n_a·n_b) (>10⁶ = affinity, <10⁶ =
    substitution). The user-level twin of market-basket lift: one
    distinct pass, a self-equi-join on user (each user carries ≤5 types —
    bounded fan), marginals broadcast back. HUGEINT/DECIMAL(38) keeps the
    triple product exact at any user count."""
    e = table_scan(spark, sf_dir, "events")
    u = e.select("user_id", "event_type").distinct().transform(cached)
    n = u.agg(F.countDistinct("user_id").alias("n_users"))
    per = u.groupBy("event_type").agg(F.count(F.lit(1)).alias("n_t"))
    a, b = u.alias("a"), u.alias("b")
    pair = (
        a.join(
            b,
            (F.col("a.user_id") == F.col("b.user_id"))
            & (F.col("a.event_type") < F.col("b.event_type")),
        )
        .groupBy(
            F.col("a.event_type").alias("type_a"),
            F.col("b.event_type").alias("type_b"),
        )
        .agg(F.count(F.lit(1)).alias("n_both"))
    )
    return (
        pair.join(
            F.broadcast(per.selectExpr("event_type AS type_a", "n_t AS na")),
            "type_a",
        )
        .join(
            F.broadcast(per.selectExpr("event_type AS type_b", "n_t AS nb")),
            "type_b",
        )
        .crossJoin(F.broadcast(n))
        .selectExpr(
            "type_a",
            "type_b",
            "n_both",
            "CAST((CAST(n_both AS DECIMAL(38,0)) * n_users * 1000000)"
            " div (CAST(na AS DECIMAL(38,0)) * nb) AS BIGINT) AS lift_ppm",
        )
    )


@register(
    "events_anomaly_consensus",
    """
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS day,
             CAST(dayofweek(CAST(ts AS DATE)) AS INT) AS dow,
             CAST(COUNT(*) AS BIGINT) AS x
      FROM events GROUP BY 1, 2, 3
    ),
    g AS (
      SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(x) AS BIGINT) AS sx,
             CAST(SUM(x * x) AS BIGINT) AS sxx
      FROM daily GROUP BY event_type
    ),
    gd AS (
      SELECT event_type, dow, CAST(COUNT(*) AS BIGINT) AS nd,
             CAST(SUM(x) AS BIGINT) AS sd,
             CAST(SUM(x * x) AS BIGINT) AS sdd
      FROM daily GROUP BY event_type, dow
    )
    SELECT d.event_type, d.day, d.x,
           (1000 * d.x - g.sx * 1000 // g.n)
             * (1000 * d.x - g.sx * 1000 // g.n)
             > 9000 * (g.sx * 1000 // g.n) AS poisson_flag,
           CASE WHEN g.n <= 1 THEN NULL
                ELSE CAST(d.x * g.n - g.sx AS HUGEINT)
                     * (d.x * g.n - g.sx) * (g.n - 1)
                     > CAST(9 AS HUGEINT) * g.n
                       * (g.n * g.sxx - g.sx * g.sx) END AS zscore_flag,
           CASE WHEN gd.nd <= 1 THEN NULL
                ELSE CAST(d.x * gd.nd - gd.sd AS HUGEINT)
                     * (d.x * gd.nd - gd.sd) * (gd.nd - 1)
                     > CAST(9 AS HUGEINT) * gd.nd
                       * (gd.nd * gd.sdd - gd.sd * gd.sd) END
             AS weekday_adjusted_flag,
           (CASE WHEN (1000 * d.x - g.sx * 1000 // g.n)
                      * (1000 * d.x - g.sx * 1000 // g.n)
                      > 9000 * (g.sx * 1000 // g.n) THEN 1 ELSE 0 END
          + CASE WHEN g.n > 1 AND CAST(d.x * g.n - g.sx AS HUGEINT)
                      * (d.x * g.n - g.sx) * (g.n - 1)
                      > CAST(9 AS HUGEINT) * g.n
                        * (g.n * g.sxx - g.sx * g.sx) THEN 1 ELSE 0 END
          + CASE WHEN gd.nd > 1 AND CAST(d.x * gd.nd - gd.sd AS HUGEINT)
                      * (d.x * gd.nd - gd.sd) * (gd.nd - 1)
                      > CAST(9 AS HUGEINT) * gd.nd
                        * (gd.nd * gd.sdd - gd.sd * gd.sd) THEN 1 ELSE 0 END)
             >= 2 AS consensus_anomaly
    FROM daily d
    JOIN g ON g.event_type = d.event_type
    JOIN gd ON gd.event_type = d.event_type AND gd.dow = d.dow
    """,
)
def q_events_anomaly_consensus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ensemble anomaly detection — three detectors vote per (series,
    day), all as EXACT cross-multiplied integer inequalities: (1) Poisson
    (x−λ)²>9λ against the per-mille mean, (2) a 3σ z-flag against the
    series' own variance — (xn−Σx)²(n−1) > 9n(nΣx²−(Σx)²), and (3) the
    same z-flag against the DAY-OF-WEEK conditional distribution (so a
    busy-Monday spike isn't an anomaly if Mondays are always busy —
    the seasonally-adjusted detector). consensus = majority (≥2).
    Detector disagreement is the interesting output: poisson-only flags
    mean overdispersion, weekday-only flags mean seasonality. One daily
    roll-up + two broadcast stat joins; no float, no sqrt."""
    e = table_scan(spark, sf_dir, "events")
    daily = e.groupBy(
        "event_type",
        F.col("ts").cast("date").alias("day"),
        (F.dayofweek(F.col("ts").cast("date")) - 1).cast("int").alias("dow"),
    ).agg(F.count(F.lit(1)).alias("x"))
    g = daily.groupBy(F.col("event_type").alias("et_g")).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    )
    gd = daily.groupBy(
        F.col("event_type").alias("et_d"), F.col("dow").alias("dow_d")
    ).agg(
        F.count(F.lit(1)).alias("nd"),
        F.sum("x").alias("sd"),
        F.sum(F.col("x") * F.col("x")).alias("sdd"),
    )
    j = daily.join(
        F.broadcast(g), daily["event_type"] == g["et_g"]
    ).join(
        F.broadcast(gd),
        (daily["event_type"] == gd["et_d"]) & (daily["dow"] == gd["dow_d"]),
    )
    pois = (
        "(1000 * x - (sx * 1000) div n) * (1000 * x - (sx * 1000) div n)"
        " > 9000 * ((sx * 1000) div n)"
    )
    zg = (
        "CAST(x * n - sx AS DECIMAL(38,0)) * (x * n - sx) * (n - 1)"
        " > CAST(9 AS DECIMAL(38,0)) * n * (n * sxx - sx * sx)"
    )
    zd = (
        "CAST(x * nd - sd AS DECIMAL(38,0)) * (x * nd - sd) * (nd - 1)"
        " > CAST(9 AS DECIMAL(38,0)) * nd * (nd * sdd - sd * sd)"
    )
    return j.selectExpr(
        "event_type",
        "day",
        "x",
        f"{pois} AS poisson_flag",
        f"CASE WHEN n <= 1 THEN NULL ELSE {zg} END AS zscore_flag",
        f"CASE WHEN nd <= 1 THEN NULL ELSE {zd} END"
        " AS weekday_adjusted_flag",
        f"(CASE WHEN {pois} THEN 1 ELSE 0 END"
        f" + CASE WHEN n > 1 AND {zg} THEN 1 ELSE 0 END"
        f" + CASE WHEN nd > 1 AND {zd} THEN 1 ELSE 0 END) >= 2"
        " AS consensus_anomaly",
    )


@register(
    "events_cramer_von_mises_drift",
    """
    WITH e AS (
      SELECT event_type, value,
             CASE WHEN ts >= TIMESTAMP '2024-01-16 00:00:00'
                  THEN 1 ELSE 0 END AS is_b
      FROM events
    ),
    pv AS (
      SELECT event_type, value,
             CAST(SUM(1 - is_b) AS BIGINT) AS a,
             CAST(SUM(is_b) AS BIGINT) AS b
      FROM e GROUP BY event_type, value
    ),
    c AS (
      SELECT event_type, a + b AS w,
             CAST(SUM(a) OVER win AS BIGINT) AS cum_a,
             CAST(SUM(b) OVER win AS BIGINT) AS cum_b
      FROM pv
      WINDOW win AS (PARTITION BY event_type ORDER BY value
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    ),
    t AS (
      SELECT event_type, CAST(SUM(a) AS BIGINT) AS n_a,
             CAST(SUM(b) AS BIGINT) AS n_b
      FROM pv GROUP BY event_type
    ),
    folded AS (
      SELECT c.event_type, t.n_a, t.n_b,
             SUM(CAST(w AS HUGEINT)
                 * (cum_a * CAST(n_b AS HUGEINT) - cum_b * CAST(n_a AS HUGEINT))
                 * (cum_a * CAST(n_b AS HUGEINT) - cum_b * CAST(n_a AS HUGEINT)))
               AS num
      FROM c JOIN t ON c.event_type = t.event_type
      GROUP BY c.event_type, t.n_a, t.n_b
    )
    SELECT event_type, n_a, n_b,
           CAST((num * 1000000000)
                // (CAST(n_a + n_b AS HUGEINT) * (n_a + n_b)
                    * n_a * CAST(n_b AS HUGEINT)) AS BIGINT) AS cvm_ppb
    FROM folded
    """,
)
def q_events_cramer_von_mises_drift(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Two-sample Cramér–von Mises drift statistic per event_type between
    the first 15 days and the rest of the month — the INTEGRATED companion
    to events_ks_drift's max-gap: KS sees only the single worst CDF
    deviation, CvM accumulates the squared gap over the whole pooled
    sample, so it catches broad small shifts KS misses.
    T = Σ_pooled (F₁(x) − F₂(x))² · n_a·n_b/N² is computed float-free by
    cross-multiplying the cumulative counts: with D_v = cumA·n_b − cumB·n_a
    and pooled weight w_v, T = Σ w_v·D_v² / (N²·n_a·n_b), reported as the
    exact ppb floor. Σ w·D² reaches ~1e21 at sf0.1 so the fold runs in
    DECIMAL(38)/HUGEINT and only the final floor is cast down. Same plan
    shape as KS: one (type, value) grouped shuffle, a per-type ordered CDF
    window, broadcast totals — drift monitoring at fact-table scale."""
    cut = F.lit("2024-01-16 00:00:00").cast("timestamp_ntz")
    e = table_scan(spark, sf_dir, "events").select(
        "event_type", "value", (F.col("ts") >= cut).cast("long").alias("is_b")
    )
    pv = e.groupBy("event_type", "value").agg(
        F.sum(F.lit(1) - F.col("is_b")).alias("a"),
        F.sum("is_b").alias("b"),
    )
    win = (
        Window.partitionBy("event_type")
        .orderBy("value")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    c = pv.select(
        "event_type",
        (F.col("a") + F.col("b")).alias("w"),
        F.sum("a").over(win).alias("cum_a"),
        F.sum("b").over(win).alias("cum_b"),
    )
    t = pv.groupBy("event_type").agg(
        F.sum("a").cast("long").alias("n_a"),
        F.sum("b").cast("long").alias("n_b"),
    )
    folded = (
        c.join(F.broadcast(t), "event_type")
        .select(
            "event_type",
            "n_a",
            "n_b",
            F.expr(
                "CAST(w AS DECIMAL(38,0))"
                " * (cum_a * CAST(n_b AS DECIMAL(19,0))"
                "    - cum_b * CAST(n_a AS DECIMAL(19,0)))"
                " * (cum_a * CAST(n_b AS DECIMAL(19,0))"
                "    - cum_b * CAST(n_a AS DECIMAL(19,0)))"
            ).alias("wd2"),
        )
        .groupBy("event_type", "n_a", "n_b")
        .agg(F.sum("wd2").alias("num"))
    )
    return folded.select(
        "event_type",
        "n_a",
        "n_b",
        F.expr(
            "(num * 1000000000)"
            " div (CAST(n_a + n_b AS DECIMAL(38,0)) * (n_a + n_b)"
            "      * n_a * CAST(n_b AS DECIMAL(19,0)))"
        )
        .cast("long")
        .alias("cvm_ppb"),
    )


@register(
    "events_energy_distance_drift",
    """
    WITH e AS (
      SELECT event_type,
             CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS v,
             CASE WHEN ts >= TIMESTAMP '2024-01-16 00:00:00'
                  THEN 1 ELSE 0 END AS is_b
      FROM events
    ),
    pv AS (
      SELECT event_type, v,
             CAST(SUM(1 - is_b) AS BIGINT) AS a,
             CAST(SUM(is_b) AS BIGINT) AS b
      FROM e GROUP BY event_type, v
    ),
    c AS (
      SELECT event_type, v, a, b,
             CAST(COALESCE(SUM(a) OVER w, 0) AS BIGINT) AS ca,
             CAST(COALESCE(SUM(b) OVER w, 0) AS BIGINT) AS cb,
             CAST(COALESCE(SUM(a * v) OVER w, 0) AS BIGINT) AS sa,
             CAST(COALESCE(SUM(b * v) OVER w, 0) AS BIGINT) AS sb
      FROM pv
      WINDOW w AS (PARTITION BY event_type ORDER BY v
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
    ),
    t AS (
      SELECT event_type, CAST(SUM(a) AS BIGINT) AS na,
             CAST(SUM(b) AS BIGINT) AS nb,
             CAST(SUM(a * v) AS BIGINT) AS ta,
             CAST(SUM(b * v) AS BIGINT) AS tb
      FROM pv GROUP BY event_type
    ),
    sums AS (
      SELECT c.event_type, t.na, t.nb,
             SUM(CAST(a AS HUGEINT) * (v * CAST(cb AS HUGEINT) - sb)
                 + CAST(a AS HUGEINT)
                   * ((tb - sb) - v * CAST(nb - cb AS HUGEINT))) AS cross_ab,
             SUM(CAST(a AS HUGEINT) * (v * CAST(ca AS HUGEINT) - sa)) AS within_a,
             SUM(CAST(b AS HUGEINT) * (v * CAST(cb AS HUGEINT) - sb)) AS within_b
      FROM c JOIN t ON c.event_type = t.event_type
      GROUP BY c.event_type, t.na, t.nb
    )
    SELECT event_type, na, nb,
           CAST((1000000 * (2 * cross_ab * na * CAST(nb AS HUGEINT)
                            - 2 * within_a * nb * CAST(nb AS HUGEINT)
                            - 2 * within_b * na * CAST(na AS HUGEINT)))
                // (CAST(na AS HUGEINT) * na * nb * nb)
                AS BIGINT) AS energy_microcents
    FROM sums
    """,
)
def q_events_energy_distance_drift(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Energy distance between the first 15 days and the rest, per
    event_type — Székely's E-statistic E = 2·E|X−Y| − E|X−X'| − E|Y−Y'|,
    the drift metric that is zero IFF the distributions are equal (KS and
    CvM are too, but E weights by actual value distance, so it is the one
    sensitive to tail magnitude, not just CDF position). Every pairwise
    term collapses to prefix sums over the sorted value domain:
    Σ_i Σ_j |x_i − y_j| = Σ_v a_v·[v·cb(v) − sb(v) + (tb − sb(v)) −
    v·(nb − cb(v))] where cb/sb are counts/sums of the other sample
    strictly below v — so the O(n²) double sum is one ordered window over
    the grouped (type, value-cents) table. The three mean denominators
    (na·nb, na², nb²) clear to the common na²·nb², and the statistic is
    reported as the exact micro-cents floor; products reach ~1e33 at
    sf0.1, inside DECIMAL(38)/HUGEINT. Same plan shape as the KS/CvM
    siblings: one grouped shuffle, one per-type window, broadcast totals."""
    cut = F.lit("2024-01-16 00:00:00").cast("timestamp_ntz")
    e = table_scan(spark, sf_dir, "events").select(
        "event_type",
        (F.col("value").cast("decimal(18,2)") * 100).cast("long").alias("v"),
        (F.col("ts") >= cut).cast("long").alias("is_b"),
    )
    pv = e.groupBy("event_type", "v").agg(
        F.sum(F.lit(1) - F.col("is_b")).alias("a"),
        F.sum("is_b").alias("b"),
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("v")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    c = pv.select(
        "event_type",
        "v",
        "a",
        "b",
        F.coalesce(F.sum("a").over(w), F.lit(0)).alias("ca"),
        F.coalesce(F.sum("b").over(w), F.lit(0)).alias("cb"),
        F.coalesce(F.sum(F.col("a") * F.col("v")).over(w), F.lit(0)).alias(
            "sa"
        ),
        F.coalesce(F.sum(F.col("b") * F.col("v")).over(w), F.lit(0)).alias(
            "sb"
        ),
    )
    t = pv.groupBy("event_type").agg(
        F.sum("a").cast("long").alias("na"),
        F.sum("b").cast("long").alias("nb"),
        F.sum(F.col("a") * F.col("v")).cast("long").alias("ta"),
        F.sum(F.col("b") * F.col("v")).cast("long").alias("tb"),
    )
    sums = (
        c.join(F.broadcast(t), "event_type")
        .select(
            "event_type",
            "na",
            "nb",
            F.expr(
                "CAST(a AS DECIMAL(38,0)) * (v * CAST(cb AS DECIMAL(19,0)) - sb)"
                " + CAST(a AS DECIMAL(38,0))"
                "   * ((tb - sb) - v * CAST(nb - cb AS DECIMAL(19,0)))"
            ).alias("xab"),
            F.expr(
                "CAST(a AS DECIMAL(38,0)) * (v * CAST(ca AS DECIMAL(19,0)) - sa)"
            ).alias("xaa"),
            F.expr(
                "CAST(b AS DECIMAL(38,0)) * (v * CAST(cb AS DECIMAL(19,0)) - sb)"
            ).alias("xbb"),
        )
        .groupBy("event_type", "na", "nb")
        .agg(
            F.sum("xab").alias("cross_ab"),
            F.sum("xaa").alias("within_a"),
            F.sum("xbb").alias("within_b"),
        )
    )
    return sums.select(
        "event_type",
        "na",
        "nb",
        F.expr(
            "(1000000 * (2 * cross_ab * na * CAST(nb AS DECIMAL(19,0))"
            "            - 2 * within_a * nb * CAST(nb AS DECIMAL(19,0))"
            "            - 2 * within_b * na * CAST(na AS DECIMAL(19,0))))"
            " div (CAST(na AS DECIMAL(19,0)) * na * nb * CAST(nb AS DECIMAL(19,0)))"
        )
        .cast("long")
        .alias("energy_microcents"),
    )


@register(
    "events_competing_risks_cif",
    """
    WITH per_user AS (
      SELECT user_id,
             MIN(CAST(ts AS DATE)) AS d0,
             MIN(CASE WHEN event_type = 'purchase' THEN CAST(ts AS DATE)
                 END) AS dp,
             MIN(CASE WHEN event_type = 'error' THEN CAST(ts AS DATE)
                 END) AS de,
             MAX(CAST(ts AS DATE)) AS dlast
      FROM events GROUP BY user_id
    ),
    obs AS (
      SELECT CASE
               WHEN dp IS NOT NULL AND (de IS NULL OR dp <= de)
                 THEN date_diff('day', d0, dp)
               WHEN de IS NOT NULL THEN date_diff('day', d0, de)
               ELSE date_diff('day', d0, dlast)
             END AS t,
             CASE
               WHEN dp IS NOT NULL AND (de IS NULL OR dp <= de) THEN 1
               WHEN de IS NOT NULL THEN 2
               ELSE 0
             END AS ev
      FROM per_user
    ),
    day_agg AS (
      SELECT t,
             CAST(SUM(CASE WHEN ev = 1 THEN 1 ELSE 0 END) AS BIGINT) AS dp,
             CAST(SUM(CASE WHEN ev = 2 THEN 1 ELSE 0 END) AS BIGINT) AS de,
             CAST(COUNT(*) AS BIGINT) AS leaving
      FROM obs GROUP BY t
    ),
    risk AS (
      SELECT t, dp, de,
             CAST((SELECT COUNT(*) FROM obs)
                  - (SUM(leaving) OVER (ORDER BY t ROWS BETWEEN
                      UNBOUNDED PRECEDING AND CURRENT ROW) - leaving)
                  AS BIGINT) AS n_at_risk
      FROM day_agg
    ),
    surv AS (
      SELECT t, dp, de, n_at_risk,
             COALESCE(product(1.0 - CAST(dp + de AS DOUBLE) / n_at_risk)
               OVER (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING
                     AND 1 PRECEDING), 1.0) AS s_prev
      FROM risk
    )
    SELECT CAST(t AS INT) AS day, dp AS n_purchase, de AS n_error,
           n_at_risk,
           SUM(s_prev * CAST(dp AS DOUBLE) / n_at_risk)
             OVER (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING
                   AND CURRENT ROW) AS cif_purchase,
           SUM(s_prev * CAST(de AS DOUBLE) / n_at_risk)
             OVER (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING
                   AND CURRENT ROW) AS cif_error
    FROM surv WHERE dp + de > 0
    """,
)
def q_events_competing_risks_cif(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Competing-risks cumulative incidence (Aalen–Johansen) — what
    Kaplan–Meier gets WRONG when two event types race: from each user's
    first-seen day, does a first PURCHASE or a first ERROR come first?
    Treating the rival event as censoring (1−KM per cause) overstates
    both curves; the CIF attributes each day's probability mass to the
    cause that actually claimed it: CIF_k(t) = Σ_{s≤t} S(s−)·d_k(s)/n(s)
    with S the ALL-cause survival, so cif_purchase + cif_error ≤ 1 always.
    Users with neither event are right-censored at their last-seen day
    (they leave the risk set without mass); purchase wins same-day ties
    (pinned). The event-time domain is bounded by the observation month
    (≤31 days after the per-user fold), so the risk-set walk, the
    exclusive-frame survival product, and the two running CIF sums are
    windows over a ≤31-row day table — both engines multiply and add the
    same doubles in the same ascending-day order. Data-sized work is one
    user-grouped pass."""
    ev = table_scan(spark, sf_dir, "events").select(
        "user_id",
        F.col("ts").cast("date").alias("d"),
        "event_type",
    )
    per_user = ev.groupBy("user_id").agg(
        F.min("d").alias("d0"),
        F.min(F.when(F.col("event_type") == "purchase", F.col("d"))).alias(
            "dp"
        ),
        F.min(F.when(F.col("event_type") == "error", F.col("d"))).alias(
            "de"
        ),
        F.max("d").alias("dlast"),
    )
    obs = per_user.select(
        F.when(
            F.col("dp").isNotNull()
            & (F.col("de").isNull() | (F.col("dp") <= F.col("de"))),
            F.datediff("dp", "d0"),
        )
        .when(F.col("de").isNotNull(), F.datediff("de", "d0"))
        .otherwise(F.datediff("dlast", "d0"))
        .alias("t"),
        F.when(
            F.col("dp").isNotNull()
            & (F.col("de").isNull() | (F.col("dp") <= F.col("de"))),
            1,
        )
        .when(F.col("de").isNotNull(), 2)
        .otherwise(0)
        .alias("ev"),
    ).transform(cached)
    day_agg = obs.groupBy("t").agg(
        F.sum(F.when(F.col("ev") == 1, 1).otherwise(0)).alias("dp"),
        F.sum(F.when(F.col("ev") == 2, 1).otherwise(0)).alias("de"),
        F.count(F.lit(1)).alias("leaving"),
    )
    total = obs.agg(F.count(F.lit(1)).alias("n_total"))
    cumw = Window.orderBy("t").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    prevw = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, -1)
    risk = day_agg.crossJoin(F.broadcast(total)).select(
        "t",
        "dp",
        "de",
        (
            F.col("n_total")
            - (F.sum("leaving").over(cumw) - F.col("leaving"))
        ).alias("n_at_risk"),
    )
    surv = risk.select(
        "t",
        "dp",
        "de",
        "n_at_risk",
        F.coalesce(
            F.product(
                1.0
                - (F.col("dp") + F.col("de")).cast("double")
                / F.col("n_at_risk")
            ).over(prevw),
            F.lit(1.0),
        ).alias("s_prev"),
    )
    return surv.filter(F.col("dp") + F.col("de") > 0).select(
        F.col("t").cast("int").alias("day"),
        F.col("dp").cast("long").alias("n_purchase"),
        F.col("de").cast("long").alias("n_error"),
        "n_at_risk",
        F.sum(
            F.col("s_prev") * F.col("dp").cast("double") / F.col("n_at_risk")
        )
        .over(cumw)
        .alias("cif_purchase"),
        F.sum(
            F.col("s_prev") * F.col("de").cast("double") / F.col("n_at_risk")
        )
        .over(cumw)
        .alias("cif_error"),
    )


@register(
    "events_dau_wau_stickiness",
    """
    WITH ud AS (
      SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
    ),
    dau AS (
      SELECT day, CAST(COUNT(*) AS BIGINT) AS dau FROM ud GROUP BY day
    ),
    fan AS (
      SELECT DISTINCT user_id, day + CAST(i AS INT) AS wday
      FROM ud, UNNEST(range(7)) AS u(i)
    ),
    wau AS (
      SELECT wday AS day, CAST(COUNT(*) AS BIGINT) AS wau
      FROM fan GROUP BY wday
    )
    SELECT d.day, d.dau, w.wau,
           CAST((1000000 * d.dau) // w.wau AS BIGINT) AS stickiness_ppm
    FROM dau d JOIN wau w ON d.day = w.day
    """,
)
def q_events_dau_wau_stickiness(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """DAU/WAU stickiness — the engagement ratio product dashboards track
    daily: what fraction of the trailing week's users came back TODAY?
    Rolling DISTINCT counts cannot be merged from daily aggregates
    (distincts don't sum), and a per-day window over raw events would
    funnel everything through single tasks — so each (user, active-day)
    pair FANS OUT to the 7 future window-anchors it belongs to, a
    distinct collapses revisits inside each window, and WAU(d) is a plain
    grouped count. The fan-out is ×7 on the SKINNY deduped pair table
    (never the raw events), the classic distributed rolling-distinct
    shape that holds at any scale; only days with activity are reported
    (ratio exact ppm). Two distinct shuffles + two grouped counts."""
    ud = (
        table_scan(spark, sf_dir, "events")
        .select("user_id", F.col("ts").cast("date").alias("day"))
        .distinct()
        .transform(cached)
    )
    dau = ud.groupBy("day").agg(F.count(F.lit(1)).cast("long").alias("dau"))
    fan = ud.select(
        "user_id",
        F.explode(F.sequence(F.lit(0), F.lit(6))).alias("i"),
        "day",
    ).select("user_id", F.date_add(F.col("day"), F.col("i")).alias("wday"))
    wau = (
        fan.distinct()
        .groupBy(F.col("wday").alias("day"))
        .agg(F.count(F.lit(1)).cast("long").alias("wau"))
    )
    return dau.join(wau, "day").select(
        "day",
        "dau",
        "wau",
        F.expr("(1000000 * dau) div wau").cast("long").alias("stickiness_ppm"),
    )


@register(
    "events_shapley_attribution",
    """
    WITH ch0 AS (
      SELECT DISTINCT event_type FROM events WHERE event_type <> 'purchase'
    ),
    ch AS (
      SELECT a.event_type, CAST(COUNT(b.event_type) AS INT) AS idx
      FROM ch0 a LEFT JOIN ch0 b ON b.event_type < a.event_type
      GROUP BY a.event_type
    ),
    c AS (SELECT CAST(COUNT(*) AS INT) AS c FROM ch),
    ut AS (
      SELECT DISTINCT user_id, event_type FROM events
      WHERE event_type <> 'purchase'
    ),
    um AS (
      SELECT ut.user_id, CAST(SUM(1::BIGINT << ch.idx) AS BIGINT) AS mask
      FROM ut JOIN ch USING (event_type) GROUP BY ut.user_id
    ),
    uc AS (
      SELECT user_id,
             MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS conv
      FROM events GROUP BY user_id
    ),
    ms AS (
      SELECT COALESCE(um.mask, 0) AS mask,
             CAST(SUM(uc.conv) AS BIGINT) AS conv
      FROM uc LEFT JOIN um USING (user_id) GROUP BY 1
    ),
    subsets AS (
      SELECT CAST(unnest(range(0, 1::BIGINT << c.c)) AS BIGINT) AS s FROM c
    ),
    v AS (
      SELECT subsets.s, CAST(COALESCE(SUM(ms.conv), 0) AS BIGINT) AS v
      FROM subsets LEFT JOIN ms ON (ms.mask & subsets.s) = ms.mask
      GROUP BY subsets.s
    ),
    contrib AS (
      SELECT ch.event_type,
             CAST(bit_count(v1.s) AS INT) AS ssz,
             v2.v - v1.v AS delta
      FROM ch
      JOIN v v1 ON (v1.s & (1::BIGINT << ch.idx)) = 0
      JOIN v v2 ON v2.s = (v1.s | (1::BIGINT << ch.idx))
    ),
    phi AS (
      SELECT contrib.event_type,
             CAST(SUM(factorial(ssz) * factorial(c.c - 1 - ssz) * delta)
               AS BIGINT) AS shapley_x_cfact
      FROM contrib CROSS JOIN c GROUP BY 1
    ),
    tot AS (SELECT CAST(SUM(shapley_x_cfact) AS BIGINT) AS tot FROM phi)
    SELECT phi.event_type AS channel, phi.shapley_x_cfact,
           CAST(CASE WHEN tot.tot > 0
                THEN (phi.shapley_x_cfact * 1000000) // tot.tot
                END AS BIGINT) AS share_ppm
    FROM phi CROSS JOIN tot
    """,
)
def q_events_shapley_attribution(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Exact Shapley-value channel attribution — the game-theoretic
    marketing-attribution standard (fair credit per touchpoint channel,
    unique axiomatic solution). Coalition worth v(S) = number of converted
    users whose full touch set is covered by channel subset S; channel c's
    Shapley value φ_c = Σ_{S∌c} |S|!(C−1−|S|)!/C! · (v(S∪{c}) − v(S)).
    The channel universe is the bounded event-type dimension (C ≤ a few
    dozen on any real product), so the 2^C subset lattice, the coalition
    worths, and the factorial-weighted marginals are all dim-sized
    broadcasts; the only data-sized stages are the per-user distinct
    touch-set and conversion aggregates (two user-keyed shuffles, partial
    aggs apply). Everything stays integer: φ is emitted scaled by C!
    (shapley_x_cfact) plus an exact floor-div ppm share, so cross-engine
    parity is exact — no factorial-ratio floats. Efficiency axiom holds
    by construction: Σφ·C! = C!·(v(full) − v(∅)).

    Execution shape (optimization round r14, guide §5): the data-sized
    work is two collects — the distinct non-purchase event types, capped
    at one past the channel bound so an oversized C fails before anything
    lattice-sized runs, then per-(touch-set) converted counts, ≤2^C rows;
    the subset lattice, coalition worths, and
    factorial-weighted marginals run driver-side in exact Python
    integers (the removal-attribution bounded-collect pattern). All
    marginals are non-negative (coverage is monotone in S), so Python
    ``//`` replays SQL ``div``; oracle MATCH at 3 SFs + the efficiency/
    replay pytests are the equivalence proof. The prior in-plan lattice
    (subset explode + masked broadcasts + factorial fold) paid several
    dim-sized stage rounds per run."""
    import math

    e = table_scan(spark, sf_dir, "events").select("user_id", "event_type")
    touches = (
        e.filter(F.col("event_type") != "purchase")
        .groupBy("user_id")
        .agg(F.sort_array(F.collect_set("event_type")).alias("ts"))
    )
    uc = e.groupBy("user_id").agg(
        F.max(
            F.when(F.col("event_type") == "purchase", 1).otherwise(0)
        ).alias("conv")
    )
    from ..operators.agg import bounded_collect

    # channel universe = the distinct non-purchase event types (the
    # oracle's ch0), collected capped at one past the bound so the 2^C
    # guard fires before any lattice-sized collect; idx = rank in the
    # sorted channel list — identical to the rank-free self-join count
    channels = sorted(
        r["event_type"]
        for r in e.filter(F.col("event_type") != "purchase")
        .select("event_type")
        .distinct()
        .limit(_SHAPLEY_CHANNELS_MAX + 1)
        .collect()
    )
    cdim = len(channels)
    if cdim > _SHAPLEY_CHANNELS_MAX:
        # the 2^C coalition lattice below is only "not data work" while C
        # is a dim-sized channel vocabulary — identical assumption to the
        # old in-plan sequence(0, 2^c−1) explode, now enforced loudly
        raise RuntimeError(
            f"events_shapley_attribution: at least {cdim} distinct channels "
            f"exceed the documented bound {_SHAPLEY_CHANNELS_MAX} — refusing "
            "to enumerate a 2^C coalition lattice on the driver"
        )
    if cdim == 0:
        return spark.createDataFrame(
            [], "channel string, shapley_x_cfact bigint, share_ppm bigint"
        )
    # ≤2^C rows: converted-user count per distinct touch SET (the empty
    # set for purchase-only users via the left join + empty-array
    # coalesce), collected
    set_rows = bounded_collect(
        uc.join(touches, "user_id", "left")
        .select(
            F.coalesce("ts", F.array().cast("array<string>")).alias("ts"),
            "conv",
        )
        .groupBy("ts")
        .agg(F.sum("conv").cast("long").alias("conv")),
        1 << cdim,
        f"events_shapley_attribution distinct touch sets (≤2^C for C = {cdim} channels)",
    )
    idx = {t: i for i, t in enumerate(channels)}
    ms: dict[int, int] = {}
    for r in set_rows:
        mask = 0
        for t in r["ts"]:
            mask |= 1 << idx[t]
        ms[mask] = ms.get(mask, 0) + r["conv"]
    # v(S) = converted users whose full touch set is covered by S
    v = [
        sum(cv for mask, cv in ms.items() if mask & s == mask)
        for s in range(1 << cdim)
    ]
    fact = [math.factorial(i) for i in range(cdim + 1)]
    phi: dict[str, int] = {}
    for ch_name, i in idx.items():
        bit = 1 << i
        phi[ch_name] = sum(
            fact[bin(s1).count("1")]
            * fact[cdim - 1 - bin(s1).count("1")]
            * (v[s1 | bit] - v[s1])
            for s1 in range(1 << cdim)
            if s1 & bit == 0
        )
    tot = sum(phi.values())
    rows = [
        (
            ch_name,
            phi[ch_name],
            (phi[ch_name] * 1_000_000) // tot if tot > 0 else None,
        )
        for ch_name in channels
    ]
    return spark.createDataFrame(
        rows, "channel string, shapley_x_cfact bigint, share_ppm bigint"
    )


@register(
    "model_calibration_reliability",
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
    g2 AS (
      SELECT bin, n_orders, n_pos,
             CAST((1000000 * n_pos) // n_orders AS BIGINT) AS pos_rate_ppm,
             CAST((2*bin + 1) * 50000 AS BIGINT) AS conf_ppm
      FROM g
    ),
    e AS (
      SELECT CAST(SUM(n_orders * abs(pos_rate_ppm - conf_ppm))
                  // SUM(n_orders) AS BIGINT) AS ece_ppm
      FROM g2
    )
    SELECT g2.bin, g2.n_orders, g2.n_pos, g2.pos_rate_ppm, g2.conf_ppm,
           CAST(g2.pos_rate_ppm - g2.conf_ppm AS BIGINT) AS gap_ppm,
           e.ece_ppm
    FROM g2 CROSS JOIN e
    """,
)
def q_model_calibration_reliability(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Reliability diagram + expected calibration error (ECE) — the
    standard eval for any score used as a probability (ranking models,
    quality classifiers, data-curation filters): bin the score into value
    deciles, compare each bin's OBSERVED positive rate against the bin's
    nominal confidence, and weight the absolute gaps into one ECE number.
    Score = o_totalprice in exact cents (a monotone proxy "bigger orders
    are likelier urgent"), positive = '1-URGENT'. Decile edges come from the
    distributed exact-rank kernel (_exact_rank_cutoffs, the
    customer_lorenz_deciles scale path) — no row crosses a global window;
    bin assignment is "count of the nine broadcast cutoffs strictly below
    v", deterministic under ties on both engines. Confidence for decile b
    is its nominal midpoint (2b+1)·50000 ppm — what a perfectly calibrated
    uniform-rank score would predict — so gap_ppm and the n-weighted
    ece_ppm are exact integers (ppm floors), never a float. One fact
    aggregate per bin + two single-row broadcasts; at 100 TB the only
    data-sized stages are the kernel's bin pass and the decile groupBy."""
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
    b = o.crossJoin(F.broadcast(cuts)).select(
        bin_expr.alias("bin"), "pos"
    )
    g = b.groupBy("bin").agg(
        F.count(F.lit(1)).cast("long").alias("n_orders"),
        F.sum("pos").cast("long").alias("n_pos"),
    )
    g2 = g.select(
        F.col("bin").cast("long").alias("bin"),
        "n_orders",
        "n_pos",
        F.expr("(1000000 * n_pos) div n_orders")
        .cast("long")
        .alias("pos_rate_ppm"),
        ((2 * F.col("bin") + 1) * 50000).cast("long").alias("conf_ppm"),
    ).transform(cached)  # ≤10 rows; the ECE branch re-reads it — without the cache
    # the full rank-kernel + decile aggregate runs twice (38.7→~20 s at SF1)
    ece = g2.agg(
        F.expr(
            "CAST(sum(n_orders * abs(pos_rate_ppm - conf_ppm))"
            " div sum(n_orders) AS BIGINT)"
        ).alias("ece_ppm")
    )
    return g2.crossJoin(F.broadcast(ece)).select(
        "bin",
        "n_orders",
        "n_pos",
        "pos_rate_ppm",
        "conf_ppm",
        (F.col("pos_rate_ppm") - F.col("conf_ppm"))
        .cast("long")
        .alias("gap_ppm"),
        "ece_ppm",
    )


@register(
    "events_nelson_aalen_hazard",
    """
    WITH u AS (
      SELECT user_id, MIN(ts) AS first_ts,
             MIN(CASE WHEN event_type = 'purchase' THEN ts END)
               AS first_purchase,
             MAX(ts) AS last_ts
      FROM events GROUP BY user_id
    ),
    obs AS (
      SELECT LEAST(CASE WHEN first_purchase IS NOT NULL
                   THEN date_diff('day', CAST(first_ts AS DATE),
                                  CAST(first_purchase AS DATE))
                   ELSE date_diff('day', CAST(first_ts AS DATE),
                                  CAST(last_ts AS DATE)) END, 30) AS t,
             CASE WHEN first_purchase IS NOT NULL
                   AND date_diff('day', CAST(first_ts AS DATE),
                                 CAST(first_purchase AS DATE)) <= 30
                  THEN 1 ELSE 0 END AS event
      FROM u
    ),
    d AS (
      SELECT t, CAST(SUM(event) AS BIGINT) AS d,
             CAST(COUNT(*) AS BIGINT) AS leaving
      FROM obs GROUP BY t
    ),
    n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_total FROM obs),
    r AS (
      SELECT d.t, d.d,
             CAST(n.n_total
                  - (SUM(d.leaving) OVER (ORDER BY d.t
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                     - d.leaving) AS BIGINT) AS n_at_risk
      FROM d CROSS JOIN n
    ),
    h AS (
      SELECT t, d, n_at_risk,
             CAST((1000000 * d) // n_at_risk AS BIGINT) AS hazard_ppm
      FROM r
    ),
    c AS (
      SELECT t, d, n_at_risk, hazard_ppm,
             CAST(SUM(hazard_ppm) OVER (ORDER BY t
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS BIGINT) AS cum_hazard_ppm
      FROM h
    )
    SELECT CAST(t AS BIGINT) AS day, d AS n_events, n_at_risk,
           hazard_ppm, cum_hazard_ppm
    FROM c WHERE d > 0
    """,
)
def q_events_nelson_aalen_hazard(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Nelson–Aalen cumulative hazard of time-to-first-purchase — the
    additive complement to orders_kaplan_meier_first_ship's product-limit
    survival: Ĥ(t) = Σ_{tᵢ≤t} dᵢ/nᵢ, the estimator conversion-latency and
    churn dashboards plot when they want hazard INCREMENTS (is day 3 a
    cliff?) rather than a survival curve. Per user: clock starts at the
    first event, the event is the first purchase, censoring at the last
    observed event (or the 30-day horizon — bounds the day domain at any
    scale, the KM lesson). Cross-engine exactness: each day's term is the
    exact ppm floor (10⁶·d) div n, and the cumulative hazard is the sum of
    those floored terms in ascending-day order — pure BIGINT on both
    engines (DuckDB's windowed SUM returns HUGEINT, cast back — the cusum
    lesson). Data-sized stages: one user-keyed aggregate, one ≤31-row day
    groupBy; the risk-set walk is a window over the bounded day table
    (whitelisted, same class as the KM curve)."""
    e = table_scan(spark, sf_dir, "events").select(
        "user_id", "event_type", "ts"
    )
    u = e.groupBy("user_id").agg(
        F.min("ts").alias("first_ts"),
        F.min(
            F.when(F.col("event_type") == "purchase", F.col("ts"))
        ).alias("first_purchase"),
        F.max("ts").alias("last_ts"),
    )
    purchase_days = F.datediff(
        F.col("first_purchase").cast("date"), F.col("first_ts").cast("date")
    )
    raw_t = F.when(
        F.col("first_purchase").isNotNull(), purchase_days
    ).otherwise(
        F.datediff(
            F.col("last_ts").cast("date"), F.col("first_ts").cast("date")
        )
    )
    obs = u.select(
        F.least(raw_t, F.lit(30)).alias("t"),
        F.when(
            F.col("first_purchase").isNotNull() & (purchase_days <= 30), 1
        )
        .otherwise(0)
        .alias("event"),
    )
    day_agg = obs.groupBy("t").agg(
        F.sum("event").cast("long").alias("d"),
        F.count(F.lit(1)).cast("long").alias("leaving"),
    )
    total = obs.agg(F.count(F.lit(1)).cast("long").alias("n_total"))
    cumw = Window.orderBy("t").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    risk = day_agg.crossJoin(F.broadcast(total)).select(
        "t",
        "d",
        (
            F.col("n_total")
            - (F.sum("leaving").over(cumw) - F.col("leaving"))
        )
        .cast("long")
        .alias("n_at_risk"),
    )
    h = risk.select(
        "t",
        "d",
        "n_at_risk",
        F.expr("(1000000 * d) div n_at_risk").cast("long").alias(
            "hazard_ppm"
        ),
    )
    c = h.select(
        "t",
        "d",
        "n_at_risk",
        "hazard_ppm",
        F.sum("hazard_ppm").over(cumw).cast("long").alias("cum_hazard_ppm"),
    )
    return c.filter(F.col("d") > 0).select(
        F.col("t").cast("long").alias("day"),
        F.col("d").alias("n_events"),
        "n_at_risk",
        "hazard_ppm",
        "cum_hazard_ppm",
    )


@register(
    "model_isotonic_calibration",
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
    p AS (
      SELECT bin, n_orders, n_pos,
             CAST(SUM(n_orders) OVER w AS BIGINT) AS cum_n,
             CAST(SUM(n_pos) OVER w AS BIGINT) AS cum_p
      FROM g
      WINDOW w AS (ORDER BY bin
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    ),
    pair AS (
      SELECT pj.bin AS j, pk.bin AS k,
             CAST((1000000 * (pk.cum_p - pj.cum_p + pj.n_pos))
                  // (pk.cum_n - pj.cum_n + pj.n_orders) AS BIGINT)
               AS avg_ppm
      FROM p pj JOIN p pk ON pj.bin <= pk.bin
    ),
    minh AS (
      SELECT g.bin AS i, pair.j, MIN(pair.avg_ppm) AS m
      FROM g JOIN pair ON pair.j <= g.bin AND pair.k >= g.bin
      GROUP BY g.bin, pair.j
    ),
    iso AS (
      SELECT i AS bin, CAST(MAX(m) AS BIGINT) AS iso_rate_ppm
      FROM minh GROUP BY i
    )
    SELECT g.bin, g.n_orders, g.n_pos,
           CAST((1000000 * g.n_pos) // g.n_orders AS BIGINT)
             AS pos_rate_ppm,
           iso.iso_rate_ppm
    FROM g JOIN iso USING (bin)
    """,
)
def q_model_isotonic_calibration(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Isotonic regression (PAVA) over the reliability-diagram bins — the
    standard POST-HOC score calibrator: the monotone step function closest
    (weighted L2) to the observed per-decile positive rates. Uses the
    minimax identity iso[i] = max_{j≤i} min_{k≥i} pooledavg(j..k), which
    equals the pool-adjacent-violators fit without a sequential scan.
    Exactness: floor-ppm commutes with min/max (monotone), so
    iso_rate_ppm == floor(10⁶ · exact PAVA value) — verified against a
    Fraction-arithmetic PAVA replay in pytest. Bin construction is shared
    with model_calibration_reliability (exact-rank decile cutoffs on the
    cents score). Data-sized stages: the rank kernel + one decile groupBy
    — the resulting ≤10-row bin table is COLLECTED and the prefix sums,
    (j,k) pooled-average grid, and max-of-min fold run driver-side in
    exact Python integers (optimization round r14, guide §5: the prior
    in-plan lattice paid a global-window + two join stages for ≤55
    rows). All pooled averages have non-negative operands, so Python
    ``//`` replays SQL ``div``; the oracle replays the identical lattice
    in SQL and MATCHes at 3 SFs."""
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
    from ..operators.agg import bounded_collect

    g = {
        r["bin"]: (r["n_orders"], r["n_pos"])
        for r in bounded_collect(
            o.crossJoin(F.broadcast(cuts))
            .select(bin_expr.alias("bin"), "pos")
            .groupBy("bin")
            .agg(
                F.count(F.lit(1)).cast("long").alias("n_orders"),
                F.sum("pos").cast("long").alias("n_pos"),
            ),
            10,
            "model_isotonic_calibration decile bins (bin = a sum of 9 "
            "indicator terms, so 0..9 by construction)",
        )
    }
    bins = sorted(g)
    cum_n: dict[int, int] = {}
    cum_p: dict[int, int] = {}
    tn = tp = 0
    for b in bins:
        tn += g[b][0]
        tp += g[b][1]
        cum_n[b], cum_p[b] = tn, tp
    def _avg_ppm(j: int, k: int) -> int:
        # pooled positives/weight over bins j..k (both present in g),
        # via the same prefix-sum identity as the SQL pair grid
        num = 1_000_000 * (cum_p[k] - cum_p[j] + g[j][1])
        den = cum_n[k] - cum_n[j] + g[j][0]
        return num // den
    rows = []
    for i in bins:
        iso = max(
            min(_avg_ppm(j, k) for k in bins if k >= i)
            for j in bins
            if j <= i
        )
        n_orders, n_pos = g[i]
        rows.append(
            (i, n_orders, n_pos, (1_000_000 * n_pos) // n_orders, iso)
        )
    return spark.createDataFrame(
        rows,
        "bin bigint, n_orders bigint, n_pos bigint, pos_rate_ppm bigint, "
        "iso_rate_ppm bigint",
    )


@register(
    "model_conformal_interval_calibration",
    """
    WITH o AS (
      SELECT o_orderkey,
             CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents,
             c.c_mktsegment AS segment,
             CAST(concat('0x', substr(md5(CAST(o_orderkey AS VARCHAR)),
                  1, 15)) AS BIGINT) % 100 AS bucket
      FROM orders JOIN customer c ON o_custkey = c_custkey
    ),
    tr AS (
      SELECT segment, CAST(SUM(cents) // COUNT(*) AS BIGINT) AS seg_mean
      FROM o WHERE bucket < 50 GROUP BY segment
    ),
    cal AS (
      SELECT abs(o.cents - tr.seg_mean) AS score
      FROM o JOIN tr USING (segment) WHERE bucket >= 50 AND bucket < 75
    ),
    nc AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM cal),
    rs AS (SELECT score, row_number() OVER (ORDER BY score) AS rn FROM cal),
    q AS (
      SELECT CAST(rs.score AS BIGINT) AS qhat FROM rs CROSS JOIN nc
      WHERE rs.rn = LEAST((9*nc.n + 18)//10, nc.n)
    ),
    te AS (
      SELECT o.segment, abs(o.cents - tr.seg_mean) AS err
      FROM o JOIN tr USING (segment) WHERE bucket >= 75
    )
    SELECT te.segment,
           CAST(COUNT(*) AS BIGINT) AS n_test,
           CAST(SUM(CASE WHEN te.err <= q.qhat THEN 1 ELSE 0 END)
             AS BIGINT) AS n_covered,
           CAST((1000000 * SUM(CASE WHEN te.err <= q.qhat THEN 1 ELSE 0
                END)) // COUNT(*) AS BIGINT) AS coverage_ppm,
           q.qhat
    FROM te CROSS JOIN q GROUP BY te.segment, q.qhat
    """,
)
def q_model_conformal_interval_calibration(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Split-conformal prediction intervals — the distribution-free
    uncertainty standard: fit any point predictor on a training split,
    take the ⌈(n+1)(1−α)⌉-th smallest absolute residual on a held-out
    CALIBRATION split as the interval half-width q̂, and the interval
    ŷ ± q̂ is guaranteed ≥ 1−α marginal coverage on exchangeable test
    data — no model or distribution assumptions. Here: predictor = per-
    mktsegment mean order value (cents) on the 50 % train split, α = 0.1,
    q̂ = exact order statistic of calibration scores via the distributed
    rank kernel (never a global sort), coverage audited per segment on
    the 25 % test split — the per-segment view exposes CONDITIONAL
    coverage gaps that the marginal guarantee deliberately ignores.
    Splits are portable-md5 hash buckets (engine/order/partition
    independent — the dataset_split_leakage_audit convention). All
    integer: cents, floor seg means, exact-rank q̂, ppm coverage. Scale:
    one customer join, three hash-filtered aggregates, a 5-row seg-mean
    broadcast, the rank kernel's binned selection."""
    from ..functions.hashing import portable_hash64

    c = table_scan(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    o = (
        table_scan(spark, sf_dir, "orders")
        .join(c, F.col("o_custkey") == F.col("c_custkey"))
        .select(
            F.round(F.col("o_totalprice") * 100)
            .cast("long")
            .alias("cents"),
            F.col("c_mktsegment").alias("segment"),
            (portable_hash64(F.col("o_orderkey")) % 100)
            .cast("int")
            .alias("bucket"),
        )
    )
    tr = (
        o.filter(F.col("bucket") < 50)
        .groupBy("segment")
        .agg(F.expr("sum(cents) div count(1)").cast("long").alias("seg_mean"))
    )
    cal = (
        o.filter((F.col("bucket") >= 50) & (F.col("bucket") < 75))
        .join(F.broadcast(tr), "segment")
        .select(F.abs(F.col("cents") - F.col("seg_mean")).alias("v"))
    )
    q = _exact_rank_cutoffs(cal, ["LEAST((9*n + 18) div 10, n)"]).select(
        F.col("c1").cast("long").alias("qhat")
    )
    te = (
        o.filter(F.col("bucket") >= 75)
        .join(F.broadcast(tr), "segment")
        .select(
            "segment",
            F.abs(F.col("cents") - F.col("seg_mean")).alias("err"),
        )
    )
    return (
        te.crossJoin(F.broadcast(q))
        .groupBy("segment", "qhat")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_test"),
            F.sum(F.when(F.col("err") <= F.col("qhat"), 1).otherwise(0))
            .cast("long")
            .alias("n_covered"),
        )
        .select(
            "segment",
            "n_test",
            "n_covered",
            F.expr("(1000000 * n_covered) div n_test")
            .cast("long")
            .alias("coverage_ppm"),
            "qhat",
        )
    )


@register(
    "events_qini_uplift_curve",
    """
    WITH u AS (
      SELECT user_id, CAST(COUNT(*) AS BIGINT) AS v,
             CAST(concat('0x', substr(md5(CAST(user_id AS VARCHAR)), 1, 15))
               AS BIGINT) % 2 AS treated,
             MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
               AS conv
      FROM events GROUP BY user_id
    ),
    n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM u),
    r AS (SELECT v, row_number() OVER (ORDER BY v) AS rn FROM u),
    cuts AS (
      SELECT r.v AS cut FROM r CROSS JOIN n
      WHERE r.rn IN ((1*n.n+9)//10, (2*n.n+9)//10, (3*n.n+9)//10,
                     (4*n.n+9)//10, (5*n.n+9)//10, (6*n.n+9)//10,
                     (7*n.n+9)//10, (8*n.n+9)//10, (9*n.n+9)//10)
    ),
    b AS (
      SELECT u.treated, u.conv,
             (SELECT COUNT(*) FROM cuts WHERE cuts.cut < u.v) AS bin
      FROM u
    ),
    g AS (
      SELECT CAST(bin AS BIGINT) AS bin,
             CAST(SUM(treated) AS BIGINT) AS nt,
             CAST(SUM(1 - treated) AS BIGINT) AS nc,
             CAST(SUM(treated * conv) AS BIGINT) AS ct,
             CAST(SUM((1 - treated) * conv) AS BIGINT) AS cc
      FROM b GROUP BY bin
    ),
    cum AS (
      SELECT bin,
             CAST(SUM(nt) OVER w AS BIGINT) AS cnt,
             CAST(SUM(nc) OVER w AS BIGINT) AS cnc,
             CAST(SUM(ct) OVER w AS BIGINT) AS cct,
             CAST(SUM(cc) OVER w AS BIGINT) AS ccc
      FROM g
      WINDOW w AS (ORDER BY bin DESC
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    )
    SELECT bin, cnt AS cum_treated, cnc AS cum_control,
           cct AS cum_conv_treated, ccc AS cum_conv_control,
           CAST(CASE WHEN cnt > 0 AND cnc > 0
                THEN (1000000 * (cct * cnc - ccc * cnt)) // (cnt * cnc)
                END AS BIGINT) AS cum_uplift_ppm
    FROM cum
    """,
)
def q_events_qini_uplift_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Qini/uplift curve — the targeting-model eval every incrementality
    program reads: rank users by an uplift score (activity here), walk
    from the highest-scored decile down, and at each cut compare the
    CUMULATIVE treated vs control conversion rates; a useful score front-
    loads incremental conversions, a useless one tracks the overall rate
    at every cut. Treatment is the portable-md5 coin (engine-independent
    split, the split-audit convention); score deciles come from the
    distributed exact-rank kernel. cum_uplift_ppm = exact floor of
    CT/NT − CC/NC over the cumulated counts — pure BIGINT cross-
    multiplication, never a float rate. Scale shape: one user-keyed
    aggregate, the rank kernel, a 10-row decile table walked by a bounded
    window (descending-score cumulation). The final curve row (bin 0) is
    the overall experiment uplift — the anchor the curve must beat."""
    from ..functions.hashing import portable_hash64

    u = (
        table_scan(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("v"),
            F.max(
                F.when(F.col("event_type") == "purchase", 1).otherwise(0)
            ).alias("conv"),
        )
        .select(
            "v",
            "conv",
            (portable_hash64(F.col("user_id")) % 2)
            .cast("long")
            .alias("treated"),
        )
    )
    cuts = _exact_rank_cutoffs(u.select("v"), _DECILE_RANKS)
    bin_expr = sum(
        (F.col(f"c{i}") < F.col("v")).cast("long") for i in range(1, 10)
    )
    g = (
        u.crossJoin(F.broadcast(cuts))
        .select(bin_expr.alias("bin"), "treated", "conv")
        .groupBy("bin")
        .agg(
            F.sum("treated").cast("long").alias("nt"),
            F.sum(1 - F.col("treated")).cast("long").alias("nc"),
            F.sum(F.col("treated") * F.col("conv"))
            .cast("long")
            .alias("ct"),
            F.sum((1 - F.col("treated")) * F.col("conv"))
            .cast("long")
            .alias("cc"),
        )
    )
    wdesc = Window.orderBy(F.col("bin").desc()).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = g.select(
        "bin",
        F.sum("nt").over(wdesc).cast("long").alias("cum_treated"),
        F.sum("nc").over(wdesc).cast("long").alias("cum_control"),
        F.sum("ct").over(wdesc).cast("long").alias("cum_conv_treated"),
        F.sum("cc").over(wdesc).cast("long").alias("cum_conv_control"),
    )
    return cum.select(
        "bin",
        "cum_treated",
        "cum_control",
        "cum_conv_treated",
        "cum_conv_control",
        F.when(
            (F.col("cum_treated") > 0) & (F.col("cum_control") > 0),
            F.expr(
                "(1000000 * (cum_conv_treated * cum_control"
                " - cum_conv_control * cum_treated))"
                " div (cum_treated * cum_control)"
            ),
        )
        .cast("long")
        .alias("cum_uplift_ppm"),
    )


def _markov_removal_oracle(rounds: int = 4) -> str:
    """Unrolled oracle for removal-effect attribution: the absorption
    fixed point runs on a (removal-level × state) grid — one level per
    removable channel plus '__none__' — so every counterfactual chain is
    solved in the same chained CTEs."""
    head = """
    WITH t AS (
      SELECT event_type AS from_type,
             LEAD(event_type) OVER (
               PARTITION BY user_id ORDER BY ts, event_id) AS to_type
      FROM events
    ),
    c AS (SELECT from_type, to_type, CAST(COUNT(*) AS BIGINT) AS n
          FROM t WHERE to_type IS NOT NULL GROUP BY from_type, to_type),
    tot AS (SELECT from_type, CAST(SUM(n) AS BIGINT) AS tn FROM c
            GROUP BY from_type),
    m AS (SELECT c.from_type, c.to_type,
                 CAST((c.n * 1000) // tot.tn AS BIGINT) AS pm
          FROM c JOIN tot USING (from_type)),
    states AS (SELECT DISTINCT from_type AS s FROM c
               UNION SELECT DISTINCT to_type FROM c),
    levels AS (SELECT s AS rc FROM states WHERE s <> 'purchase'
               UNION ALL SELECT '__none__'),
    grid AS (SELECT l.rc, st.s FROM levels l CROSS JOIN states st
             WHERE st.s <> l.rc),
    gm AS (SELECT l.rc, m.from_type, m.to_type, m.pm
           FROM levels l JOIN m
             ON m.from_type <> l.rc AND m.to_type <> l.rc),
    gp0 AS (SELECT rc, s,
                   CAST(CASE WHEN s = 'purchase' THEN 1000 ELSE 0 END
                     AS BIGINT) AS p
            FROM grid)"""
    body = ""
    for k in range(1, rounds + 1):
        body += f""",
    gp{k} AS (
      SELECT g.rc, g.s,
             CAST(CASE WHEN g.s = 'purchase' THEN 1000
                  ELSE COALESCE(CAST(SUM(gm.pm * pp.p) AS BIGINT) // 1000,
                                0)
             END AS BIGINT) AS p
      FROM grid g
      LEFT JOIN gm ON gm.rc = g.rc AND gm.from_type = g.s
      LEFT JOIN gp{k - 1} pp ON pp.rc = gm.rc AND pp.s = gm.to_type
      GROUP BY g.rc, g.s
    )"""
    return (
        head
        + body
        + f""",
    firsts AS (
      SELECT event_type AS s FROM (
        SELECT event_type, row_number() OVER (
          PARTITION BY user_id ORDER BY ts, event_id) AS rn
        FROM events) WHERE rn = 1
    ),
    starts AS (SELECT s, CAST(COUNT(*) AS BIGINT) AS ns FROM firsts
               GROUP BY s),
    nu AS (SELECT CAST(COUNT(*) AS BIGINT) AS nu FROM firsts),
    conv AS (
      SELECT gp.rc,
             CAST(COALESCE(SUM(st.ns * gp.p), 0) // nu.nu AS BIGINT)
               AS conv_pm
      FROM gp{rounds} gp LEFT JOIN starts st ON st.s = gp.s
      CROSS JOIN nu GROUP BY gp.rc, nu.nu
    ),
    base AS (SELECT conv_pm AS full_pm FROM conv WHERE rc = '__none__'),
    re AS (
      SELECT conv.rc AS channel, base.full_pm, conv.conv_pm,
             base.full_pm - conv.conv_pm AS removal_effect_pm
      FROM conv CROSS JOIN base WHERE conv.rc <> '__none__'
    ),
    te AS (SELECT CAST(SUM(removal_effect_pm) AS BIGINT) AS te FROM re)
    SELECT re.channel, CAST(re.full_pm AS BIGINT) AS conv_full_pm,
           CAST(re.conv_pm AS BIGINT) AS conv_removed_pm,
           CAST(re.removal_effect_pm AS BIGINT) AS removal_effect_pm,
           CAST(CASE WHEN te.te > 0
                THEN (1000000 * re.removal_effect_pm) // te.te
                END AS BIGINT) AS share_ppm
    FROM re CROSS JOIN te
    """
    )


@register("events_markov_removal_attribution", _markov_removal_oracle(4))
def q_events_markov_removal_attribution(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Markov REMOVAL-EFFECT attribution — the data-driven attribution
    standard that pairs with events_shapley_attribution: a channel's
    credit is how much the chain's conversion probability DROPS when the
    channel node is deleted (its in/out transitions lost, no
    renormalization — the Anderl et al. construction). Instead of looping
    per channel, the absorption fixed point runs ONCE on a (removal-level
    × state) grid — '__none__' plus one level per channel — so all
    counterfactuals solve in the same 4 broadcast-join iterations over a
    ≤|C|·|S|²-row lattice (dim-sized; the only corpus-sized stages are
    the LEAD transition pass and the per-user first-event pass).
    Conversion = start-distribution-weighted 4-step absorption, integer
    per-mille with one floor per (level, state, round) — both engines
    replay the identical fixed point. share_ppm over the removal effects
    is the attribution vector a marketing dashboard shows next to
    Shapley's.

    Execution shape (optimization round r14, guide §5): the only
    corpus-sized work is ONE window pass over events serving both the
    transition counts and the per-user first-event counts (shared spec:
    lead() + row_number(), one exchange+sort). Those two aggregates are
    ≤|S|²+|S| rows (|S| = the event-type vocabulary, a schema-level enum
    — 5 here, dim-sized at any corpus scale), so they are COLLECTED and
    the whole (removal-level × state) absorption fixed point runs
    driver-side in exact Python integers — the bounded-collect pattern
    the ANN centroid seeds and the CC fast-path probe already use. The
    previous in-plan form spent its time on per-round stage scheduling +
    AQE re-planning of 4 dim-sized broadcast-join rounds (plus a
    localCheckpoint per round to truncate the lineage), ~1.5 s of fixed
    overhead at ANY scale; the arithmetic is ≤|C|·|S|² integer ops. Every
    per-mille floor is replayed bit-exactly: all operands are
    non-negative (Python // == SQL div there), and the one signed
    division (share_ppm) goes through _tdiv, which truncates toward zero
    exactly like SQL's div. Result provably unchanged: the DuckDB oracle
    replays the full fixed point in SQL and MATCHes at all three SFs."""
    e = table_scan(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # ONE window pass serves both corpus-sized reads (r14, guide §2.4):
    # lead() (the transition pass) and row_number() (the first-event pass
    # below) share the identical window spec, so computing them side by
    # side costs one exchange+sort of events instead of two; the cached
    # frame is 3 narrow columns.
    base = (
        e.select("user_id", "event_id", "ts", "event_type")
        .select(
            "event_type",
            F.lead("event_type").over(w).alias("to_type"),
            F.row_number().over(w).alias("rn"),
        )
        .transform(cached)
    )
    # transition counts (≤|S|² rows) — materializes the cached window
    # frame; the first-event counts below re-read the cache, so the
    # corpus is scanned+sorted exactly once
    from ..operators.agg import bounded_collect

    cnt = {
        (r["from_type"], r["to_type"]): r["n"]
        for r in bounded_collect(
            base.filter(F.col("to_type").isNotNull()).groupBy(
                F.col("event_type").alias("from_type"), F.col("to_type")
            ).agg(F.count(F.lit(1)).alias("n")),
            _LATTICE_STATES_MAX**2,
            "events_markov_removal_attribution transition counts (|S|² "
            f"for a schema-level event-type enum, |S| ≤ {_LATTICE_STATES_MAX})",
        )
    }
    # per-state first-event counts (≤|S| rows; nu = their sum)
    ns = {
        r["s"]: r["ns"]
        for r in bounded_collect(
            base.filter(F.col("rn") == 1)
            .groupBy(F.col("event_type").alias("s"))
            .agg(F.count(F.lit(1)).cast("long").alias("ns")),
            _LATTICE_STATES_MAX,
            "events_markov_removal_attribution first-event counts "
            f"(≤|S| states, |S| ≤ {_LATTICE_STATES_MAX})",
        )
    }

    out_schema = (
        "channel string, conv_full_pm bigint, conv_removed_pm bigint, "
        "removal_effect_pm bigint, share_ppm bigint"
    )

    from ..operators.agg import trunc_div as _tdiv

    # per-mille transition matrix: pm = (n*1000) div tn, all non-negative
    tn: dict[str, int] = {}
    for (f, _), n in cnt.items():
        tn[f] = tn.get(f, 0) + n
    pm = {(f, t): (n * 1000) // tn[f] for (f, t), n in cnt.items()}
    states = sorted({f for f, _ in cnt} | {t for _, t in cnt})
    levels = [s for s in states if s != "purchase"] + ["__none__"]
    # absorption fixed point over the (level × state) grid, 4 rounds —
    # identical joins/floors as the oracle: outgoing transitions through
    # the removed channel are masked (to != rc; s != rc by grid
    # construction), missing matrix rows contribute 0 (the SQL left join
    # + COALESCE), purchase is the absorbing 1000-per-mille state
    p = {
        (rc, s): 1000 if s == "purchase" else 0
        for rc in levels
        for s in states
        if s != rc
    }
    for _ in range(4):
        p = {
            (rc, s): 1000
            if s == "purchase"
            else sum(
                pm[(s, to)] * p[(rc, to)]
                for to in states
                if to != rc and (s, to) in pm
            )
            // 1000
            for (rc, s) in p
        }
    # start-distribution-weighted conversion per level; nu counts ALL
    # users (incl. single-event users whose type never enters a
    # transition and is therefore absent from the grid — matching the
    # SQL left join, such states weight nothing but still dilute nu)
    nu = sum(ns.values())
    conv: dict[str, int] = {}
    for rc in levels:
        gs = [s for s in states if s != rc]
        if not gs:
            continue  # a level with no grid rows never reaches the output
        wsum = sum(ns[s] * p[(rc, s)] for s in gs if s in ns)
        conv[rc] = wsum // nu
    if "__none__" not in conv:  # empty transition graph → empty result
        return spark.createDataFrame([], out_schema)
    full_pm = conv["__none__"]
    channels = [rc for rc in levels if rc != "__none__" and rc in conv]
    effects = [(ch, full_pm - conv[ch]) for ch in channels]
    te = sum(eff for _, eff in effects)
    rows = [
        (
            ch,
            full_pm,
            conv[ch],
            eff,
            _tdiv(1_000_000 * eff, te) if te > 0 else None,
        )
        for ch, eff in effects
    ]
    return spark.createDataFrame(rows, out_schema)


@register(
    "events_ab_srm_check",
    """
    WITH u AS (
      SELECT DISTINCT user_id,
             CAST(concat('0x', substr(md5(CAST(user_id AS VARCHAR)), 1, 15))
               AS BIGINT) % 2 AS variant
      FROM events
    ),
    g AS (
      SELECT CAST(SUM(variant) AS BIGINT) AS nt,
             CAST(SUM(1 - variant) AS BIGINT) AS nc
      FROM u
    )
    SELECT nt AS n_treated, nc AS n_control,
           CAST((1000000 * (nt - nc) * (nt - nc)) // (nt + nc) AS BIGINT)
             AS chi2_ppm,
           (1000000 * (nt - nc) * (nt - nc)) // (nt + nc) > 3841459
             AS srm_alarm
    FROM g
    """,
)
def q_events_ab_srm_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample-ratio-mismatch (SRM) check — the FIRST trust gate of every
    A/B readout: under a 50/50 assignment the unit counts follow a
    binomial, so χ²₁ = (n_t − n_c)²/(n_t + n_c) flags a broken
    randomizer / lossy logging pipeline long before any metric is read
    (an experiment failing SRM is discarded, not analyzed). Audits the
    same portable-md5 coin the qini/IPW queries assign with — the alarm
    staying quiet IS the validation of that infrastructure. Exact BIGINT
    χ² ppm against the χ²₁(0.95) literal. One distinct-user aggregate."""
    from ..functions.hashing import portable_hash64

    u = (
        table_scan(spark, sf_dir, "events")
        .select("user_id")
        .distinct()
        .select(
            (portable_hash64(F.col("user_id")) % 2)
            .cast("long")
            .alias("variant")
        )
    )
    g = u.agg(
        F.sum("variant").cast("long").alias("nt"),
        F.sum(1 - F.col("variant")).cast("long").alias("nc"),
    )
    chi2 = F.expr("(1000000 * (nt - nc) * (nt - nc)) div (nt + nc)")
    return g.select(
        F.col("nt").alias("n_treated"),
        F.col("nc").alias("n_control"),
        chi2.cast("long").alias("chi2_ppm"),
        (chi2 > 3841459).alias("srm_alarm"),
    )


@register(
    "events_topk_churn_drift",
    """
    WITH b AS (
      SELECT MIN(ts) AS lo, MAX(ts) AS hi FROM events
    ),
    e AS (
      SELECT user_id,
             CASE WHEN epoch_us(ts) * 2 < epoch_us(b.lo) + epoch_us(b.hi)
                  THEN 0 ELSE 1 END AS half
      FROM events CROSS JOIN b
    ),
    cnt AS (
      SELECT half, user_id, CAST(COUNT(*) AS BIGINT) AS n
      FROM e GROUP BY half, user_id
    ),
    t0 AS (
      SELECT user_id FROM cnt WHERE half = 0
      ORDER BY n DESC, user_id LIMIT 10
    ),
    t1 AS (
      SELECT user_id FROM cnt WHERE half = 1
      ORDER BY n DESC, user_id LIMIT 10
    ),
    j AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_common
      FROM t0 JOIN t1 USING (user_id)
    ),
    s AS (
      SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM t0) AS n_t0,
             (SELECT CAST(COUNT(*) AS BIGINT) FROM t1) AS n_t1
    )
    SELECT 10 AS k, s.n_t0, s.n_t1, j.n_common,
           CASE WHEN s.n_t0 + s.n_t1 - j.n_common = 0 THEN NULL
                ELSE CAST((1000000 * j.n_common)
                          // (s.n_t0 + s.n_t1 - j.n_common) AS BIGINT) END
             AS jaccard_ppm,
           s.n_t1 - j.n_common AS n_new_entrants
    FROM j CROSS JOIN s
    """,
)
def q_events_topk_churn_drift(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Top-k churn drift — the categorical complement to the value-drift
    family (CvM, energy, CUSUM all watch DISTRIBUTIONS; operations also
    needs "did the HEAVY HITTERS change?"): the top-10 most active users
    of the first half-window vs the second, their overlap, Jaccard, and
    new-entrant count. A collapsing Jaccard means the workload's hot keys
    rotated — the signal that invalidates yesterday's skew-salting list
    and cache placement. Exact top-k rides Spark's distributed
    TakeOrdered (orderBy + limit — a k-row reduction per partition, never
    a single-partition window), with the (count desc, user_id) total
    order making ties deterministic cross-engine. The half split anchors
    on the data's own time bounds (1-row broadcast)."""
    b = table_scan(spark, sf_dir, "events").agg(
        F.min("ts").alias("lo"), F.max("ts").alias("hi")
    )
    e = (
        table_scan(spark, sf_dir, "events")
        .select("user_id", "ts")
        .crossJoin(F.broadcast(b))
        .select(
            "user_id",
            F.when(
                F.unix_micros(F.col("ts").cast("timestamp")) * 2
                < F.unix_micros(F.col("lo").cast("timestamp"))
                + F.unix_micros(F.col("hi").cast("timestamp")),
                0,
            )
            .otherwise(1)
            .alias("half"),
        )
    )
    cnt = e.groupBy("half", "user_id").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    ).transform(cached)  # read by both half-slices
    t0 = (
        cnt.filter(F.col("half") == 0)
        .orderBy(F.desc("n"), "user_id")
        .limit(10)
        .select("user_id")
    )
    t1 = (
        cnt.filter(F.col("half") == 1)
        .orderBy(F.desc("n"), "user_id")
        .limit(10)
        .select("user_id")
    )
    j = t0.join(t1, "user_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_common")
    )
    # Jaccard denominator from the ACTUAL top-list sizes (ADVICE r8 #3): a
    # slice with fewer than 10 active users per half must not inherit the
    # literal 20, which overstates both jaccard_ppm and n_new_entrants
    s = t0.agg(F.count(F.lit(1)).cast("long").alias("n_t0")).crossJoin(
        t1.agg(F.count(F.lit(1)).cast("long").alias("n_t1"))
    )
    return j.crossJoin(F.broadcast(s)).select(
        F.lit(10).cast("long").alias("k"),
        "n_t0",
        "n_t1",
        "n_common",
        F.expr(
            "CASE WHEN n_t0 + n_t1 - n_common = 0 THEN NULL"
            " ELSE (1000000 * n_common) div (n_t0 + n_t1 - n_common) END"
        )
        .cast("long")
        .alias("jaccard_ppm"),
        (F.col("n_t1") - F.col("n_common")).cast("long").alias("n_new_entrants"),
    )


@register(
    "events_winback_reactivation",
    """
    WITH d AS (
      SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
    ),
    g AS (
      SELECT user_id, day,
             date_diff('day', day,
               LEAD(day) OVER (PARTITION BY user_id ORDER BY day)) AS gap
      FROM d
    ),
    r AS (
      SELECT CASE WHEN gap < 14 THEN '07-13d'
                  WHEN gap < 21 THEN '14-20d'
                  ELSE '21d+' END AS dormancy_bucket,
             user_id
      FROM g WHERE gap >= 7
    )
    SELECT dormancy_bucket,
           CAST(COUNT(*) AS BIGINT) AS n_reactivations,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
    FROM r GROUP BY dormancy_bucket
    """,
)
def q_events_winback_reactivation(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Winback/reactivation ledger — the retention KPI between churn and
    engagement: a user active again after ≥7 silent days is a
    REACTIVATION, bucketed by how long they were dormant (7–13 / 14–20 /
    21+ days). Built on the deduped user-day table (the
    events_gaps_and_islands substrate) with one user-partitioned LEAD —
    the gap BETWEEN islands rather than the islands themselves. Counts
    both reactivation events and distinct users per bucket; long-dormancy
    winbacks are the ones a lifecycle-marketing team pays for, so the
    21d+ row is the budget line. One distinct pass + one partitioned
    window + a 3-row aggregate."""
    d = (
        table_scan(spark, sf_dir, "events")
        .select("user_id", F.col("ts").cast("date").alias("day"))
        .distinct()
    )
    w = Window.partitionBy("user_id").orderBy("day")
    g = d.select(
        "user_id",
        F.datediff(F.lead("day").over(w), F.col("day")).alias("gap"),
    )
    r = g.filter(F.col("gap") >= 7).select(
        F.when(F.col("gap") < 14, "07-13d")
        .when(F.col("gap") < 21, "14-20d")
        .otherwise("21d+")
        .alias("dormancy_bucket"),
        "user_id",
    )
    return r.groupBy("dormancy_bucket").agg(
        F.count(F.lit(1)).cast("long").alias("n_reactivations"),
        F.countDistinct("user_id").cast("long").alias("n_users"),
    )


@register(
    "events_spc_imr_chart",
    """
    WITH d AS (
      SELECT CAST(ts AS DATE) AS day, CAST(COUNT(*) AS BIGINT) AS x
      FROM events GROUP BY 1
    ),
    mr AS (
      SELECT day, x,
             abs(x - LAG(x) OVER (ORDER BY day)) AS mr
      FROM d
    ),
    s AS (
      SELECT CAST(SUM(x) AS BIGINT) AS sx,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(mr) AS BIGINT) AS smr,
             CAST(COUNT(mr) AS BIGINT) AS nmr
      FROM mr
    )
    SELECT mr.day, mr.x, CAST(mr.mr AS BIGINT) AS mr,
           CAST((1000 * s.sx) // s.n AS BIGINT) AS center_milli,
           CAST((1000 * s.sx) // s.n
                + (2660 * s.smr) // s.nmr AS BIGINT) AS ucl_milli,
           CAST((1000 * s.sx) // s.n
                - (2660 * s.smr) // s.nmr AS BIGINT) AS lcl_milli,
           1000 * mr.x > (1000 * s.sx) // s.n + (2660 * s.smr) // s.nmr
             OR 1000 * mr.x < (1000 * s.sx) // s.n
                              - (2660 * s.smr) // s.nmr
             AS out_of_control
    FROM mr CROSS JOIN s
    """,
)
def q_events_spc_imr_chart(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shewhart I-MR control chart — statistical process control over the
    daily event volume (the ops-monitoring classic the drift family's
    CUSUM/Pettitt complement with CONTROL LIMITS a human reads): center
    line x̄, limits x̄ ± 2.66·M̄R (the E₂ constant for individuals
    charts, embedded as the exact 2660 milli literal), and a per-day
    out-of-control flag. Everything is integer milli-units: floored
    means, the moving range |xₜ − xₜ₋₁| from a LAG over the bounded
    ≤31-row day table, cross-multiplied flag comparisons — no float
    control limits. One partial-agg day rollup; the chart itself is
    dim-sized."""
    d = (
        table_scan(spark, sf_dir, "events")
        .groupBy(F.col("ts").cast("date").alias("day"))
        .agg(F.count(F.lit(1)).cast("long").alias("x"))
    )
    w = Window.orderBy("day")
    mr = d.select(
        "day", "x", F.abs(F.col("x") - F.lag("x").over(w)).alias("mr")
    ).transform(cached)  # ≤31 rows, read by the stats row and the projection
    s = mr.agg(
        F.sum("x").cast("long").alias("sx"),
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("mr").cast("long").alias("smr"),
        F.count("mr").cast("long").alias("nmr"),
    )
    j = mr.crossJoin(F.broadcast(s))
    center = F.expr("(1000 * sx) div n")
    band = F.expr("(2660 * smr) div nmr")
    return j.select(
        "day",
        "x",
        F.col("mr").cast("long").alias("mr"),
        center.cast("long").alias("center_milli"),
        (center + band).cast("long").alias("ucl_milli"),
        (center - band).cast("long").alias("lcl_milli"),
        (
            (1000 * F.col("x") > center + band)
            | (1000 * F.col("x") < center - band)
        ).alias("out_of_control"),
    )


@register(
    "events_growth_accounting_weekly",
    """
    WITH uw AS (
      SELECT DISTINCT user_id,
             CAST(floor(date_diff('day', DATE '2024-01-01', CAST(ts AS DATE))
               / 7.0) AS BIGINT) AS week
      FROM events
    ),
    first_w AS (
      SELECT user_id, MIN(week) AS fw FROM uw GROUP BY user_id
    ),
    lab AS (
      SELECT uw.user_id, uw.week,
             CASE WHEN uw.week = f.fw THEN 'new'
                  WHEN LAG(uw.week) OVER (PARTITION BY uw.user_id
                                          ORDER BY uw.week)
                       = uw.week - 1 THEN 'retained'
                  ELSE 'resurrected' END AS state
      FROM uw JOIN first_w f USING (user_id)
    ),
    churn AS (
      SELECT week + 1 AS week, 'churned' AS state,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM (
        SELECT user_id, week,
               LEAD(week) OVER (PARTITION BY user_id ORDER BY week) AS nw
        FROM uw
      ) WHERE nw IS NULL OR nw > week + 1
      GROUP BY week + 1
    ),
    act AS (
      SELECT week, state, CAST(COUNT(*) AS BIGINT) AS n
      FROM lab GROUP BY week, state
    ),
    allr AS (
      SELECT * FROM act
      UNION ALL
      SELECT week, state, n FROM churn
        WHERE week <= (SELECT MAX(week) FROM uw)
    )
    SELECT week, state, n FROM allr
    """,
)
def q_events_growth_accounting_weekly(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Weekly growth accounting — the MAU-accounting decomposition every
    growth team runs (the Social Capital framework): each week's active
    users split into NEW (first week ever), RETAINED (also active the
    week before), RESURRECTED (active before, but not last week); plus
    CHURNED = users active in week w−1 but not w, attributed to week w.
    By construction new + retained + resurrected = WAU, and WAU deltas
    reconcile against churn — the identity a quick-ratio dashboard rests
    on (asserted in pytest). Weeks anchor on the fixed 2024-01-01 epoch
    (deterministic, engine-independent). Scale shape: one distinct
    user-week pass, one per-user min, two user-partitioned windows, a
    bounded (week × state) aggregate."""
    uw = (
        table_scan(spark, sf_dir, "events")
        .select(
            "user_id",
            # FLOOR, not truncating cast (ADVICE r8 #1): an event before the
            # 2024-01-01 anchor must land in week -1, not fold into week 0.
            # DuckDB's integer // TRUNCATES toward zero ((-13)//7 = -1), so
            # the oracle uses floor(x/7.0) to match this for pre-anchor data
            F.floor(
                F.datediff(
                    F.col("ts").cast("date"), F.lit("2024-01-01").cast("date")
                )
                / F.lit(7)
            )
            .cast("long")
            .alias("week"),
        )
        .distinct()
        .transform(cached)  # read by firsts, labels, and the churn branch
    )
    first_w = uw.groupBy("user_id").agg(F.min("week").alias("fw"))
    wl = Window.partitionBy("user_id").orderBy("week")
    lab = uw.join(first_w, "user_id").select(
        "week",
        F.when(F.col("week") == F.col("fw"), "new")
        .when(F.lag("week").over(wl) == F.col("week") - 1, "retained")
        .otherwise("resurrected")
        .alias("state"),
    )
    churn = (
        uw.select(
            "user_id", "week", F.lead("week").over(wl).alias("nw")
        )
        .filter(F.col("nw").isNull() | (F.col("nw") > F.col("week") + 1))
        .select((F.col("week") + 1).alias("week"))
        .groupBy("week")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        .select("week", F.lit("churned").alias("state"), "n")
    )
    act = lab.groupBy("week", "state").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    maxw = uw.agg(F.max("week").alias("mw"))
    churn_in = churn.crossJoin(F.broadcast(maxw)).filter(
        F.col("week") <= F.col("mw")
    ).select("week", "state", "n")
    return act.unionByName(churn_in)

_SEQ_TYPES = ["click", "error", "purchase", "signup", "view"]


def _seq_case(alias: str, col_prefix: str) -> str:
    branches = " ".join(
        f"WHEN '{t}' THEN {col_prefix}{t}" for t in _SEQ_TYPES
    )
    return f"CASE {alias} {branches} END"


_SEQ_PATTERN_ORACLE = rf"""
    WITH e AS (
      SELECT user_id, event_type,
             {", ".join(f"COUNT(*) FILTER (event_type = '{t}') OVER "
                        f"(PARTITION BY user_id ORDER BY ts, event_id "
                        f"ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pc_{t}"
                        for t in _SEQ_TYPES)},
             {", ".join(f"COUNT(*) FILTER (event_type = '{t}') OVER "
                        f"(PARTITION BY user_id) AS tot_{t}"
                        for t in _SEQ_TYPES)}
      FROM events
    ),
    ty(t) AS (VALUES {", ".join(f"('{t}')" for t in _SEQ_TYPES)}),
    nu AS (SELECT CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n FROM events),
    per2 AS (
      SELECT user_id, a.t AS s1, e.event_type AS s2,
             SUM({_seq_case("a.t", "pc_")}) AS o
      FROM e CROSS JOIN ty a
      GROUP BY user_id, a.t, e.event_type
    ),
    pat2 AS (
      SELECT s1, s2, CAST(SUM(o) AS BIGINT) AS occurrences,
             CAST(COUNT(*) FILTER (o > 0) AS BIGINT) AS n_users
      FROM per2 GROUP BY s1, s2 HAVING SUM(o) > 0
    ),
    per3 AS (
      SELECT user_id, a.t AS s1, e.event_type AS s2, c.t AS s3,
             SUM(({_seq_case("a.t", "pc_")})
                 * (({_seq_case("c.t", "tot_")}) - ({_seq_case("c.t", "pc_")})
                    - CASE WHEN e.event_type = c.t THEN 1 ELSE 0 END)) AS o
      FROM e CROSS JOIN ty a CROSS JOIN ty c
      GROUP BY user_id, a.t, e.event_type, c.t
    ),
    pat3 AS (
      SELECT s1, s2, s3, CAST(SUM(o) AS BIGINT) AS occurrences,
             CAST(COUNT(*) FILTER (o > 0) AS BIGINT) AS n_users
      FROM per3 GROUP BY s1, s2, s3 HAVING SUM(o) > 0
    )
    SELECT * FROM (
      SELECT CAST(2 AS BIGINT) AS length, s1, s2, CAST(NULL AS VARCHAR) AS s3,
             n_users, occurrences,
             CAST((1000000 * n_users) // nu.n AS BIGINT) AS support_ppm
      FROM pat2 CROSS JOIN nu
      UNION ALL
      SELECT CAST(3 AS BIGINT), s1, s2, s3, n_users, occurrences,
             CAST((1000000 * n_users) // nu.n AS BIGINT)
      FROM pat3 CROSS JOIN nu
    ) ORDER BY length, s1, s2, s3
"""


@register("events_seq_pattern_support", _SEQ_PATTERN_ORACLE)
def q_events_seq_pattern_support(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Sequential-pattern mining (GSP/PrefixSpan statistics) — for every
    length-2 and length-3 event-type SUBSEQUENCE pattern: how many users
    exhibit it (support) and the EXACT number of occurrences (ordered
    index pairs/triples matching the pattern — the discriminating
    statistic: on an active user base, support alone saturates at 100%).
    The scale move: occurrences are never enumerated. One window pass
    gives each event its per-type EXCLUSIVE prefix counts; then
    #(a…b) = Σ over b-events of prefix_a, and
    #(a…b…c) = Σ over b-events of prefix_a · suffix_c with
    suffix_c = total_c − prefix_c − [type=c] — the textbook
    count-pairs-through-the-middle-element identity. Cost is
    O(N·|Σ|) window work plus an alphabet-bounded 25-way fan-out per
    event with immediate per-(user,pattern) partial aggregation — no
    self-joins over user histories, no position arrays. The alphabet is
    pinned (the 5 reference event types) so the plan is literally fixed
    width at any corpus size; a growing alphabet would swap the CASE
    dispatch for a map lookup, same shape."""
    e = table_scan(spark, sf_dir, "events")
    wp = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    wt = Window.partitionBy("user_id")
    base = e.select(
        "user_id",
        "event_type",
        "ts",
        "event_id",
        *[
            F.coalesce(
                F.sum(F.when(F.col("event_type") == t, 1)).over(wp), F.lit(0)
            ).alias(f"pc_{t}")
            for t in _SEQ_TYPES
        ],
        *[
            F.sum(F.when(F.col("event_type") == t, 1).otherwise(0))
            .over(wt)
            .alias(f"tot_{t}")
            for t in _SEQ_TYPES
        ],
    ).transform(cached)  # one window pass feeds both pattern lengths
    nu = e.agg(F.countDistinct("user_id").alias("n"))
    ty = spark.createDataFrame([(t,) for t in _SEQ_TYPES], "t string")

    def case_over(alias_col: str, prefix: str):
        expr = F.lit(None).cast("long")
        c = F.col(alias_col)
        for t in _SEQ_TYPES:
            expr = F.when(c == t, F.col(f"{prefix}{t}")).otherwise(expr)
        return expr

    per2 = (
        base.crossJoin(F.broadcast(ty.select(F.col("t").alias("s1"))))
        .groupBy("user_id", "s1", F.col("event_type").alias("s2"))
        .agg(F.sum(case_over("s1", "pc_")).alias("o"))
    )
    pat2 = (
        per2.groupBy("s1", "s2")
        .agg(
            F.sum("o").cast("long").alias("occurrences"),
            F.sum(F.when(F.col("o") > 0, 1).otherwise(0))
            .cast("long")
            .alias("n_users"),
        )
        .filter(F.col("occurrences") > 0)
    )
    per3 = (
        base.crossJoin(F.broadcast(ty.select(F.col("t").alias("s1"))))
        .crossJoin(F.broadcast(ty.select(F.col("t").alias("s3"))))
        .groupBy("user_id", "s1", F.col("event_type").alias("s2"), "s3")
        .agg(
            F.sum(
                case_over("s1", "pc_")
                * (
                    case_over("s3", "tot_")
                    - case_over("s3", "pc_")
                    - F.when(F.col("event_type") == F.col("s3"), 1).otherwise(0)
                )
            ).alias("o")
        )
    )
    pat3 = (
        per3.groupBy("s1", "s2", "s3")
        .agg(
            F.sum("o").cast("long").alias("occurrences"),
            F.sum(F.when(F.col("o") > 0, 1).otherwise(0))
            .cast("long")
            .alias("n_users"),
        )
        .filter(F.col("occurrences") > 0)
    )
    out2 = pat2.crossJoin(F.broadcast(nu)).select(
        F.lit(2).cast("long").alias("length"),
        "s1",
        "s2",
        F.lit(None).cast("string").alias("s3"),
        "n_users",
        "occurrences",
        F.expr("CAST((1000000 * n_users) div n AS BIGINT)").alias("support_ppm"),
    )
    out3 = pat3.crossJoin(F.broadcast(nu)).select(
        F.lit(3).cast("long").alias("length"),
        "s1",
        "s2",
        "s3",
        "n_users",
        "occurrences",
        F.expr("CAST((1000000 * n_users) div n AS BIGINT)").alias("support_ppm"),
    )
    return out2.unionByName(out3).orderBy("length", "s1", "s2", "s3")
