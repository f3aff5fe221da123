"""Property-based tests (hypothesis) for the cleaning semantics — the
executed-assertion depth the reference's schema-only unit test lacks
(SURVEY.md §5). Examples are batched into ONE DataFrame per test case so
Spark round-trips stay cheap.
"""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from breweries_data_engineering_case_spark.sources.rest import parse_last_page

# -- pure function: pagination parser ---------------------------------------


@given(st.integers(min_value=1, max_value=10**6))
def test_parse_last_page_roundtrip(n):
    assert parse_last_page(f'<https://x?page={n}>; rel="last"') == n


@given(st.text(max_size=200).filter(lambda s: 'rel="last"' not in s))
def test_parse_last_page_never_crashes_without_last(s):
    assert parse_last_page(s) is None


# -- Spark cleaning expressions ---------------------------------------------

_texty = st.text(
    alphabet=st.characters(blacklist_categories=("Cs",), blacklist_characters="\x00"),
    max_size=30,
)


@settings(max_examples=15, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(st.lists(st.one_of(st.none(), _texty), min_size=1, max_size=50))
def test_clean_str_blank_to_null_invariant(spark, values):
    """The silver string cleaning (``plans/silver._clean_sql``) is NULL iff
    trim(x) is empty/NULL; otherwise it equals the trimmed input (no content
    mutation). NOTE: SQL TRIM (Spark and DuckDB alike) strips ONLY ASCII
    spaces — not \\r/\\t/\\n like Python's str.strip() — so the property
    uses strip(' ') (hypothesis caught the difference)."""
    from breweries_data_engineering_case_spark.plans.silver import _clean_sql

    df = spark.createDataFrame([(v,) for v in values], "v string")
    out = [r.c for r in df.selectExpr(f"{_clean_sql('v')} AS c").collect()]
    for v, c in zip(values, out):
        expected = None if v is None or v.strip(" ") == "" else v.strip(" ")
        assert c == expected, (v, c, expected)


@settings(max_examples=15, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(
    st.lists(
        st.one_of(
            st.none(),
            st.floats(allow_nan=False, allow_infinity=False, width=32).map(str),
            _texty,
        ),
        min_size=1,
        max_size=50,
    )
)
def test_try_double_never_errors(spark, values):
    """The silver coordinate cast (``try_cast`` of the cleaned string, as in
    ``plans/silver.clean_breweries``) returns a float for parseable strings
    and NULL for garbage — it must never raise, under any input, ANSI mode
    included."""
    from breweries_data_engineering_case_spark.plans.silver import _clean_sql

    df = spark.createDataFrame([(v,) for v in values], "v string")
    out = [r.d for r in df.selectExpr(f"try_cast({_clean_sql('v')} as double) AS d").collect()]
    for v, d in zip(values, out):
        if d is not None:
            assert isinstance(d, float)
        else:
            if v is not None:
                try:
                    float(v.strip())
                    parseable = v.strip() != ""
                except ValueError:
                    parseable = False
                # Spark accepts a few forms Python also accepts; if Python
                # parses it, Spark should have too (modulo inf/nan keywords)
                assert not parseable or v.strip().lower() in {"nan", "inf", "-inf", "infinity", "-infinity", "+inf", "+infinity"}, v


@settings(max_examples=8, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(
    st.lists(
        st.tuples(st.integers(0, 4), st.integers(-50, 50)),
        min_size=4,
        max_size=60,
    ),
    st.lists(
        st.tuples(st.integers(0, 4), st.integers(-50, 50)),
        min_size=4,
        max_size=60,
    ),
)
def test_hot_key_salted_join_equals_plain_join(spark, probe_rows, build_rows):
    """hot_key_salted_join ≡ plain inner join on ARBITRARY skew: any key
    set may be declared hot (salting must never change results), including
    empty and all-hot extremes derived from the generated distribution."""
    from pyspark.sql import functions as F

    from breweries_data_engineering_case_spark.operators.joins import (
        hot_key_salted_join,
    )

    probe = spark.createDataFrame(
        [(k, v) for k, v in probe_rows], "k int, pv int"
    )
    build = (
        spark.createDataFrame([(k, v) for k, v in build_rows], "k int, bv int")
        .groupBy("k")
        .agg(F.sum("bv").alias("bv"))  # unique build keys
    )
    plain = sorted(
        (r["k"], r["pv"], r["bv"]) for r in probe.join(build, "k").collect()
    )
    # hot set: keys with >= 2 probe rows (may be empty or everything)
    hot = (
        probe.groupBy("k")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") >= 2)
        .select("k")
    )
    salted = sorted(
        (r["k"], r["pv"], r["bv"])
        for r in hot_key_salted_join(
            probe, build, "k", salt_buckets=4, hot_keys=hot
        ).collect()
    )
    assert salted == plain


@settings(max_examples=8, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(
    st.lists(st.integers(-100, 100), min_size=1, max_size=40),
    st.lists(st.integers(-100, 100), min_size=1, max_size=40),
)
def test_ks_gap_bounds_and_symmetry(spark, a_vals, b_vals):
    """The integer KS kernel on arbitrary samples: 0 <= ks_num <= n_a*n_b,
    and swapping the two samples leaves ks_num unchanged (|F1-F2| is
    symmetric)."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    def ks(a, b):
        rows = [(v, 0) for v in a] + [(v, 1) for v in b]
        df = spark.createDataFrame(rows, "value long, is_b int")
        pv = df.groupBy("value").agg(
            F.sum(F.lit(1) - F.col("is_b")).alias("a"),
            F.sum("is_b").alias("b"),
        )
        w = (
            Window.orderBy("value")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        c = pv.select(
            F.sum("a").over(w).alias("ca"), F.sum("b").over(w).alias("cb")
        )
        gap = F.abs(F.col("ca") * len(b) - F.col("cb") * len(a))
        return c.agg(F.max(gap).alias("g")).collect()[0]["g"]

    g1 = ks(a_vals, b_vals)
    g2 = ks(b_vals, a_vals)
    assert g1 == g2
    assert 0 <= g1 <= len(a_vals) * len(b_vals)


# -- round 7: EWMA kernel vs a python reference -----------------------------


@settings(max_examples=10, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=719),  # hour slot (may repeat)
            st.integers(min_value=0, max_value=10_000),  # value cents
        ),
        min_size=1,
        max_size=60,
    )
)
def test_ewma_matches_python_reference_on_generated_series(spark, slots):
    """The trailing-8 renormalized EWMA must equal a direct python
    evaluation over ANY hourly series, including sparse hours and
    duplicate slots (which collapse into per-hour integer averages
    first)."""
    import datetime as dt
    import tempfile
    from pathlib import Path

    from breweries_data_engineering_case_spark.plans import registry
    from breweries_data_engineering_case_spark.plans.qshared import _EWMA_W

    base = dt.datetime(2024, 1, 1)
    rows = [
        (
            i,
            base + dt.timedelta(hours=h),
            1,
            "click",
            c / 100.0,
            "{}",
        )
        for i, (h, c) in enumerate(slots)
    ]
    df = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp_ntz, user_id long, event_type string,"
        " value double, props string",
    )
    d = Path(tempfile.mkdtemp()) / "events.parquet"
    df.coalesce(1).write.mode("overwrite").parquet(str(d))
    out = {
        r.hour: (r.avg_cents, r.ewma_cents)
        for r in registry.QUERIES["events_ewma_smooth"](spark, str(d.parent)).collect()
    }
    # python reference: per-hour floor averages, then trailing-8 weighted
    per_hour: dict[int, list[int]] = {}
    for h, c in slots:
        per_hour.setdefault(h, []).append(c)
    series = sorted((h, sum(v) // len(v)) for h, v in per_hour.items())
    for t, (h, avg) in enumerate(series):
        num = den = 0
        for k in range(min(t + 1, 8)):
            num += _EWMA_W[k] * series[t - k][1]
            den += _EWMA_W[k]
        got_avg, got_ewma = out[base + dt.timedelta(hours=h)]
        assert got_avg == avg
        assert got_ewma == num // den, (h, series)


# -- round 7: entity-resolution variant generator always blocks together ----


@settings(max_examples=25, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(
    st.text(
        alphabet=st.characters(min_codepoint=97, max_codepoint=122),
        min_size=3,
        max_size=20,
    ),
    st.integers(min_value=0, max_value=3),
)
def test_er_variants_stay_in_block_and_within_one_edit(name, mod):
    """Every dirty variant the ER query synthesizes must (a) share the
    2-char blocking prefix with the base, (b) stay within the +-1 length
    band, and (c) be <= 1 Levenshtein edit from the base — the exact
    conditions the blocked join uses, so recall of the planted duplicates
    is 1 by construction."""

    def variant(n: str, m: int) -> str:
        if m == 0:
            return n
        if m == 1:
            return n[:-1]
        if m == 2:
            return n + n[-1]
        return n[:-1] + "x"

    def lev(a: str, b: str) -> int:
        prev = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            cur = [i]
            for j, cb in enumerate(b, 1):
                cur.append(
                    min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb))
                )
            prev = cur
        return prev[-1]

    v = variant(name, mod)
    assert v[:2] == name[:2]
    assert abs(len(v) - len(name)) <= 1
    assert lev(v, name) <= 1


# -- pure function: union-find (CC small-graph fast path, round 12) ----------


@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=30),
            st.integers(min_value=0, max_value=30),
        ),
        max_size=60,
    )
)
def test_union_find_matches_bfs_closure(pairs):
    """The driver-side union-find behind connected_components'
    small-graph fast path must label every vertex with the MIN id of
    its component — checked against a brute-force BFS closure on random
    graphs (self-loops and duplicate edges included)."""
    from collections import deque

    from breweries_data_engineering_case_spark.operators.components import (
        _union_find,
    )

    got = _union_find(pairs)

    adj: dict[int, set[int]] = {}
    for a, b in pairs:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    expected = {}
    seen: set[int] = set()
    for start in adj:
        if start in seen:
            continue
        comp, q = [], deque([start])
        seen.add(start)
        while q:
            v = q.popleft()
            comp.append(v)
            for w in adj[v]:
                if w not in seen:
                    seen.add(w)
                    q.append(w)
        m = min(comp)
        for v in comp:
            expected[v] = m
    assert got == expected


# -- Hamilton apportionment tail (operators/agg.largest_remainder_topup) ----


@settings(max_examples=10, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(
    st.lists(
        st.integers(min_value=0, max_value=10**9),
        min_size=1,
        max_size=12,
    ),
    st.integers(min_value=0, max_value=10**6),
)
def test_largest_remainder_topup_invariants(spark, weights, budget):
    """For ANY nonnegative weights and budget: floors come from the exact
    proportional shares, and the shared top-up must (a) hit the budget
    exactly, (b) move each key by at most +1 over its floor, and (c) never
    top up a smaller remainder while skipping a larger one (ties broken by
    key ascending) — the determinism the two production allocators
    (dataset_token_budget_allocation, doremi_domain_mixture_weights)
    inherit from this operator."""
    from pyspark.sql import functions as F

    from breweries_data_engineering_case_spark.operators.agg import (
        largest_remainder_topup,
    )

    total = sum(weights)
    rows = []
    for i, w in enumerate(weights):
        if total == 0:
            fl, rem = 0, 0
        else:
            fl, rem = divmod(budget * w, total)
        rows.append((f"k{i:02d}", fl, rem))
    df = spark.createDataFrame(rows, "key string, fl long, rem long")
    out = {
        r["key"]: r["alloc"]
        for r in largest_remainder_topup(
            df, budget, "fl", "rem", "key", "alloc"
        ).collect()
    }
    floors = {k: fl for k, fl, _ in rows}
    rems = {k: rem for k, _, rem in rows}
    if total == 0:
        # degenerate: all-zero weights — every remainder ties at 0, the
        # shortfall IS the budget, and key order decides; with budget
        # possibly exceeding len(weights) the +1 cap cannot absorb it, so
        # this input is outside the operator's contract (callers always
        # floor a true proportional share: Σfloor ≥ budget − n). Only the
        # exact-sum property is meaningful here when budget ≤ n.
        if budget <= len(weights):
            assert sum(out.values()) == budget
        return
    assert sum(out.values()) == budget  # (a) exact simplex
    for k, alloc in out.items():
        assert alloc in (floors[k], floors[k] + 1), (k, alloc, floors[k])  # (b)
    # (c) the topped-up set is exactly the shortfall-many largest
    # (remainder desc, key asc) keys
    shortfall = budget - sum(floors.values())
    order = sorted(out, key=lambda k: (-rems[k], k))
    expect_topped = set(order[:shortfall])
    got_topped = {k for k in out if out[k] == floors[k] + 1}
    assert got_topped == expect_topped, (got_topped, expect_topped)
