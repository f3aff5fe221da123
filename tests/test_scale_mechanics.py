"""Scale-mechanics proofs: salted skew joins stay correct, partition pruning
actually prunes, broadcast hints actually broadcast.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from breweries_data_engineering_case_spark.operators.joins import (
    broadcast_dim_join,
    salted_join,
)
from breweries_data_engineering_case_spark.sources.readers import table_scan
from breweries_data_engineering_case_spark.sources.writers import write_partitioned_parquet


def test_salted_join_equals_plain_join(spark):
    # heavily skewed probe: 90% of rows share one key
    probe = spark.range(0, 2000).select(
        F.when(F.col("id") % 10 < 9, F.lit(7)).otherwise(F.col("id") % 100).alias("k"),
        F.col("id").alias("v"),
    )
    build = spark.createDataFrame([(k, f"dim{k}") for k in range(100)], "k long, name string")
    plain = probe.join(build, "k").select("k", "v", "name")
    salted = salted_join(probe, build, key="k", salt_buckets=8).select("k", "v", "name")
    assert sorted(map(tuple, salted.collect())) == sorted(map(tuple, plain.collect()))


def test_partition_pruning_on_partitioned_write(spark, sf_dir, tmp_path):
    out = str(tmp_path / "li_part")
    li = table_scan(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_quantity", "l_returnflag"
    )
    write_partitioned_parquet(li, out, ["l_returnflag"])
    back = spark.read.parquet(out).filter(F.col("l_returnflag") == "R")
    plan = back._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [isnotnull(l_returnflag" in plan, plan
    # correctness: pruned read equals row filter on original
    assert back.count() == li.filter(F.col("l_returnflag") == "R").count()


def test_broadcast_hint_materializes(spark, sf_dir):
    c = table_scan(spark, sf_dir, "customer")
    n = table_scan(spark, sf_dir, "nation")
    j = broadcast_dim_join(c, n, c["c_nationkey"] == n["n_nationkey"])
    plan = j._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan, plan


def test_sorted_layout_file_ranges_disjoint(spark, sf_dir, tmp_path):
    """repartitionByRange + sortWithinPartitions must produce parquet files
    whose l_shipdate [min, max] ranges are (near-)disjoint — the property
    that lets footer stats skip whole files for a date predicate. Verified
    directly from the parquet footers, not the plan."""
    import pyarrow.parquet as pq

    out = str(tmp_path / "li_sorted")
    (
        table_scan(spark, sf_dir, "lineitem")
        .repartitionByRange(6, "l_shipdate")
        .sortWithinPartitions("l_shipdate")
        .write.mode("overwrite")
        .parquet(out)
    )
    import glob as _glob

    ranges = []
    for f in _glob.glob(out + "/part-*.parquet"):
        md = pq.ParquetFile(f).metadata
        lo = hi = None
        for rg in range(md.num_row_groups):
            for ci in range(md.num_columns):
                col = md.row_group(rg).column(ci)
                if col.path_in_schema == "l_shipdate" and col.statistics:
                    st = col.statistics
                    lo = st.min if lo is None else min(lo, st.min)
                    hi = st.max if hi is None else max(hi, st.max)
        if lo is not None:
            ranges.append((lo, hi))
    assert len(ranges) >= 4
    ranges.sort()
    for (lo1, hi1), (lo2, hi2) in zip(ranges, ranges[1:]):
        # range-partitioned: next file starts at or after the previous end
        assert lo2 >= hi1, f"overlapping file ranges: ({lo1},{hi1}) vs ({lo2},{hi2})"


def test_csv_malformed_row_modes(spark, tmp_path):
    """CSV source behavior under corruption: PERMISSIVE null-fills the bad
    row (pipeline keeps moving, badness observable), DROPMALFORMED removes
    it, FAILFAST raises — the three contract options for dirty feeds."""
    p = tmp_path / "dirty.csv"
    p.write_text("id,name,score\n1,alpha,10\nnot_an_int,beta\n3,gamma,30\n")
    schema = "id bigint, name string, score bigint"

    permissive = spark.read.schema(schema).option("header", True).csv(str(p))
    rows = {r.id: r for r in permissive.collect()}
    assert len(rows) == 3 and rows[None].score is None  # bad row null-filled

    dropped = (
        spark.read.schema(schema)
        .option("header", True)
        .option("mode", "DROPMALFORMED")
        .csv(str(p))
    )
    assert {r.id for r in dropped.collect()} == {1, 3}

    import pytest as _pytest

    with _pytest.raises(Exception, match="FAILFAST|Malformed|BadRecord"):
        (
            spark.read.schema(schema)
            .option("header", True)
            .option("mode", "FAILFAST")
            .csv(str(p))
            .collect()
        )


def test_approx_distinct_within_tolerance(spark, sf_dir):
    """The HLL++ sketch anchored to the exact count: relative error must
    stay inside the configured rsd's ~3-sigma. The registry query emits
    only the deterministic witness since r9 (bounded oracle), so this
    recomputes the raw sketch directly and cross-checks the query's
    exact_users + within_bound columns against it."""
    from breweries_data_engineering_case_spark.plans import registry

    e = table_scan(spark, sf_dir, "events")
    raw = {
        r.event_type: (r.a, r.u)
        for r in e.groupBy("event_type")
        .agg(
            F.approx_count_distinct("user_id", rsd=0.02).alias("a"),
            F.countDistinct("user_id").alias("u"),
        )
        .collect()
    }
    for k, (a, u) in raw.items():
        rel = abs(a - u) / max(u, 1)
        assert rel < 0.15, f"{k}: approx {a} vs exact {u}"
    q = {
        r.event_type: (r.exact_users, r.within_bound)
        for r in registry.QUERIES["approx_distinct_users"](spark, sf_dir).collect()
    }
    assert q.keys() == raw.keys()
    for k, (u, ok) in q.items():
        assert u == raw[k][1] and ok, f"{k}: {q[k]} vs raw {raw[k]}"


def test_observe_metrics_piggyback_on_one_pass(spark, sf_dir):
    """df.observe() — pipeline instrumentation WITHOUT a second scan: the
    quality counters a 100-TB job wants (rows seen, nulls dropped, value
    bounds) accumulate during the action itself instead of re-running the
    plan. Observed metrics must equal a separately-computed aggregate."""
    from pyspark.sql import Observation

    e = table_scan(spark, sf_dir, "events")
    obs = Observation("events_quality")
    observed = e.observe(
        obs,
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.col("value").cast("decimal(18,4)")).cast("double").alias("v_sum"),
        F.min("value").alias("v_min"),
        F.max("value").alias("v_max"),
    )
    out = observed.groupBy("event_type").count().collect()  # the real action
    got = obs.get
    want = e.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.col("value").cast("decimal(18,4)")).cast("double").alias("v_sum"),
        F.min("value").alias("v_min"),
        F.max("value").alias("v_max"),
    ).collect()[0]
    assert got["n_rows"] == want.n_rows
    assert got["v_sum"] == want.v_sum
    assert got["v_min"] == want.v_min and got["v_max"] == want.v_max
    assert len(out) > 0


def test_spread_fans_out_single_task_scan(spark, sf_dir):
    """spread() must lift a 1-partition scan to defaultParallelism, and be
    an exact NO-OP (same plan object semantics, no added shuffle) when the
    input already has at least that many partitions."""
    from pyspark.sql import functions as F

    from breweries_data_engineering_case_spark.sources.readers import (
        spread,
        table_scan,
    )

    cores = spark.sparkContext.defaultParallelism
    d = table_scan(spark, sf_dir, "documents").select("doc_id", "text")
    if d.rdd.getNumPartitions() < cores:
        out = spread(d)
        assert out.rdd.getNumPartitions() == cores
        # row-preserving, content-preserving
        assert out.count() == d.count()
        assert (
            out.agg(F.sum(F.crc32(F.coalesce("text", F.lit("")))).alias("s")).first()[0]
            == d.agg(F.sum(F.crc32(F.coalesce("text", F.lit("")))).alias("s")).first()[0]
        )
    wide = d.repartition(cores + 4)
    assert spread(wide) is wide  # no-op: frame returned untouched


def test_table_scan_memo_reuses_and_invalidates(spark, sf_dir, tmp_path):
    """r14 memo: table_scan returns the SAME immutable frame for an
    unchanged (path, mtime, size); a same-path rewrite mints a fresh entry
    and the new frame reads the new content; directory tables bypass the
    memo (their inode stat can't see partition-subdir rewrites)."""
    import os
    import shutil

    a = table_scan(spark, sf_dir, "documents")
    b = table_scan(spark, sf_dir, "documents")
    assert a is b  # unchanged stat → memoized frame

    src = f"{sf_dir.rstrip('/')}/region.parquet"
    tbl = tmp_path / "region.parquet"
    shutil.copyfile(src, tbl)
    first = table_scan(spark, str(tmp_path), "region")
    n1 = first.count()
    # rewrite at the same path (stat changes) → fresh frame, fresh listing
    shutil.copyfile(src, tbl)
    os.utime(tbl, ns=(1, 1))
    second = table_scan(spark, str(tmp_path), "region")
    assert second is not first
    assert second.count() == n1

    # directory tables are never memoized
    ddir = tmp_path / "asdir.parquet"
    table_scan(spark, sf_dir, "region").write.mode("overwrite").parquet(str(ddir))
    d1 = table_scan(spark, str(tmp_path), "asdir")
    d2 = table_scan(spark, str(tmp_path), "asdir")
    assert d1 is not d2


def test_spread_probe_memo_caches_decision(spark, sf_dir):
    """r14 memo: two semantically-identical fresh frames share one probe
    (the second spread() call must not pay .rdd planning again), and the
    fanned-out result still carries every row."""
    from breweries_data_engineering_case_spark.sources.readers import spread

    memo = spark.__dict__.setdefault("_bdec_spread_memo", {})
    d1 = table_scan(spark, sf_dir, "documents").select("doc_id", "text")
    key = d1._jdf.queryExecution().analyzed().semanticHash()
    memo.pop(key, None)
    out1 = spread(d1)
    assert key in memo  # probe ran and was recorded
    d2 = table_scan(spark, sf_dir, "documents").select("doc_id", "text")
    out2 = spread(d2)
    assert out1.count() == out2.count() == d1.count()


def test_markov_removal_driver_lattice_planted(spark, tmp_path):
    """The r14 optimization moved the markov removal-effect fixed point
    driver-side (bounded collect of the ≤|S|²-row transition counts).
    Plant a corpus that pins the two subtle join semantics the rewrite
    had to replay exactly: (1) a single-event user whose type appears in
    NO transition ('error') is absent from the lattice but still dilutes
    nu (the SQL left join + total first-event count); (2) transitions
    into the removed channel are masked without renormalization. All
    expected values are hand-derived integer per-mille."""
    import pandas as pd

    from breweries_data_engineering_case_spark.plans.registry import QUERIES

    ts = pd.Timestamp("2024-01-01")
    rows = [
        # u1: view -> cart -> purchase
        (1, 1, ts, "view"), (1, 2, ts + pd.Timedelta("1s"), "cart"),
        (1, 3, ts + pd.Timedelta("2s"), "purchase"),
        # u2: view -> cart (no purchase)
        (2, 4, ts, "view"), (2, 5, ts + pd.Timedelta("1s"), "cart"),
        # u3: a single 'error' event — in no transition, dilutes nu only
        (3, 6, ts, "error"),
        # u4: cart -> view
        (4, 7, ts, "cart"), (4, 8, ts + pd.Timedelta("1s"), "view"),
    ]
    ev = pd.DataFrame(rows, columns=["user_id", "event_id", "ts", "event_type"])
    d = tmp_path / "corpus"
    d.mkdir()
    ev.to_parquet(d / "events.parquet")
    got = {
        r["channel"]: r.asDict()
        for r in QUERIES["events_markov_removal_attribution"](
            spark, str(d)
        ).collect()
    }
    # pm: (view,cart)=1000, (cart,purchase)=500, (cart,view)=500
    # fixed point (4 rounds): full level -> cart=750, view=750;
    # remove cart -> view unreachable (0); remove view -> cart=500.
    # starts ns = {view:2, cart:1, error:1} => nu=4 (error counts!)
    # conv: full=(1*750+2*750)//4=562, cart-removed=0, view-removed=(1*500)//4=125
    te = 562 + 437
    want = {
        "cart": (562, 0, 562, (1_000_000 * 562) // te),
        "view": (562, 125, 437, (1_000_000 * 437) // te),
    }
    assert set(got) == set(want)
    for ch, (fp, cp, eff, share) in want.items():
        g = got[ch]
        assert (
            g["conv_full_pm"],
            g["conv_removed_pm"],
            g["removal_effect_pm"],
            g["share_ppm"],
        ) == (fp, cp, eff, share), ch
    # empty transition graph (every user single-event) -> empty result,
    # same 5-column schema
    d2 = tmp_path / "empty_graph"
    d2.mkdir()
    ev.iloc[[0, 5]].to_parquet(d2 / "events.parquet")
    out = QUERIES["events_markov_removal_attribution"](spark, str(d2))
    assert out.columns == [
        "channel",
        "conv_full_pm",
        "conv_removed_pm",
        "removal_effect_pm",
        "share_ppm",
    ]
    assert out.count() == 0


def test_trunc_div_matches_sql_div_semantics():
    """trunc_div must truncate toward zero on every sign combination —
    the exact SQL `div` / DuckDB BIGINT `//` behavior the driver-side
    lattice replays depend on (Python // floors instead)."""
    from breweries_data_engineering_case_spark.operators.agg import trunc_div

    cases = [(7, 2, 3), (-7, 2, -3), (7, -2, -3), (-7, -2, 3),
             (6, 3, 2), (-6, 3, -2), (0, 5, 0), (1, 1_000_000, 0),
             (-1, 1_000_000, 0)]
    for a, b, want in cases:
        assert trunc_div(a, b) == want, (a, b)
        # cross-check against DuckDB's BIGINT integer division
        import duckdb

        got = duckdb.sql(
            f"SELECT CAST({a} AS BIGINT) // CAST({b} AS BIGINT)"
        ).fetchone()[0]
        assert trunc_div(a, b) == got, (a, b)


def test_bounded_collect_guard(spark):
    """bounded_collect (VERDICT r14 #3): under the bound it returns every
    row; one row over, it raises loudly instead of iterating an unbounded
    lattice on the driver. Memory is capped by construction (limit n+1)."""
    import pytest

    from breweries_data_engineering_case_spark.operators.agg import (
        bounded_collect,
    )

    df = spark.range(0, 6).select(F.col("id").alias("k"))
    ok = bounded_collect(df, 6, "six rows, bound six")
    assert sorted(r["k"] for r in ok) == list(range(6))
    with pytest.raises(RuntimeError, match="planted lattice overflow"):
        bounded_collect(df, 5, "planted lattice overflow")


def test_shapley_channel_guard_runs_before_the_lattice_collect(spark, tmp_path, monkeypatch):
    """21 channels (> _SHAPLEY_CHANNELS_MAX = 20) raise from the capped
    channel collect: the ≤2^C touch-set collect, up to 2^20 rows on the
    driver, never runs."""
    import pandas as pd
    import pytest

    from breweries_data_engineering_case_spark.operators import agg
    from breweries_data_engineering_case_spark.plans.registry import QUERIES

    lattice_collects: list[str] = []

    def no_lattice(df, bound, what):
        lattice_collects.append(what)
        raise AssertionError(f"lattice collect ran: {what}")

    monkeypatch.setattr(agg, "bounded_collect", no_lattice)
    ts = pd.Timestamp("2024-01-01")
    rows = [(u % 3, u, ts, f"ch_{u:02d}") for u in range(21)]
    rows.append((0, 99, ts, "purchase"))
    ev = pd.DataFrame(rows, columns=["user_id", "event_id", "ts", "event_type"])
    d = tmp_path / "wide_channels"
    d.mkdir()
    ev.to_parquet(d / "events.parquet")
    with pytest.raises(RuntimeError, match="at least 21 distinct channels exceed"):
        QUERIES["events_shapley_attribution"](spark, str(d))
    assert lattice_collects == []


def test_bounded_collect_conf_override_is_serialized(spark):
    """bounded_collect scopes spark.sql.limit.initialNumPartitions to its
    collect. The conf is session-global, so two concurrent callers must not
    interleave set and restore: a value the user set survives both."""
    import threading

    from breweries_data_engineering_case_spark.operators.agg import (
        bounded_collect,
    )

    key = "spark.sql.limit.initialNumPartitions"
    spark.conf.set(key, "7")
    try:
        df = spark.range(0, 40, numPartitions=8)
        got: list[list[int]] = []
        errors: list[BaseException] = []

        def worker() -> None:
            try:
                for _ in range(3):
                    got.append(sorted(r["id"] for r in bounded_collect(df, 40, "ids")))
            except BaseException as e:  # noqa: BLE001 — surfaced below
                errors.append(e)

        threads = [threading.Thread(target=worker) for _ in range(2)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(120)
        assert not errors
        assert got == [list(range(40))] * 6
        assert spark.conf.get(key) == "7"
    finally:
        spark.conf.unset(key)


def test_bounded_collect_leaves_unreadable_conf_alone():
    """A conf that cannot be read is neither overridden nor unset: only
    what was read is restored."""
    from breweries_data_engineering_case_spark.operators.agg import (
        bounded_collect,
    )

    calls: list[str] = []

    class Conf:
        def get(self, key, default=None):
            raise RuntimeError("conf not readable")

        def set(self, key, value):
            calls.append("set")

        def unset(self, key):
            calls.append("unset")

    class Frame:
        sparkSession = type("Session", (), {"conf": Conf()})()

        def limit(self, n):
            return self

        def collect(self):
            return [1, 2]

    assert bounded_collect(Frame(), 2, "two rows") == [1, 2]
    assert calls == []


def test_markov_lattice_oversized_vocab_raises(spark, tmp_path):
    """Planted oversized event-type vocabulary (101 distinct single-event
    types > the documented _LATTICE_STATES_MAX = 100): the driver-side
    markov lattice must REFUSE loudly at its first-event bounded collect,
    not hang/OOM the driver — and conforming corpora (the planted-lattice
    test above, the oracle sweep) are untouched."""
    import pandas as pd
    import pytest

    from breweries_data_engineering_case_spark.plans.registry import QUERIES

    ts = pd.Timestamp("2024-01-01")
    rows = [(u, u, ts, f"etype_{u:03d}") for u in range(101)]
    ev = pd.DataFrame(rows, columns=["user_id", "event_id", "ts", "event_type"])
    d = tmp_path / "wide_vocab"
    d.mkdir()
    ev.to_parquet(d / "events.parquet")
    with pytest.raises(RuntimeError, match="bounded_collect.*first-event"):
        QUERIES["events_markov_removal_attribution"](spark, str(d))


def test_shapley_oversized_channel_universe_raises(spark, tmp_path):
    """Planted 21-channel universe (> _SHAPLEY_CHANNELS_MAX = 20): the
    coalition-lattice guard must refuse before enumerating 2^21 subsets
    driver-side."""
    import pandas as pd
    import pytest

    from breweries_data_engineering_case_spark.plans.registry import QUERIES

    ts = pd.Timestamp("2024-01-01")
    rows = [(u, u, ts, f"ch_{u:02d}") for u in range(21)]
    rows.append((0, 99, ts + pd.Timedelta("1s"), "purchase"))
    ev = pd.DataFrame(rows, columns=["user_id", "event_id", "ts", "event_type"])
    d = tmp_path / "wide_channels"
    d.mkdir()
    ev.to_parquet(d / "events.parquet")
    with pytest.raises(RuntimeError, match="distinct channels exceed"):
        QUERIES["events_shapley_attribution"](spark, str(d))
