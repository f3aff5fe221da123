"""Round-8 operator tests: the distributed exact-rank-selection kernel and
the scale-path twins it powers (VERDICT r7 ask #7). Oracle parity proves the
engines agree; these prove the math is right against an independent
reference (numpy / brute-force sorts on collected data)."""

from __future__ import annotations

import pyspark.sql.functions as F

from breweries_data_engineering_case_spark.plans import registry
from breweries_data_engineering_case_spark.plans.qshared import (
    _exact_rank_cutoffs,
    _QUARTILE_RANKS,
)
from breweries_data_engineering_case_spark.sources.readers import table_scan


def test_exact_rank_cutoffs_match_sorted_multiset(spark):
    # adversarial value set: heavy ties, a huge outlier, negatives —
    # the exact order statistic at rank ceil(i*n/4) must equal a plain sort
    vals = [5, 5, 5, -3, 0, 0, 7, 1_000_000, 2, 2, 2, 2, -3] * 7  # n = 91
    df = spark.createDataFrame([(v,) for v in vals], "v long").repartition(8)
    row = _exact_rank_cutoffs(df, _QUARTILE_RANKS).collect()[0]
    s = sorted(vals)
    n = len(vals)
    for i in range(1, 4):
        k = (i * n + 3) // 4  # ceil(i*n/4), 1-based
        assert row[f"c{i}"] == s[k - 1], (i, k, row)


def test_exact_rank_cutoffs_single_bucket_degenerate(spark):
    # all-equal input: lo == hi collapses every value into bucket 0 and
    # every cutoff must be that value (GREATEST guard against /0)
    df = spark.createDataFrame([(42,)] * 10, "v long")
    row = _exact_rank_cutoffs(df, _QUARTILE_RANKS).collect()[0]
    assert (row["c1"], row["c2"], row["c3"]) == (42, 42, 42)


def test_pareto_scaled_cumsum_equals_global_window(spark, sf_dir):
    # the two-phase prefix sum must reproduce the original global-window
    # classification row-for-row
    a = {
        (r.o_custkey, r.pareto_class)
        for r in registry.QUERIES["orders_abc_pareto"](spark, sf_dir).collect()
    }
    b = {
        (r.o_custkey, r.pareto_class)
        for r in registry.QUERIES["orders_abc_pareto_scaled"](
            spark, sf_dir
        ).collect()
    }
    assert a == b


def test_ntile_scaled_buckets_are_quartile_sized_and_ordered(spark, sf_dir):
    # value-based quartiles: bucket boundaries respect value order and each
    # bucket holds ~n/4 rows (ties may shift counts, never order)
    df = registry.QUERIES["window_ntile_quartiles_scaled"](spark, sf_dir)
    o = table_scan(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice"
    )
    j = df.join(o, "o_orderkey")
    agg = (
        j.groupBy("price_quartile")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("o_totalprice").alias("lo"),
            F.max("o_totalprice").alias("hi"),
        )
        .orderBy("price_quartile")
        .collect()
    )
    assert [r.price_quartile for r in agg] == [1, 2, 3, 4]
    n = sum(r.n for r in agg)
    for r in agg:
        assert abs(r.n - n / 4) < n * 0.05  # near-equal depth at this SF
    for prev, nxt in zip(agg, agg[1:]):
        assert prev.hi <= nxt.lo  # buckets are value-ordered, no overlap


def test_rfm_scaled_quartiles_rank_correctly(spark, sf_dir):
    # quartile 1 of frequency must hold the MOST frequent customers;
    # quartile 1 of recency the most RECENT (smallest recency_days)
    rows = registry.QUERIES["orders_rfm_segments_scaled"](
        spark, sf_dir
    ).collect()
    by_fq = {}
    by_rq = {}
    for r in rows:
        by_fq.setdefault(r.f_q, []).append(r.frequency)
        by_rq.setdefault(r.r_q, []).append(r.recency_days)
    assert min(by_fq[1]) >= max(by_fq[4])
    assert max(by_rq[1]) <= min(by_rq[4])
    assert all(r.segment == f"{r.r_q}{r.f_q}{r.m_q}" for r in rows)


def _lineitem_qd(sf_dir):
    import pandas as pd

    df = pd.read_parquet(
        f"{sf_dir}/lineitem.parquet",
        columns=["l_returnflag", "l_quantity", "l_discount"],
    )
    df["q"] = df.l_quantity.astype(int)
    df["d"] = (df.l_discount * 100).round().astype(int)
    return df


def test_spearman_matches_pandas_average_ranks(spark, sf_dir):
    import numpy as np

    ref = {}
    df = _lineitem_qd(sf_dir)
    for flag, g in df.groupby("l_returnflag"):
        rq = g.q.rank(method="average")
        rd = g.d.rank(method="average")
        ref[flag] = float(np.corrcoef(rq, rd)[0, 1])
    rows = registry.QUERIES["lineitem_spearman_qty_discount"](
        spark, sf_dir
    ).collect()
    assert len(rows) == 3
    for r in rows:
        assert abs(r.rho_spearman - ref[r.l_returnflag]) < 1e-9, (
            r.l_returnflag,
            r.rho_spearman,
            ref[r.l_returnflag],
        )


def test_kendall_tau_b_matches_brute_force(spark, sf_dir):
    import numpy as np

    ref = {}
    df = _lineitem_qd(sf_dir)
    for flag, g in df.groupby("l_returnflag"):
        q = g.q.to_numpy()
        d = g.d.to_numpy()
        sq = np.sign(q[:, None] - q[None, :])
        sd = np.sign(d[:, None] - d[None, :])
        prod = sq * sd
        conc = int((prod > 0).sum() // 2)
        disc = int((prod < 0).sum() // 2)
        n = len(q)
        n0 = n * (n - 1) // 2
        n1 = sum(t * (t - 1) // 2 for t in np.bincount(q) if t > 1)
        n2 = sum(t * (t - 1) // 2 for t in np.bincount(d) if t > 1)
        ref[flag] = (
            conc,
            disc,
            (conc - disc) / (np.sqrt(n0 - n1) * np.sqrt(n0 - n2)),
        )
    rows = registry.QUERIES["lineitem_kendall_tau_b"](spark, sf_dir).collect()
    assert len(rows) == 3
    for r in rows:
        c, dsc, tau = ref[r.l_returnflag]
        assert (r.n_concordant, r.n_discordant) == (c, dsc)
        assert abs(r.tau_b - tau) < 1e-9


def test_kruskal_wallis_matches_formula_replay(spark, sf_dir):
    df = _lineitem_qd(sf_dir)
    ranks = df.q.rank(method="average")
    n = len(df)
    s = 0.0
    for _, g in df.groupby("l_returnflag"):
        rj = float(ranks[g.index].sum())
        s += rj * rj / len(g)
    h = 12.0 * s / (n * (n + 1)) - 3.0 * (n + 1)
    tie = sum(t**3 - t for t in df.q.value_counts() if t > 1)
    hc = h / (1.0 - tie / (n**3 - n))
    row = registry.QUERIES["lineitem_kruskal_wallis_qty_by_flag"](
        spark, sf_dir
    ).collect()[0]
    assert row.n_rows == n and row.n_groups == 3
    assert abs(row.h_statistic - h) < 1e-6 * max(1.0, abs(h))
    assert abs(row.h_corrected - hc) < 1e-6 * max(1.0, abs(hc))


def test_skew_kurtosis_match_numpy_moments(spark, sf_dir):
    import numpy as np
    import pandas as pd

    df = pd.read_parquet(
        f"{sf_dir}/lineitem.parquet", columns=["l_returnflag", "l_quantity"]
    )
    df["x"] = df.l_quantity.astype(int)
    rows = registry.QUERIES["lineitem_qty_skew_kurtosis_by_flag"](
        spark, sf_dir
    ).collect()
    assert len(rows) == 3
    for r in rows:
        x = df[df.l_returnflag == r.l_returnflag].x.to_numpy(dtype=float)
        m = x.mean()
        m2 = ((x - m) ** 2).mean()
        g1 = ((x - m) ** 3).mean() / m2**1.5
        g2 = ((x - m) ** 4).mean() / m2**2 - 3.0
        assert r.n_rows == len(x)
        assert abs(r.skewness - g1) < 1e-9
        assert abs(r.excess_kurtosis - g2) < 1e-9


def test_welch_ttest_matches_formula_replay(spark, sf_dir):
    import numpy as np
    import pandas as pd
    from decimal import Decimal, ROUND_HALF_UP

    df = pd.read_parquet(
        f"{sf_dir}/events.parquet", columns=["event_type", "user_id", "value"]
    )
    # replicate the decimal(18,2)*100 cents idiom bit-for-bit
    df["c"] = [
        int(Decimal(str(v)).quantize(Decimal("0.01"), ROUND_HALF_UP) * 100)
        for v in df.value
    ]
    df["variant"] = df.user_id % 2
    rows = registry.QUERIES["events_welch_ttest_value"](spark, sf_dir).collect()
    assert len(rows) == 5
    for r in rows:
        g = df[df.event_type == r.event_type]
        a = g[g.variant == 0].c.to_numpy(dtype=float)
        b = g[g.variant == 1].c.to_numpy(dtype=float)
        assert (r.n0, r.n1) == (len(a), len(b))
        se0 = a.var(ddof=1) / len(a)
        se1 = b.var(ddof=1) / len(b)
        t = (a.mean() - b.mean()) / np.sqrt(se0 + se1)
        dof = (se0 + se1) ** 2 / (
            se0**2 / (len(a) - 1) + se1**2 / (len(b) - 1)
        )
        assert abs(r.mean_diff_cents - (a.mean() - b.mean())) < 1e-6
        assert abs(r.t_stat - t) < 1e-9 * max(1.0, abs(t))
        assert abs(r.welch_dof - dof) < 1e-6 * dof


def test_cramers_v_matches_contingency_replay(spark, sf_dir):
    import numpy as np
    import pandas as pd

    cust = pd.read_parquet(
        f"{sf_dir}/customer.parquet", columns=["c_mktsegment", "c_nationkey"]
    )
    nat = pd.read_parquet(
        f"{sf_dir}/nation.parquet", columns=["n_nationkey", "n_name"]
    )
    j = cust.merge(nat, left_on="c_nationkey", right_on="n_nationkey")
    ct = pd.crosstab(j.c_mktsegment, j.n_name)
    obs = ct.to_numpy(dtype=float)
    n = obs.sum()
    exp = np.outer(obs.sum(axis=1), obs.sum(axis=0)) / n
    chi2 = float(((obs - exp) ** 2 / exp)[exp > 0].sum())
    v = float(np.sqrt(chi2 / (n * (min(obs.shape) - 1))))
    row = registry.QUERIES["customer_segment_nation_cramers_v"](
        spark, sf_dir
    ).collect()[0]
    assert row.n_cells == obs.size  # full r x c grid, zero cells included
    assert abs(row.chi2 - chi2) < 1e-6 * chi2
    assert abs(row.cramers_v - v) < 1e-9
    assert 0.0 <= row.cramers_v <= 1.0


def test_knn_label_accuracy_matches_numpy_vote(spark, sf_dir):
    import numpy as np
    import pandas as pd

    df = pd.read_parquet(f"{sf_dir}/embeddings.parquet")
    X = np.stack(df.embedding.to_numpy()).astype(np.float64)
    labels = df.label.to_numpy()
    ids = df.vec_id.to_numpy()
    norms = np.linalg.norm(X, axis=1)
    correct = {}
    total = {}
    order = np.argsort(ids)
    for qi in order:
        if ids[qi] >= 50:
            continue
        sims = (X @ X[qi]) / (norms * norms[qi])
        cand = sorted(
            ((-(sims[j]), ids[j], labels[j]) for j in range(len(ids)) if ids[j] != ids[qi])
        )[:5]
        votes = {}
        for _, _, lb in cand:
            votes[lb] = votes.get(lb, 0) + 1
        pred = sorted(votes.items(), key=lambda kv: (-kv[1], kv[0]))[0][0]
        t = labels[qi]
        total[t] = total.get(t, 0) + 1
        correct[t] = correct.get(t, 0) + (pred == t)
    rows = registry.QUERIES["embedding_knn_label_accuracy"](
        spark, sf_dir
    ).collect()
    assert sum(r.n_queries for r in rows) == 50
    for r in rows:
        assert r.n_queries == total[r.true_label]
        assert r.n_correct == correct[r.true_label], r


def test_prev_purchase_ignore_nulls_matches_pandas_replay(spark, sf_dir):
    import pandas as pd
    from decimal import Decimal, ROUND_HALF_UP

    df = pd.read_parquet(
        f"{sf_dir}/events.parquet",
        columns=["event_id", "user_id", "ts", "event_type", "value"],
    ).sort_values(["user_id", "ts", "event_id"])
    out = {}
    for _, g in df.groupby("user_id"):
        last = None
        for r in g.itertuples():
            out[r.event_id] = last
            if r.event_type == "purchase":
                last = int(
                    Decimal(str(r.value)).quantize(
                        Decimal("0.01"), ROUND_HALF_UP
                    )
                    * 100
                )
    rows = registry.QUERIES["events_prev_purchase_ignore_nulls"](
        spark, sf_dir
    ).collect()
    assert len(rows) == len(df)
    got_some = False
    for r in rows:
        assert r.prev_purchase_cents == out[r.event_id], r
        got_some = got_some or r.prev_purchase_cents is not None
    assert got_some


def test_centroid_silhouette_matches_numpy_replay(spark, sf_dir):
    import numpy as np
    import pandas as pd

    df = pd.read_parquet(f"{sf_dir}/embeddings.parquet")
    Q = np.round(np.stack(df.embedding.to_numpy()).astype(np.float64) * 1e6)
    labels = df.label.to_numpy()
    cents = {
        lb: Q[labels == lb].sum(axis=0) / (labels == lb).sum()
        for lb in np.unique(labels)
    }
    ref = {}
    for lb in np.unique(labels):
        svals = []
        for i in np.where(labels == lb)[0]:
            a = np.sqrt(((Q[i] - cents[lb]) ** 2).sum())
            b = min(
                np.sqrt(((Q[i] - c) ** 2).sum())
                for lo, c in cents.items()
                if lo != lb
            )
            svals.append(0.0 if max(a, b) == 0 else (b - a) / max(a, b))
        svals.sort()
        n = len(svals)
        ref[lb] = (
            n,
            sum(1 for s in svals if s > 0),
            svals[(n + 1) // 2 - 1],
        )
    rows = registry.QUERIES["embedding_centroid_silhouette"](
        spark, sf_dir
    ).collect()
    assert len(rows) == len(ref)
    for r in rows:
        n, npos, med = ref[r.label]
        assert (r.n_vecs, r.n_positive) == (n, npos)
        assert abs(r.median_silhouette - med) < 1e-9


def test_auc_matches_rank_formula(spark, sf_dir):
    import pandas as pd
    from decimal import Decimal, ROUND_HALF_UP

    df = pd.read_parquet(
        f"{sf_dir}/orders.parquet", columns=["o_totalprice", "o_orderpriority"]
    )
    cents = [
        int(Decimal(str(v)).quantize(Decimal("0.01"), ROUND_HALF_UP) * 100)
        for v in df.o_totalprice
    ]
    pos = (df.o_orderpriority == "1-URGENT").to_numpy()
    s = pd.Series(cents)
    ranks = s.rank(method="average")  # Mann-Whitney AUC via midranks
    n1 = int(pos.sum())
    n0 = len(s) - n1
    u = float(ranks[pos].sum()) - n1 * (n1 + 1) / 2
    auc = u / (n1 * n0)
    row = registry.QUERIES["orders_auc_urgent_price"](spark, sf_dir).collect()[0]
    assert (row.n_pos, row.n_neg) == (n1, n0)
    assert row.auc_ppm == int(auc * 1_000_000) or abs(
        row.auc_ppm - auc * 1_000_000
    ) < 1.0  # exact integer floor vs float reference
    assert 0 <= row.auc_ppm <= 1_000_000


def test_cdc_snapshot_diff_matches_pandas_replay(spark, sf_dir):
    import pandas as pd

    li = pd.read_parquet(
        f"{sf_dir}/lineitem.parquet", columns=["l_orderkey", "l_shipdate"]
    )
    s1 = li[li.l_shipdate < "1995-01-01"].groupby("l_orderkey").size()
    s2 = li[li.l_shipdate < "1996-01-01"].groupby("l_orderkey").size()
    keys = set(s1.index) | set(s2.index)
    ref = {"added": 0, "removed": 0, "changed": 0, "unchanged": 0}
    for k in keys:
        if k not in s1.index:
            ref["added"] += 1
        elif k not in s2.index:
            ref["removed"] += 1
        elif s1[k] != s2[k]:
            ref["changed"] += 1
        else:
            ref["unchanged"] += 1
    got = {
        r.change_type: r.n_keys
        for r in registry.QUERIES["orders_cdc_snapshot_diff"](
            spark, sf_dir
        ).collect()
    }
    assert got == {k: v for k, v in ref.items() if v > 0}
    # shipments only accumulate: nothing can be 'removed' between cutoffs
    assert "removed" not in got


def test_kaplan_meier_matches_product_limit_replay(spark, sf_dir):
    import pandas as pd

    o = pd.read_parquet(
        f"{sf_dir}/orders.parquet", columns=["o_orderkey", "o_orderdate"]
    )
    li = pd.read_parquet(
        f"{sf_dir}/lineitem.parquet", columns=["l_orderkey", "l_shipdate"]
    )
    first = li.groupby("l_orderkey").l_shipdate.min()
    j = o.join(first.rename("fs"), on="o_orderkey", how="inner")
    t = (
        pd.to_datetime(j.fs).dt.normalize()
        - pd.to_datetime(j.o_orderdate).dt.normalize()
    ).dt.days
    event = (t <= 90).astype(int)
    t = t.clip(lower=0, upper=90)  # negative synthetic delays floor to day 0
    n_total = len(t)
    days = sorted(t.unique())
    surv = 1.0
    left_before = 0
    ref = {}
    for day in days:
        d = int(event[t == day].sum())
        leaving = int((t == day).sum())
        at_risk = n_total - left_before
        if d > 0:
            surv *= 1.0 - d / at_risk
            ref[day] = (d, at_risk, surv)
        else:
            surv *= 1.0  # censored-only day: curve unchanged
        left_before += leaving
    rows = registry.QUERIES["orders_kaplan_meier_first_ship"](
        spark, sf_dir
    ).collect()
    assert len(rows) == len(ref)
    for r in rows:
        d, at_risk, s = ref[r.day]
        assert (r.n_events, r.n_at_risk) == (d, at_risk)
        assert abs(r.survival - s) < 1e-12
    # survival is monotone non-increasing and starts below 1
    vals = [r.survival for r in sorted(rows, key=lambda r: r.day)]
    assert all(a >= b for a, b in zip(vals, vals[1:]))


def test_jonckheere_matches_brute_force(spark, sf_dir):
    import numpy as np

    df = _lineitem_qd(sf_dir)
    groups = {d: g.q.to_numpy() for d, g in df.groupby("d")}
    ds = sorted(groups)
    jt2 = 0
    e2 = 0
    for a_i in range(len(ds)):
        for b_i in range(a_i + 1, len(ds)):
            qa = groups[ds[a_i]]
            qb = groups[ds[b_i]]
            less = (qa[:, None] < qb[None, :]).sum()
            ties = (qa[:, None] == qb[None, :]).sum()
            jt2 += int(2 * less + ties)
            e2 += len(qa) * len(qb)
    row = registry.QUERIES["lineitem_jonckheere_dose_response"](
        spark, sf_dir
    ).collect()[0]
    assert row.n_rows == len(df) and row.n_groups == len(ds)
    assert (row.jt_x2, row.e_null_x2) == (jt2, e2)
    assert row.excess_x2 == jt2 - e2
    assert row.trend == (
        "increasing" if jt2 > e2 else "decreasing" if jt2 < e2 else "none"
    )


def test_peak_concurrency_matches_sweep_replay(spark, sf_dir):
    import pandas as pd

    ev = pd.read_parquet(
        f"{sf_dir}/events.parquet", columns=["user_id", "ts", "event_id"]
    ).sort_values(["user_id", "ts", "event_id"])
    deltas = []
    for _, g in ev.groupby("user_id"):
        start = prev = None
        for r in g.itertuples():
            if prev is None or (r.ts - prev) > pd.Timedelta(minutes=30):
                if start is not None:
                    deltas.append((prev + pd.Timedelta(seconds=1), -1))
                start = r.ts
                deltas.append((start, 1))
            prev = r.ts
        deltas.append((prev + pd.Timedelta(seconds=1), -1))
    deltas.sort()  # (ts, delta): -1 sorts before +1 at the same instant
    running = 0
    peaks = {}
    for ts, d in deltas:
        running += d
        day = ts.date()
        peaks[day] = max(peaks.get(day, -(10**9)), running)
    rows = registry.QUERIES["events_peak_concurrent_sessions"](
        spark, sf_dir
    ).collect()
    assert len(rows) == len(peaks)
    for r in rows:
        day = r.day if not hasattr(r.day, "date") else r.day
        assert r.peak_concurrent == peaks[day], (r, peaks[day])
    assert max(r.peak_concurrent for r in rows) > 1


def test_lindley_queue_matches_sequential_recursion(spark, sf_dir):
    import pandas as pd

    o = pd.read_parquet(f"{sf_dir}/orders.parquet", columns=["o_orderdate"])
    daily = (
        pd.to_datetime(o.o_orderdate).dt.date.value_counts().sort_index()
    )
    s = int(daily.sum())
    nd = len(daily)
    cap = -(-s // nd)  # ceil
    q = 0
    ref = {}
    for day, a in daily.items():
        q = max(0, q + int(a) - cap)
        if q > 0:
            ref[day] = q
    rows = registry.QUERIES["orders_queue_depth_lindley"](
        spark, sf_dir
    ).collect()
    assert len(rows) == len(ref)
    for r in rows:
        assert r.capacity == cap
        assert r.queue_depth == ref[r.day], (r.day, r.queue_depth, ref[r.day])


def test_median_polish_reconstructs_and_is_robust(spark, sf_dir):
    import pandas as pd

    rows = registry.QUERIES["events_dow_hour_median_polish"](
        spark, sf_dir
    ).collect()
    ev = pd.read_parquet(f"{sf_dir}/events.parquet", columns=["ts"])
    ts = pd.to_datetime(ev.ts)
    grid = (
        pd.DataFrame(
            {"dow": (ts.dt.dayofweek + 1) % 7, "hr": ts.dt.hour}
        )
        .value_counts()
        .to_dict()
    )
    # decomposition must reconstruct the original cell exactly:
    # x = row_effect + col_effect + residual
    for r in rows:
        assert r.row_effect + r.col_effect + r.residual == grid[
            (r.dow, r.hr)
        ], r
    # after polishing, the median residual per row axis is ~0 (within one
    # unit: the second column sweep can reintroduce a +-1 row offset)
    df = pd.DataFrame([r.asDict() for r in rows])
    for _, g in df.groupby("dow"):
        assert abs(g.residual.median()) <= 1.5


def test_brown_forsythe_matches_numpy_replay(spark, sf_dir):
    import numpy as np
    import pandas as pd

    li = pd.read_parquet(
        f"{sf_dir}/lineitem.parquet", columns=["l_returnflag", "l_quantity"]
    )
    q = (li.l_quantity * 100).round().astype(np.int64)
    groups = [
        q[li.l_returnflag == g].to_numpy() for g in ("A", "N", "R")
    ]
    groups = [g for g in groups if len(g)]
    # lower median (rank ceil(n/2)) to match the query's order statistic
    zs = [
        np.abs(g - np.sort(g)[(len(g) + 1) // 2 - 1]) for g in groups
    ]
    n = sum(len(z) for z in zs)
    k = len(zs)
    gm = sum(z.sum() for z in zs) / n
    ssb = sum(len(z) * (z.mean() - gm) ** 2 for z in zs)
    ssw = sum(((z - z.mean()) ** 2).sum() for z in zs)
    f_ref = (ssb / (k - 1)) / (ssw / (n - k))
    row = registry.QUERIES["lineitem_brown_forsythe_variance"](
        spark, sf_dir
    ).collect()[0]
    assert row.n_rows == n
    assert abs(row.f_brown_forsythe - f_ref) <= 1e-9 * max(1.0, abs(f_ref))


def test_mcnemar_matches_pandas_replay(spark, sf_dir):
    import pandas as pd

    ev = pd.read_parquet(
        f"{sf_dir}/events.parquet", columns=["user_id", "ts", "event_type"]
    )
    us = pd.to_datetime(ev.ts).astype("int64") // 1000  # epoch micros
    lo, hi = us.min(), us.max()
    p = ev.event_type == "purchase"
    first = us * 2 < lo + hi
    per = pd.DataFrame(
        {"u": ev.user_id, "p1": p & first, "p2": p & ~first}
    ).groupby("u").max()
    b = int((per.p1 & ~per.p2).sum())
    c = int((~per.p1 & per.p2).sum())
    row = registry.QUERIES["events_mcnemar_paired_conversion"](
        spark, sf_dir
    ).collect()[0]
    assert (row.b, row.c) == (b, c)
    assert row.a + row.b + row.c + row.d == per.shape[0]
    if b + c:
        assert row.chi2_ppm == (1000000 * (b - c) ** 2) // (b + c)
        cc = max(abs(b - c) - 1, 0)
        assert row.chi2_cc_ppm == (1000000 * cc * cc) // (b + c)


def test_cohens_kappa_matches_fraction_replay(spark, sf_dir):
    from fractions import Fraction

    import pandas as pd

    ev = pd.read_parquet(
        f"{sf_dir}/events.parquet", columns=["user_id", "value"]
    )
    cents = (ev.value * 100).round().astype("int64")
    per = pd.DataFrame({"u": ev.user_id, "v": cents}).groupby("u").agg(
        cnt=("v", "size"), val=("v", "sum")
    )
    nu, tc, tv = len(per), int(per.cnt.sum()), int(per.val.sum())
    r1 = per.cnt * nu >= tc
    r2 = per.val * nu >= tv
    a = int((r1 & r2).sum())
    b = int((r1 & ~r2).sum())
    c = int((~r1 & r2).sum())
    d = int((~r1 & ~r2).sum())
    n = a + b + c + d
    po = Fraction(a + d, n)
    pe = Fraction((a + b) * (a + c) + (c + d) * (b + d), n * n)
    kappa = (po - pe) / (1 - pe)
    sign = 1 if kappa >= 0 else -1
    ref_ppm = sign * ((1000000 * abs(kappa.numerator) * 1) // kappa.denominator)
    row = registry.QUERIES["events_cohens_kappa_agreement"](
        spark, sf_dir
    ).collect()[0]
    assert (row.a, row.b, row.c, row.d) == (a, b, c, d)
    assert row.kappa_ppm == ref_ppm


def test_hits_matches_pandas_power_iteration(spark, sf_dir):
    import pandas as pd

    o = pd.read_parquet(
        f"{sf_dir}/orders.parquet", columns=["o_orderkey", "o_custkey"]
    )
    li = pd.read_parquet(
        f"{sf_dir}/lineitem.parquet", columns=["l_orderkey", "l_suppkey"]
    )
    e = (
        o.merge(li, left_on="o_orderkey", right_on="l_orderkey")[
            ["o_custkey", "l_suppkey"]
        ]
        .drop_duplicates()
        .rename(columns={"o_custkey": "c", "l_suppkey": "s"})
    )
    a = e.groupby("s").size().rename("a")  # a1 = indegree
    h = e.merge(a, on="s").groupby("c").a.sum().rename("h")  # h1
    a2 = e.merge(h, on="c").groupby("s").h.sum().rename("a")  # a2
    h2 = e.merge(a2, on="s").groupby("c").a.sum().rename("h")  # h2
    top_a = sorted(
        ((int(v), int(k)) for k, v in a2.items()),
        key=lambda t: (-t[0], t[1]),
    )[:20]
    top_h = sorted(
        ((int(v), int(k)) for k, v in h2.items()),
        key=lambda t: (-t[0], t[1]),
    )[:20]
    rows = registry.QUERIES["graph_hits_hubs_authorities"](
        spark, sf_dir
    ).collect()
    got_a = [(r.score, r.node) for r in rows if r.role == "authority"]
    got_h = [(r.score, r.node) for r in rows if r.role == "hub"]
    assert sorted(got_a, key=lambda t: (-t[0], t[1])) == top_a
    assert sorted(got_h, key=lambda t: (-t[0], t[1])) == top_h


def test_newsvendor_stock_is_exact_brand_quantile(spark, sf_dir):
    import pandas as pd

    li = pd.read_parquet(
        f"{sf_dir}/lineitem.parquet",
        columns=["l_partkey", "l_shipdate", "l_quantity"],
    )
    p = pd.read_parquet(
        f"{sf_dir}/part.parquet", columns=["p_partkey", "p_brand"]
    )
    li["day"] = pd.to_datetime(li.l_shipdate).dt.date
    li["qc"] = (li.l_quantity * 100).round().astype("int64")
    daily = (
        li.merge(p, left_on="l_partkey", right_on="p_partkey")
        .groupby(["p_brand", "day"])
        .qc.sum()
        .reset_index()
    )
    rows = registry.QUERIES["part_newsvendor_stock_level"](
        spark, sf_dir
    ).collect()
    assert rows
    for r in rows:
        d = sorted(daily[daily.p_brand == r.brand].qc)
        n = len(d)
        assert r.n_days == n
        assert r.stock_q90_cents == d[(9 * n + 9) // 10 - 1]
        assert r.median_demand_cents == d[(n + 1) // 2 - 1]
        # service-level invariant: >= 90% of days are covered by the stock
        covered = sum(1 for v in d if v <= r.stock_q90_cents)
        assert covered * 10 >= 9 * n


def test_capture_recapture_estimators(spark, sf_dir):
    import pandas as pd

    ev = pd.read_parquet(
        f"{sf_dir}/events.parquet", columns=["user_id", "ts"]
    )
    us = pd.to_datetime(ev.ts).astype("int64") // 1000
    lo, hi = us.min(), us.max()
    df = pd.DataFrame(
        {"u": ev.user_id, "i1": us * 3 < 2 * lo + hi, "i2": us * 3 >= lo + 2 * hi}
    ).groupby("u").max()
    n1, n2 = int(df.i1.sum()), int(df.i2.sum())
    m = int((df.i1 & df.i2).sum())
    row = registry.QUERIES["events_capture_recapture_distinct"](
        spark, sf_dir
    ).collect()[0]
    assert (row.n1, row.n2, row.m, row.true_distinct) == (n1, n2, m, len(df))
    if m:
        assert row.lincoln_petersen == (n1 * n2) // m
    assert row.chapman == (n1 + 1) * (n2 + 1) // (m + 1) - 1
    # the estimator should land within 2x of truth on this data
    assert 0 < row.chapman < 2 * row.true_distinct


def test_mmr_matches_numpy_greedy_replay(spark, sf_dir):
    import numpy as np
    import pandas as pd

    emb = pd.read_parquet(f"{sf_dir}/embeddings.parquet")
    vecs = {int(r.vec_id): np.array(r.embedding, dtype=np.float64)
            for r in emb.itertuples()}
    q = vecs[0]

    def cos(a, b):
        return float(a @ b / (np.linalg.norm(a) * np.linalg.norm(b)))

    rel = {i: cos(q, v) for i, v in vecs.items() if i != 0}
    cand = sorted(rel, key=lambda i: (-rel[i], i))[:8]
    sel, expect = [], []
    for step in range(1, 5):
        best = None
        for d in cand:
            if d in sel:
                continue
            red = max((cos(vecs[d], vecs[s]) for s in sel), default=0.0)
            score = 0.7 * rel[d] - (0.3 * red if sel else 0.0)
            if best is None or (score, -d) > (best[1], -best[0]):
                best = (d, score)
        sel.append(best[0])
        expect.append((step, best[0]))
    rows = registry.QUERIES["retrieval_mmr_diversified_topk"](
        spark, sf_dir
    ).collect()
    got = sorted((r.step, r.vec_id) for r in rows)
    assert got == expect
    # diversity sanity: the MMR set differs from pure-relevance top-4
    # whenever redundancy actually bites; at minimum it contains the top-1
    assert got[0][1] == cand[0]


def test_abc_xyz_classes_match_pandas_replay(spark, sf_dir):
    import pandas as pd

    li = pd.read_parquet(
        f"{sf_dir}/lineitem.parquet",
        columns=["l_partkey", "l_shipdate", "l_quantity", "l_extendedprice"],
    )
    p = pd.read_parquet(
        f"{sf_dir}/part.parquet", columns=["p_partkey", "p_brand"]
    )
    li["wk"] = (
        pd.to_datetime(li.l_shipdate)
        .dt.to_period("W-SUN")  # pandas weeks ending Sunday == Monday start
        .dt.start_time
    )
    li["qc"] = (li.l_quantity * 100).round().astype("int64")
    li["pc"] = (li.l_extendedprice * 100).round().astype("int64")
    weekly = (
        li.merge(p, left_on="l_partkey", right_on="p_partkey")
        .groupby(["p_brand", "wk"])
        .agg(demand=("qc", "sum"), revenue=("pc", "sum"))
        .reset_index()
    )
    br = weekly.groupby("p_brand").agg(
        n=("demand", "size"), s1=("demand", "sum"), rev=("revenue", "sum")
    )
    br["s2"] = weekly.groupby("p_brand").demand.apply(
        lambda s: int((s.astype(object) ** 2).sum())
    )
    order = br.sort_values(["rev", "p_brand"], ascending=[False, True]).index
    rk = {b: i + 1 for i, b in enumerate(order)}
    nb = len(br)
    rows = registry.QUERIES["part_abc_xyz_matrix"](spark, sf_dir).collect()
    assert len(rows) == nb
    for r in rows:
        g = br.loc[r.brand]
        n, s1, s2 = int(g.n), int(g.s1), int(g.s2)
        var_num = n * s2 - s1 * s1
        xyz = "X" if 4 * var_num <= s1 * s1 else (
            "Y" if var_num <= s1 * s1 else "Z")
        abc = "A" if rk[r.brand] * 5 <= nb else (
            "B" if rk[r.brand] * 2 <= nb else "C")
        assert (r.n_weeks, r.abc_class, r.xyz_class, r.matrix_cell) == (
            n, abc, xyz, abc + xyz
        ), r.brand


def test_average_precision_matches_pandas_replay(spark, sf_dir):
    import pandas as pd

    o = pd.read_parquet(
        f"{sf_dir}/orders.parquet",
        columns=["o_orderkey", "o_totalprice", "o_orderpriority"],
    )
    o["cents"] = (o.o_totalprice * 100).round().astype("int64")
    o["rel"] = (o.o_orderpriority == "1-URGENT").astype(int)
    o = o.sort_values(["cents", "o_orderkey"], ascending=[False, True])
    o["rank"] = range(1, len(o) + 1)
    o["cumpos"] = o.rel.cumsum()
    pos = o[o.rel == 1]
    terms = (1_000_000_000 * pos.cumpos) // pos["rank"]
    ref_ap = int(terms.sum()) // len(pos)
    row = registry.QUERIES["orders_average_precision_urgent"](
        spark, sf_dir
    ).collect()[0]
    assert (row.n_orders, row.n_urgent) == (len(o), len(pos))
    assert row.ap_ppb == ref_ap
    assert row.prior_ppb == (1_000_000_000 * len(pos)) // len(o)
    # AP of a nearly-uninformative score should hover near the prior
    assert row.ap_ppb < 3 * row.prior_ppb


def test_cem_att_matches_fraction_replay(spark, sf_dir):
    import pandas as pd

    ev = pd.read_parquet(
        f"{sf_dir}/events.parquet", columns=["user_id", "event_type", "value"]
    )
    ev["cents"] = (ev.value * 100).round().astype("int64")
    per = ev.groupby("user_id").apply(
        lambda g: pd.Series(
            {
                "err": int((g.event_type == "error").sum()),
                "y": int(g.cents[g.event_type == "purchase"].sum()),
                "n": len(g),
            }
        ),
        include_groups=False,
    )
    tot_err, tot_n = int(per.err.sum()), int(per.n.sum())
    per["t"] = (per.err * tot_n > per.n * tot_err).astype(int)
    per["band"] = per.n.map(lambda n: int(n).bit_length() - 1)
    num = 0
    t_tot = c_tot = n_strata = 0
    for _, g in per.groupby("band"):
        t_n = int(g.t.sum())
        c_n = int((1 - g.t).sum())
        if t_n == 0 or c_n == 0:
            continue
        yt = int(g.y[g.t == 1].sum())
        yc = int(g.y[g.t == 0].sum())
        num += t_n * ((1_000_000 * yt) // t_n - (1_000_000 * yc) // c_n)
        t_tot += t_n
        c_tot += c_n
        n_strata += 1
    row = registry.QUERIES["events_cem_att_matching"](spark, sf_dir).collect()[0]
    assert (row.n_strata_matched, row.n_treated, row.n_control) == (
        n_strata, t_tot, c_tot,
    )
    if t_tot == 0:  # every stratum pruned (tiny SFs): estimator undefined
        assert row.att_ppm_cents is None
    else:
        sign = 1 if num >= 0 else -1
        assert row.att_ppm_cents == sign * (abs(num) // t_tot)


def test_croston_matches_sequential_replay(spark, sf_dir):
    import pandas as pd

    from breweries_data_engineering_case_spark.plans.qshared import _EWMA_W

    li = pd.read_parquet(
        f"{sf_dir}/lineitem.parquet",
        columns=["l_partkey", "l_shipdate", "l_quantity"],
    )
    li["day"] = pd.to_datetime(li.l_shipdate).dt.normalize()
    li["qc"] = (li.l_quantity * 100).round().astype("int64")
    daily = li.groupby(["l_partkey", "day"]).qc.sum().reset_index()
    rows = registry.QUERIES["part_croston_intermittent_demand"](
        spark, sf_dir
    ).collect()
    assert rows
    got = {r.part: r for r in rows}
    checked = 0
    for part, g in daily.groupby("l_partkey"):
        g = g.sort_values("day")
        days = list(g.day)
        zs = list(g.qc)
        gaps = [None] + [(b - a).days for a, b in zip(days, days[1:])]
        take = list(range(len(zs)))[::-1][:8]  # most recent first
        sz = sum(zs[i] * _EWMA_W[k] for k, i in enumerate(take))
        wz = sum(_EWMA_W[k] for k, _ in enumerate(take))
        sx = sum(
            (gaps[i] or 0) * _EWMA_W[k]
            for k, i in enumerate(take)
            if gaps[i] is not None
        )
        wx = sum(
            _EWMA_W[k] for k, i in enumerate(take) if gaps[i] is not None
        )
        if len(zs) < 2 or sx == 0:
            assert part not in got
            continue
        r = got[part]
        assert r.n_demand_days == len(zs)
        assert r.size_hat_cents == sz // wz
        assert r.interval_hat_ppm_days == (1_000_000 * sx) // wx
        assert r.croston_rate_ppm_cents_per_day == (1_000_000 * sz * wx) // (
            wz * sx
        )
        checked += 1
        if checked >= 200:
            break


def test_blast_radius_matches_pandas_replay(spark, sf_dir):
    import pandas as pd

    li = pd.read_parquet(
        f"{sf_dir}/lineitem.parquet",
        columns=["l_partkey", "l_suppkey", "l_extendedprice"],
    )
    li["pc"] = (li.l_extendedprice * 100).round().astype("int64")
    ns = li.groupby("l_partkey").l_suppkey.nunique()
    sole = set(ns[ns == 1].index)
    sub = li[li.l_partkey.isin(sole)]
    risk = sub.groupby("l_suppkey").agg(
        n=("l_partkey", "nunique"), rev=("pc", "sum")
    )
    tot = li.groupby("l_suppkey").pc.sum()
    rows = registry.QUERIES["supplier_blast_radius_sole_source"](
        spark, sf_dir
    ).collect()
    assert len(rows) == len(risk)
    for r in rows:
        g = risk.loc[r.s_suppkey]
        assert (r.n_sole_parts, r.revenue_at_risk_cents) == (
            int(g.n), int(g.rev),
        )
        assert r.risk_share_ppm == (1_000_000 * int(g.rev)) // int(
            tot.loc[r.s_suppkey]
        )


def test_l_diversity_matches_pandas_replay(spark, sf_dir):
    import pandas as pd

    cu = pd.read_parquet(
        f"{sf_dir}/customer.parquet",
        columns=["c_nationkey", "c_mktsegment", "c_acctbal"],
    )
    na = pd.read_parquet(
        f"{sf_dir}/nation.parquet", columns=["n_nationkey", "n_name"]
    )
    cu = cu.merge(na, left_on="c_nationkey", right_on="n_nationkey")
    cents = (cu.c_acctbal * 100).round().astype("int64")
    cu["band"] = (cents + 100_000) // 100_000
    ref = cu.groupby(["n_name", "c_mktsegment"]).agg(
        n=("band", "size"), l=("band", "nunique")
    )
    rows = registry.QUERIES["dq_l_diversity"](spark, sf_dir).collect()
    assert len(rows) == len(ref)
    for r in rows:
        g = ref.loc[(r.n_name, r.c_mktsegment)]
        assert (r.n_rows, r.l_distinct) == (int(g.n), int(g.l))
        assert r.l_diverse == (int(g.l) >= 3)


def test_elasticity_matches_fraction_replay(spark, sf_dir):
    import pandas as pd

    li = pd.read_parquet(
        f"{sf_dir}/lineitem.parquet",
        columns=["l_partkey", "l_shipdate", "l_quantity", "l_extendedprice"],
    )
    pt = pd.read_parquet(
        f"{sf_dir}/part.parquet", columns=["p_partkey", "p_brand"]
    )
    li = li.merge(pt, left_on="l_partkey", right_on="p_partkey")
    li["period"] = (
        pd.to_datetime(li.l_shipdate) >= pd.Timestamp("1998-07-01")
    ).map({False: 1, True: 2})
    li["qc"] = (li.l_quantity * 100).round().astype("int64")
    li["rc"] = (li.l_extendedprice * 100).round().astype("int64")
    per = li.groupby(["p_brand", "period"]).agg(
        q=("qc", "sum"), r=("rc", "sum")
    )
    rows = registry.QUERIES["part_price_elasticity_arc"](
        spark, sf_dir
    ).collect()
    got = {r.p_brand: r for r in rows}
    n_expected = 0
    for brand in li.p_brand.unique():
        try:
            q1, r1 = (int(per.loc[(brand, 1)].q), int(per.loc[(brand, 1)].r))
            q2, r2 = (int(per.loc[(brand, 2)].q), int(per.loc[(brand, 2)].r))
        except KeyError:
            assert brand not in got
            continue
        if q1 <= 0 or q2 <= 0:
            assert brand not in got
            continue
        n_expected += 1
        r = got[brand]
        assert (r.qty1_centi, r.qty2_centi, r.rev1_cents, r.rev2_cents) == (
            q1, q2, r1, r2,
        )
        num = (q2 - q1) * (r1 * q2 + r2 * q1)
        den = (r2 * q1 - r1 * q2) * (q1 + q2)
        if den == 0:
            assert r.elasticity_ppm is None
        else:
            sign = 1 if (num >= 0) == (den >= 0) else -1
            assert r.elasticity_ppm == sign * ((abs(num) * 1_000_000) // abs(den))
    assert len(got) == n_expected


def test_cvm_matches_pandas_replay(spark, sf_dir):
    import pandas as pd

    ev = pd.read_parquet(
        f"{sf_dir}/events.parquet", columns=["event_type", "ts", "value"]
    )
    ev["is_b"] = (pd.to_datetime(ev.ts) >= pd.Timestamp("2024-01-16")).astype(
        int
    )
    rows = registry.QUERIES["events_cramer_von_mises_drift"](
        spark, sf_dir
    ).collect()
    got = {r.event_type: r for r in rows}
    assert len(got) == ev.event_type.nunique()
    for et, g in ev.groupby("event_type"):
        n_a = int((g.is_b == 0).sum())
        n_b = int((g.is_b == 1).sum())
        pv = (
            g.groupby("value")
            .is_b.agg(a=lambda s: int((s == 0).sum()), b="sum")
            .sort_index()
        )
        cum_a = pv.a.cumsum()
        cum_b = pv.b.cumsum()
        w = pv.a + pv.b
        num = int(
            sum(
                int(wv) * (int(ca) * n_b - int(cb) * n_a) ** 2
                for wv, ca, cb in zip(w, cum_a, cum_b)
            )
        )
        N = n_a + n_b
        r = got[et]
        assert (r.n_a, r.n_b) == (n_a, n_b)
        assert r.cvm_ppb == (num * 1_000_000_000) // (N * N * n_a * n_b)
        # sanity: under no drift CvM*1e9 should be near E[T] ~ 1/6 scale
        assert 0 <= r.cvm_ppb


def test_pettitt_matches_brute_force(spark, sf_dir):
    import pandas as pd

    o = pd.read_parquet(
        f"{sf_dir}/orders.parquet", columns=["o_orderdate", "o_totalprice"]
    )
    o["day"] = pd.to_datetime(o.o_orderdate).dt.normalize()
    o["cents"] = (o.o_totalprice * 100).round().astype("int64")
    daily = o.groupby("day").cents.sum().sort_index()
    x = list(daily.values)
    n = len(x)
    # brute-force U_t = sum_{i<=t} sum_{j>t} sgn(x_i - x_j) on a prefix of
    # days (O(n^2) — cap the replay at 400 days for runtime)
    cap = min(n, 400)
    xs = x[:cap]
    best_k, best_day = -1, None
    # the query's U_t uses GLOBAL ranks, so replay it with the rank identity
    import numpy as np

    order = np.argsort(np.argsort(x, kind="stable"))
    # midrank m2 = 2*c_below + c_eq + 1
    from collections import Counter

    cnt = Counter(x)
    below = {}
    acc = 0
    for v in sorted(cnt):
        below[v] = acc
        acc += cnt[v]
    m2 = [2 * below[v] + cnt[v] + 1 for v in x]
    cum = 0
    for t0 in range(n - 1):
        cum += m2[t0]
        u = cum - (t0 + 1) * (n + 1)
        if abs(u) > best_k:
            best_k, best_day = abs(u), daily.index[t0]
    row = registry.QUERIES["orders_pettitt_changepoint"](
        spark, sf_dir
    ).collect()[0]
    assert row.n_days == n
    assert row.k_stat == best_k
    assert pd.Timestamp(row.change_day) == best_day
    # cross-check the rank identity against the O(n^2) definition on the prefix
    u_direct = sum(
        1 if xs[i] > xs[j] else (-1 if xs[i] < xs[j] else 0)
        for i in range(1)
        for j in range(1, cap)
    )
    u_identity = m2[0] - (n + 1) if cap == n else None
    if cap == n:
        # identity holds exactly when the prefix covers the full series
        assert u_direct == u_identity


def test_energy_distance_matches_brute_force(spark, sf_dir):
    import pandas as pd

    ev = pd.read_parquet(
        f"{sf_dir}/events.parquet", columns=["event_type", "ts", "value"]
    )
    ev["v"] = (ev.value * 100).round().astype("int64")
    ev["is_b"] = (pd.to_datetime(ev.ts) >= pd.Timestamp("2024-01-16")).astype(int)
    rows = registry.QUERIES["events_energy_distance_drift"](
        spark, sf_dir
    ).collect()
    got = {r.event_type: r for r in rows}
    for et, g in ev.groupby("event_type"):
        xa = sorted(g.v[g.is_b == 0])
        xb = sorted(g.v[g.is_b == 1])
        na, nb = len(xa), len(xb)
        if min(na, nb) == 0 or na * nb > 4_000_000:
            continue  # brute force only on manageable groups
        cross = sum(abs(x - y) for x in xa for y in xb)
        wa = sum(abs(x - y) for i, x in enumerate(xa) for y in xa[i + 1:])
        wb = sum(abs(x - y) for i, x in enumerate(xb) for y in xb[i + 1:])
        num = 1_000_000 * (
            2 * cross * na * nb - 2 * wa * nb * nb - 2 * wb * na * na
        )
        expect = num // (na * na * nb * nb)
        r = got[et]
        assert (r.na, r.nb) == (na, nb)
        assert r.energy_microcents == expect


def test_katz_matches_numpy_power_sums(spark, sf_dir):
    import numpy as np
    import pandas as pd

    li = pd.read_parquet(
        f"{sf_dir}/lineitem.parquet", columns=["l_orderkey", "l_suppkey"]
    )
    pairs = set()
    for _, g in li.groupby("l_orderkey"):
        ss = sorted(set(g.l_suppkey))
        for i, u in enumerate(ss):
            for v in ss[i + 1:]:
                pairs.add((u, v))
    nodes = sorted({u for u, _ in pairs} | {v for _, v in pairs})
    idx = {n: i for i, n in enumerate(nodes)}
    A = np.zeros((len(nodes), len(nodes)), dtype=object)
    for u, v in pairs:
        A[idx[u], idx[v]] = 1
        A[idx[v], idx[u]] = 1
    one = np.ones(len(nodes), dtype=object)
    w1 = A @ one
    w2 = A @ w1
    w3 = A @ w2
    katz = 64 + 16 * w1 + 4 * w2 + w3
    ranked = sorted(zip(katz, nodes), key=lambda t: (-t[0], t[1]))[:20]
    rows = registry.QUERIES["graph_katz_centrality"](spark, sf_dir).collect()
    assert [(r.katz64, r.node) for r in rows] == [
        (int(k), int(n)) for k, n in ranked
    ]


def test_lorenz_deciles_match_pandas_replay(spark, sf_dir):
    import pandas as pd

    o = pd.read_parquet(
        f"{sf_dir}/orders.parquet", columns=["o_custkey", "o_totalprice"]
    )
    o["cents"] = (o.o_totalprice * 100).round().astype("int64")
    rev = o.groupby("o_custkey").cents.sum().sort_values().reset_index(drop=True)
    n = len(rev)
    cuts = [rev.iloc[(i * n + 9) // 10 - 1] for i in range(1, 10)]

    def decile(v):
        for i, c in enumerate(cuts, start=1):
            if v <= c:
                return i
        return 10

    d = rev.map(decile)
    g = pd.DataFrame({"d": d, "rev": rev}).groupby("d").agg(
        n=("rev", "size"), s=("rev", "sum")
    )
    total = int(rev.sum())
    rows = registry.QUERIES["customer_lorenz_deciles"](spark, sf_dir).collect()
    got = {r.decile: r for r in rows}
    cum = 0
    for dec in sorted(g.index):
        cum += int(g.loc[dec].s)
        r = got[dec]
        assert (r.n_customers, r.rev_cents) == (int(g.loc[dec].n), int(g.loc[dec].s))
        assert r.cum_share_ppm == (1_000_000 * cum) // total
    # Lorenz shape: cumulative share strictly increasing, ends at ~1e6
    shares = [got[dec].cum_share_ppm for dec in sorted(got)]
    assert shares == sorted(shares)
    assert shares[-1] in (999_999, 1_000_000)


def test_zipf_products_match_counter_replay(spark, sf_dir):
    from collections import Counter

    import pandas as pd

    docs = pd.read_parquet(f"{sf_dir}/documents.parquet", columns=["text"])
    cnt = Counter()
    for t in docs.text:
        cnt.update(w for w in t.split(" ") if w)
    top = sorted(cnt.items(), key=lambda kv: (-kv[1], kv[0]))[:100]
    rf = sorted((r + 1) * f for r, (_, f) in enumerate(top))
    m = len(rf)
    row = registry.QUERIES["vocab_zipf_product_stability"](
        spark, sf_dir
    ).collect()[0]
    assert row.n_terms == m
    assert row.median_rf == rf[(m + 1) // 2 - 1]
    assert row.q1_rf == rf[(m + 3) // 4 - 1]
    assert row.q3_rf == rf[(3 * m + 3) // 4 - 1]


def test_gaps_and_islands_match_pandas_replay(spark, sf_dir):
    import pandas as pd

    ev = pd.read_parquet(f"{sf_dir}/events.parquet", columns=["user_id", "ts"])
    ev["day"] = pd.to_datetime(ev.ts).dt.normalize()
    rows = registry.QUERIES["events_gaps_and_islands"](spark, sf_dir).collect()
    got = {r.user_id: r for r in rows}
    days_by_user = ev.drop_duplicates(["user_id", "day"]).groupby("user_id").day
    assert len(got) == ev.user_id.nunique()
    for uid, days in days_by_user:
        ds = sorted(days)
        islands = []
        run = 1
        for a, b in zip(ds, ds[1:]):
            if (b - a).days == 1:
                run += 1
            else:
                islands.append(run)
                run = 1
        islands.append(run)
        r = got[uid]
        assert r.n_islands == len(islands)
        assert r.active_days == len(ds)
        assert r.longest_streak == max(islands)
        assert pd.Timestamp(r.first_day) == ds[0]


def test_onion_dup_matches_counter_replay(spark, sf_dir):
    import hashlib
    from collections import defaultdict

    import pandas as pd

    docs = pd.read_parquet(
        f"{sf_dir}/documents.parquet", columns=["doc_id", "text"]
    )
    chunks_by_doc = {}
    docs_by_fp = defaultdict(set)
    for did, text in zip(docs.doc_id, docs.text):
        toks = [w for w in text.strip().split()]
        nch = max(len(toks) // 16, 1)
        fps = []
        for i in range(nch):
            chunk = " ".join(toks[i * 16 : i * 16 + 16])
            fp = hashlib.md5(chunk.encode()).hexdigest()
            fps.append(fp)
            docs_by_fp[fp].add(did)
        chunks_by_doc[did] = fps
    rows = registry.QUERIES["doc_onion_dup_fraction"](spark, sf_dir).collect()
    got = {r.doc_id: r for r in rows}
    n_expected = 0
    for did, fps in chunks_by_doc.items():
        shared = sum(1 for fp in fps if len(docs_by_fp[fp]) > 1)
        if shared == 0:
            assert did not in got
            continue
        n_expected += 1
        r = got[did]
        assert (r.n_chunks, r.n_shared) == (len(fps), shared)
        assert r.dup_permille == (1000 * shared) // len(fps)
    assert len(got) == n_expected


def test_split_leakage_by_user_is_zero(spark, sf_dir):
    import hashlib

    import pandas as pd

    rows = registry.QUERIES["dataset_split_leakage_audit"](
        spark, sf_dir
    ).collect()
    got = {r.strategy: r for r in rows}
    assert set(got) == {"split_by_event", "split_by_user"}
    # group-level split can never leak by construction
    assert got["split_by_user"].n_leaked == 0
    assert got["split_by_user"].leakage_ppm == 0
    # replay the row-level leak count independently
    ev = pd.read_parquet(
        f"{sf_dir}/events.parquet", columns=["event_id", "user_id"]
    )

    def h(v):
        return int(hashlib.md5(str(v).encode()).hexdigest()[:15], 16) % 100

    ev["train"] = ev.event_id.map(lambda x: h(x) < 80)
    g = ev.groupby("user_id").train.agg(["min", "max"])
    leaked = int((g["min"] != g["max"]).sum())
    assert got["split_by_event"].n_users == ev.user_id.nunique()
    assert got["split_by_event"].n_leaked == leaked
    assert got["split_by_event"].leakage_ppm == (1_000_000 * leaked) // ev.user_id.nunique()


def test_competing_risks_cif_matches_sequential_replay(spark, sf_dir):
    import pandas as pd

    ev = pd.read_parquet(
        f"{sf_dir}/events.parquet", columns=["user_id", "ts", "event_type"]
    )
    ev["d"] = pd.to_datetime(ev.ts).dt.normalize()
    obs = []
    for uid, g in ev.groupby("user_id"):
        d0 = g.d.min()
        dp = g.d[g.event_type == "purchase"].min()
        de = g.d[g.event_type == "error"].min()
        if pd.notna(dp) and (pd.isna(de) or dp <= de):
            obs.append(((dp - d0).days, 1))
        elif pd.notna(de):
            obs.append(((de - d0).days, 2))
        else:
            obs.append(((g.d.max() - d0).days, 0))
    n = len(obs)
    from collections import Counter

    day_p = Counter(t for t, e in obs if e == 1)
    day_e = Counter(t for t, e in obs if e == 2)
    leaving = Counter(t for t, _ in obs)
    rows = registry.QUERIES["events_competing_risks_cif"](
        spark, sf_dir
    ).collect()
    got = {r.day: r for r in rows}
    s = 1.0
    cif_p = cif_e = 0.0
    at_risk = n
    for t in sorted(leaving):
        dp, de = day_p.get(t, 0), day_e.get(t, 0)
        if dp + de > 0:
            cif_p += s * dp / at_risk
            cif_e += s * de / at_risk
            r = got[t]
            assert (r.n_purchase, r.n_error, r.n_at_risk) == (dp, de, at_risk)
            assert abs(r.cif_purchase - cif_p) < 1e-12
            assert abs(r.cif_error - cif_e) < 1e-12
            # additivity: CIFs never exceed total event probability
            assert r.cif_purchase + r.cif_error <= 1.0 + 1e-12
        s *= 1.0 - (dp + de) / at_risk
        at_risk -= leaving[t]
    assert len(got) == sum(
        1 for t in leaving if day_p.get(t, 0) + day_e.get(t, 0) > 0
    )


def test_phash_invariance_and_near_dup_groups(spark):
    import numpy as np

    from breweries_data_engineering_case_spark.operators.multimodal import (
        phash63,
        synthetic_textured_images,
    )

    # brightness invariance: +8 uniform shift (no clipping) moves only DC
    base = np.array(
        [[(37 * x * x + 23 * y * y + 22 * x * y + 60 + 7 * x) % 200
          for x in range(16)] for y in range(12)],
        dtype=np.uint8,
    )
    shifted = (base + 8).astype(np.uint8)
    assert phash63(base) == phash63(shifted)
    # planted groups resolve: pairs are within-group only at threshold 6
    rows = registry.QUERIES["multimodal_image_phash_near_dup"](
        spark, "/root/testdata/sf0.001"
    ).collect()
    assert rows, "planted near-dups must be found"
    for r in rows:
        assert r.id_a // 3 == r.id_b // 3, (r.id_a, r.id_b)
        assert 0 <= r.hamming <= 6
    # every group of 3 contributes at least one pair
    groups = {r.id_a // 3 for r in rows}
    assert len(groups) == 16


def test_phash_differs_from_dhash_on_brightness(spark):
    import numpy as np

    from breweries_data_engineering_case_spark.operators.multimodal import (
        dhash56,
        phash63,
    )

    rng_base = np.array(
        [[(37 * x * x + 23 * y * y + 5 * x) % 200 for x in range(16)]
         for y in range(12)],
        dtype=np.uint8,
    )
    # a CONTRAST stretch (x2, clipped) flips dhash local comparisons is not
    # guaranteed — but a tweaked pixel near a sampled cell does; the point
    # here: phash treats uniform brightness as identity, dhash's input
    # changes but its comparisons are also shift-invariant, so instead we
    # check the two hashes are genuinely different functions
    assert phash63(rng_base) != dhash56(rng_base)


def test_conversion_latency_matches_sorted_replay(spark, sf_dir):
    import pandas as pd

    ev = pd.read_parquet(
        f"{sf_dir}/events.parquet", columns=["user_id", "ts", "event_type"]
    )
    v = ev[ev.event_type == "view"].groupby("user_id").ts.min()
    p = ev[ev.event_type == "purchase"].groupby("user_id").ts.min()
    j = pd.concat([v.rename("v"), p.rename("p")], axis=1).dropna()
    j = j[j.p >= j.v]
    # both engines truncate each timestamp to whole seconds BEFORE the
    # difference (unix_timestamp / date_diff('second')), so replay that
    lat = sorted(
        int(b.floor("s").timestamp()) - int(a.floor("s").timestamp())
        for a, b in zip(j.v, j.p)
    )
    n = len(lat)
    row = registry.QUERIES["events_conversion_latency_quartiles"](
        spark, sf_dir
    ).collect()[0]
    assert row.n_converting_users == n
    assert row.q1_latency_s == lat[(1 * n + 3) // 4 - 1]
    assert row.median_latency_s == lat[(2 * n + 3) // 4 - 1]
    assert row.q3_latency_s == lat[(3 * n + 3) // 4 - 1]


def test_cr4_matches_pandas_replay(spark, sf_dir):
    import pandas as pd

    li = pd.read_parquet(
        f"{sf_dir}/lineitem.parquet", columns=["l_suppkey", "l_extendedprice"]
    )
    sup = pd.read_parquet(
        f"{sf_dir}/supplier.parquet", columns=["s_suppkey", "s_nationkey"]
    )
    nat = pd.read_parquet(
        f"{sf_dir}/nation.parquet", columns=["n_nationkey", "n_name"]
    )
    li["rc"] = (li.l_extendedprice * 100).round().astype("int64")
    m = li.merge(sup, left_on="l_suppkey", right_on="s_suppkey").merge(
        nat, left_on="s_nationkey", right_on="n_nationkey"
    )
    rev = m.groupby(["n_name", "l_suppkey"]).rc.sum().reset_index()
    rows = registry.QUERIES["market_concentration_cr4"](spark, sf_dir).collect()
    got = {r.n_name: r for r in rows}
    assert len(got) == rev.n_name.nunique()
    for name, g in rev.groupby("n_name"):
        g = g.sort_values(["rc", "l_suppkey"], ascending=[False, True])
        top4 = int(g.rc.head(4).sum())
        total = int(g.rc.sum())
        r = got[name]
        assert (r.n_suppliers, r.top4_rev_cents, r.total_rev_cents) == (
            len(g), top4, total,
        )
        assert r.cr4_ppm == (1_000_000 * top4) // total


def test_lang_confusion_diagonal_dominant(spark, sf_dir):
    import pandas as pd

    rows = registry.QUERIES["doc_lang_id_confusion"](spark, sf_dir).collect()
    docs = pd.read_parquet(f"{sf_dir}/documents.parquet", columns=["lang"])
    # counts reconcile with the corpus per-language totals
    by_true = {}
    for r in rows:
        by_true.setdefault(r.lang_true, 0)
        by_true[r.lang_true] += r.n
    truth = docs.lang.value_counts().to_dict()
    assert by_true == {k: int(v) for k, v in truth.items()}
    # shares per true language sum to ~1e6 (floor rounding)
    share = {}
    for r in rows:
        share.setdefault(r.lang_true, 0)
        share[r.lang_true] += r.share_of_true_ppm
    for v in share.values():
        assert 1_000_000 - len(rows) <= v <= 1_000_000


def test_dau_wau_matches_pandas_replay(spark, sf_dir):
    import pandas as pd

    ev = pd.read_parquet(f"{sf_dir}/events.parquet", columns=["user_id", "ts"])
    ev["day"] = pd.to_datetime(ev.ts).dt.normalize()
    ud = ev.drop_duplicates(["user_id", "day"])
    rows = registry.QUERIES["events_dau_wau_stickiness"](
        spark, sf_dir
    ).collect()
    got = {pd.Timestamp(r.day): r for r in rows}
    dau = ud.groupby("day").user_id.nunique()
    assert set(got) == set(dau.index)
    for day, r in got.items():
        lo = day - pd.Timedelta(days=6)
        wau = ud[(ud.day >= lo) & (ud.day <= day)].user_id.nunique()
        assert (r.dau, r.wau) == (int(dau.loc[day]), wau)
        assert r.stickiness_ppm == (1_000_000 * int(dau.loc[day])) // wau
        assert r.stickiness_ppm <= 1_000_000


def test_bot_flags_match_pandas_replay(spark, sf_dir):
    import pandas as pd

    ev = pd.read_parquet(
        f"{sf_dir}/events.parquet",
        columns=["user_id", "ts", "event_type", "value"],
    )
    ev["minute"] = pd.to_datetime(ev.ts).dt.floor("min")
    ev["vc"] = (ev.value * 100).round().astype("int64")
    rows = registry.QUERIES["events_bot_flag_heuristics"](
        spark, sf_dir
    ).collect()
    got = {r.user_id: r for r in rows}
    n_expected = 0
    for uid, g in ev.groupby("user_id"):
        n = len(g)
        peak = int(g.groupby("minute").size().max())
        dup = n - len(g.drop_duplicates(["event_type", "minute", "vc"]))
        dup_pm = (1000 * dup) // n
        flagged = peak >= 5 or dup_pm >= 300
        if flagged:
            n_expected += 1
            r = got[uid]
            assert (r.n_rows, r.peak_minute_rate, r.dup_permille) == (
                n, peak, dup_pm,
            )
            assert r.bot_suspect
        else:
            assert uid not in got
    assert len(got) == n_expected


def test_nation_p95_matches_sorted_replay(spark, sf_dir):
    import pandas as pd

    li = pd.read_parquet(
        f"{sf_dir}/lineitem.parquet",
        columns=["l_orderkey", "l_suppkey", "l_shipdate"],
    )
    o = pd.read_parquet(
        f"{sf_dir}/orders.parquet", columns=["o_orderkey", "o_orderdate"]
    )
    sup = pd.read_parquet(
        f"{sf_dir}/supplier.parquet", columns=["s_suppkey", "s_nationkey"]
    )
    nat = pd.read_parquet(
        f"{sf_dir}/nation.parquet", columns=["n_nationkey", "n_name"]
    )
    m = (
        li.merge(o, left_on="l_orderkey", right_on="o_orderkey")
        .merge(sup, left_on="l_suppkey", right_on="s_suppkey")
        .merge(nat, left_on="s_nationkey", right_on="n_nationkey")
    )
    m["delay"] = (
        pd.to_datetime(m.l_shipdate).dt.normalize()
        - pd.to_datetime(m.o_orderdate).dt.normalize()
    ).dt.days
    rows = registry.QUERIES["nation_ship_delay_exact_p95"](
        spark, sf_dir
    ).collect()
    got = {r.n_name: r for r in rows}
    assert len(got) == m.n_name.nunique()
    import math

    for name, g in m.groupby("n_name"):
        ds = sorted(g.delay)
        n = len(ds)
        p50 = ds[math.ceil(0.5 * n) - 1]
        p95 = ds[math.ceil(0.95 * n) - 1]
        r = got[name]
        assert (r.n_lineitems, r.p50_delay_days, r.p95_delay_days) == (
            n, p50, p95,
        )


def test_ttr_matches_set_replay(spark, sf_dir):
    import pandas as pd

    docs = pd.read_parquet(
        f"{sf_dir}/documents.parquet", columns=["doc_id", "text"]
    )
    rows = registry.QUERIES["doc_ttr_lexical_diversity"](
        spark, sf_dir
    ).collect()
    got = {r.doc_id: r for r in rows}
    n_nonempty = 0
    for did, text in zip(docs.doc_id, docs.text):
        if not text.strip():
            assert did not in got
            continue
        n_nonempty += 1
        toks = text.strip().split()
        r = got[did]
        assert (r.n_tokens, r.n_types) == (len(toks), len(set(toks)))
        assert r.ttr_permille == (1000 * len(set(toks))) // len(toks)
    assert len(got) == n_nonempty


def test_freshness_frontier_lag(spark, sf_dir):
    import pandas as pd

    ev = pd.read_parquet(f"{sf_dir}/events.parquet", columns=["event_type", "ts"])
    latest = ev.groupby("event_type").ts.max()
    frontier = latest.max()
    rows = registry.QUERIES["dq_freshness_by_type"](spark, sf_dir).collect()
    assert len(rows) == len(latest)
    for r in rows:
        exp = int(frontier.floor("s").timestamp()) - int(
            latest[r.event_type].floor("s").timestamp()
        )
        assert r.lag_behind_frontier_s == exp
        assert r.stale == (exp > 86400)
    # exactly one type sits ON the frontier
    assert sum(1 for r in rows if r.lag_behind_frontier_s == 0) >= 1


def test_shapley_matches_exact_fraction_replay(spark, sf_dir):
    # independent reference: exact Shapley over the collected per-user
    # touch sets with Python Fractions + itertools subsets — proves the
    # factorial-weighted marginal algebra, not just engine agreement
    from itertools import combinations
    from math import factorial

    import pandas as pd

    ev = pd.read_parquet(
        f"{sf_dir}/events.parquet", columns=["user_id", "event_type"]
    )
    channels = sorted(set(ev.event_type) - {"purchase"})
    cidx = {c: i for i, c in enumerate(channels)}
    by_user = ev.groupby("user_id").event_type.agg(set)
    masks = {}
    for uid, types in by_user.items():
        m = sum(1 << cidx[t] for t in types if t != "purchase")
        masks[m] = masks.get(m, 0) + (1 if "purchase" in types else 0)
    C = len(channels)

    def v(s_mask: int) -> int:
        return sum(c for m, c in masks.items() if (m & s_mask) == m)

    expected = {}
    for ch, i in cidx.items():
        bit = 1 << i
        tot = 0
        rest = [b for b in range(C) if b != i]
        for size in range(C):
            for combo in combinations(rest, size):
                s = sum(1 << b for b in combo)
                tot += (
                    factorial(size)
                    * factorial(C - 1 - size)
                    * (v(s | bit) - v(s))
                )
        expected[ch] = tot  # phi * C!
    rows = registry.QUERIES["events_shapley_attribution"](
        spark, sf_dir
    ).collect()
    got = {r.channel: r.shapley_x_cfact for r in rows}
    assert got == expected
    # efficiency axiom: sum of scaled phis == C! * (v(full) - v(empty))
    full = (1 << C) - 1
    assert sum(expected.values()) == factorial(C) * (v(full) - v(0))
    tot = sum(expected.values())
    for r in rows:
        assert r.share_ppm == (r.shapley_x_cfact * 1_000_000) // tot


def test_calibration_bins_and_ece_match_pandas_replay(spark, sf_dir):
    import pandas as pd

    o = pd.read_parquet(
        f"{sf_dir}/orders.parquet",
        columns=["o_totalprice", "o_orderpriority"],
    )
    v = (o.o_totalprice * 100).round().astype("int64")
    pos = (o.o_orderpriority == "1-URGENT").astype(int)
    s = sorted(v)
    n = len(s)
    cuts = [s[(i * n + 9) // 10 - 1] for i in range(1, 10)]
    bins = v.map(lambda x: sum(1 for c in cuts if c < x))
    df = pd.DataFrame({"bin": bins, "pos": pos})
    g = df.groupby("bin").agg(n_orders=("pos", "size"), n_pos=("pos", "sum"))
    rows = registry.QUERIES["model_calibration_reliability"](
        spark, sf_dir
    ).collect()
    assert len(rows) == len(g)
    num = den = 0
    for r in rows:
        exp = g.loc[r.bin]
        assert (r.n_orders, r.n_pos) == (exp.n_orders, exp.n_pos)
        assert r.pos_rate_ppm == (1_000_000 * exp.n_pos) // exp.n_orders
        assert r.conf_ppm == (2 * r.bin + 1) * 50_000
        assert r.gap_ppm == r.pos_rate_ppm - r.conf_ppm
        num += exp.n_orders * abs(r.gap_ppm)
        den += exp.n_orders
    assert rows[0].ece_ppm == num // den
    assert len({r.ece_ppm for r in rows}) == 1


def test_nelson_aalen_matches_sequential_replay(spark, sf_dir):
    import pandas as pd

    ev = pd.read_parquet(
        f"{sf_dir}/events.parquet", columns=["user_id", "event_type", "ts"]
    )
    durations = []
    for _, grp in ev.groupby("user_id"):
        first = grp.ts.min().normalize()
        pur = grp.loc[grp.event_type == "purchase", "ts"]
        if len(pur):
            t = (pur.min().normalize() - first).days
            durations.append((min(t, 30), 1 if t <= 30 else 0))
        else:
            t = (grp.ts.max().normalize() - first).days
            durations.append((min(t, 30), 0))
    n_at_risk = len(durations)
    rows = {
        r.day: r
        for r in registry.QUERIES["events_nelson_aalen_hazard"](
            spark, sf_dir
        ).collect()
    }
    cum = 0
    seen = 0
    for t in sorted({d for d, _ in durations}):
        at_risk = n_at_risk - sum(1 for d, _ in durations if d < t)
        d_t = sum(1 for d, e in durations if d == t and e == 1)
        if d_t > 0:
            term = (1_000_000 * d_t) // at_risk
            cum += term
            r = rows[t]
            assert (r.n_events, r.n_at_risk) == (d_t, at_risk)
            assert (r.hazard_ppm, r.cum_hazard_ppm) == (term, cum)
            seen += 1
    assert seen == len(rows) and seen > 0
    # hazard is cumulative: strictly non-decreasing in day order
    days = sorted(rows)
    assert all(
        rows[a].cum_hazard_ppm < rows[b].cum_hazard_ppm
        for a, b in zip(days, days[1:])
    )


def test_blocking_eval_matches_bruteforce_pairs(spark, sf_dir):
    # independent reference: pure-Python O(n^2) over the dirtied slice
    # with a hand-rolled levenshtein — proves the metric arithmetic
    import pandas as pd

    def lev(a: str, b: str) -> int:
        if len(a) < len(b):
            a, b = b, a
        prev = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            cur = [i]
            for j, cb in enumerate(b, 1):
                cur.append(
                    min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb))
                )
            prev = cur
        return prev[-1]

    p = pd.read_parquet(f"{sf_dir}/part.parquet", columns=["p_partkey", "p_name"])
    p = p[p.p_partkey < 800]

    def dirty(k, n):
        m = k % 4
        if m == 0:
            return n
        if m == 1:
            return n[:-1]
        if m == 2:
            return n + n[-1]
        return n[:-1] + "x"

    spell = {}
    for k, n in zip(p.p_partkey, p.p_name):
        s = dirty(k, n)
        spell[s] = min(spell.get(s, k), k)
    names = sorted(spell.items(), key=lambda kv: kv[1])
    n_pairs = n_cand = n_true = n_caught = 0
    for i in range(len(names)):
        for j in range(i + 1, len(names)):
            a, b = names[i][0], names[j][0]
            n_pairs += 1
            cand = a[:2] == b[:2] and abs(len(a) - len(b)) <= 1
            truth = lev(a, b) <= 1
            n_cand += cand
            n_true += truth
            n_caught += cand and truth
    r = registry.QUERIES["er_blocking_quality_eval"](spark, sf_dir).collect()[0]
    assert (r.n_pairs, r.n_candidates, r.n_true, r.n_caught) == (
        n_pairs,
        n_cand,
        n_true,
        n_caught,
    )
    assert r.completeness_ppm == (1_000_000 * n_caught) // n_true
    assert r.reduction_ratio_ppm == 1_000_000 - (1_000_000 * n_cand) // n_pairs
    # the audit must catch the designed blind spot: completeness < 100%
    # (drop-last vs doubled differ by 2 in length) but still > 0
    assert 0 < r.completeness_ppm < 1_000_000


def test_twap_weights_gaps_correctly(spark, sf_dir):
    # replay one brand sequentially from pandas
    import pandas as pd

    li = pd.read_parquet(
        f"{sf_dir}/lineitem.parquet",
        columns=["l_partkey", "l_shipdate", "l_extendedprice", "l_quantity"],
    )
    pt = pd.read_parquet(f"{sf_dir}/part.parquet", columns=["p_partkey", "p_brand"])
    li = li.merge(pt, left_on="l_partkey", right_on="p_partkey")
    li["day"] = li.l_shipdate.dt.normalize()
    li["cents"] = (li.l_extendedprice * 100).round().astype("int64")
    li["qty"] = li.l_quantity.astype("int64")
    rows = {
        r.brand: r
        for r in registry.QUERIES["lineitem_twap_by_brand"](spark, sf_dir).collect()
    }
    for brand, grp in li.groupby("p_brand"):
        daily = grp.groupby("day").agg(cents=("cents", "sum"), qty=("qty", "sum"))
        daily = daily.sort_index()
        price = (daily.cents // daily.qty).tolist()
        days = daily.index.tolist()
        held = [
            (days[i + 1] - days[i]).days if i + 1 < len(days) else 1
            for i in range(len(days))
        ]
        r = rows[brand]
        assert r.n_days == len(days)
        assert r.twap_cpu == sum(p * h for p, h in zip(price, held)) // sum(held)
        assert r.avg_cpu == sum(price) // len(price)
    assert len(rows) == li.p_brand.nunique()


def test_hampel_flags_match_rolling_replay(spark, sf_dir):
    import pandas as pd

    ev = pd.read_parquet(
        f"{sf_dir}/events.parquet",
        columns=["event_id", "user_id", "ts", "value"],
    )
    ev["cents"] = (ev.value * 100).round().astype("int64")
    expected = {}
    for uid, grp in ev.groupby("user_id"):
        g = grp.sort_values(["ts", "event_id"]).reset_index(drop=True)
        vals = g.cents.tolist()
        for i in range(len(vals)):
            win = sorted(vals[max(0, i - 3) : i + 4])
            if len(win) < 5:
                continue
            med = win[(len(win) + 1) // 2 - 1]
            devs = sorted(abs(x - med) for x in win)
            mad = devs[(len(win) + 1) // 2 - 1]
            if abs(vals[i] - med) > 3 * mad:
                expected[int(g.event_id[i])] = (med, mad)
    rows = registry.QUERIES["events_hampel_rolling_outliers"](
        spark, sf_dir
    ).collect()
    got = {r.event_id: (r.window_median, r.window_mad) for r in rows}
    assert got == expected
    assert len(got) > 0


def test_isotonic_matches_fraction_pava_replay(spark, sf_dir):
    # independent reference: classic sequential pool-adjacent-violators
    # with exact Fractions — the minimax join formulation must floor to
    # the same ppm values and be monotone non-decreasing
    from fractions import Fraction

    rows = sorted(
        registry.QUERIES["model_isotonic_calibration"](spark, sf_dir).collect(),
        key=lambda r: r.bin,
    )
    blocks = [
        [r.bin, Fraction(int(r.n_pos), 1), int(r.n_orders)] for r in rows
    ]
    # PAVA: merge adjacent blocks while a violator exists
    stack = []
    for _, p, n in blocks:
        stack.append([p, n])
        while len(stack) > 1 and (
            stack[-2][0] * stack[-1][1] > stack[-1][0] * stack[-2][1]
        ):
            p2, n2 = stack.pop()
            stack[-1][0] += p2
            stack[-1][1] += n2
    fitted = []
    for p, n in stack:
        fitted.extend([Fraction(p, n)] * 0)  # lengths tracked below
    # expand by block sizes: rebuild with per-bin counts
    stack = []
    sizes = []
    for _, p, n in blocks:
        stack.append([p, n])
        sizes.append(1)
        while len(stack) > 1 and (
            stack[-2][0] * stack[-1][1] > stack[-1][0] * stack[-2][1]
        ):
            p2, n2 = stack.pop()
            s2 = sizes.pop()
            stack[-1][0] += p2
            stack[-1][1] += n2
            sizes[-1] += s2
    expected = []
    for (p, n), s in zip(stack, sizes):
        expected.extend([Fraction(p, n)] * s)
    got = [r.iso_rate_ppm for r in rows]
    assert got == [int(f * 1_000_000) for f in expected]
    assert all(a <= b for a, b in zip(got, got[1:]))
    # raw rates must NOT be monotone somewhere for the fit to be a real test
    raw = [r.pos_rate_ppm for r in rows]
    assert raw != got or any(a > b for a, b in zip(raw, raw[1:])) is False


def test_conformal_coverage_near_nominal(spark, sf_dir):
    # replay the full conformal pipeline in pandas and check both exact
    # agreement and the marginal coverage guarantee (>= ~90% overall)
    import hashlib

    import pandas as pd

    o = pd.read_parquet(
        f"{sf_dir}/orders.parquet",
        columns=["o_orderkey", "o_custkey", "o_totalprice"],
    )
    c = pd.read_parquet(
        f"{sf_dir}/customer.parquet", columns=["c_custkey", "c_mktsegment"]
    )
    o = o.merge(c, left_on="o_custkey", right_on="c_custkey")
    o["cents"] = (o.o_totalprice * 100).round().astype("int64")
    o["bucket"] = o.o_orderkey.map(
        lambda k: int(hashlib.md5(str(k).encode()).hexdigest()[:15], 16) % 100
    )
    tr = o[o.bucket < 50].groupby("c_mktsegment").cents.agg(["sum", "size"])
    seg_mean = (tr["sum"] // tr["size"]).astype("int64")
    cal = o[(o.bucket >= 50) & (o.bucket < 75)]
    scores = sorted(abs(cal.cents - cal.c_mktsegment.map(seg_mean)))
    n = len(scores)
    qhat = scores[min((9 * n + 18) // 10, n) - 1]
    te = o[o.bucket >= 75].copy()
    te["covered"] = abs(te.cents - te.c_mktsegment.map(seg_mean)) <= qhat
    rows = registry.QUERIES["model_conformal_interval_calibration"](
        spark, sf_dir
    ).collect()
    total_n = total_cov = 0
    for r in rows:
        seg = te[te.c_mktsegment == r.segment]
        assert r.qhat == qhat
        assert (r.n_test, r.n_covered) == (len(seg), int(seg.covered.sum()))
        assert r.coverage_ppm == (1_000_000 * r.n_covered) // r.n_test
        total_n += r.n_test
        total_cov += r.n_covered
    # split-conformal marginal guarantee (exchangeable data): ~>= 1 - alpha
    assert total_cov / total_n >= 0.85


def test_quality_keeper_prefers_longest_then_smallest_id(spark, sf_dir):
    import re as _re

    import pandas as pd

    d = pd.read_parquet(f"{sf_dir}/documents.parquet")
    d = d[d.text.str.strip() != ""].copy()
    d["ckey"] = d.text.map(
        lambda t: " ".join(_re.split(r"\s+", t.strip())[:16])
    )
    rows = registry.QUERIES["doc_dedup_quality_keeper"](spark, sf_dir).collect()
    got = {r.keeper_doc_id: (r.cluster_size, r.kept_n_chars) for r in rows}
    expected = {}
    for _, grp in d.groupby("ckey"):
        if len(grp) < 2:
            continue
        best = grp.sort_values(
            ["n_chars", "doc_id"], ascending=[False, True]
        ).iloc[0]
        expected[int(best.doc_id)] = (len(grp), int(best.n_chars))
    assert got == expected
    assert len(got) > 0, "testdata must contain at least one dup cluster"


def test_logrank_matches_sequential_replay(spark, sf_dir):
    import pandas as pd

    ev = pd.read_parquet(
        f"{sf_dir}/events.parquet", columns=["user_id", "event_type", "ts"]
    )
    n_users = ev.user_id.nunique()
    n_events = len(ev)
    obs = []
    for uid, grp in ev.groupby("user_id"):
        first = grp.ts.min().normalize()
        pur = grp.loc[grp.event_type == "purchase", "ts"]
        heavy = 1 if len(grp) * n_users >= n_events else 0
        if len(pur):
            t = (pur.min().normalize() - first).days
            obs.append((min(t, 30), 1 if t <= 30 else 0, heavy))
        else:
            t = (grp.ts.max().normalize() - first).days
            obs.append((min(t, 30), 0, heavy))
    o1 = e1 = v = 0
    for t in sorted({t for t, _, _ in obs}):
        nt = sum(1 for tt, _, _ in obs if tt >= t)
        n1t = sum(1 for tt, _, g in obs if tt >= t and g)
        d = sum(1 for tt, e, _ in obs if tt == t and e)
        d1 = sum(1 for tt, e, g in obs if tt == t and e and g)
        if d == 0:
            continue
        o1 += d1
        e1 += (1_000_000 * d * n1t) // nt
        if nt > 1:
            v += (1_000_000 * d * n1t * (nt - n1t) * (nt - d)) // (
                nt * nt * (nt - 1)
            )
    r = registry.QUERIES["events_logrank_test_heavy_users"](
        spark, sf_dir
    ).collect()[0]
    assert (r.o1, r.e1_ppm, r.v_ppm) == (o1, e1, v)
    assert r.chi2_ppm == ((1_000_000 * o1 - e1) ** 2) // v
    assert r.significant_95 == (r.chi2_ppm > 3_841_459)
    assert r.n_heavy + r.n_light == n_users


def test_price_index_matches_pandas_replay(spark, sf_dir):
    import pandas as pd

    li = pd.read_parquet(
        f"{sf_dir}/lineitem.parquet",
        columns=["l_partkey", "l_shipdate", "l_extendedprice", "l_quantity"],
    )
    li["y"] = li.l_shipdate.dt.year
    li["cents"] = (li.l_extendedprice * 100).round().astype("int64")
    li["qty"] = li.l_quantity.astype("int64")
    y0, y1 = li.y.min(), li.y.max()
    g = (
        li[li.y.isin([y0, y1])]
        .groupby(["l_partkey", "y"])
        .agg(cents=("cents", "sum"), qty=("qty", "sum"))
    )
    g["p"] = g.cents // g.qty
    base = g.xs(y0, level="y")
    cur = g.xs(y1, level="y")
    m = base.join(cur, lsuffix="_0", rsuffix="_1", how="inner")
    lasp = (1_000_000 * (m.p_1 * m.qty_0).sum()) // (m.p_0 * m.qty_0).sum()
    paas = (1_000_000 * (m.p_1 * m.qty_1).sum()) // (m.p_0 * m.qty_1).sum()
    r = registry.QUERIES["lineitem_price_index_laspeyres_paasche"](
        spark, sf_dir
    ).collect()[0]
    assert r.n_matched_parts == len(m)
    assert (r.laspeyres_ppm, r.paasche_ppm) == (lasp, paas)
    assert r.substitution_gap_ppm == lasp - paas


def test_wagner_whitin_matches_textbook_dp(spark, sf_dir):
    # independent reference: the sequential O(T^2) WW recurrence —
    # the lattice enumeration must reproduce cost AND argmin exactly
    import pandas as pd

    o = pd.read_parquet(f"{sf_dir}/orders.parquet", columns=["o_orderdate"])
    o = o[o.o_orderdate.dt.year == 1995]
    d = o.o_orderdate.dt.month.value_counts().to_dict()
    dem = [d.get(m, 0) for m in range(1, 13)]
    # precondition (ADVICE r14): DP ≡ lattice only when month 1 has
    # demand — the lattice leaves zero-demand PREFIX months uncovered
    # (no setup, feasible) while this textbook recurrence forces a
    # covering setup for every month. 1995 demand is dense at every
    # tested SF; if a regenerated corpus ever breaks that, fail as a
    # precondition here, not as a phantom query bug.
    assert dem[0] > 0, "textbook-DP cross-check requires demand in month 1"
    K = 1000
    f = {0: 0}
    best_j = {}
    for t in range(1, 13):
        cands = []
        for j in range(1, t + 1):
            hold = sum((i - j) * dem[i - 1] for i in range(j, t + 1))
            cands.append((f[j - 1] + K + hold, j))
        f[t], best_j[t] = min(cands)  # min tuple = cost then smallest j
    rows = {
        r.month: r
        for r in registry.QUERIES["orders_wagner_whitin_lotsize"](
            spark, sf_dir
        ).collect()
    }
    assert len(rows) == 12
    for t in range(1, 13):
        assert rows[t].min_total_cost == f[t], t
        assert rows[t].setup_month == best_j[t], t
    # sanity: horizon cost is non-decreasing in t (more demand never
    # cheapens the plan) and every setup month is within the horizon
    costs = [rows[t].min_total_cost for t in range(1, 13)]
    assert all(a <= b for a, b in zip(costs, costs[1:]))
    assert all(1 <= rows[t].setup_month <= t for t in range(1, 13))


def test_shot_boundary_recall_and_precision_exact(spark, sf_dir):
    # independent reference: replay recipe + dhash in pure python and
    # check detected boundaries EXACTLY equal the planted scene cuts
    w, h = 16, 12

    def dhash(px):
        grid = [
            [px[(y * h // 8) * w + (x * w // 8)] for x in range(8)]
            for y in range(8)
        ]
        out = 0
        for y in range(8):
            for x in range(7):
                if grid[y][x + 1] > grid[y][x]:
                    out |= 1 << (y * 7 + x)
        return out

    planted = set()
    detected_expect = {}
    for v in range(6):
        period = 5 + v % 3
        prev = None
        for f in range(24):
            s = f // period
            if f > 0 and f % period == 0:
                planted.add((v, f))
            a = 1 + (s * 7 + v * 3) % 11
            b = 1 + (s * 5 + v * 7) % 13
            c = (s * 3 + v) % 5
            px = bytearray(
                ((x * a + y * b + x * y * c) % 200)
                for y in range(h)
                for x in range(w)
            )
            for k in range(2):
                gy, gx = (f * 3 + k * 5) % 8, (f * 5 + k * 3) % 8
                pos = (gy * h // 8) * w + (gx * w // 8)
                px[pos] = (px[pos] + 128) % 256
            d = dhash(bytes(px))
            if prev is not None and bin(d ^ prev).count("1") > 5:
                detected_expect[(v, f)] = bin(d ^ prev).count("1")
            prev = d
    rows = registry.QUERIES["multimodal_video_shot_boundary"](
        spark, sf_dir
    ).collect()
    got = {(r.video_id, r.frame_idx): r.hamming_to_prev for r in rows}
    assert got == detected_expect
    # perfect recall AND precision on the planted cuts
    assert set(got) == planted


def test_eb_shrinkage_orders_small_toward_prior(spark, sf_dir):
    import pandas as pd

    rows = registry.QUERIES["orders_empirical_bayes_shrinkage"](
        spark, sf_dir
    ).collect()
    N = sum(r.n_orders for r in rows)
    X = sum(r.n_urgent for r in rows)
    gppm = (1_000_000 * X) // N
    for r in rows:
        assert r.raw_ppm == (1_000_000 * r.n_urgent) // r.n_orders
        assert r.shrunk_ppm == (1_000_000 * (r.n_urgent * N + 100 * X)) // (
            N * (r.n_orders + 100)
        )
        assert r.weight_ppm == (1_000_000 * r.n_orders) // (r.n_orders + 100)
        # shrunk estimate sits between raw rate and the global rate
        lo, hi = sorted((r.raw_ppm, gppm))
        assert lo - 1 <= r.shrunk_ppm <= hi + 1


def test_pinball_quantile_is_local_minimum(spark, sf_dir):
    import pandas as pd

    o = pd.read_parquet(f"{sf_dir}/orders.parquet", columns=["o_totalprice"])
    v = (o.o_totalprice * 100).round().astype("int64")

    def loss(k, q):
        d = v - q
        return int((k * d[d > 0]).sum() + ((4 - k) * (q - v[v <= q])).sum())

    rows = registry.QUERIES["orders_pinball_quantile_eval"](
        spark, sf_dir
    ).collect()
    assert len(rows) == 3
    s = sorted(v)
    n = len(s)
    for r in rows:
        k = r.tau_quarters
        assert r.q_cents == s[(k * n + 3) // 4 - 1]
        assert r.pinball4_total == loss(k, r.q_cents)
        assert r.pinball4_per_order == r.pinball4_total // n
        # quantile minimizes pinball loss: neighbors never do better
        assert loss(k, r.q_cents - 1) >= r.pinball4_total
        assert loss(k, r.q_cents + 1) >= r.pinball4_total


def _user_table(sf_dir):
    import hashlib

    import pandas as pd

    ev = pd.read_parquet(
        f"{sf_dir}/events.parquet", columns=["user_id", "event_type"]
    )
    g = ev.groupby("user_id").agg(
        v=("event_type", "size"),
        conv=("event_type", lambda s: int((s == "purchase").any())),
    )
    g["treated"] = [
        int(hashlib.md5(str(u).encode()).hexdigest()[:15], 16) % 2
        for u in g.index
    ]
    return g


def test_qini_curve_matches_cumulative_replay(spark, sf_dir):
    g = _user_table(sf_dir)
    s = sorted(g.v)
    n = len(s)
    cuts = [s[(i * n + 9) // 10 - 1] for i in range(1, 10)]
    g["bin"] = g.v.map(lambda x: sum(1 for c in cuts if c < x))
    rows = sorted(
        registry.QUERIES["events_qini_uplift_curve"](spark, sf_dir).collect(),
        key=lambda r: -r.bin,
    )
    cnt = cnc = cct = ccc = 0
    seen_bins = sorted(g.bin.unique(), reverse=True)
    assert [r.bin for r in rows] == seen_bins
    for r, b in zip(rows, seen_bins):
        sub = g[g.bin == b]
        cnt += int((sub.treated == 1).sum())
        cnc += int((sub.treated == 0).sum())
        cct += int(sub[sub.treated == 1].conv.sum())
        ccc += int(sub[sub.treated == 0].conv.sum())
        assert (
            r.cum_treated,
            r.cum_control,
            r.cum_conv_treated,
            r.cum_conv_control,
        ) == (cnt, cnc, cct, ccc)
        if cnt and cnc:
            exp = (1_000_000 * (cct * cnc - ccc * cnt)) // (cnt * cnc)
            assert r.cum_uplift_ppm == exp
    # the final (full-population) row is the experiment's overall uplift
    assert rows[-1].cum_treated + rows[-1].cum_control == len(g)


def test_ipw_ate_is_size_weighted_stratum_mean(spark, sf_dir):
    g = _user_table(sf_dir)
    s = sorted(g.v)
    n = len(s)
    cuts = [s[(i * n + 3) // 4 - 1] for i in range(1, 4)]
    g["stratum"] = g.v.map(lambda x: sum(1 for c in cuts if c < x))
    rows = registry.QUERIES["events_ipw_treatment_effect"](
        spark, sf_dir
    ).collect()
    num = den = 0
    for r in rows:
        sub = g[g.stratum == r.stratum]
        nt = int((sub.treated == 1).sum())
        nc = int((sub.treated == 0).sum())
        ct = int(sub[sub.treated == 1].conv.sum())
        cc = int(sub[sub.treated == 0].conv.sum())
        assert (r.n_s, r.nt, r.nc, r.ct, r.cc) == (len(sub), nt, nc, ct, cc)
        if nt and nc:
            exp = (1_000_000 * (ct * nc - cc * nt)) // (nt * nc)
            assert r.uplift_ppm == exp
            num += len(sub) * exp
            den += len(sub)
    assert all(r.ate_ppm == num // den for r in rows)


def test_horvitz_thompson_weights_and_truth(spark, sf_dir):
    import hashlib

    import pandas as pd

    o = pd.read_parquet(
        f"{sf_dir}/orders.parquet",
        columns=["o_orderkey", "o_custkey", "o_totalprice"],
    )
    c = pd.read_parquet(
        f"{sf_dir}/customer.parquet", columns=["c_custkey", "c_nationkey"]
    )
    nat = pd.read_parquet(
        f"{sf_dir}/nation.parquet", columns=["n_nationkey", "n_name"]
    )
    o = o.merge(c, left_on="o_custkey", right_on="c_custkey").merge(
        nat, left_on="c_nationkey", right_on="n_nationkey"
    )
    o["cents"] = (o.o_totalprice * 100).round().astype("int64")

    def h(x):
        return int(hashlib.md5(str(x).encode()).hexdigest()[:15], 16)

    o["psu"] = o.n_name.map(lambda s: h(s) % 5 < 2)
    o["ssu"] = o.o_orderkey.map(lambda k: h(k) % 4 == 0)
    true_total = int(o.cents.sum())
    sampled = o[o.psu & o.ssu]
    ht = 10 * int(sampled.cents.sum())
    r = registry.QUERIES["orders_horvitz_thompson_total"](
        spark, sf_dir
    ).collect()[0]
    assert r.true_total_cents == true_total
    assert r.ht_estimate_cents == ht
    assert r.n_orders_sampled == len(sampled)
    assert r.n_nations_sampled == o[o.psu].n_name.nunique()
    # both engines' integer division truncates toward zero (Spark div,
    # DuckDB //) — Python's // floors, so emulate truncation explicitly
    q = 1_000_000 * (ht - true_total)
    exp = -((-q) // true_total) if q < 0 else q // true_total
    assert r.error_ppm == exp
    # the design should land within ~25% of truth on this data
    assert abs(r.error_ppm) < 250_000


def test_personalized_pagerank_seeds_and_mass(spark, sf_dir):
    import pandas as pd

    rows = registry.QUERIES["graph_personalized_pagerank"](
        spark, sf_dir
    ).collect()
    pr = {r.node: r.pr for r in rows}
    # replay in pure python: build graph + 3 PPR iterations
    o = pd.read_parquet(f"{sf_dir}/orders.parquet", columns=["o_orderkey", "o_custkey"])
    li = pd.read_parquet(f"{sf_dir}/lineitem.parquet", columns=["l_orderkey", "l_suppkey"])
    c = pd.read_parquet(f"{sf_dir}/customer.parquet", columns=["c_custkey", "c_nationkey"])
    n = pd.read_parquet(f"{sf_dir}/nation.parquet", columns=["n_nationkey", "n_name"])
    m = o.merge(li, left_on="o_orderkey", right_on="l_orderkey")
    pairs = {
        (f"c{cu}", f"s{su}") for cu, su in zip(m.o_custkey, m.l_suppkey)
    }
    edges = list(pairs) + [(b, a) for a, b in pairs]
    deg = {}
    for s, _ in edges:
        deg[s] = deg.get(s, 0) + 1
    nk7 = set(n[n.n_name == "NATION_7"].n_nationkey)
    seeds = {
        f"c{cu}"
        for cu in c[c.c_nationkey.isin(nk7)].c_custkey
        if f"c{cu}" in deg
    }
    k = len(seeds)
    restart = {v: (10**12 // k if v in seeds else 0) for v in deg}
    r = dict(restart)
    for _ in range(3):
        inc = {}
        for s, d in edges:
            inc[d] = inc.get(d, 0) + r[s] // deg[s]
        r = {
            v: (15 * restart[v] + 85 * inc.get(v, 0)) // 100 for v in deg
        }
    assert pr == r
    # personalization: seed customers hold restart mass, and some
    # non-seed node still gains walked mass
    assert any(pr[v] > 0 for v in deg if v not in seeds and v[0] == "s")
    top = max((v for v in pr if v[0] == "s"), key=lambda v: pr[v])
    assert pr[top] > 0


def test_variant_extract_matches_json_replay(spark, sf_dir):
    import json

    import pandas as pd

    ev = pd.read_parquet(
        f"{sf_dir}/events.parquet", columns=["event_type", "props"]
    )
    ev["k"] = ev.props.map(lambda p: json.loads(p)["k"])
    g = ev.groupby("event_type").k.agg(["size", "min", "max", "sum", "nunique"])
    rows = registry.QUERIES["sql_variant_json_extract"](spark, sf_dir).collect()
    assert len(rows) == len(g)
    for r in rows:
        e = g.loc[r.event_type]
        assert (r.n_events, r.min_k, r.max_k, r.sum_k, r.n_distinct_k) == (
            e["size"],
            e["min"],
            e["max"],
            e["sum"],
            e["nunique"],
        )


def test_ri_audit_clean_on_synthetic_data(spark, sf_dir):
    rows = registry.QUERIES["dq_referential_integrity_audit"](
        spark, sf_dir
    ).collect()
    assert len(rows) == 6
    assert {r.fk_edge for r in rows} == {
        "lineitem.l_orderkey->orders",
        "lineitem.l_partkey->part",
        "lineitem.l_suppkey->supplier",
        "orders.o_custkey->customer",
        "customer.c_nationkey->nation",
        "supplier.s_nationkey->nation",
    }
    for r in rows:
        assert r.n_child_rows > 0
        assert r.n_orphans == 0 and r.orphan_ppm == 0


def test_ri_audit_detects_planted_orphans(spark):
    # the audit must actually fire: plant orphans in a scratch copy
    import shutil
    import tempfile
    from pathlib import Path

    src = Path("/root/testdata/sf0.001")
    dst = Path(tempfile.mkdtemp(prefix="bdec_ri_"))
    try:
        for t in [
            "region", "nation", "customer", "supplier", "part",
            "orders", "lineitem", "events", "documents", "embeddings",
        ]:
            shutil.copy(src / f"{t}.parquet", dst / f"{t}.parquet")
        # rewrite supplier with 3 bogus nation keys
        import pandas as pd

        s = pd.read_parquet(dst / "supplier.parquet")
        s.loc[s.index[:3], "s_nationkey"] = 9999
        s.to_parquet(dst / "supplier.parquet", index=False)
        rows = {
            r.fk_edge: r
            for r in registry.QUERIES["dq_referential_integrity_audit"](
                spark, str(dst)
            ).collect()
        }
        bad = rows["supplier.s_nationkey->nation"]
        assert bad.n_orphans == 3
        assert bad.orphan_ppm == (1_000_000 * 3) // bad.n_child_rows
        assert rows["orders.o_custkey->customer"].n_orphans == 0
    finally:
        shutil.rmtree(dst, ignore_errors=True)


def test_jl_distortion_concentrates_near_one(spark, sf_dir):
    import hashlib

    import numpy as np
    import pandas as pd

    emb = pd.read_parquet(f"{sf_dir}/embeddings.parquet")
    emb = emb[emb.vec_id < 20].sort_values("vec_id")
    q = {
        int(r.vec_id): np.round(
            np.array(r.embedding, dtype="float64") * 1000
        ).astype("int64")
        for r in emb.itertuples()
    }
    signs = np.array(
        [
            [
                1
                if int(
                    hashlib.md5(f"{j}_{d}".encode()).hexdigest()[:15], 16
                )
                % 2
                == 0
                else -1
                for d in range(64)
            ]
            for j in range(16)
        ],
        dtype="int64",
    )
    rows = registry.QUERIES["embedding_jl_projection_distortion"](
        spark, sf_dir
    ).collect()
    ids = sorted(q)
    assert len(rows) == len(ids) * (len(ids) - 1) // 2
    dist = []
    for r in rows:
        qa, qb = q[r.id_a], q[r.id_b]
        d64 = int(((qa - qb) ** 2).sum())
        ya, yb = signs @ qa, signs @ qb
        d16 = int(((ya - yb) ** 2).sum())
        assert (r.d64_sq, r.d16_sq) == (d64, d16)
        assert r.distortion_ppm == (1_000_000 * d16) // (16 * d64)
        dist.append(r.distortion_ppm)
    # JL concentration: the MEDIAN pair distortion is within ~60% of 1
    dist.sort()
    med = dist[len(dist) // 2]
    assert 400_000 < med < 1_600_000


def test_kcenter_greedy_matches_sequential_and_is_monotone(spark, sf_dir):
    import numpy as np
    import pandas as pd

    emb = pd.read_parquet(f"{sf_dir}/embeddings.parquet")
    q = {
        int(r.vec_id): np.round(
            np.array(r.embedding, dtype="float64") * 1000
        ).astype("int64")
        for r in emb.itertuples()
    }
    chosen = [min(q)]
    radii = [0]
    for _ in range(3):
        best = None
        for vid in sorted(q):
            d = min(int(((q[vid] - q[c]) ** 2).sum()) for c in chosen)
            if best is None or d > best[1]:
                best = (vid, d)
        chosen.append(best[0])
        radii.append(best[1])
    rows = sorted(
        registry.QUERIES["embedding_kcenter_greedy_init"](
            spark, sf_dir
        ).collect(),
        key=lambda r: r.center_rank,
    )
    assert [r.vec_id for r in rows] == chosen
    assert [r.radius_sq for r in rows] == radii
    # covering radius non-increasing after the seed
    rs = [r.radius_sq for r in rows[1:]]
    assert all(a >= b for a, b in zip(rs, rs[1:]))


def test_ljung_box_matches_sequential_replay(spark, sf_dir):
    import pandas as pd

    ev = pd.read_parquet(f"{sf_dir}/events.parquet", columns=["ts"])
    daily = ev.ts.dt.normalize().value_counts().sort_index()
    x = daily.tolist()
    days = daily.index.tolist()
    n = len(x)
    mean_floor = sum(x) // n
    z = {d: v - mean_floor for d, v in zip(days, x)}
    c0 = sum(v * v for v in z.values())
    terms = {}
    rs = {}
    for k in range(1, 8):
        ck = sum(
            z[d] * z.get(d + pd.Timedelta(days=k), 0)
            for d in days
            if d + pd.Timedelta(days=k) in z
        )
        q_, rem = divmod(1_000_000 * ck, c0)
        r_ppm = q_ if (1_000_000 * ck) >= 0 or rem == 0 else q_ + 1
        rs[k] = r_ppm
        terms[k] = (r_ppm * r_ppm) // (n - k)
    q_ppm = (n * (n + 2) * sum(terms.values())) // 1_000_000
    rows = registry.QUERIES["events_ljung_box_daily"](spark, sf_dir).collect()
    assert len(rows) == 7
    for r in rows:
        assert r.r_ppm == rs[r.lag], r.lag
        assert r.q_ppm == q_ppm
        assert r.reject_whiteness_95 == (q_ppm > 14_067_140)


def test_vad_segments_equal_planted_voiced_runs(spark, sf_dir):
    # independent truth: the planted pattern (f % period < von), not the
    # energy computation — proves threshold + islands recover the plan
    expected = []
    for i in range(8):
        von, voff = 3 + i % 3, 2 + i % 2
        period = von + voff
        voiced = [f for f in range(32) if f % period < von]
        segs = []
        for f in voiced:
            if segs and segs[-1][1] == f - 1:
                segs[-1][1] = f
            else:
                segs.append([f, f])
        for idx, (a, b) in enumerate(segs, start=1):
            expected.append((i, idx, a, b, b - a + 1))
    rows = registry.QUERIES["multimodal_audio_vad_segments"](
        spark, sf_dir
    ).collect()
    got = sorted(
        (r.asset_id, r.seg_idx, r.start_frame, r.end_frame, r.n_frames)
        for r in rows
    )
    assert got == sorted(expected)


def test_markov_removal_consistency(spark, sf_dir):
    # cross-checks vs the existing absorption query: the '__none__' level
    # must reproduce absorb_permille weighted by the start distribution,
    # and removing a channel can only lose conversion probability
    import pandas as pd

    rows = registry.QUERIES["events_markov_removal_attribution"](
        spark, sf_dir
    ).collect()
    absorb = {
        r.event_type: r.absorb_permille
        for r in registry.QUERIES["events_markov_absorption_4step"](
            spark, sf_dir
        ).collect()
    }
    ev = pd.read_parquet(
        f"{sf_dir}/events.parquet",
        columns=["user_id", "event_id", "ts", "event_type"],
    )
    firsts = (
        ev.sort_values(["ts", "event_id"])
        .groupby("user_id")
        .event_type.first()
    )
    nu = len(firsts)
    wsum = sum(absorb[s] for s in firsts)
    full_pm = wsum // nu
    assert len(rows) == 4  # click / error / signup / view
    tot = sum(r.removal_effect_pm for r in rows)
    for r in rows:
        assert r.conv_full_pm == full_pm
        assert r.removal_effect_pm == r.conv_full_pm - r.conv_removed_pm
        assert r.removal_effect_pm >= 0
        if tot > 0:
            assert r.share_ppm == (1_000_000 * r.removal_effect_pm) // tot
    # at least one channel must matter on this data
    assert tot > 0


def test_curation_pipeline_funnel_and_budget_sums(spark, sf_dir):
    import hashlib
    import re as _re

    import pandas as pd

    d = pd.read_parquet(f"{sf_dir}/documents.parquet")
    rows = {
        r.source: r
        for r in registry.QUERIES["llm_curation_pipeline_end_to_end"](
            spark, sf_dir
        ).collect()
    }
    d2 = d[d.text.str.strip() != ""].copy()
    d2["toks"] = d2.text.map(lambda t: _re.split(r"\s+", t.strip()))
    d2["n_tokens"] = d2.toks.map(len)
    d2["n_types"] = d2.toks.map(lambda t: len(set(t)))
    qual = d2[
        (d2.n_tokens >= 5) & ((1000 * d2.n_types) // d2.n_tokens >= 200)
    ].copy()
    qual["ckey"] = qual.toks.map(lambda t: " ".join(t[:16]))
    kept = qual.sort_values(
        ["n_chars", "doc_id"], ascending=[False, True]
    ).drop_duplicates("ckey")
    T = int(kept.n_tokens.sum())
    B = T // 2
    ksrc = kept.groupby("source").n_tokens.agg(["size", "sum"])
    # funnel counts per source
    for src, r in rows.items():
        assert r.docs_in == int((d.source == src).sum())
        assert r.docs_quality == int((qual.source == src).sum())
        if src in ksrc.index:
            assert (r.docs_kept, r.tokens_kept) == (
                ksrc.loc[src, "size"],
                ksrc.loc[src, "sum"],
            )
    # Hamilton apportionment: exact budget conservation + quota property
    allocs = {s: r.budget_tokens for s, r in rows.items()}
    assert sum(allocs.values()) == B
    for src, r in rows.items():
        if r.tokens_kept:
            lo = (B * r.tokens_kept) // T
            assert lo <= r.budget_tokens <= lo + 1


def test_c4_span_dedup_matches_counter_replay(spark, sf_dir):
    import re as _re

    import pandas as pd

    d = pd.read_parquet(f"{sf_dir}/documents.parquet")
    d = d[d.text.str.strip() != ""]
    owned = {}
    spans_per_doc = {}
    for _, row in d.sort_values("doc_id").iterrows():
        toks = _re.split(r"\s+", row.text.strip())
        if len(toks) < 24:
            continue
        n_sent = len(toks) // 8
        for j in range(n_sent - 2):
            h = " ".join(toks[j * 8 : j * 8 + 24])
            key = (int(row.doc_id), j)
            owned.setdefault(h, []).append(key)
            spans_per_doc.setdefault(int(row.doc_id), [0, 0])
            spans_per_doc[int(row.doc_id)][0] += 1
    for h, keys in owned.items():
        for key in sorted(keys)[1:]:
            spans_per_doc[key[0]][1] += 1
    expected = {
        did: (n, rem, (1_000_000 * rem) // n)
        for did, (n, rem) in spans_per_doc.items()
        if rem > 0
    }
    rows = registry.QUERIES["doc_c4_span_dedup"](spark, sf_dir).collect()
    got = {
        r.doc_id: (r.n_spans, r.n_removed, r.removed_ppm) for r in rows
    }
    assert got == expected
    assert len(got) > 0, "corpus must contain repeated spans"


def test_pk_audit_flags_lineitem_composite(spark, sf_dir):
    import pandas as pd

    rows = {r.pk: r for r in registry.QUERIES["dq_pk_uniqueness_audit"](
        spark, sf_dir
    ).collect()}
    assert len(rows) == 9
    li = pd.read_parquet(
        f"{sf_dir}/lineitem.parquet", columns=["l_orderkey", "l_linenumber"]
    )
    r = rows["lineitem(l_orderkey,l_linenumber)"]
    n_distinct = len(li.drop_duplicates())
    assert (r.n_rows, r.n_distinct) == (len(li), n_distinct)
    # the documented testdata trap: the composite is NOT unique
    assert not r.is_unique and r.n_excess_rows > 0
    for name in [
        "orders(o_orderkey)", "customer(c_custkey)", "part(p_partkey)",
        "supplier(s_suppkey)", "nation(n_nationkey)", "events(event_id)",
        "documents(doc_id)", "embeddings(vec_id)",
    ]:
        assert rows[name].is_unique and rows[name].n_excess_rows == 0


def test_profit_curve_argmax_and_values(spark, sf_dir):
    rows = sorted(
        registry.QUERIES["orders_profit_curve_threshold"](
            spark, sf_dir
        ).collect(),
        key=lambda r: -r.threshold_decile,
    )
    # cumulative columns are monotone walking down the thresholds
    for a, b in zip(rows, rows[1:]):
        assert b.n_targeted > a.n_targeted and b.n_caught >= a.n_caught
    for r in rows:
        assert r.profit == 400 * r.n_caught - 100 * r.n_targeted
    best = max(rows, key=lambda r: (r.profit, r.threshold_decile))
    flags = [r for r in rows if r.is_optimal]
    assert len(flags) == 1
    assert flags[0].threshold_decile == best.threshold_decile


def test_dup_ngram_fraction_matches_counter_replay(spark, sf_dir):
    import re as _re

    import pandas as pd

    d = pd.read_parquet(f"{sf_dir}/documents.parquet")
    d = d[d.text.str.strip() != ""]
    expected = {}
    for _, row in d.iterrows():
        toks = _re.split(r"\s+", row.text.strip())
        if len(toks) < 4:
            continue
        grams = [" ".join(toks[i : i + 4]) for i in range(len(toks) - 3)]
        n, dn = len(grams), len(set(grams))
        expected[int(row.doc_id)] = (
            n,
            dn,
            (1_000_000 * (n - dn)) // n,
            (n - dn) * 10 > n,
        )
    rows = registry.QUERIES["doc_dup_ngram_fraction"](spark, sf_dir).collect()
    got = {
        r.doc_id: (r.n_4grams, r.n_distinct, r.dup_ppm, r.loop_suspect)
        for r in rows
    }
    assert got == expected
    # the signal must fire somewhere: at least one doc repeats a 4-gram
    assert any(v[2] > 0 for v in got.values())


def test_seeding_eval_kcenter_beats_first_k_on_radius(spark, sf_dir):
    rows = {
        r.method: r
        for r in registry.QUERIES["embedding_seeding_cost_eval"](
            spark, sf_dir
        ).collect()
    }
    assert set(rows) == {"kcenter_greedy", "first_k"}
    kc, fk = rows["kcenter_greedy"], rows["first_k"]
    # k-center greedy optimizes the covering radius — it must not lose
    # on max cost, and on this data should win strictly
    assert kc.max_cost <= fk.max_cost
    assert kc.max_cost > 0 and kc.total_cost > 0


def test_backlog_waterfall_counts_and_shares(spark, sf_dir):
    import pandas as pd

    o = pd.read_parquet(f"{sf_dir}/orders.parquet")
    frontier = o.o_orderdate.max().normalize()
    open_o = o[o.o_orderstatus != "F"].copy()
    open_o["age"] = (frontier - open_o.o_orderdate.dt.normalize()).dt.days
    open_o["cents"] = (open_o.o_totalprice * 100).round().astype("int64")

    def bucket(a):
        if a <= 30:
            return "00-030d"
        if a <= 90:
            return "031-090d"
        if a <= 365:
            return "091-365d"
        return "365d+"

    open_o["bucket"] = open_o.age.map(bucket)
    g = open_o.groupby(["o_orderstatus", "bucket"]).agg(
        n=("cents", "size"), v=("cents", "sum")
    )
    tot = int(open_o.cents.sum())
    rows = registry.QUERIES["orders_backlog_aging_waterfall"](
        spark, sf_dir
    ).collect()
    assert len(rows) == len(g)
    share_sum = 0
    for r in rows:
        e = g.loc[(r.status, r.age_bucket)]
        assert (r.n_orders, r.value_cents) == (e.n, e.v)
        assert r.value_share_ppm == (1_000_000 * e.v) // tot
        share_sum += r.value_share_ppm
    assert 990_000 <= share_sum <= 1_000_000
    assert {r.status for r in rows} == {"P", "O"}


def test_ordered_funnel_matches_sequential_replay(spark, sf_dir):
    import pandas as pd

    ev = pd.read_parquet(
        f"{sf_dir}/events.parquet", columns=["user_id", "event_type", "ts"]
    )
    n_users = ev.user_id.nunique()
    sv = sc = sp = sw = 0
    for uid, g in ev.groupby("user_id"):
        views = g.loc[g.event_type == "view", "ts"]
        if not len(views):
            continue
        sv += 1
        t1 = views.min()
        clicks = g.loc[(g.event_type == "click") & (g.ts > t1), "ts"]
        if not len(clicks):
            continue
        sc += 1
        t2 = clicks.min()
        purchases = g.loc[(g.event_type == "purchase") & (g.ts > t2), "ts"]
        if not len(purchases):
            continue
        sp += 1
        t3 = purchases.min()
        if (t3.normalize() - t1.normalize()).days <= 7:
            sw += 1
    r = registry.QUERIES["events_ordered_funnel_conversion"](
        spark, sf_dir
    ).collect()[0]
    assert (
        r.n_users, r.stage_view, r.stage_click,
        r.stage_purchase, r.stage_within_7d,
    ) == (n_users, sv, sc, sp, sw)
    assert r.funnel_conversion_ppm == (1_000_000 * sw) // n_users
    # funnel must strictly narrow somewhere on real data
    assert r.stage_view >= r.stage_click >= r.stage_purchase >= r.stage_within_7d


def test_reconciliation_audit_detects_known_defects(spark, sf_dir):
    rows = {
        r.recon_status: r
        for r in registry.QUERIES["dq_order_total_reconciliation"](
            spark, sf_dir
        ).collect()
    }
    total = sum(r.n_orders for r in rows.values())
    import pandas as pd

    o = pd.read_parquet(f"{sf_dir}/orders.parquet", columns=["o_orderkey"])
    li = pd.read_parquet(f"{sf_dir}/lineitem.parquet", columns=["l_orderkey"])
    assert total == len(o)
    # known defects of the synthetic corpus: childless orders exist and
    # the TPC-H total invariant does NOT hold exactly
    n_childless = len(set(o.o_orderkey) - set(li.l_orderkey))
    assert rows["no_lineitems"].n_orders == n_childless > 0
    assert "exact" not in rows
    assert rows["mismatch"].n_orders > rows.get(
        "within_5pct",
        type("x", (), {"n_orders": 0}),
    ).n_orders


def test_blur_laplacian_matches_pure_python_stencil(spark, sf_dir):
    w, h = 16, 12
    expected = {}
    for i in range(48):
        g, v = divmod(i, 3)
        px = [
            (37 * x * x + 23 * y * y + 11 * ((g % 5) + 1) * x * y
             + 53 * g + 7 * g * x) % 200
            for y in range(h)
            for x in range(w)
        ]
        for k in range(v):
            pos = (g * 7 + k * 13) % (w * h)
            px[pos] = (px[pos] + 100) % 200
        px = [p + 8 * v for p in px]
        laps = [
            px[y * w + x - 1] + px[y * w + x + 1]
            + px[(y - 1) * w + x] + px[(y + 1) * w + x]
            - 4 * px[y * w + x]
            for y in range(1, h - 1)
            for x in range(1, w - 1)
        ]
        m = len(laps)
        s1, s2 = sum(laps), sum(z * z for z in laps)
        expected[i] = (m, m * s2 - s1 * s1)
    rows = registry.QUERIES["multimodal_image_blur_laplacian"](
        spark, sf_dir
    ).collect()
    got = {r.asset_id: (r.n_lap, r.lap_var_x_m2) for r in rows}
    assert got == expected
    for r in rows:
        assert r.is_blurry == (r.lap_var_x_m2 < 1000 * r.n_lap * r.n_lap)
    # brightness shift must NOT change the Laplacian variance: variants
    # within a group differ only by tweak pixels, so stats stay close
    assert len(got) == 48


def test_srm_check_matches_hash_replay(spark, sf_dir):
    import hashlib

    import pandas as pd

    ev = pd.read_parquet(f"{sf_dir}/events.parquet", columns=["user_id"])
    users = ev.user_id.unique()
    nt = sum(
        1
        for u in users
        if int(hashlib.md5(str(u).encode()).hexdigest()[:15], 16) % 2 == 1
    )
    nc = len(users) - nt
    r = registry.QUERIES["events_ab_srm_check"](spark, sf_dir).collect()[0]
    assert (r.n_treated, r.n_control) == (nt, nc)
    chi2 = (1_000_000 * (nt - nc) ** 2) // (nt + nc)
    assert r.chi2_ppm == chi2
    assert r.srm_alarm == (chi2 > 3_841_459)
    # the portable-md5 coin must NOT trip SRM on a healthy split
    assert not r.srm_alarm


def test_topk_churn_matches_pandas_replay(spark, sf_dir):
    import pandas as pd

    ev = pd.read_parquet(f"{sf_dir}/events.parquet", columns=["user_id", "ts"])
    us = ev.ts.astype("datetime64[us]").astype("int64")
    lo, hi = int(us.min()), int(us.max())
    ev["half"] = (us * 2 >= lo + hi).astype(int)

    def topk(h):
        c = (
            ev[ev.half == h]
            .groupby("user_id")
            .size()
            .reset_index(name="n")
            .sort_values(["n", "user_id"], ascending=[False, True])
        )
        return set(c.head(10).user_id)

    t0, t1 = topk(0), topk(1)
    common = len(t0 & t1)
    r = registry.QUERIES["events_topk_churn_drift"](spark, sf_dir).collect()[0]
    assert r.n_common == common
    assert r.jaccard_ppm == (1_000_000 * common) // (20 - common)
    assert r.n_new_entrants == 10 - common


def test_winback_matches_gap_replay(spark, sf_dir):
    import pandas as pd

    ev = pd.read_parquet(f"{sf_dir}/events.parquet", columns=["user_id", "ts"])
    d = (
        ev.assign(day=ev.ts.dt.normalize())
        .drop_duplicates(["user_id", "day"])
        .sort_values(["user_id", "day"])
    )
    expected = {}
    for uid, g in d.groupby("user_id"):
        days = g.day.tolist()
        for a, b in zip(days, days[1:]):
            gap = (b - a).days
            if gap >= 7:
                bucket = (
                    "07-13d" if gap < 14 else "14-20d" if gap < 21 else "21d+"
                )
                expected.setdefault(bucket, [0, set()])
                expected[bucket][0] += 1
                expected[bucket][1].add(uid)
    rows = registry.QUERIES["events_winback_reactivation"](
        spark, sf_dir
    ).collect()
    got = {r.dormancy_bucket: (r.n_reactivations, r.n_users) for r in rows}
    assert got == {k: (v[0], len(v[1])) for k, v in expected.items()}


def test_spc_imr_matches_sequential_replay(spark, sf_dir):
    import pandas as pd

    ev = pd.read_parquet(f"{sf_dir}/events.parquet", columns=["ts"])
    daily = ev.ts.dt.normalize().value_counts().sort_index()
    x = daily.tolist()
    n = len(x)
    mrs = [abs(b - a) for a, b in zip(x, x[1:])]
    center = (1000 * sum(x)) // n
    band = (2660 * sum(mrs)) // len(mrs)
    rows = sorted(
        registry.QUERIES["events_spc_imr_chart"](spark, sf_dir).collect(),
        key=lambda r: r.day,
    )
    assert len(rows) == n
    for i, r in enumerate(rows):
        assert r.x == x[i]
        assert r.mr == (abs(x[i] - x[i - 1]) if i else None)
        assert (r.center_milli, r.ucl_milli, r.lcl_milli) == (
            center, center + band, center - band,
        )
        assert r.out_of_control == (
            1000 * x[i] > center + band or 1000 * x[i] < center - band
        )


def test_growth_accounting_identities(spark, sf_dir):
    import pandas as pd

    ev = pd.read_parquet(f"{sf_dir}/events.parquet", columns=["user_id", "ts"])
    epoch = pd.Timestamp("2024-01-01")
    uw = (
        ev.assign(week=(ev.ts.dt.normalize() - epoch).dt.days // 7)
        .drop_duplicates(["user_id", "week"])
    )
    active = uw.groupby("week").user_id.agg(set).to_dict()
    weeks = sorted(active)
    first_seen = uw.groupby("user_id").week.min()
    rows = registry.QUERIES["events_growth_accounting_weekly"](
        spark, sf_dir
    ).collect()
    got = {(r.week, r.state): r.n for r in rows}
    for w in weeks:
        cur = active[w]
        prev = active.get(w - 1, set())
        seen_before = {u for u in cur if first_seen[u] < w}
        new = len(cur) - len(seen_before)
        retained = len(cur & prev)
        resurrected = len(seen_before - prev)
        assert got.get((w, "new"), 0) == new, w
        assert got.get((w, "retained"), 0) == retained, w
        assert got.get((w, "resurrected"), 0) == resurrected, w
        # WAU identity
        assert new + retained + resurrected == len(cur)
        if w - 1 in active:
            churned = len(prev - cur)
            assert got.get((w, "churned"), 0) == churned, w


def test_padding_eval_bucketed_never_worse(spark, sf_dir):
    import re as _re

    import pandas as pd

    d = pd.read_parquet(f"{sf_dir}/documents.parquet")
    d = d[d.text.str.strip() != ""].copy()
    d["n"] = d.text.map(lambda t: len(_re.split(r"\s+", t.strip())))
    rows = {
        r.strategy: r
        for r in registry.QUERIES["doc_padding_efficiency_eval"](
            spark, sf_dir
        ).collect()
    }
    # replay arrival-order exactly
    d["batch"] = d.doc_id // 8
    g = d.groupby("batch").n.agg(["size", "max", "sum"])
    slots = int((g["size"] * g["max"]).sum())
    real = int(g["sum"].sum())
    a = rows["arrival_order"]
    assert (a.n_batches, a.token_slots, a.real_tokens) == (
        len(g), slots, real,
    )
    assert a.padding_waste_ppm == (1_000_000 * (slots - real)) // slots
    b = rows["length_bucketed"]
    assert b.real_tokens == real  # same corpus, different packing
    assert b.padding_waste_ppm <= a.padding_waste_ppm


def test_watermark_audit_matches_hash_replay_and_base_rate(spark, sf_dir):
    import hashlib
    import re as _re

    import pandas as pd

    d = pd.read_parquet(f"{sf_dir}/documents.parquet")
    d = d[d.text.str.strip() != ""]

    def green(w):
        return int(hashlib.md5(w.encode()).hexdigest()[:15], 16) % 2 == 0

    expected = {}
    for _, row in d.iterrows():
        toks = _re.split(r"\s+", row.text.strip())
        if len(toks) < 20:
            continue
        g = sum(1 for w in toks if green(w))
        n = len(toks)
        expected[int(row.doc_id)] = (
            n, g, (1_000_000 * g) // n,
            (2 * g - n) ** 2 > 9 * n,
        )
    rows = registry.QUERIES["doc_watermark_greenlist_audit"](
        spark, sf_dir
    ).collect()
    got = {
        r.doc_id: (r.n_tokens, r.n_green, r.green_ppm, r.watermark_suspect)
        for r in rows
    }
    assert got == expected
    # organic corpus: the |z| > 3 flag fires at most a small tail
    n_flag = sum(1 for v in got.values() if v[3])
    assert n_flag <= max(3, len(got) // 50)


def test_harmonic_centrality_matches_bfs_replay(spark, sf_dir):
    import pandas as pd

    o = pd.read_parquet(f"{sf_dir}/orders.parquet", columns=["o_orderkey", "o_custkey"])
    li = pd.read_parquet(f"{sf_dir}/lineitem.parquet", columns=["l_orderkey", "l_suppkey"])
    m = o.merge(li, left_on="o_orderkey", right_on="l_orderkey")
    pairs = {(f"c{c}", f"s{s}") for c, s in zip(m.o_custkey, m.l_suppkey)}
    adj = {}
    for a, b in pairs:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    rows = {r.node: r for r in registry.QUERIES[
        "graph_harmonic_centrality_3hop"
    ](spark, sf_dir).collect()}
    probes = [v for v in adj if v[0] == "c" and int(v[1:]) < 50]
    assert set(rows) == set(probes)
    for p in probes:
        seen = {p}
        frontier = {p}
        counts = []
        for _ in range(3):
            nxt = set()
            for v in frontier:
                nxt |= adj[v]
            nxt -= seen
            counts.append(len(nxt))
            seen |= nxt
            frontier = nxt
        r = rows[p]
        assert (r.n_dist1, r.n_dist2, r.n_dist3) == tuple(counts)
        assert r.harmonic_x6 == 6 * counts[0] + 3 * counts[1] + 2 * counts[2]


def test_prefix_autocomplete_topk_is_ranked_correctly(spark, sf_dir):
    import pandas as pd

    p = pd.read_parquet(f"{sf_dir}/part.parquet", columns=["p_name"])
    c = (
        p.assign(prefix=p.p_name.str[:4])
        .groupby(["prefix", "p_name"])
        .size()
        .reset_index(name="n")
        .sort_values(["prefix", "n", "p_name"], ascending=[True, False, True])
    )
    expected = {}
    for prefix, g in c.groupby("prefix"):
        for i, (_, row) in enumerate(g.head(3).iterrows(), start=1):
            expected[(prefix, i)] = (row.p_name, row.n)
    rows = registry.QUERIES["part_prefix_autocomplete_topk"](
        spark, sf_dir
    ).collect()
    got = {(r.prefix, r.rank): (r.suggestion, r.n) for r in rows}
    assert got == expected
    assert max(r.rank for r in rows) <= 3


def test_slo_burn_rate_matches_window_replay(spark, sf_dir):
    import pandas as pd

    ev = pd.read_parquet(f"{sf_dir}/events.parquet", columns=["ts", "event_type"])
    us = ev.ts.astype("datetime64[us]").astype("int64")
    ev["win"] = us // (6 * 3600 * 1_000_000)
    g = ev.groupby("win").agg(
        n=("event_type", "size"),
        e=("event_type", lambda s: int((s == "error").sum())),
    )
    rows = registry.QUERIES["events_slo_burn_rate"](spark, sf_dir).collect()
    assert len(rows) == len(g)
    any_alert = False
    for r in rows:
        exp = g.loc[r.win]
        assert (r.n_events, r.n_errors) == (exp.n, exp.e)
        ppm = (1_000_000 * exp.e) // exp.n
        burn = (1000 * ppm) // 10_000
        assert (r.error_ppm, r.burn_rate_milli) == (ppm, burn)
        assert r.page_alert == (burn > 14_400)
        any_alert |= r.page_alert
    # the synthetic stream's ~20% error rate must page
    assert any_alert


def test_drawdown_matches_running_max_replay(spark, sf_dir):
    import pandas as pd

    o = pd.read_parquet(f"{sf_dir}/orders.parquet", columns=["o_orderdate", "o_totalprice"])
    o["month"] = o.o_orderdate.dt.to_period("M").dt.start_time
    o["cents"] = (o.o_totalprice * 100).round().astype("int64")
    m = o.groupby("month").cents.sum().sort_index()
    peak = m.cummax()
    rows = sorted(
        registry.QUERIES["orders_monthly_revenue_drawdown"](
            spark, sf_dir
        ).collect(),
        key=lambda r: r.month,
    )
    assert len(rows) == len(m)
    for r, (mo, rev) in zip(rows, m.items()):
        assert r.rev_cents == rev
        assert r.peak_cents == peak[mo]
        assert r.drawdown_cents == peak[mo] - rev
        assert r.drawdown_ppm == (1_000_000 * (peak[mo] - rev)) // peak[mo]
    # at least one underwater month exists in 80 months of noise
    assert any(r.drawdown_cents > 0 for r in rows)


def test_cross_elasticity_matches_pandas_replay(spark, sf_dir):
    import pandas as pd

    li = pd.read_parquet(
        f"{sf_dir}/lineitem.parquet",
        columns=["l_partkey", "l_shipdate", "l_extendedprice", "l_quantity"],
    )
    pt = pd.read_parquet(f"{sf_dir}/part.parquet", columns=["p_partkey", "p_brand"])
    li = li.merge(pt, left_on="l_partkey", right_on="p_partkey")
    li["y"] = li.l_shipdate.dt.year
    li["cents"] = (li.l_extendedprice * 100).round().astype("int64")
    li["qty"] = li.l_quantity.astype("int64")
    y0, y1 = li.y.min(), li.y.max()
    g = (
        li[li.y.isin([y0, y1])]
        .groupby(["p_brand", "y"])
        .agg(cents=("cents", "sum"), qty=("qty", "sum"))
    )
    g["p"] = g.cents // g.qty
    rows = registry.QUERIES["lineitem_cross_price_elasticity"](
        spark, sf_dir
    ).collect()
    brands = sorted(li.p_brand.unique())
    assert len(rows) == len(brands) * (len(brands) - 1)
    byr = {r_: g.xs(r_, level="y") for r_ in (y0, y1)}
    for r in rows:
        q0, q1 = byr[y0].loc[r.qty_brand].qty, byr[y1].loc[r.qty_brand].qty
        p0, p1 = byr[y0].loc[r.price_brand].p, byr[y1].loc[r.price_brand].p
        assert (r.dq_a, r.dp_b) == (q1 - q0, p1 - p0)
        if p1 != p0 and q0 > 0:
            num = (q1 - q0) * p0 * 1_000_000
            den = q0 * (p1 - p0)
            # both engines truncate toward zero on signed div
            t = abs(num) // abs(den)
            exp = t if (num >= 0) == (den >= 0) else -t
            assert r.cross_elasticity_ppm == exp


def test_expectations_suite_all_pass_on_clean_data(spark, sf_dir):
    rows = {
        r.expectation: r
        for r in registry.QUERIES["dq_expectations_suite"](
            spark, sf_dir
        ).collect()
    }
    assert len(rows) == 9
    for name, r in rows.items():
        assert r.n_rows > 0, name
        assert r.passed == (r.n_violations == 0), name
        assert r.violation_ppm == (1_000_000 * r.n_violations) // r.n_rows
    # the synthetic corpus satisfies every contract
    assert all(r.passed for r in rows.values())


def test_expectations_suite_catches_planted_violation(spark):
    import shutil
    import tempfile
    from pathlib import Path

    import pandas as pd

    src = Path("/root/testdata/sf0.001")
    dst = Path(tempfile.mkdtemp(prefix="bdec_exp_"))
    try:
        for t in [
            "region", "nation", "customer", "supplier", "part",
            "orders", "lineitem", "events", "documents", "embeddings",
        ]:
            shutil.copy(src / f"{t}.parquet", dst / f"{t}.parquet")
        o = pd.read_parquet(dst / "orders.parquet")
        o.loc[o.index[:5], "o_orderpriority"] = "9-BOGUS"
        o.loc[o.index[5:7], "o_totalprice"] = -1.0
        o.to_parquet(dst / "orders.parquet", index=False)
        rows = {
            r.expectation: r
            for r in registry.QUERIES["dq_expectations_suite"](
                spark, str(dst)
            ).collect()
        }
        assert rows["orders.priority_in_domain"].n_violations == 5
        assert not rows["orders.priority_in_domain"].passed
        assert rows["orders.totalprice_positive"].n_violations == 2
        assert rows["documents.lang_in_domain"].passed
    finally:
        shutil.rmtree(dst, ignore_errors=True)


def test_brand_switching_rows_normalize_and_match_replay(spark, sf_dir):
    import pandas as pd

    li = pd.read_parquet(
        f"{sf_dir}/lineitem.parquet",
        columns=["l_orderkey", "l_partkey", "l_shipdate", "l_quantity"],
    )
    o = pd.read_parquet(f"{sf_dir}/orders.parquet", columns=["o_orderkey", "o_custkey"])
    p = pd.read_parquet(f"{sf_dir}/part.parquet", columns=["p_partkey", "p_brand"])
    m = li.merge(o, left_on="l_orderkey", right_on="o_orderkey").merge(
        p, left_on="l_partkey", right_on="p_partkey"
    )
    m["y"] = m.l_shipdate.dt.year
    m["qty"] = m.l_quantity.astype("int64")
    y0, y1 = m.y.min(), m.y.max()

    def dominant(year):
        g = (
            m[m.y == year]
            .groupby(["o_custkey", "p_brand"])
            .qty.sum()
            .reset_index()
            .sort_values(["o_custkey", "qty", "p_brand"],
                         ascending=[True, False, True])
        )
        return g.drop_duplicates("o_custkey").set_index("o_custkey").p_brand

    d0, d1 = dominant(y0), dominant(y1)
    both = d0.index.intersection(d1.index)
    expected = {}
    for cu in both:
        key = (d0[cu], d1[cu])
        expected[key] = expected.get(key, 0) + 1
    rows = registry.QUERIES["customer_brand_switching_matrix"](
        spark, sf_dir
    ).collect()
    got = {(r.brand_from, r.brand_to): r.n_customers for r in rows}
    assert got == expected
    # row-normalization: per brand_from the ppm shares sum to ~1e6
    from collections import defaultdict

    share = defaultdict(int)
    for r in rows:
        share[r.brand_from] += r.switch_ppm
    for s in share.values():
        assert 990_000 <= s <= 1_000_000


def test_string_surface_matches_python_semantics(spark, sf_dir):
    import pandas as pd

    p = pd.read_parquet(f"{sf_dir}/part.parquet", columns=["p_partkey", "p_name"])
    p = p[p.p_partkey < 500]
    rows = {r.p_partkey: r for r in registry.QUERIES[
        "sql_string_functions_surface"
    ](spark, sf_dir).collect()}
    assert len(rows) == len(p)
    for _, row in p.iterrows():
        r = rows[row.p_partkey]
        name = row.p_name
        assert r.padded_key == str(row.p_partkey).zfill(8)
        assert r.vowels_up == name.translate(str.maketrans("aeiou", "AEIOU"))
        assert r.reversed_name == name[::-1]
        assert r.first_word == name.split(" ")[0]
        assert r.first_a_pos == (name.find("a") + 1)
        assert r.prefix3 == name[:3]
        assert r.initial_x3 == name[0] * 3
        assert r.name_len == len(name)


def test_sbc_classification_matches_pandas_replay(spark, sf_dir):
    import pandas as pd

    li = pd.read_parquet(
        f"{sf_dir}/lineitem.parquet",
        columns=["l_partkey", "l_shipdate", "l_quantity"],
    )
    pt = pd.read_parquet(f"{sf_dir}/part.parquet", columns=["p_partkey", "p_brand"])
    li = li.merge(pt, left_on="l_partkey", right_on="p_partkey")
    li["month"] = li.l_shipdate.dt.to_period("M")
    li["qty"] = li.l_quantity.astype("int64")
    bm = li.groupby(["p_brand", "month"]).qty.sum()
    total_months = bm.reset_index().month.nunique()
    rows = {r.brand: r for r in registry.QUERIES[
        "part_demand_sbc_classification"
    ](spark, sf_dir).collect()}
    for brand, g in bm.groupby(level=0):
        x = g.tolist()
        m = len(x)
        sx, sxx = sum(x), sum(v * v for v in x)
        adi = (1000 * total_months) // m
        cv2 = (1_000_000 * (m * sxx - sx * sx)) // (sx * sx)
        r = rows[brand]
        assert (r.demand_months, r.total_months) == (m, total_months)
        assert (r.adi_milli, r.cv2_ppm) == (adi, cv2)
        exp = (
            "smooth" if adi < 1320 and cv2 < 490_000
            else "erratic" if adi < 1320
            else "intermittent" if cv2 < 490_000
            else "lumpy"
        )
        assert r.sbc_class == exp


def test_array_surface_matches_python_semantics(spark, sf_dir):
    import re as _re

    import pandas as pd

    d = pd.read_parquet(f"{sf_dir}/documents.parquet", columns=["doc_id", "text"])
    d = d[d.text.str.strip() != ""]
    rows = {r.doc_id: r for r in registry.QUERIES[
        "sql_array_functions_surface"
    ](spark, sf_dir).collect()}
    stop = {"a", "the", "data", "table"}
    for _, row in d.iterrows():
        toks = _re.split(r"\s+", row.text.strip())[:8]
        r = rows[row.doc_id]
        assert r.n == len(toks)
        assert r.sorted_toks == ",".join(sorted(toks))
        assert r.distinct_sorted == ",".join(sorted(set(toks)))
        assert r.reversed_toks == ",".join(toks[::-1])
        assert (r.first_tok, r.last_tok) == (toks[0], toks[-1])
        assert r.has_the == ("the" in toks)
        assert r.pos_of_a == (toks.index("a") + 1 if "a" in toks else 0)
        assert r.stop_hits == ",".join(sorted(set(toks) & stop))
        assert r.doubled_len == 2 * len(toks)


def test_quality_feature_matrix_matches_python_replay(spark, sf_dir):
    import re as _re

    import pandas as pd

    d = pd.read_parquet(f"{sf_dir}/documents.parquet")
    d = d[d.text.str.strip() != ""]
    rows = {r.doc_id: r for r in registry.QUERIES[
        "doc_quality_feature_matrix"
    ](spark, sf_dir).collect()}
    assert len(rows) == len(d)
    for _, row in d.head(200).iterrows():
        toks = _re.split(r"\s+", row.text.strip())
        r = rows[row.doc_id]
        n = len(toks)
        assert (r.n_tokens, r.n_types) == (n, len(set(toks)))
        assert r.ttr_permille == (1000 * len(set(toks))) // n
        assert r.mean_word_len_milli == (1000 * (row.n_chars - n + 1)) // n
        if n >= 4:
            grams = [" ".join(toks[i : i + 4]) for i in range(n - 3)]
            assert r.dup4_ppm == (
                1_000_000 * (len(grams) - len(set(grams)))
            ) // len(grams)
        stop = sum(1 for t in toks if t in ("a", "the"))
        assert r.stopword_ppm == (1_000_000 * stop) // n


def test_mix_shift_decomposition_reconstructs_delta(spark, sf_dir):
    import pandas as pd

    o = pd.read_parquet(
        f"{sf_dir}/orders.parquet",
        columns=["o_custkey", "o_orderdate", "o_totalprice"],
    )
    c = pd.read_parquet(
        f"{sf_dir}/customer.parquet", columns=["c_custkey", "c_mktsegment"]
    )
    o = o.merge(c, left_on="o_custkey", right_on="c_custkey")
    o["y"] = o.o_orderdate.dt.year
    o["cents"] = (o.o_totalprice * 100).round().astype("int64")
    y0, y1 = o.y.min(), o.y.max()
    rows = registry.QUERIES["orders_aov_mix_shift_decomposition"](
        spark, sf_dir
    ).collect()
    assert len(rows) == o.c_mktsegment.nunique()
    # exact per-segment witness values
    for r in rows:
        s0 = o[(o.y == y0) & (o.c_mktsegment == r.segment)]
        s1 = o[(o.y == y1) & (o.c_mktsegment == r.segment)]
        assert r.aov0_cents == int(s0.cents.sum()) // len(s0)
        assert r.aov1_cents == int(s1.cents.sum()) // len(s1)
    # the decomposition reconstructs the overall AOV delta up to the
    # documented flooring (ppm weights + cents floors): tolerance scales
    # with segment count
    total = sum(r.rate_effect_cents + r.mix_effect_cents for r in rows)
    aov0 = int(o[o.y == y0].cents.sum()) // len(o[o.y == y0])
    aov1 = int(o[o.y == y1].cents.sum()) // len(o[o.y == y1])
    # compare against the weighted identity (floored AOVs per segment)
    assert abs(total - (aov1 - aov0)) <= 25 * len(rows)


def test_ari_near_zero_but_raw_index_large(spark, sf_dir):
    import numpy as np
    import pandas as pd

    emb = pd.read_parquet(f"{sf_dir}/embeddings.parquet")
    q0 = np.round(emb.embedding.map(lambda v: float(v[0])) * 1000).astype(int)
    q1 = np.round(emb.embedding.map(lambda v: float(v[1])) * 1000).astype(int)
    bucket = (q0 > 0).astype(int) * 2 + (q1 > 0).astype(int)
    ct = pd.crosstab(emb.label, bucket)

    def c2(x):
        return int(x) * (int(x) - 1) // 2

    idx = int(sum(c2(v) for v in ct.values.ravel()))
    sa = int(sum(c2(v) for v in ct.sum(axis=1)))
    sb = int(sum(c2(v) for v in ct.sum(axis=0)))
    n = int(ct.values.sum())
    expected_idx = (sa * sb) // c2(n)
    r = registry.QUERIES["embedding_clustering_rand_index"](
        spark, sf_dir
    ).collect()[0]
    assert (r.n, r.pair_agreements, r.sa, r.sb) == (n, idx, sa, sb)
    assert r.expected_idx == expected_idx
    denom = (sa + sb) // 2 - expected_idx
    num = 1_000_000 * (idx - expected_idx)
    # both engines truncate toward zero on signed division
    t = abs(num) // denom
    assert r.ari_ppm == (t if num >= 0 else -t)
    # the un-adjusted trap: raw agreement is huge, chance-corrected is ~0
    assert r.pair_agreements > r.n  # raw index looks impressive
    assert abs(r.ari_ppm) < 100_000  # ARI exposes it as chance-level
