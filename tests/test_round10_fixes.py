"""Round-10 hardening regression tests (VERDICT r9 tasks)."""
from __future__ import annotations

import subprocess
import sys

import pytest

sys.path.insert(0, ".")
from tools.replica import select_window  # noqa: E402

NAMES = [f"q{i}" for i in range(10)]


def _latest(paths):
    """The most recently written of ``paths``."""
    return max(paths, key=lambda p: p.stat().st_mtime_ns)


class TestReplicaWindowSlicer:
    """VERDICT r9 #2: --window is a chunk size relative to --start."""

    def test_chunks_tile_the_registry_without_gaps_or_overlap(self):
        chunks = [select_window(NAMES, s, 3) for s in range(0, 10, 3)]
        assert [c for ch in chunks for c in ch] == NAMES

    def test_start_equals_window_runs_the_second_chunk(self):
        # the historical footgun: --start 65 --window 65 ran NOTHING
        assert select_window(NAMES, 5, 5) == NAMES[5:10]

    def test_no_window_resumes_to_end(self):
        assert select_window(NAMES, 7, None) == NAMES[7:]

    def test_window_past_end_clips(self):
        assert select_window(NAMES, 8, 100) == NAMES[8:]

    def test_invalid_args_raise(self):
        with pytest.raises(ValueError):
            select_window(NAMES, -1, 5)
        with pytest.raises(ValueError):
            select_window(NAMES, 0, 0)

    def test_empty_selection_exits_nonzero(self):
        # end-to-end: a start past the registry must fail loudly, not
        # masquerade as a green sweep
        proc = subprocess.run(
            [sys.executable, "tools/replica.py", "--start", "999999", "--window", "5"],
            capture_output=True,
            text=True,
            timeout=600,
            cwd=".",
        )
        assert proc.returncode == 2, proc.stdout + proc.stderr
        assert "selection is empty" in proc.stdout


class TestSpreadGuards:
    """ADVICE r9 (low): spread() must not probe .rdd on frames where the
    probe is unsafe — streaming frames (unsupported) and frames with
    shuffle-inducing ancestors (AQE materializes the stages eagerly)."""

    def test_streaming_frame_returned_unchanged(self, spark, tmp_path, sf_dir):
        from breweries_data_engineering_case_spark.sources.readers import spread

        src = tmp_path / "spread_stream"
        src.mkdir()
        spark.range(10).coalesce(1).write.parquet(str(src / "a.parquet"))
        stream = spark.readStream.schema("id long").parquet(str(src) + "/*.parquet")
        assert spread(stream) is stream

    def test_shuffled_frame_returned_unchanged(self, spark, sf_dir):
        from breweries_data_engineering_case_spark.sources.readers import (
            _has_shuffle_ancestor,
            spread,
        )
        from breweries_data_engineering_case_spark.sources.readers import table_scan

        scan = table_scan(spark, sf_dir, "orders").select("o_orderkey")
        assert not _has_shuffle_ancestor(scan)
        for shuffled in (
            scan.groupBy("o_orderkey").count(),
            scan.distinct(),
            scan.repartition(4),
            scan.join(scan.alias("b"), "o_orderkey"),
            scan.orderBy("o_orderkey"),
        ):
            assert _has_shuffle_ancestor(shuffled)
            assert spread(shuffled) is shuffled

    def test_scan_frame_still_spreads(self, spark, sf_dir):
        from breweries_data_engineering_case_spark.sources.readers import (
            spread,
            table_scan,
        )

        scan = table_scan(spark, sf_dir, "documents").select("doc_id", "text")
        out = spread(scan)
        cores = spark.sparkContext.defaultParallelism
        if scan.rdd.getNumPartitions() < cores:
            assert out is not scan
            assert out.rdd.getNumPartitions() == cores
        else:
            assert out is scan


class TestIncrementalNearDup:
    """VERDICT r9 #6: snapshot-incremental fuzzy dedup — a persisted
    band-bucket state table plus a delta-only merge."""

    def test_merged_state_equals_full_corpus_state(self, spark, sf_dir):
        """The republished state (old ∪ delta, min per bucket) must equal
        the band-bucket mins of the FULL corpus — the invariant that makes
        the next drop's join correct without ever re-hashing history."""
        from pyspark.sql import functions as F

        from breweries_data_engineering_case_spark.operators.fuzzy_dedup import (
            minhash_band_exprs,
        )
        from breweries_data_engineering_case_spark.plans import registry
        from breweries_data_engineering_case_spark.sources.readers import table_scan
        from breweries_data_engineering_case_spark.sources.writers import (
            session_workspace,
        )

        registry.QUERIES["doc_neardup_incremental_snapshot"](spark, sf_dir).collect()
        # each run publishes into its own workspace dir: read the latest
        state_next = spark.read.parquet(
            str(_latest(session_workspace(spark).glob("*/state_next")))
        )
        full = (
            minhash_band_exprs(
                table_scan(spark, sf_dir, "documents").select("doc_id", "text"),
                num_hashes=16,
                bands=4,
            )
            .groupBy("band_idx", "band_hash")
            .agg(F.min("doc_id").alias("canon"))
        )
        got = {(r.band_idx, r.band_hash): r.canon for r in state_next.collect()}
        want = {(r.band_idx, r.band_hash): r.canon for r in full.collect()}
        assert got == want

    def test_rerun_reuses_staged_state(self, spark, sf_dir):
        """A second run must NOT re-stage the snapshot state (delta-only
        hashing is the point): the state parquet's mtime is unchanged and
        the output is identical."""
        import os

        from breweries_data_engineering_case_spark.plans import registry
        from breweries_data_engineering_case_spark.sources.readers import (
            source_fingerprint,
        )
        from breweries_data_engineering_case_spark.sources.writers import staged_dir

        def restage(_path):
            pytest.fail("the snapshot state was staged again")

        fn = registry.QUERIES["doc_neardup_incremental_snapshot"]
        r1 = fn(spark, sf_dir).collect()
        state = staged_dir(
            spark, "incr_neardup:" + source_fingerprint(sf_dir, "documents"), restage
        )
        marker = state / "_SUCCESS"
        mtime = os.path.getmtime(marker)
        r2 = fn(spark, sf_dir).collect()
        assert os.path.getmtime(marker) == mtime
        assert sorted(map(tuple, r1)) == sorted(map(tuple, r2))

    def test_repeated_calls_publish_one_merged_state(self, spark, sf_dir):
        """The merged state depends only on the corpus: three calls in one
        session publish it once, into the directory staged for the
        snapshot's fingerprint."""
        from breweries_data_engineering_case_spark.plans import registry
        from breweries_data_engineering_case_spark.sources.readers import (
            source_fingerprint,
        )
        from breweries_data_engineering_case_spark.sources.writers import (
            session_workspace,
            staged_dir,
        )

        def published():
            return set(session_workspace(spark).glob("*/state_next"))

        before = published()
        fn = registry.QUERIES["doc_neardup_incremental_snapshot"]
        for _ in range(3):
            fn(spark, sf_dir).collect()

        def restage(_path):
            pytest.fail("the merged state was not staged")

        want = staged_dir(
            spark, "incr_neardup_next:" + source_fingerprint(sf_dir, "documents"), restage
        ) / "state_next"
        assert want in published()
        assert published() - before <= {want}


def test_theil_decomposition_brute_force(spark):
    """Independent math replay of orders_theil_inequality_decomposition at
    sf0.01 (pandas + Python ints + math.log), plus the decomposition
    identity: the frozen within/between terms must reconstruct the exact
    real-valued Theil T within the documented freeze bias."""
    import math

    import pandas as pd

    from breweries_data_engineering_case_spark.plans import registry

    sf_dir = "/root/testdata/sf0.01"
    o = pd.read_parquet(f"{sf_dir}/orders.parquet", columns=["o_custkey", "o_totalprice"])
    c = pd.read_parquet(f"{sf_dir}/customer.parquet", columns=["c_custkey", "c_nationkey"])
    n = pd.read_parquet(f"{sf_dir}/nation.parquet", columns=["n_nationkey", "n_name"])
    df = o.merge(c, left_on="o_custkey", right_on="c_custkey").merge(
        n, left_on="c_nationkey", right_on="n_nationkey"
    )
    # same quantization: decimal(18,2) * 100 — totalprice has 2dp, so this
    # is round-half-up at the cent, matching both engines
    from decimal import Decimal, ROUND_HALF_UP

    df["cents"] = [
        int((Decimal(str(v)).quantize(Decimal("0.01"), ROUND_HALF_UP)) * 100)
        for v in df.o_totalprice
    ]
    S = int(df.cents.sum())
    N = len(df)
    want = {}
    for name, grp in df.groupby("n_name"):
        sg = int(grp.cents.sum())
        ng = len(grp)
        num = sum(
            ci * math.floor(1_000_000.0 * math.log((float(ci) * ng) / float(sg)))
            for ci in grp.cents
        )
        want[name] = (
            ng,
            sg,
            num // sg if num >= 0 else -((-num) // sg),  # engine div truncates
            (sg * 1_000_000) // S,
            math.floor(
                1_000_000.0 * math.log((float(sg) * N) / (float(S) * ng))
            ),
        )
    rows = registry.QUERIES["orders_theil_inequality_decomposition"](
        spark, sf_dir
    ).collect()
    assert len(rows) == len(want)
    for r in rows:
        ng, sg, t_within, share, t_between = want[r.n_name]
        assert (r.n_orders, r.cents) == (ng, sg), r.n_name
        assert r.share_ppm == share, r.n_name
        assert r.t_between_micro == t_between, r.n_name
        # engine div truncates toward zero; the numerator is positive on
        # this data (checked), so truncation == floor here
        assert r.t_within_micro == t_within, r.n_name

    # decomposition identity vs the exact real-valued Theil: T_exact =
    # sum_g share_g*T_g + sum_g share_g*ln((S_g/S)/(N_g/N)); the frozen
    # reconstruction must sit within the documented bias (2 micro-nats per
    # within term + 1 per between term, weighted by shares <= 1)
    t_exact = sum(
        (ci / S) * math.log((ci * N) / S) for ci in df.cents
    )
    t_frozen = sum(
        (sg / S) * (tw / 1e6) + (sg / S) * (tb / 1e6)
        for (ng, sg, tw, share, tb) in want.values()
    )
    assert abs(t_exact - t_frozen) < 5e-6, (t_exact, t_frozen)


def test_streaming_incremental_state_equals_full_corpus(spark, sf_dir):
    """After the two-micro-batch run, the published band-bucket state must
    equal the full corpus's bucket mins — the same invariant as the batch
    merge twin, held across the foreachBatch write-new-then-swap."""
    from pyspark.sql import functions as F

    from breweries_data_engineering_case_spark.operators.fuzzy_dedup import (
        minhash_band_exprs,
    )
    from breweries_data_engineering_case_spark.plans import registry
    from breweries_data_engineering_case_spark.sources.readers import table_scan

    from breweries_data_engineering_case_spark.sources.writers import (
        session_workspace,
    )

    registry.QUERIES["streaming_neardup_incremental"](spark, sf_dir).collect()
    # each run keeps its mutable state in its own workspace dir: read the
    # latest
    state = spark.read.parquet(str(_latest(session_workspace(spark).glob("*/state"))))
    full = (
        minhash_band_exprs(
            table_scan(spark, sf_dir, "documents").select("doc_id", "text"),
            num_hashes=16,
            bands=4,
        )
        .groupBy("band_idx", "band_hash")
        .agg(F.min("doc_id").alias("canon"))
    )
    got = {(r.band_idx, r.band_hash): r.canon for r in state.collect()}
    want = {(r.band_idx, r.band_hash): r.canon for r in full.collect()}
    assert got == want


def test_dsir_ln_floor_boundary_margin():
    """ADVICE r9 (low): the DSIR per-bucket score freezes floor(1e6*ln(ratio)),
    and ln is libm-dependent — a 1-ulp JVM-vs-DuckDB difference shifts the
    scaled value by ~1e-9, flipping the floor only if it lands that close to
    an integer. Replay every bucket's exact ratio at both tested SFs and
    assert the margin to the nearest boundary is >= 1e-7 (>=100x the flip
    window), so the recorded MATCHes are structural, not coin flips."""
    import math

    import duckdb

    import __spark_entry__  # noqa: F401  (path bootstrap)
    from breweries_data_engineering_case_spark.plans.q_corpus import _DSIR_ORACLE

    prefix, sep, _final = _DSIR_ORACLE.rpartition("SELECT doc_id, lang")
    assert sep, "oracle text changed — update this replay"
    ratio_sql = (
        prefix
        + """
        SELECT CAST(COALESCE(tgt.tc, 0) + 1 AS DOUBLE)
                 * CAST(rr + 1024 AS DOUBLE) AS num,
               CAST(raw.r + 1 AS DOUBLE)
                 * CAST(tsum + 1024 AS DOUBLE) AS den
        FROM raw LEFT JOIN tgt USING (b) CROSS JOIN rt CROSS JOIN tt
        """
    )
    # the oracle's last CTE (sc) references occ/lr; rpartition cut inside the
    # final SELECT, so the WITH clause is intact and unused CTEs are fine
    for sf in ("/root/testdata/sf0.001", "/root/testdata/sf0.01"):
        con = duckdb.connect()
        con.sql(
            f"CREATE VIEW documents AS SELECT * FROM '{sf}/documents.parquet'"
        )
        rows = con.sql(ratio_sql).fetchall()
        assert rows, "no buckets — replay is vacuous"
        worst = 1.0
        for num, den in rows:
            x = 1e6 * math.log(num / den)
            frac = x - math.floor(x)
            worst = min(worst, frac, 1.0 - frac)
        assert worst >= 1e-7, f"{sf}: floor-boundary margin {worst}"
        con.close()


def test_streaming_lsh_descending_id_across_batches(spark, tmp_path):
    """ADVICE r9 (medium): when a SMALLER doc_id arrives in a later
    micro-batch than the canonical min already in state, the collision must
    still surface — the previously-canonical doc is emitted as a candidate
    of the new minimum. Before the fix the state min was silently updated
    and the (old-min, new-min) pair was lost in both directions."""
    from breweries_data_engineering_case_spark.operators.fuzzy_dedup import (
        minhash_band_exprs,
    )
    from breweries_data_engineering_case_spark.streaming.stateful import (
        lsh_band_dedup,
    )

    base = "the quick brown fox jumps over the lazy dog again and again today"
    uniq = "completely different words about spark structured streaming state"
    src = tmp_path / "stream_src_desc"
    src.mkdir()
    # batch 1 carries the LARGER id; batch 2 the smaller near-dup
    spark.createDataFrame(
        [(11, base), (3, uniq)], "doc_id long, text string"
    ).coalesce(1).write.parquet(str(src / "b1.parquet"))
    spark.createDataFrame(
        [(1, base + " extra")], "doc_id long, text string"
    ).coalesce(1).write.parquet(str(src / "b2.parquet"))

    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src) + "/*.parquet")
    )
    out = lsh_band_dedup(minhash_band_exprs(stream, num_hashes=16, bands=4))
    q = (
        out.writeStream.format("memory")
        .queryName("t_lsh_desc")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    assert len(q.recentProgress) >= 2
    rows = spark.table("t_lsh_desc").collect()
    pairs = {(r.doc_id, r.canon_id) for r in rows}
    # the old canonical doc 11 must be demoted to a candidate of doc 1
    assert (11, 1) in pairs, pairs
    # the unique doc never appears
    assert all(3 not in p for p in pairs)


