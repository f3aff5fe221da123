"""Round-12 fixes (VERDICT r11 #3 + ADVICE r11).

Covers: (a) source_fingerprint fails loudly on a missing table and carries
a real content signal for Spark-written DIRECTORY tables, and (b) the
connected-components unconverged-exit guard raises instead of silently
returning wrong labels when max_iter is exhausted, next to the small-graph
fast path.
"""

from __future__ import annotations

import pytest

from breweries_data_engineering_case_spark.operators.components import (
    connected_components,
)
from breweries_data_engineering_case_spark.sources.readers import (
    source_fingerprint,
)


# ---------------------------------------------------------------------------
# (a) source_fingerprint hardening (ADVICE r11, medium)
# ---------------------------------------------------------------------------


def test_fingerprint_missing_table_raises(sf_dir):
    # a typo'd table name must fail loudly, not return a constant sentinel
    # that permanently disables staleness invalidation for that stage key
    with pytest.raises(FileNotFoundError, match="does not exist"):
        source_fingerprint(sf_dir, "lineitem_typo")


def test_fingerprint_file_table_changes_on_rewrite(tmp_path, spark):
    d = tmp_path / "sf"
    d.mkdir()
    spark.range(10).toPandas().to_parquet(d / "t.parquet")
    fp1 = source_fingerprint(str(d), "t")
    spark.range(20).toPandas().to_parquet(d / "t.parquet")
    fp2 = source_fingerprint(str(d), "t")
    assert fp1 != fp2


def test_fingerprint_dir_table_detects_part_file_rewrite(tmp_path, spark):
    """Spark-written tables are DIRECTORIES; the dir inode's st_size has no
    content signal, so the fingerprint must walk the part files — a rewrite
    that changes file contents is detected even if the dir mtime is forced
    back to its old value."""
    import os

    d = tmp_path / "sf"
    d.mkdir()
    p = d / "t.parquet"
    spark.range(100).write.mode("overwrite").parquet(str(p))
    st = os.stat(p)
    fp1 = source_fingerprint(str(d), "t")
    assert fp1 == source_fingerprint(str(d), "t")  # deterministic
    spark.range(200).write.mode("overwrite").parquet(str(p))
    # force the dir mtime back: only the part-file walk can tell the diff
    os.utime(p, ns=(st.st_atime_ns, st.st_mtime_ns))
    fp2 = source_fingerprint(str(d), "t")
    assert fp1 != fp2


# ---------------------------------------------------------------------------
# (b) unconverged-exit guard (VERDICT r11 #3)
# ---------------------------------------------------------------------------


def _cc(spark, pairs, vertex_ids, **kwargs):
    verts = spark.createDataFrame([(int(v),) for v in vertex_ids], "node bigint")
    edges = spark.createDataFrame(
        [(int(a), int(b)) for a, b in pairs], "id_a bigint, id_b bigint"
    )
    return connected_components(
        verts, lambda: edges, id_col="node", src_col="id_a", dst_col="id_b", **kwargs
    )


def test_cc_exhausted_unconverged_raises(spark, cc_distributed):
    # a 40-node chain cannot converge in one round; pre-round-12 the loop
    # fell through SILENTLY with wrong labels — at 100 TB a pathological
    # chain graph would corrupt the dedup keep/drop table with no signal
    n = 40
    # the guard's verification collect runs inside the operator, so the
    # raise happens at construction time — before wrong labels can escape
    with pytest.raises(RuntimeError, match="did not converge"):
        _cc(spark, [(i, i + 1) for i in range(n - 1)], range(n), max_iter=1)


def test_cc_local_fast_path_matches_distributed(spark, monkeypatch):
    """The small-graph fast path (driver union-find under LOCAL_THRESHOLD,
    VERDICT r11 #2) must produce the exact labels the distributed loop
    converges to — min vertex id per component, induced-subgraph edge
    restriction, singletons appended."""
    from breweries_data_engineering_case_spark.operators import components

    pairs = [(1, 2), (2, 3), (3, 4), (10, 11), (10, 12), (4, 99)]
    verts = [1, 2, 3, 4, 10, 11, 12, 50]  # 99 not a vertex → edge dropped
    components.PLAN_CAPTURE = cap = []
    try:
        local = {(r.node, r.component) for r in _cc(spark, pairs, verts).collect()}
        assert not cap, "a 10-edge graph left the driver fast path"
        monkeypatch.setattr(components, "LOCAL_THRESHOLD", 0)
        dist = {(r.node, r.component) for r in _cc(spark, pairs, verts).collect()}
    finally:
        components.PLAN_CAPTURE = None
    assert cap, "LOCAL_THRESHOLD = 0 did not run the distributed loop"
    assert local == dist == {
        (1, 1),
        (2, 1),
        (3, 1),
        (4, 1),
        (10, 10),
        (11, 10),
        (12, 10),
        (50, 50),
    }


def test_cc_over_threshold_takes_distributed_loop(spark, monkeypatch):
    """A graph whose symmetrized edge list exceeds LOCAL_THRESHOLD must run
    the distributed loop (observed via the PLAN_CAPTURE hook) — the fast
    path is strictly bounded, never a silent whole-graph collect."""
    from breweries_data_engineering_case_spark.operators import components

    n = 30  # chain: 29 edges → 58 symmetrized rows > threshold of 8
    monkeypatch.setattr(components, "LOCAL_THRESHOLD", 8)
    components.PLAN_CAPTURE = cap = []
    try:
        out = _cc(spark, [(i, i + 1) for i in range(n - 1)], range(n))
        got = {(r.node, r.component) for r in out.collect()}
    finally:
        components.PLAN_CAPTURE = None
    assert cap, "distributed loop did not run despite over-threshold graph"
    assert got == {(i, 0) for i in range(n)}


def test_cc_converged_graph_unaffected_by_guard(spark, cc_distributed):
    # a graph that converges inside max_iter never pays or trips the guard
    got = {
        (r.node, r.component)
        for r in _cc(spark, [(1, 2), (2, 3)], [1, 2, 3, 9], max_iter=10).collect()
    }
    assert got == {(1, 1), (2, 1), (3, 1), (9, 9)}


def test_fingerprint_ignores_transient_writer_dirs(tmp_path, spark):
    """A crashed/concurrent Spark overwrite leaves _temporary/ trees whose
    INNER part files carry plain names; folding them into the fingerprint
    would churn stage keys run-over-run (round-12 review) — the walk must
    prune '.'/'_' directories wholesale."""
    d = tmp_path / "sf"
    p = d / "t.parquet"
    p.mkdir(parents=True)
    (p / "part-0.parquet").write_bytes(b"data")
    fp1 = source_fingerprint(str(d), "t")
    junk = p / "_temporary" / "0" / "attempt_1"
    junk.mkdir(parents=True)
    (junk / "part-0.parquet").write_bytes(b"transient")
    assert source_fingerprint(str(d), "t") == fp1


def test_fingerprint_dir_walk_is_recursive(tmp_path, spark):
    """A rewrite confined INSIDE a hive-partition subdirectory must change
    the fingerprint (a shallow listdir of partition dirs carries no
    content signal — round-12 review)."""
    import os

    d = tmp_path / "sf"
    part = d / "t.parquet" / "ds=2024-01-01"
    part.mkdir(parents=True)
    f = part / "part-0.parquet"
    f.write_bytes(b"a" * 64)
    dstat, pstat = os.stat(d / "t.parquet"), os.stat(part)
    fp1 = source_fingerprint(str(d), "t")
    f.write_bytes(b"b" * 64)  # in-place rewrite, same name and size
    # force every DIRECTORY mtime back — only the recursive file walk
    # can tell the difference
    os.utime(part, ns=(pstat.st_atime_ns, pstat.st_mtime_ns))
    os.utime(d / "t.parquet", ns=(dstat.st_atime_ns, dstat.st_mtime_ns))
    assert source_fingerprint(str(d), "t") != fp1
