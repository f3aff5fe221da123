"""Ground-truth anchor for SemDeDup semantic deduplication: planted
near-duplicate embeddings in well-separated clusters must be dropped
(keep-min), singletons kept — and the decision must agree with an exact
all-pairs cosine sweep.
"""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from breweries_data_engineering_case_spark.operators.similarity import semantic_dedup

DIM = 64  # the integer planes of semantic_dedup are 64-dim

#: base axes of the three planted clusters: each base, its near-dup and its
#: distinct member (jittered toward axis + 3) share one 4-bit sign signature
#: of the md5-seeded integer planes, and the three signatures differ
AXES = (1, 6, 17)


def _unit(axis: int) -> list[float]:
    v = [0.0] * DIM
    v[axis] = 1.0
    return v


def _jitter(base: list[float], eps: float, axis: int) -> list[float]:
    # small rotation toward another axis: cosine to base = 1/sqrt(1+eps^2)
    v = list(base)
    v[axis] += eps
    n = math.sqrt(sum(x * x for x in v))
    return [x / n for x in v]


def test_planted_near_dups_dropped_keep_min(spark):
    rows = []
    # three well-separated clusters on AXES; each has a base vector, one
    # near-dup (cos ~ 0.995), and one distinct member (cos ~ 0.7)
    for c, axis in enumerate(AXES):
        base = _unit(axis)
        rows.append((c, base))
        rows.append((c + 3, _jitter(base, 0.1, axis + 3)))  # near-dup
        rows.append((c + 6, _jitter(base, 1.0, axis + 3)))  # distinct
    df = spark.createDataFrame(rows, "vec_id: long, embedding: array<double>")
    out = semantic_dedup(df, threshold=0.9, cluster_bits=4).collect()
    decisions = {r["id"]: r["keep"] for r in out}
    assert len(decisions) == 9
    assert len({r["cluster"] for r in out}) == 3
    for c in range(3):
        assert decisions[c] is True  # min id kept
        assert decisions[c + 3] is False  # near-dup dropped
        assert decisions[c + 6] is True  # distinct member kept


def test_agrees_with_exact_all_pairs_within_cluster(spark, sf_dir):
    emb = (
        spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        .limit(200)
    )
    got = semantic_dedup(emb, threshold=0.4, cluster_bits=3)
    rows = got.collect()
    by_cluster: dict[int, list[int]] = {}
    for r in rows:
        by_cluster.setdefault(r["cluster"], []).append(r["id"])
    vecs = {r["vec_id"]: r["embedding"] for r in emb.collect()}

    def cos(a, b):
        num = sum(x * y for x, y in zip(a, b))
        da = math.sqrt(sum(x * x for x in a))
        db = math.sqrt(sum(x * x for x in b))
        return num / (da * db) if da and db else 0.0

    expect = {}
    for cluster, ids in by_cluster.items():
        for i in sorted(ids):
            dropped = any(
                j < i and cos(vecs[i], vecs[j]) >= 0.4 for j in ids
            )
            expect[i] = not dropped
    got_map = {r["id"]: r["keep"] for r in rows}
    assert got_map == expect


def test_semantic_dedup_is_deterministic(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").limit(100)
    a = sorted(map(tuple, semantic_dedup(emb, threshold=0.4, cluster_bits=2).collect()))
    b = sorted(map(tuple, semantic_dedup(emb, threshold=0.4, cluster_bits=2).collect()))
    assert a == b


def test_registry_semantic_dedup_non_vacuous(spark, sf_dir):
    from breweries_data_engineering_case_spark.plans import registry

    out = registry.QUERIES["embedding_semantic_dedup"](spark, sf_dir)
    rows = out.collect()
    assert len(rows) > 0
    dropped = [r for r in rows if not r["keep"]]
    kept = [r for r in rows if r["keep"]]
    assert kept, "keep-min must keep at least one vector per cluster"
    assert dropped, "threshold 0.4 must drop something on the test corpus"
