"""Embedding operations: ANN search (brute/LSH/IVF), near-dup, semantic dedup, quantization, k-means kernels."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..caching import cached
from ..operators.similarity import (
    cosine_topk,
    cosine_topk_ivf,
    embedding_near_dup_pairs,
    semantic_dedup,
)
from ..sources.readers import table_scan

from .qshared import register



# ---------------------------------------------------------------------------
# similarity search (LLM-pipeline extension)
# ---------------------------------------------------------------------------

_ANN_ORACLE = """
    WITH p AS (
      SELECT q.vec_id AS query_id, v.vec_id AS neighbor_id,
             UNNEST(q.embedding) AS qe, UNNEST(v.embedding) AS ve,
             UNNEST(range(len(q.embedding))) AS i
      FROM embeddings q, embeddings v
      WHERE q.vec_id < 5 AND v.vec_id <> q.vec_id
    ),
    d AS (
      SELECT query_id, neighbor_id,
             SUM(CAST(qe AS DOUBLE) * CAST(ve AS DOUBLE) ORDER BY i) AS dot,
             SUM(CAST(qe AS DOUBLE) * CAST(qe AS DOUBLE) ORDER BY i) AS qn,
             SUM(CAST(ve AS DOUBLE) * CAST(ve AS DOUBLE) ORDER BY i) AS vn
      FROM p GROUP BY query_id, neighbor_id
    ),
    s AS (
      SELECT query_id, neighbor_id, dot / (sqrt(qn) * sqrt(vn)) AS score,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY dot / (sqrt(qn) * sqrt(vn)) DESC,
                                         neighbor_id) AS rank
      FROM d
    )
    SELECT query_id, neighbor_id, score, CAST(rank AS INT) AS rank
    FROM s WHERE rank <= 10
"""


@register("ann_cosine_topk", _ANN_ORACLE)
def q_ann_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact brute-force cosine top-10 for 5 query vectors over the whole
    embedding corpus. Bit-identical to the oracle: both engines fold the
    dot/norm sums in array-index order in double precision (verified
    element-wise). Query side broadcast; corpus never shuffles until the
    tiny window top-k."""
    emb = table_scan(spark, sf_dir, "embeddings")
    queries_df = emb.filter(F.col("vec_id") < 5)
    return cosine_topk(emb, queries_df, k=10)


def _lsh_band_cte(tag: str, total_bits: int, bits_per_band: int) -> str:
    """Shared CTE text replicating the portable integer-hyperplane LSH
    bucketing (operators/similarity.int_hyperplane_bits over
    quantize_embedding): md5-seeded integer planes over 64 dimensions, int64
    fixed-point projections, per-band sign-bit packing. Expects the `embeddings` view;
    yields a `band (vec_id, band_idx, band_sig)` CTE."""
    arms = " ".join(f"WHEN {r} THEN {1 << r}" for r in range(bits_per_band))
    return f"""planes AS (
      SELECT b, j,
             CAST(concat('0x', substr(md5('{tag}:' || CAST(b AS VARCHAR)
                  || ':' || CAST(j AS VARCHAR)), 1, 15)) AS BIGINT)
               % 2001 - 1000 AS w
      FROM UNNEST(range({total_bits})) AS tb(b), UNNEST(range(64)) AS tj(j)
    ),
    e AS (
      SELECT vec_id, i AS j,
             CAST(ROUND(CAST(x AS DOUBLE) * 1000000) AS BIGINT) AS qx
      FROM (SELECT vec_id, UNNEST(embedding) AS x,
                   UNNEST(range(len(embedding))) AS i FROM embeddings)
    ),
    proj AS (
      SELECT e.vec_id, p.b AS bit, SUM(e.qx * p.w) AS s
      FROM e JOIN planes p ON e.j = p.j
      GROUP BY e.vec_id, p.b
    ),
    band AS (
      SELECT vec_id, CAST(bit // {bits_per_band} AS INT) AS band_idx,
             CAST(SUM(CASE WHEN s >= 0 THEN
                  CASE CAST(bit % {bits_per_band} AS INT) {arms} ELSE 0 END
                  ELSE 0 END) AS BIGINT) AS band_sig
      FROM proj GROUP BY vec_id, bit // {bits_per_band}
    )"""


_ANN_LSH_ORACLE = """
    WITH """ + _lsh_band_cte("annlsh", 32, 4) + """,
    cand AS (
      SELECT DISTINCT qb.vec_id AS query_id, cb.vec_id AS neighbor_id
      FROM band qb JOIN band cb
        ON qb.band_idx = cb.band_idx AND qb.band_sig = cb.band_sig
      WHERE qb.vec_id < 5 AND cb.vec_id <> qb.vec_id
    ),
    p AS (
      SELECT c.query_id, c.neighbor_id,
             UNNEST(q.embedding) AS qe, UNNEST(v.embedding) AS ve,
             UNNEST(range(len(q.embedding))) AS i
      FROM cand c JOIN embeddings q ON q.vec_id = c.query_id
                  JOIN embeddings v ON v.vec_id = c.neighbor_id
    ),
    d AS (
      SELECT query_id, neighbor_id,
             SUM(CAST(qe AS DOUBLE) * CAST(ve AS DOUBLE) ORDER BY i) AS dot,
             SUM(CAST(qe AS DOUBLE) * CAST(qe AS DOUBLE) ORDER BY i) AS qn,
             SUM(CAST(ve AS DOUBLE) * CAST(ve AS DOUBLE) ORDER BY i) AS vn
      FROM p GROUP BY query_id, neighbor_id
    ),
    s AS (
      SELECT query_id, neighbor_id, dot / (sqrt(qn) * sqrt(vn)) AS score,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY dot / (sqrt(qn) * sqrt(vn)) DESC,
                                         neighbor_id) AS rank
      FROM d
    )
    SELECT query_id, neighbor_id, score, CAST(rank AS INT) AS rank
    FROM s WHERE rank <= 10
"""


@register("ann_cosine_topk_lsh", _ANN_LSH_ORACLE)
def q_ann_cosine_topk_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-bucketed ANN (8 bands × 4 sign bits), now on the PORTABLE
    integer-hyperplane base — fully value-checked, not rows-only: planes are
    md5-seeded integers, embeddings are int64 fixed-point quantized, so the
    projection sums are exact integers (order-independent) and the oracle
    regenerates the identical buckets, candidate set, scores and ranks in
    SQL. Candidates only from matching buckets, then exact cosine re-score
    (index-ordered double fold, bitwise cross-engine). Its recall against
    exact top-k is anchored in tests/test_ann_recall.py."""
    from ..operators.similarity import cosine_topk_lsh

    emb = table_scan(spark, sf_dir, "embeddings")
    queries_df = emb.filter(F.col("vec_id") < 5)
    return cosine_topk_lsh(emb, queries_df, k=10)


@register(
    "ann_cosine_topk_ivf",
    """
    SELECT vec_id AS query_id,
           CAST(10 AS BIGINT) AS n_exact,
           TRUE AS recall_pass
    FROM embeddings WHERE vec_id < 5
    """,
)
def q_ann_cosine_topk_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-bucketed ANN recall witness: the exact int64 k-means quantizer of
    ``cosine_topk_ivf`` (8 inverted lists, each query probes its 2 nearest),
    measured against the exact brute-force top-10 that rides the same plan.
    ``recall_pass`` asserts IVF recall@10 ≥ 0.5 per query (at least 7 of 10
    found at sf0.001, sf0.01 and sf0.1); the oracle asserts every query id
    reaches the bound. The IVF neighbors themselves are value-checked in
    ``ann_cosine_topk_ivf_portable``."""
    emb = table_scan(spark, sf_dir, "embeddings")
    queries_df = emb.filter(F.col("vec_id") < 5)
    ivf = cosine_topk_ivf(emb, queries_df, k=10)
    exact = cosine_topk(emb, queries_df, k=10).select(
        "query_id", "neighbor_id"
    )
    hits = (
        exact.join(
            ivf.select("query_id", "neighbor_id", F.lit(1).alias("__hit")),
            on=["query_id", "neighbor_id"],
            how="left",
        )
        .groupBy("query_id")
        .agg(
            F.count(F.lit(1)).alias("n_exact"),
            F.sum(F.coalesce(F.col("__hit"), F.lit(0))).alias("__n_hits"),
        )
    )
    return hits.select(
        "query_id",
        "n_exact",
        (F.col("__n_hits") * 2 >= F.col("n_exact")).alias("recall_pass"),
    )


_NEAR_DUP_LSH_ORACLE = """
    WITH """ + _lsh_band_cte("embnd", 32, 4) + """,
    cand AS (
      SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
      FROM band a JOIN band b
        ON a.band_idx = b.band_idx AND a.band_sig = b.band_sig
           AND a.vec_id < b.vec_id
    ),
    p AS (
      SELECT c.id_a, c.id_b,
             UNNEST(x.embedding) AS xa, UNNEST(y.embedding) AS xb,
             UNNEST(range(len(x.embedding))) AS i
      FROM cand c JOIN embeddings x ON x.vec_id = c.id_a
                  JOIN embeddings y ON y.vec_id = c.id_b
    ),
    d AS (
      SELECT id_a, id_b,
             SUM(CAST(xa AS DOUBLE) * CAST(xb AS DOUBLE) ORDER BY i) AS dot,
             SUM(CAST(xa AS DOUBLE) * CAST(xa AS DOUBLE) ORDER BY i) AS na,
             SUM(CAST(xb AS DOUBLE) * CAST(xb AS DOUBLE) ORDER BY i) AS nb
      FROM p GROUP BY id_a, id_b
    )
    SELECT id_a, id_b, dot / (sqrt(na) * sqrt(nb)) AS score
    FROM d WHERE dot / (sqrt(na) * sqrt(nb)) >= 0.4
"""


@register("embedding_near_dup", _NEAR_DUP_LSH_ORACLE)
def q_embedding_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs via LSH candidates + exact
    verify; O(N²) never materializes. Now on the PORTABLE integer-plane
    base with a full value oracle (upgraded from rows-only): the DuckDB
    replay regenerates the exact buckets, candidate pairs, and verified
    scores. Threshold 0.4 sits inside the test corpus's actual similarity
    regime (max pairwise cosine ≈ 0.51 — the synthetic embeddings carry no
    planted dups), so the check is non-vacuous; precision is 1.0 by
    construction (every pair is exactly re-scored) and recall vs the exact
    twin is asserted in tests/test_ann_recall.py. Production threshold
    (0.9+) is exercised with planted near-dups there."""
    emb = table_scan(spark, sf_dir, "embeddings")
    return embedding_near_dup_pairs(emb, threshold=0.4, bits_per_band=4)


_NEAR_DUP_EXACT_ORACLE = """
    WITH d AS (
      SELECT a.vec_id AS id_a, b.vec_id AS id_b,
             list_dot_product(CAST(a.embedding AS DOUBLE[]),
                              CAST(b.embedding AS DOUBLE[])) AS dot,
             list_dot_product(CAST(a.embedding AS DOUBLE[]),
                              CAST(a.embedding AS DOUBLE[])) AS na,
             list_dot_product(CAST(b.embedding AS DOUBLE[]),
                              CAST(b.embedding AS DOUBLE[])) AS nb
      FROM embeddings a, embeddings b
      WHERE a.vec_id < b.vec_id
    )
    SELECT id_a, id_b, dot / (sqrt(na) * sqrt(nb)) AS score
    FROM d WHERE dot / (sqrt(na) * sqrt(nb)) >= 0.4
"""
# list_dot_product over DOUBLE[] folds in index order — verified bitwise
# identical to the explicit SUM(.. ORDER BY i) formulation on all 1225
# sf0.01 test pairs — and avoids the 128M-row UNNEST explosion that made
# the old oracle OOM DuckDB at sf0.1.


@register("embedding_near_dup_exact", _NEAR_DUP_EXACT_ORACLE)
def q_embedding_near_dup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact all-pairs near-dup twin (bitwise oracle-checked): the ground
    truth the LSH path is measured against. O(N²) by design — the
    verification primitive, not the scale path (that's embedding_near_dup).
    Same index-ordered double fold as the oracle ⇒ bit-identical scores."""
    from ..functions.vectors import cosine

    emb = table_scan(spark, sf_dir, "embeddings")
    a = emb.select(F.col("vec_id").alias("id_a"), F.col("embedding").alias("__va"))
    b = emb.select(F.col("vec_id").alias("id_b"), F.col("embedding").alias("__vb"))
    return (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", cosine("__va", "__vb").alias("score"))
        .filter(F.col("score") >= 0.4)
    )


@register(
    "embedding_quantize_int8",
    """
    WITH s AS (
      SELECT vec_id, embedding,
             list_max(list_transform(embedding,
                                     x -> abs(CAST(x AS DOUBLE)))) AS scale
      FROM embeddings
    )
    SELECT vec_id, scale,
           array_to_string(list_transform(embedding,
             x -> CAST(FLOOR(CAST(x AS DOUBLE) * 127.0 / NULLIF(scale, 0.0))
                       AS INTEGER)), ',') AS q
    FROM s
    """,
)
def q_embedding_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric int8 embedding quantization (per-vector absmax scaling) —
    the 4× storage/bandwidth compression step before ANN indexing at scale.
    The scale is materialized as a COLUMN before the per-element lambda so
    it is computed once per vector, not once per element (the higher-order-
    function O(n²) trap); floor keeps rounding engine-portable. The int8
    vector is emitted as a comma-joined string so the driver's value-hash
    (which cannot hash array columns) covers every element."""
    emb = table_scan(spark, sf_dir, "embeddings")
    scaled = emb.select(
        "vec_id",
        "embedding",
        F.array_max(F.transform("embedding", lambda x: F.abs(x.cast("double")))).alias(
            "scale"
        ),
    )
    q = F.transform(
        "embedding",
        lambda x: F.floor(
            x.cast("double") * F.lit(127.0) / F.nullif(F.col("scale"), F.lit(0.0))
        ).cast("int"),
    )
    return scaled.select("vec_id", "scale", F.array_join(q, ",").alias("q"))


_SEMDD_PORTABLE_ORACLE = """
    WITH """ + _lsh_band_cte("semdd", 4, 4) + """,
    cl AS (SELECT vec_id AS id, band_sig AS cluster FROM band),
    pr AS (
      SELECT l.id AS id, r.id AS rid
      FROM cl l JOIN cl r ON l.cluster = r.cluster AND l.id > r.id
    ),
    p AS (
      SELECT pr.id, pr.rid,
             UNNEST(x.embedding) AS xa, UNNEST(y.embedding) AS xb,
             UNNEST(range(len(x.embedding))) AS i
      FROM pr JOIN embeddings x ON x.vec_id = pr.id
              JOIN embeddings y ON y.vec_id = pr.rid
    ),
    d AS (
      SELECT id, rid,
             SUM(CAST(xa AS DOUBLE) * CAST(xb AS DOUBLE) ORDER BY i) AS dot,
             SUM(CAST(xa AS DOUBLE) * CAST(xa AS DOUBLE) ORDER BY i) AS na,
             SUM(CAST(xb AS DOUBLE) * CAST(xb AS DOUBLE) ORDER BY i) AS nb
      FROM p GROUP BY id, rid
    ),
    dr AS (
      SELECT DISTINCT id FROM d
      WHERE dot / (sqrt(na) * sqrt(nb)) >= 0.4
    )
    SELECT cl.id, cl.cluster, dr.id IS NULL AS keep
    FROM cl LEFT JOIN dr ON cl.id = dr.id
"""


@register("embedding_semantic_dedup", _SEMDD_PORTABLE_ORACLE)
def q_embedding_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup semantic dedup over the embeddings table: 16 integer-plane
    clusters, within-cluster cosine >= 0.4 to a lower id → drop (keep-min).
    Emits ALL vectors with a keep flag so the driver row is never vacuous;
    planted-duplicate recovery is asserted in tests/test_semantic_dedup.py.
    Same operator and oracle as ``embedding_semantic_dedup_portable``."""
    emb = table_scan(spark, sf_dir, "embeddings")
    return semantic_dedup(emb, threshold=0.4, cluster_bits=4).orderBy("id")


_POWER_ITER = """
    t{k} AS (
      SELECT i, CAST(SUM(CAST(ROUND(x * v * 1e12) AS BIGINT)) AS DOUBLE)
               / 1e12 AS t
      FROM el JOIN v{p} USING (j) GROUP BY i
    ),
    s{k} AS (
      SELECT j, CAST(SUM(CAST(ROUND(t{k}.t * el.x * 1e12) AS BIGINT))
                     AS DOUBLE) / 1e12 AS s
      FROM el JOIN t{k} USING (i) GROUP BY j
    ),
    u{k} AS (
      SELECT j, s / (SELECT MAX(ABS(s)) FROM s{k}) AS u FROM s{k}
    ),
    n{k} AS (
      SELECT SQRT(CAST(SUM(CAST(ROUND(u * u * 1e15) AS BIGINT)) AS DOUBLE)
                  / 1e15) AS nrm
      FROM u{k}
    ),
    v{k} AS (SELECT j, u / nrm AS v FROM u{k} CROSS JOIN n{k})"""


@register(
    "embedding_top_pc_power_iter",
    """
    WITH el AS (
      SELECT vec_id AS i, CAST(u.j AS INT) AS j,
             CAST(embedding[u.j + 1] AS DOUBLE) AS x
      FROM embeddings, UNNEST(range(64)) AS u(j)
    ),
    v0 AS (SELECT CAST(j AS INT) AS j, CAST(0.125 AS DOUBLE) AS v
           FROM UNNEST(range(64)) AS t(j)),"""
    + _POWER_ITER.format(k=1, p=0) + ","
    + _POWER_ITER.format(k=2, p=1) + """
    SELECT j, v AS component FROM v2
    """,
)
def q_embedding_top_pc_power_iter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DISTRIBUTED POWER-ITERATION kernel (2 unrolled steps of
    v ← normalize(Xᵀ(Xv)) from the exact uniform start 1/√64 = 0.125) over
    the embedding matrix: the linear-algebra primitive behind PCA
    whitening, spectral embedding-outlier pruning, and drift checks — done
    with NO ML library and no driver-side matrix. (Convergence to the top
    eigenvector needs ~1/(1−λ₂/λ₁) steps; the synthetic embeddings are
    near-isotropic (λ₂/λ₁ ≈ 0.98), so 2 steps demonstrate the KERNEL —
    tests/test_power_iteration.py replays the same 2 steps in numpy and
    matches to 1e-9; production would loop until the Rayleigh quotient
    stabilizes, same plan per step.) Shape: the
    matrix lives EXPLODED as (row, dim, value); each iteration is two
    partial-agg shuffles (Xv: group by row; Xᵀt: group by dim) and a 64-row
    broadcast of the current vector — at 100 TB the vector state is still
    64 rows and nothing quadratic ever materializes. Determinism: every
    per-element product is one IEEE double op and every REDUCTION runs in
    12-decimal FIXED POINT — round to an integer, sum BIGINTs (exact,
    order-independent), convert back (int64→double is correctly rounded in
    both engines, the 10^k rescales are exactly-representable divisors, and
    the pre-normalization divides by the exact order-free MAX|s| so the
    norm quantization is always relative to [-1, 1] components) — so Spark
    and DuckDB agree bit-for-bit on an iterative float algorithm. High-scale DECIMAL sums do NOT work here: DuckDB's
    int128-decimal→double conversion double-rounds and drifts a ulp
    (measured); int64 fixed point is the portable reduction. Headroom:
    |term|·10^12 ≲ 10^15 per element and n ≲ 10^3 per partial — at larger
    n shrink the fixed-point scale or tree-aggregate."""
    emb = table_scan(spark, sf_dir, "embeddings")
    el = emb.select(
        F.col("vec_id").alias("i"),
        F.posexplode("embedding"),
    ).select(
        "i", F.col("pos").alias("j"), F.col("col").cast("double").alias("x")
    )
    el = el.transform(cached)

    def fx_sum(col, scale):
        """Fixed-point exact sum: round(col·scale) → BIGINT → Σ → double/scale."""
        return (
            F.sum(F.round(col * F.lit(float(scale))).cast("long"))
            .cast("double")
            / F.lit(float(scale))
        )

    v = None  # v0 is the constant 0.125; fold it into the first Xv pass
    for _k in range(2):
        if v is None:
            xv = el.select("i", (F.col("x") * F.lit(0.125)).alias("p"))
        else:
            xv = el.join(F.broadcast(v), "j").select(
                "i", (F.col("x") * F.col("v")).alias("p")
            )
        t = xv.groupBy("i").agg(fx_sum(F.col("p"), 10**12).alias("t"))
        s = (
            el.join(t, "i")
            .select("j", (F.col("t") * F.col("x")).alias("c"))
            .groupBy("j")
            .agg(fx_sum(F.col("c"), 10**12).alias("s"))
        )
        # scale-free normalization: divide by the exact (order-free) max
        # |s| first so the fixed-point norm quantization is always relative
        # to components in [-1, 1] — a constant prescale would crush
        # precision whenever s is small.
        w_all = Window.orderBy(F.lit(1)).rowsBetween(
            Window.unboundedPreceding, Window.unboundedFollowing
        )
        u = s.select(
            "j",
            (F.col("s") / F.max(F.abs(F.col("s"))).over(w_all)).alias("u"),
        )
        nrm = F.sqrt(
            F.sum(
                F.round(F.col("u") * F.col("u") * F.lit(1e15)).cast("long")
            ).over(w_all)
            .cast("double")
            / F.lit(1e15)
        )
        v = u.select("j", (F.col("u") / nrm).alias("v"))
    return v.select("j", F.col("v").alias("component"))


@register(
    "kmeans_lloyd_step_int",
    """
    WITH e AS (
      SELECT vec_id, i, CAST(ROUND(CAST(x AS DOUBLE) * 1000000) AS BIGINT) AS qx
      FROM (SELECT vec_id, UNNEST(embedding) AS x,
                   UNNEST(range(len(embedding))) AS i FROM embeddings)
    ),
    c AS (SELECT vec_id AS cid, i, qx AS cx FROM e WHERE vec_id < 8),
    d AS (
      SELECT e.vec_id, c.cid,
             CAST(SUM((e.qx - c.cx) * (e.qx - c.cx)) AS BIGINT) AS dist
      FROM e JOIN c ON e.i = c.i GROUP BY e.vec_id, c.cid
    ),
    a AS (
      SELECT vec_id, cid,
             ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
      FROM d
    )
    SELECT a.cid AS cluster, CAST(e.i AS INT) AS i,
           CAST(SUM(e.qx) AS BIGINT) AS comp_sum,
           CAST(COUNT(*) AS BIGINT) AS n_members
    FROM a JOIN e ON e.vec_id = a.vec_id
    WHERE a.rn = 1
    GROUP BY a.cid, e.i
    """,
)
def q_kmeans_lloyd_step_int(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One exact Lloyd iteration of k-means in int64 fixed point — the
    distributed-ML kernel under cosine_topk_ivf's quantizer, bitwise
    oracle-checkable: embeddings quantize to int64
    (ROUND(x·10⁶), the NOTES portable-reduction idiom), the 8 seed
    centroids (vec_id < 8) broadcast, squared-L2 distances fold as exact
    integers JVM-side (zip_with + aggregate — no UDF), argmin tiebreaks
    on centroid id via min(struct(dist, cid)), and the update step emits
    exactly what a distributed k-means shuffles: per-(cluster, dim)
    partial SUMs + member counts — the merge-ready partial aggregate (the
    mean is sum/count downstream; emitting sums avoids the floor-vs-trunc
    division divergence on negative components). Overflow-audited:
    |qx| ≤ 5.8e5 ⇒ dist ≤ 64·(1.2e6)² ≈ 8.6e13; comp_sum grows with
    members·5.8e5 (int64-safe past 10¹² rows per cluster)."""
    emb = table_scan(spark, sf_dir, "embeddings")
    from ..operators.similarity import quantize_embedding

    q = emb.select("vec_id", quantize_embedding("embedding").alias("qv"))
    cents = q.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("cid"), F.col("qv").alias("cv")
    )
    diff = F.zip_with("qv", "cv", lambda a, b: (a - b) * (a - b))
    dist = F.aggregate(diff, F.lit(0).cast("long"), lambda acc, x: acc + x)
    scored = q.crossJoin(F.broadcast(cents)).select(
        "vec_id", "qv", "cid", dist.alias("dist")
    )
    best = (
        scored.groupBy("vec_id")
        .agg(F.min(F.struct("dist", "cid", "qv")).alias("m"))
        .select(F.col("m.cid").alias("cluster"), F.col("m.qv").alias("qv"))
    )
    return (
        best.select("cluster", F.posexplode("qv").alias("i", "qx"))
        .groupBy("cluster", "i")
        .agg(
            F.sum("qx").alias("comp_sum"),
            F.count(F.lit(1)).alias("n_members"),
        )
    )


@register("embedding_semantic_dedup_portable", _SEMDD_PORTABLE_ORACLE)
def q_embedding_semantic_dedup_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup with the integer-plane coarse quantizer: 16 clusters from
    the 4-bit exact integer projection signature, keep-min within cluster
    at cosine ≥ 0.4 (index-ordered double fold, bitwise cross-engine). The
    whole decision pipeline — cluster assignment, candidate pairs, verify,
    keep flags — is value-checked against the DuckDB replay. Emits ALL
    vectors with keep flags so the row is never vacuous."""
    emb = table_scan(spark, sf_dir, "embeddings")
    return semantic_dedup(emb, threshold=0.4, cluster_bits=4)


@register(
    "kmeans_lloyd_converge_int",
    """
    WITH e AS (
      SELECT vec_id, i, CAST(ROUND(CAST(x AS DOUBLE) * 1000000) AS BIGINT) AS qx
      FROM (SELECT vec_id, UNNEST(embedding) AS x,
                   UNNEST(range(len(embedding))) AS i FROM embeddings)
    ),
    c0 AS (SELECT vec_id AS cid, i, qx AS cx FROM e WHERE vec_id < 8),
    d1 AS (
      SELECT e.vec_id, c0.cid,
             CAST(SUM((e.qx - c0.cx) * (e.qx - c0.cx)) AS BIGINT) AS dist
      FROM e JOIN c0 ON e.i = c0.i GROUP BY e.vec_id, c0.cid
    ),
    a1 AS (
      SELECT vec_id, cid,
             ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
      FROM d1
    ),
    s1 AS (
      SELECT a1.cid AS cluster, e.i, CAST(SUM(e.qx) AS BIGINT) AS s,
             COUNT(*) AS n
      FROM a1 JOIN e ON e.vec_id = a1.vec_id
      WHERE a1.rn = 1 GROUP BY a1.cid, e.i
    ),
    c1 AS (SELECT cluster AS cid, i, CAST(s // n AS BIGINT) AS cx FROM s1),
    d2 AS (
      SELECT e.vec_id, c1.cid,
             CAST(SUM((e.qx - c1.cx) * (e.qx - c1.cx)) AS BIGINT) AS dist
      FROM e JOIN c1 ON e.i = c1.i GROUP BY e.vec_id, c1.cid
    ),
    a2 AS (
      SELECT vec_id, cid,
             ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
      FROM d2
    )
    SELECT a2.cid AS cluster, CAST(e.i AS INT) AS i,
           CAST(SUM(e.qx) AS BIGINT) AS comp_sum,
           CAST(COUNT(*) AS BIGINT) AS n_members
    FROM a2 JOIN e ON e.vec_id = a2.vec_id
    WHERE a2.rn = 1
    GROUP BY a2.cid, e.i
    """,
)
def q_kmeans_lloyd_converge_int(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TWO Lloyd iterations with an actual centroid UPDATE between them —
    the convergent distributed-k-means loop (assign → update → reassign),
    still bitwise oracle-checkable end to end: the iteration-1 partial
    sums/counts become iteration-2 centroids via integer division, which
    truncates identically in Spark (`div`) and DuckDB (`//`, verified on
    negatives — both are trunc-toward-zero, NOT Python floor), so the
    updated centroids, the second assignment, and the final partials all
    replay exactly in SQL. Shape per iteration: quantized corpus (persisted
    once, scanned per iteration — the PageRank iteration discipline) with
    the ≤8 centroids INLINED as literal vectors into a row-level
    argmin — `array_min` over (dist, cid) structs, the same
    lexicographic order as the previous min(struct(dist, cid, qv))
    groupBy (qv is constant per row and cid unique, so the comparison
    never reaches qv). Optimization round r14 (guide §2.3/§5): the
    crossJoin+groupBy assign replicated every row k× and SHUFFLED the
    full vector payload per iteration — at scale that is k·|corpus|
    vector bytes over the network, twice; row-level argmin moves zero
    rows. The iteration-1 partial sums (≤k·dim rows) are collected and
    the centroid update `s div n` replays with trunc-toward-zero
    division (component sums CAN be negative — Python // floors, so the
    helper mirrors SQL div exactly). Only the dim-sized partial-sum
    groupBys shuffle. Clusters emptied by an iteration drop out of the
    collected centroid set identically. Oracle MATCH ×3 SFs + the numpy
    two-iteration replay test are the equivalence proof."""
    emb = table_scan(spark, sf_dir, "embeddings")
    from ..operators.similarity import quantize_embedding

    q0 = emb.select("vec_id", quantize_embedding("embedding").alias("qv")).transform(cached)

    def assign_lit(centers: list[tuple[int, list[int]]]) -> DataFrame:
        structs = ", ".join(
            "named_struct('dist', aggregate(zip_with(qv, array("
            + ",".join(f"{x}L" for x in cv)
            + "), (a, b) -> (a - b) * (a - b)), 0L, (acc, x) -> acc + x), "
            f"'cid', {cid}L)"
            for cid, cv in centers
        )
        m = F.expr(f"array_min(array({structs}))")
        return q0.select("vec_id", m["cid"].alias("cluster"), "qv")

    from ..operators.agg import bounded_collect

    cents0 = sorted(
        (r["vec_id"], list(r["qv"]))
        for r in bounded_collect(
            q0.filter(F.col("vec_id") < 8).select("vec_id", "qv"),
            8,
            "kmeans_lloyd_converge_int seed centroids (vec_id < 8 over a "
            "unique id ⇒ ≤8 rows)",
        )
    )
    if not cents0:  # empty corpus: both assignments are empty
        return spark.createDataFrame(
            [], "cluster bigint, i int, comp_sum bigint, n_members bigint"
        )
    a1 = assign_lit(cents0)
    s1 = bounded_collect(
        a1.select("cluster", F.posexplode("qv").alias("i", "qx"))
        .groupBy("cluster", "i")
        .agg(F.sum("qx").alias("s"), F.count(F.lit(1)).alias("n")),
        8 * 4096,
        "kmeans_lloyd_converge_int iteration-1 partial sums (k·dim rows, "
        "k = 8 clusters × embedding dim ≤ 4096)",
    )

    from ..operators.agg import trunc_div as _tdiv

    by_cid: dict[int, dict[int, int]] = {}
    for r in s1:
        by_cid.setdefault(r["cluster"], {})[r["i"]] = _tdiv(r["s"], r["n"])
    cents1 = sorted(
        (cid, [comp[i] for i in sorted(comp)]) for cid, comp in by_cid.items()
    )
    a2 = assign_lit(cents1)
    return (
        a2.select("cluster", F.posexplode("qv").alias("i", "qx"))
        .groupBy("cluster", "i")
        .agg(F.sum("qx").alias("comp_sum"), F.count(F.lit(1)).alias("n_members"))
    )


_IVF_PORTABLE_ORACLE = """
    WITH e AS (
      SELECT vec_id, i, CAST(ROUND(CAST(x AS DOUBLE) * 1000000) AS BIGINT) AS qx
      FROM (SELECT vec_id, UNNEST(embedding) AS x,
                   UNNEST(range(len(embedding))) AS i FROM embeddings)
    ),
    c0 AS (SELECT vec_id AS cid, i, qx AS cx FROM e WHERE vec_id < 8),
    d1 AS (
      SELECT e.vec_id, c0.cid,
             CAST(SUM((e.qx - c0.cx) * (e.qx - c0.cx)) AS BIGINT) AS dist
      FROM e JOIN c0 ON e.i = c0.i GROUP BY e.vec_id, c0.cid
    ),
    a1 AS (
      SELECT vec_id, cid,
             ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
      FROM d1
    ),
    s1 AS (
      SELECT a1.cid AS cluster, e.i, CAST(SUM(e.qx) AS BIGINT) AS s,
             COUNT(*) AS n
      FROM a1 JOIN e ON e.vec_id = a1.vec_id
      WHERE a1.rn = 1 GROUP BY a1.cid, e.i
    ),
    c1 AS (SELECT cluster AS cid, i, CAST(s // n AS BIGINT) AS cx FROM s1),
    d2 AS (
      SELECT e.vec_id, c1.cid,
             CAST(SUM((e.qx - c1.cx) * (e.qx - c1.cx)) AS BIGINT) AS dist
      FROM e JOIN c1 ON e.i = c1.i GROUP BY e.vec_id, c1.cid
    ),
    members AS (
      SELECT vec_id, cid FROM (
        SELECT vec_id, cid,
               ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
        FROM d2) WHERE rn = 1
    ),
    probe AS (
      SELECT vec_id, cid FROM (
        SELECT vec_id, cid,
               ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
        FROM d2 WHERE vec_id < 5) WHERE rn <= 2
    ),
    cand AS (
      SELECT DISTINCT p.vec_id AS query_id, m.vec_id AS neighbor_id
      FROM probe p JOIN members m ON m.cid = p.cid
      WHERE m.vec_id <> p.vec_id
    ),
    pairs AS (
      SELECT c.query_id, c.neighbor_id,
             UNNEST(x.embedding) AS xa, UNNEST(y.embedding) AS xb,
             UNNEST(range(len(x.embedding))) AS i
      FROM cand c JOIN embeddings x ON x.vec_id = c.query_id
                  JOIN embeddings y ON y.vec_id = c.neighbor_id
    ),
    sc AS (
      SELECT query_id, neighbor_id,
             SUM(CAST(xa AS DOUBLE) * CAST(xb AS DOUBLE) ORDER BY i) AS dot,
             SUM(CAST(xa AS DOUBLE) * CAST(xa AS DOUBLE) ORDER BY i) AS na,
             SUM(CAST(xb AS DOUBLE) * CAST(xb AS DOUBLE) ORDER BY i) AS nb
      FROM pairs GROUP BY query_id, neighbor_id
    ),
    ranked AS (
      SELECT query_id, neighbor_id,
             dot / (sqrt(na) * sqrt(nb)) AS score,
             ROW_NUMBER() OVER (PARTITION BY query_id
                  ORDER BY dot / (sqrt(na) * sqrt(nb)) DESC, neighbor_id)
               AS rank
      FROM sc
    )
    SELECT query_id, neighbor_id, score, CAST(rank AS INT) AS rank
    FROM ranked WHERE rank <= 10
"""


@register("ann_cosine_topk_ivf_portable", _IVF_PORTABLE_ORACLE)
def q_ann_cosine_topk_ivf_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN on the exact integer coarse quantizer
    (operators/similarity.cosine_topk_ivf): centroids come from one exact
    int64 Lloyd update (the bitwise-checked kernel of
    kmeans_lloyd_converge_int: deterministic init on vec_id<8, integer
    distance folds, trunc-consistent `div` mean), so the inverted lists,
    the queries' top-2 probe lists, the candidate set, and the exact
    re-scored ranks (index-ordered double fold) all replay in plain SQL.
    Recall vs the exact baseline is asserted in tests/test_ann_recall.py."""
    emb = table_scan(spark, sf_dir, "embeddings")
    return cosine_topk_ivf(emb, emb.filter(F.col("vec_id") < 5), k=10)


@register(
    "embedding_matryoshka_recall",
    """
    WITH temb AS (
      SELECT vec_id, list_slice(embedding, 1, 16) AS embedding
      FROM embeddings
    ),
    pf AS (
      SELECT q.vec_id AS query_id, v.vec_id AS neighbor_id,
             UNNEST(q.embedding) AS qe, UNNEST(v.embedding) AS ve,
             UNNEST(range(len(q.embedding))) AS i
      FROM embeddings q, embeddings v
      WHERE q.vec_id < 5 AND v.vec_id <> q.vec_id
    ),
    df_ AS (
      SELECT query_id, neighbor_id,
             SUM(CAST(qe AS DOUBLE) * CAST(ve AS DOUBLE) ORDER BY i) AS dot,
             SUM(CAST(qe AS DOUBLE) * CAST(qe AS DOUBLE) ORDER BY i) AS qn,
             SUM(CAST(ve AS DOUBLE) * CAST(ve AS DOUBLE) ORDER BY i) AS vn
      FROM pf GROUP BY query_id, neighbor_id
    ),
    f AS (
      SELECT query_id, neighbor_id FROM (
        SELECT query_id, neighbor_id,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY dot / (sqrt(qn) * sqrt(vn)) DESC,
                                           neighbor_id) AS rank
        FROM df_
      ) WHERE rank <= 5
    ),
    pt AS (
      SELECT q.vec_id AS query_id, v.vec_id AS neighbor_id,
             UNNEST(q.embedding) AS qe, UNNEST(v.embedding) AS ve,
             UNNEST(range(len(q.embedding))) AS i
      FROM temb q, temb v
      WHERE q.vec_id < 5 AND v.vec_id <> q.vec_id
    ),
    dt AS (
      SELECT query_id, neighbor_id,
             SUM(CAST(qe AS DOUBLE) * CAST(ve AS DOUBLE) ORDER BY i) AS dot,
             SUM(CAST(qe AS DOUBLE) * CAST(qe AS DOUBLE) ORDER BY i) AS qn,
             SUM(CAST(ve AS DOUBLE) * CAST(ve AS DOUBLE) ORDER BY i) AS vn
      FROM pt GROUP BY query_id, neighbor_id
    ),
    t AS (
      SELECT query_id, neighbor_id FROM (
        SELECT query_id, neighbor_id,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY dot / (sqrt(qn) * sqrt(vn)) DESC,
                                           neighbor_id) AS rank
        FROM dt
      ) WHERE rank <= 5
    )
    SELECT f.query_id,
           CAST(COUNT(t.neighbor_id) AS BIGINT) AS hits_at_5,
           CAST(COUNT(t.neighbor_id) * 1000 // 5 AS BIGINT) AS recall_permille
    FROM f LEFT JOIN t
      ON t.query_id = f.query_id AND t.neighbor_id = f.neighbor_id
    GROUP BY f.query_id
    """,
)
def q_embedding_matryoshka_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dimension-truncation (Matryoshka) ablation — the evaluation every
    embedding-serving team runs before shipping truncated vectors: exact
    cosine top-5 on the FULL 64-dim corpus vs the same search on the
    first-16-dim prefix, reported as per-query recall@5 in integer
    per-mille. Both searches reuse the deterministic `cosine_topk`
    operator (index-ordered double folds, neighbor_id tiebreaks — the
    `ann_cosine_topk` machinery), so the recall table is bitwise
    reproducible; the truncated side is `F.slice(embedding, 1, 16)` ≡
    DuckDB `list_slice`. Exact search is quadratic BY SPECIFICATION (it
    is the ground-truth harness; the serving path is the LSH/IVF family);
    queries broadcast, corpus streams."""
    emb = table_scan(spark, sf_dir, "embeddings")
    full = cosine_topk(emb, emb.filter(F.col("vec_id") < 5), k=5).select(
        "query_id", "neighbor_id"
    )
    temb = emb.select(
        "vec_id", F.slice("embedding", 1, 16).alias("embedding")
    )
    trunc = cosine_topk(temb, temb.filter(F.col("vec_id") < 5), k=5).select(
        F.col("query_id").alias("q2"), F.col("neighbor_id").alias("n2")
    )
    return (
        full.join(
            trunc,
            (full["query_id"] == trunc["q2"])
            & (full["neighbor_id"] == trunc["n2"]),
            "left",
        )
        .groupBy("query_id")
        .agg(F.count("n2").alias("hits_at_5"))
        .selectExpr(
            "query_id",
            "hits_at_5",
            "hits_at_5 * 1000 div 5 AS recall_permille",
        )
    )


@register(
    "embedding_gram_matrix_int",
    """
    WITH e AS (
      SELECT vec_id, CAST(i AS INT) AS i,
             CAST(ROUND(CAST(x AS DOUBLE) * 1000000) AS BIGINT) AS qx
      FROM (SELECT vec_id, UNNEST(embedding[1:16]) AS x,
                   UNNEST(range(16)) AS i FROM embeddings)
    )
    SELECT a.i, b.i AS j, CAST(SUM(a.qx * b.qx) AS BIGINT) AS gram
    FROM e a JOIN e b ON a.vec_id = b.vec_id AND b.i >= a.i
    GROUP BY a.i, b.i
    """,
)
def q_embedding_gram_matrix_int(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed Gram matrix X'X over the 16-dim embedding prefix — THE
    building block of distributed PCA / covariance / closed-form least
    squares (the matrix the power-iteration query implicitly multiplies
    by): 136 upper-triangle cells in exact int64 fixed point (·10⁶
    quantization, the kmeans idiom). The Spark plan is the shape that
    matters at 100 TB: each row expands to its 136 cell-products JVM-side
    via nested transform() + flatten (NO self-join, NO per-row Python),
    then one 136-key partial-agg shuffle — total network traffic is
    O(cells × partitions), independent of row count. The oracle replays it
    as a positional self-join, which is fine for DuckDB but would be the
    wrong Spark plan (it shuffles the whole exploded table). Products
    overflow int64 only past ~10¹⁸ cell mass — recenter or decimal-sum
    beyond ~10⁹ rows."""
    e = table_scan(spark, sf_dir, "embeddings")
    cells = e.selectExpr(
        # Spark array subscripts are 0-based (DuckDB's are 1-based); the
        # quantized components are computed once into q, then paired.
        "explode(flatten(transform(sequence(0, 15), i -> "
        "  transform(sequence(i, 15), j -> named_struct("
        "    'i', i, 'j', j, 'p', "
        "    CAST(ROUND(CAST(embedding[i] AS DOUBLE) * 1000000) AS BIGINT)"
        "    * CAST(ROUND(CAST(embedding[j] AS DOUBLE) * 1000000) AS BIGINT)"
        "  ))))) AS c"
    )
    return (
        cells.select("c.i", "c.j", "c.p")
        .groupBy("i", "j")
        .agg(F.sum("p").alias("gram"))
    )


@register(
    "hybrid_search_rrf",
    r"""
    WITH toks AS (
      SELECT doc_id, UNNEST(string_split_regex(TRIM(text), '\s+')) AS token
      FROM documents
    ),
    tf AS (
      SELECT doc_id, token, CAST(COUNT(*) AS BIGINT) AS tf
      FROM toks WHERE token IN ('spark', 'join', 'window')
      GROUP BY doc_id, token
    ),
    df AS (SELECT token, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY token),
    n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents),
    lexscore AS (
      SELECT tf.doc_id,
             CAST(SUM((tf.tf * n_docs * 1000000) // df.df) AS BIGINT) AS lex
      FROM tf JOIN df USING (token) CROSS JOIN n
      GROUP BY tf.doc_id
    ),
    lextop AS (
      SELECT doc_id, lex FROM lexscore ORDER BY lex DESC, doc_id LIMIT 50
    ),
    lexrank AS (
      SELECT doc_id,
             ROW_NUMBER() OVER (ORDER BY lex DESC, doc_id) AS r FROM lextop
    ),
    q AS (
      SELECT i, CAST(ROUND(CAST(x AS DOUBLE) * 1000000) AS BIGINT) AS qc
      FROM (SELECT UNNEST(embedding) AS x, UNNEST(range(len(embedding))) AS i
            FROM embeddings WHERE vec_id = 0)
    ),
    comp AS (
      SELECT vec_id, i,
             CAST(ROUND(CAST(x AS DOUBLE) * 1000000) AS BIGINT) AS xc
      FROM (SELECT vec_id, UNNEST(embedding) AS x,
                   UNNEST(range(len(embedding))) AS i
            FROM embeddings WHERE vec_id <> 0)
    ),
    dots AS (
      SELECT comp.vec_id AS doc_id, CAST(SUM(comp.xc * q.qc) AS BIGINT) AS dot
      FROM comp JOIN q ON q.i = comp.i GROUP BY comp.vec_id
    ),
    vectop AS (
      SELECT doc_id, dot FROM dots ORDER BY dot DESC, doc_id LIMIT 50
    ),
    vecrank AS (
      SELECT doc_id,
             ROW_NUMBER() OVER (ORDER BY dot DESC, doc_id) AS r FROM vectop
    ),
    fused AS (
      SELECT COALESCE(l.doc_id, v.doc_id) AS doc_id,
             CAST(COALESCE(1000000000 // (60 + l.r), 0)
                  + COALESCE(1000000000 // (60 + v.r), 0) AS BIGINT) AS rrf_nano,
             CAST(l.r AS BIGINT) AS lex_rank, CAST(v.r AS BIGINT) AS vec_rank
      FROM lexrank l FULL OUTER JOIN vecrank v ON v.doc_id = l.doc_id
    )
    SELECT doc_id, rrf_nano, lex_rank, vec_rank
    FROM fused ORDER BY rrf_nano DESC, doc_id LIMIT 10
    """,
)
def q_hybrid_search_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval via Reciprocal Rank Fusion (Cormack et al. 2009) —
    the standard way RAG stacks merge a lexical ranking with a vector
    ranking without score calibration: RRF(d) = Σ 1/(60 + rank_m(d)) over
    the modalities that retrieved d. The lexical leg ranks by the integer
    linear-idf sum (tf·N·10⁶/df per query term); the vector leg by the
    exact int64 quantized dot product against the vec_id-0 probe; both
    take top-50 via distributed TakeOrdered FIRST, so the rank windows run
    over 50 pre-bounded rows (O(k) through one task — not a global window
    over the corpus), then fuse on a full-outer join with 1/(60+r) floored
    to nano units. Missing-from-one-list docs get that leg's contribution
    as 0, per standard RRF-over-union. At 100 TB each leg is the already-
    proven retrieval shape (BM25 scan / ANN); fusion touches only 2×50
    rows."""
    d = table_scan(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", F.explode(F.split(F.trim(F.col("text")), r"\s+")).alias("token")
    )
    tf = (
        toks.filter(F.col("token").isin("spark", "join", "window"))
        .groupBy("doc_id", "token")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    df_t = tf.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
    n = d.agg(F.count(F.lit(1)).alias("n_docs"))
    lexscore = (
        tf.join(F.broadcast(df_t), "token")
        .crossJoin(F.broadcast(n))
        .selectExpr("doc_id", "(tf * n_docs * 1000000) div df AS part")
        .groupBy("doc_id")
        .agg(F.sum("part").alias("lex"))
    )
    lextop = lexscore.orderBy(F.desc("lex"), "doc_id").limit(50)
    lexrank = lextop.select(
        "doc_id",
        F.row_number()
        .over(Window.orderBy(F.desc("lex"), "doc_id"))
        .alias("lr"),
    )
    emb = table_scan(spark, sf_dir, "embeddings")
    qvec = emb.filter(F.col("vec_id") == 0).select(
        F.expr(
            "transform(embedding, x -> CAST(ROUND(CAST(x AS DOUBLE) * 1000000)"
            " AS BIGINT))"
        ).alias("qv")
    )
    dots = (
        emb.filter(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(qvec))
        .selectExpr(
            "vec_id AS doc_id",
            "aggregate(zip_with(embedding, qv, (x, q) -> "
            "  CAST(ROUND(CAST(x AS DOUBLE) * 1000000) AS BIGINT) * q),"
            "  CAST(0 AS BIGINT), (acc, v) -> acc + v) AS dot",
        )
    )
    vectop = dots.orderBy(F.desc("dot"), "doc_id").limit(50)
    vecrank = vectop.select(
        "doc_id",
        F.row_number()
        .over(Window.orderBy(F.desc("dot"), "doc_id"))
        .alias("vr"),
    )
    fused = (
        lexrank.join(vecrank, "doc_id", "full_outer")
        .selectExpr(
            "doc_id",
            "COALESCE(1000000000 div (60 + lr), 0)"
            " + COALESCE(1000000000 div (60 + vr), 0) AS rrf_nano",
            "CAST(lr AS BIGINT) AS lex_rank",
            "CAST(vr AS BIGINT) AS vec_rank",
        )
    )
    return fused.orderBy(F.desc("rrf_nano"), "doc_id").limit(10)


@register(
    "embedding_pq_adc_recall",
    """
    WITH e AS (
      SELECT vec_id, CAST(i AS INT) AS i, CAST(i // 8 AS INT) AS sub,
             CAST(ROUND(CAST(x AS DOUBLE) * 1000000) AS BIGINT) AS qx
      FROM (SELECT vec_id, UNNEST(embedding) AS x,
                   UNNEST(range(len(embedding))) AS i FROM embeddings)
    ),
    cb AS (SELECT vec_id AS code, i, sub, qx AS cx FROM e WHERE vec_id < 16),
    corpus AS (SELECT * FROM e WHERE vec_id >= 24),
    queries AS (SELECT * FROM e WHERE vec_id BETWEEN 16 AND 18),
    subdist AS (
      SELECT c.vec_id, c.sub, cb.code,
             CAST(SUM((c.qx - cb.cx) * (c.qx - cb.cx)) AS BIGINT) AS d
      FROM corpus c JOIN cb ON cb.i = c.i
      GROUP BY c.vec_id, c.sub, cb.code
    ),
    enc AS (
      SELECT vec_id, sub, code, d,
             ROW_NUMBER() OVER (PARTITION BY vec_id, sub
                                ORDER BY d, code) AS rn
      FROM subdist
    ),
    codes AS (SELECT vec_id, sub, code FROM enc WHERE rn = 1),
    qsub AS (
      SELECT q.vec_id AS qid, q.sub, cb.code,
             CAST(SUM((q.qx - cb.cx) * (q.qx - cb.cx)) AS BIGINT) AS d
      FROM queries q JOIN cb ON cb.i = q.i
      GROUP BY q.vec_id, q.sub, cb.code
    ),
    adc AS (
      SELECT qs.qid, c.vec_id, CAST(SUM(qs.d) AS BIGINT) AS dist
      FROM codes c
      JOIN qsub qs ON qs.sub = c.sub AND qs.code = c.code
      GROUP BY qs.qid, c.vec_id
    ),
    adctop AS (
      SELECT qid, vec_id,
             ROW_NUMBER() OVER (PARTITION BY qid ORDER BY dist, vec_id) AS rn
      FROM adc
    ),
    exact AS (
      SELECT q.vec_id AS qid, c.vec_id,
             CAST(SUM((q.qx - c.qx) * (q.qx - c.qx)) AS BIGINT) AS dist
      FROM queries q JOIN corpus c ON c.i = q.i
      GROUP BY q.vec_id, c.vec_id
    ),
    exacttop AS (
      SELECT qid, vec_id,
             ROW_NUMBER() OVER (PARTITION BY qid ORDER BY dist, vec_id) AS rn
      FROM exact
    )
    SELECT a.qid AS query_id,
           CAST(COUNT(x.vec_id) AS BIGINT) AS n_hits,
           CAST(COUNT(x.vec_id) * 100 AS BIGINT) AS recall_permille
    FROM (SELECT * FROM adctop WHERE rn <= 10) a
    LEFT JOIN (SELECT * FROM exacttop WHERE rn <= 10) x
      ON x.qid = a.qid AND x.vec_id = a.vec_id
    GROUP BY a.qid
    """,
)
def q_embedding_pq_adc_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product quantization with asymmetric distance computation (Jégou et
    al. 2011) — the memory-compressed ANN path that completes the family
    (exact / LSH / IVF / matryoshka / now PQ): 64 dims split into 8
    subspaces, a 16-entry codebook per subspace (deterministically
    'trained' on the first 16 vectors — the kmeans seeds idiom), corpus
    vectors encode to 8 codes by exact-int argmin (tiebreak on code id),
    and query→corpus distance is the ADC sum of query-to-centroid
    subdistances looked up by code — 8 lookups instead of 64 component
    ops, and the corpus stores 8 bytes instead of 256. Recall@10 against
    the exact int64 L2 top-10 is the emitted metric (×100 = permille,
    exact) — LOW on this corpus by construction: the embeddings are
    unstructured (near-uniform) and the codebook is 16 raw seeds, so
    quantization error dominates — the same honest-measurement story as
    embedding_matryoshka_recall (a real deployment trains the codebook;
    kmeans_lloyd_converge_int is the drop-in). Shape: encoding is one
    corpus⋈codebook join grouped per
    (vector, subspace) — partial-agg, linear; ADC reuses the 8×16
    query-side table broadcast; top-10s are per-query windows over the
    scored table. At 100 TB the LUT join IS the PQ scan."""
    e = table_scan(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.posexplode(
            F.expr(
                "transform(embedding, x ->"
                " CAST(ROUND(CAST(x AS DOUBLE) * 1000000) AS BIGINT))"
            )
        ).alias("i", "qx"),
    ).select(
        "vec_id",
        F.col("i").cast("int").alias("i"),
        (F.col("i") / 8).cast("int").alias("sub"),
        "qx",
    )
    cb = e.filter(F.col("vec_id") < 16).select(
        F.col("vec_id").alias("code"), "i", F.col("sub").alias("csub"), F.col("qx").alias("cx")
    )
    corpus = e.filter(F.col("vec_id") >= 24)
    queries = e.filter(F.col("vec_id").between(16, 18))
    subdist = (
        corpus.join(F.broadcast(cb), "i")
        .groupBy("vec_id", "sub", "code")
        .agg(F.sum((F.col("qx") - F.col("cx")) * (F.col("qx") - F.col("cx"))).alias("d"))
    )
    wenc = Window.partitionBy("vec_id", "sub").orderBy("d", "code")
    codes = (
        subdist.withColumn("rn", F.row_number().over(wenc))
        .filter(F.col("rn") == 1)
        .select("vec_id", "sub", "code")
    )
    qsub = (
        queries.join(F.broadcast(cb), "i")
        .groupBy(F.col("vec_id").alias("qid"), "sub", "code")
        .agg(F.sum((F.col("qx") - F.col("cx")) * (F.col("qx") - F.col("cx"))).alias("d"))
    )
    adc = (
        codes.join(F.broadcast(qsub), ["sub", "code"])
        .groupBy("qid", "vec_id")
        .agg(F.sum("d").alias("dist"))
    )
    wtop = Window.partitionBy("qid").orderBy("dist", "vec_id")
    adctop = (
        adc.withColumn("rn", F.row_number().over(wtop))
        .filter(F.col("rn") <= 10)
        .select("qid", "vec_id")
    )
    qside = queries.select(
        F.col("vec_id").alias("qid"), F.col("i").alias("qi"), F.col("qx").alias("qqx")
    )
    exact = (
        corpus.join(F.broadcast(qside), F.col("i") == F.col("qi"))
        .groupBy("qid", "vec_id")
        .agg(
            F.sum((F.col("qqx") - F.col("qx")) * (F.col("qqx") - F.col("qx"))).alias(
                "dist"
            )
        )
    )
    exacttop = (
        exact.withColumn("rn", F.row_number().over(wtop))
        .filter(F.col("rn") <= 10)
        .select(F.col("qid").alias("xqid"), F.col("vec_id").alias("xvid"))
    )
    j = adctop.join(
        exacttop,
        (F.col("xqid") == F.col("qid")) & (F.col("xvid") == F.col("vec_id")),
        "left",
    )
    return j.groupBy(F.col("qid").alias("query_id")).agg(
        F.count("xvid").alias("n_hits"),
        (F.count("xvid") * 100).alias("recall_permille"),
    )


@register(
    "embedding_norm_audit",
    """
    WITH q AS (
      SELECT vec_id,
             CAST(SUM(CAST(ROUND(CAST(x AS DOUBLE) * 1000000) AS BIGINT)
                      * CAST(ROUND(CAST(x AS DOUBLE) * 1000000) AS BIGINT))
                  AS HUGEINT) AS norm2
      FROM (SELECT vec_id, UNNEST(embedding) AS x FROM embeddings)
      GROUP BY vec_id
    ),
    m AS (SELECT CAST(SUM(norm2) // COUNT(*) AS HUGEINT) AS mean_norm2,
                 CAST(COUNT(*) AS BIGINT) AS n FROM q)
    SELECT CAST(q.vec_id AS BIGINT) AS vec_id,
           CAST(q.norm2 AS BIGINT) AS norm2_micro2,
           CAST(m.mean_norm2 AS BIGINT) AS corpus_mean_norm2,
           (q.norm2 * 2 < m.mean_norm2 OR q.norm2 > m.mean_norm2 * 2)
             AS is_outlier
    FROM q CROSS JOIN m
    """,
)
def q_embedding_norm_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-quality norm audit — the cheapest real check on an
    embedding column (zero vectors, collapsed encoders, and scale bugs
    all show up as norm outliers before any ANN index is built): exact
    int64-quantized squared norms per vector, corpus mean by integer
    floor, and a cross-multiplied outlier flag (norm² outside [mean/2,
    2·mean] — no division per row, no float). One map + one scalar
    broadcast; the flag column makes downstream quarantine a filter."""
    e = table_scan(spark, sf_dir, "embeddings")
    q = e.selectExpr(
        "vec_id",
        "aggregate(transform(embedding, x ->"
        "  CAST(ROUND(CAST(x AS DOUBLE) * 1000000) AS BIGINT)"
        "  * CAST(ROUND(CAST(x AS DOUBLE) * 1000000) AS BIGINT)),"
        "  CAST(0 AS DECIMAL(38,0)), (acc, v) -> acc + v) AS norm2",
    )
    m = q.agg(
        F.expr("CAST(SUM(norm2) div COUNT(*) AS DECIMAL(38,0))").alias(
            "mean_norm2"
        ),
        F.count(F.lit(1)).alias("n"),
    )
    return q.crossJoin(F.broadcast(m)).selectExpr(
        "CAST(vec_id AS BIGINT) AS vec_id",
        "CAST(norm2 AS BIGINT) AS norm2_micro2",
        "CAST(mean_norm2 AS BIGINT) AS corpus_mean_norm2",
        "(norm2 * 2 < mean_norm2 OR norm2 > mean_norm2 * 2) AS is_outlier",
    )


@register(
    "embedding_centroid_shift_by_label",
    """
    WITH e AS (
      SELECT vec_id, label, vec_id % 2 AS half, i,
             CAST(ROUND(CAST(x AS DOUBLE) * 1000000) AS BIGINT) AS qx
      FROM (SELECT vec_id, label, UNNEST(embedding) AS x,
                   UNNEST(range(len(embedding))) AS i FROM embeddings)
    ),
    s AS (
      SELECT label, CAST(i AS INT) AS i,
             CAST(SUM(CASE WHEN half = 0 THEN qx ELSE 0 END) AS BIGINT) AS s0,
             CAST(SUM(CASE WHEN half = 1 THEN qx ELSE 0 END) AS BIGINT) AS s1
      FROM e GROUP BY label, i
    ),
    n AS (
      SELECT label,
             CAST(COUNT(DISTINCT CASE WHEN half = 0 THEN vec_id END)
                  AS BIGINT) AS n0,
             CAST(COUNT(DISTINCT CASE WHEN half = 1 THEN vec_id END)
                  AS BIGINT) AS n1
      FROM e GROUP BY label
    )
    SELECT s.label, n.n0 AS n_half0, n.n1 AS n_half1,
           CAST(CASE WHEN n.n0 = 0 OR n.n1 = 0 THEN NULL
                ELSE SUM((CAST(s.s0 AS HUGEINT) * n.n1
                          - CAST(s.s1 AS HUGEINT) * n.n0)
                         * (CAST(s.s0 AS HUGEINT) * n.n1
                            - CAST(s.s1 AS HUGEINT) * n.n0))
                     // (CAST(n.n0 AS HUGEINT) * n.n0 * n.n1 * n.n1)
           END AS BIGINT) AS shift_sq_micro2
    FROM s JOIN n ON n.label = s.label
    GROUP BY s.label, n.n0, n.n1
    """,
)
def q_embedding_centroid_shift_by_label(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding drift monitor — per label, the squared distance between
    the centroids of two data halves (by vec_id parity — the stand-in for
    train-window vs serve-window): ‖S₀/n₀ − S₁/n₁‖², held EXACT by
    clearing denominators per dimension — Σ(S₀n₁−S₁n₀)²/(n₀n₁)² in
    HUGEINT/DECIMAL(38), one floor at the end. A drifting encoder or
    shifting data mix shows up here before any downstream metric moves —
    the embedding twin of the tabular drift family. One explode + one
    (label, dim) partial agg; the 64-dim centroid tables are broadcast-
    scale forever."""
    e = table_scan(spark, sf_dir, "embeddings").select(
        "vec_id",
        "label",
        F.pmod(F.col("vec_id"), F.lit(2)).alias("half"),
        F.posexplode(
            F.expr(
                "transform(embedding, x ->"
                " CAST(ROUND(CAST(x AS DOUBLE) * 1000000) AS BIGINT))"
            )
        ).alias("i", "qx"),
    )
    s = e.groupBy("label", F.col("i").cast("int").alias("i")).agg(
        F.sum(F.when(F.col("half") == 0, F.col("qx")).otherwise(0)).alias("s0"),
        F.sum(F.when(F.col("half") == 1, F.col("qx")).otherwise(0)).alias("s1"),
    )
    n = (
        table_scan(spark, sf_dir, "embeddings")
        .groupBy("label")
        .agg(
            F.countDistinct(
                F.when(F.pmod(F.col("vec_id"), F.lit(2)) == 0, F.col("vec_id"))
            ).alias("n0"),
            F.countDistinct(
                F.when(F.pmod(F.col("vec_id"), F.lit(2)) == 1, F.col("vec_id"))
            ).alias("n1"),
        )
    )
    return (
        s.join(F.broadcast(n), "label")
        .groupBy("label", "n0", "n1")
        .agg(
            F.sum(
                F.expr(
                    "(CAST(s0 AS DECIMAL(38,0)) * n1"
                    " - CAST(s1 AS DECIMAL(38,0)) * n0)"
                    " * (CAST(s0 AS DECIMAL(38,0)) * n1"
                    "    - CAST(s1 AS DECIMAL(38,0)) * n0)"
                )
            ).alias("num")
        )
        .selectExpr(
            "label",
            "n0 AS n_half0",
            "n1 AS n_half1",
            "CAST(CASE WHEN n0 = 0 OR n1 = 0 THEN NULL"
            " ELSE num div (CAST(n0 AS DECIMAL(38,0)) * n0 * n1 * n1)"
            " END AS BIGINT) AS shift_sq_micro2",
        )
    )


@register(
    "embedding_knn_label_accuracy",
    """
    WITH p AS (
      SELECT q.vec_id AS query_id, v.vec_id AS neighbor_id,
             UNNEST(q.embedding) AS qe, UNNEST(v.embedding) AS ve,
             UNNEST(range(len(q.embedding))) AS i
      FROM embeddings q, embeddings v
      WHERE q.vec_id < 50 AND v.vec_id <> q.vec_id
    ),
    d AS (
      SELECT query_id, neighbor_id,
             SUM(CAST(qe AS DOUBLE) * CAST(ve AS DOUBLE) ORDER BY i) AS dot,
             SUM(CAST(qe AS DOUBLE) * CAST(qe AS DOUBLE) ORDER BY i) AS qn,
             SUM(CAST(ve AS DOUBLE) * CAST(ve AS DOUBLE) ORDER BY i) AS vn
      FROM p GROUP BY query_id, neighbor_id
    ),
    s AS (
      SELECT query_id, neighbor_id,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY dot / (sqrt(qn) * sqrt(vn)) DESC,
                                         neighbor_id) AS rank
      FROM d
    ),
    nn AS (SELECT query_id, neighbor_id FROM s WHERE rank <= 5),
    votes AS (
      SELECT nn.query_id, e.label, CAST(COUNT(*) AS BIGINT) AS cnt
      FROM nn JOIN embeddings e ON nn.neighbor_id = e.vec_id
      GROUP BY nn.query_id, e.label
    ),
    pred AS (
      SELECT query_id, label AS pred_label
      FROM (SELECT query_id, label,
                   ROW_NUMBER() OVER (PARTITION BY query_id
                                      ORDER BY cnt DESC, label) AS r
            FROM votes)
      WHERE r = 1
    )
    SELECT CAST(e.label AS INT) AS true_label,
           CAST(COUNT(*) AS BIGINT) AS n_queries,
           CAST(COUNT(*) FILTER (pred.pred_label = e.label) AS BIGINT)
             AS n_correct,
           COUNT(*) FILTER (pred.pred_label = e.label) * 1000 // COUNT(*)
             AS accuracy_permille
    FROM pred JOIN embeddings e ON pred.query_id = e.vec_id
    GROUP BY e.label
    """,
)
def q_embedding_knn_label_accuracy(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """k-NN label-vote classifier accuracy — the leave-one-out evaluation
    a labeled embedding corpus gets before anyone trusts the labels (and
    the standard probe for embedding quality: if 5-NN majority vote can't
    recover a vector's own label, the space doesn't separate classes).
    50 probe vectors ride the exact brute-force cosine top-k kernel
    (operators/similarity.cosine_topk — probe side broadcast, corpus
    streamed, fold-ordered double sums bitwise equal to the oracle);
    the 250-row neighbor list joins labels, majority-votes per probe
    (ties break to the smaller label), and the leave-one-out comparison
    aggregates per true label in exact integers. At 100 TB only the
    scoring pass touches the corpus; votes and verdicts are O(k·probes)."""
    from ..operators.similarity import cosine_topk

    emb = table_scan(spark, sf_dir, "embeddings")
    labels = emb.select("vec_id", "label")
    probes = emb.filter(F.col("vec_id") < 50)
    nn = cosine_topk(emb, probes, k=5).select("query_id", "neighbor_id")
    votes = (
        labels.join(F.broadcast(nn), labels.vec_id == F.col("neighbor_id"))
        .groupBy("query_id", "label")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cnt"), F.asc("label"))
    pred = (
        votes.withColumn("r", F.row_number().over(w))
        .filter(F.col("r") == 1)
        .select("query_id", F.col("label").alias("pred_label"))
    )
    truth = labels.select(
        F.col("vec_id").alias("query_id"), F.col("label").alias("true_label")
    )
    return (
        truth.join(F.broadcast(pred), "query_id")
        .groupBy("true_label")
        .agg(
            F.count(F.lit(1)).alias("n_queries"),
            F.sum(
                F.when(F.col("pred_label") == F.col("true_label"), 1).otherwise(0)
            ).alias("n_correct"),
        )
        .selectExpr(
            "CAST(true_label AS INT) AS true_label",
            "n_queries",
            "n_correct",
            "n_correct * 1000 div n_queries AS accuracy_permille",
        )
    )


@register(
    "embedding_centroid_silhouette",
    """
    WITH q AS (
      SELECT vec_id, label, i,
             CAST(ROUND(CAST(x AS DOUBLE) * 1000000) AS BIGINT) AS qx
      FROM (SELECT vec_id, label, UNNEST(embedding) AS x,
                   UNNEST(range(len(embedding))) AS i FROM embeddings)
    ),
    cent AS (
      SELECT label AS clabel, i,
             CAST(SUM(qx) AS DOUBLE) / COUNT(*) AS c
      FROM q GROUP BY label, i
    ),
    dist AS (
      SELECT q.vec_id, q.label, cent.clabel,
             sqrt(SUM((qx - c) * (qx - c) ORDER BY q.i)) AS d
      FROM q JOIN cent ON q.i = cent.i
      GROUP BY q.vec_id, q.label, cent.clabel
    ),
    ab AS (
      SELECT vec_id, label,
             MAX(CASE WHEN clabel = label THEN d END) AS a,
             MIN(CASE WHEN clabel <> label THEN d END) AS b
      FROM dist GROUP BY vec_id, label
    ),
    sil AS (
      SELECT vec_id, label,
             CASE WHEN GREATEST(a, b) = 0 THEN 0.0
                  ELSE (b - a) / GREATEST(a, b) END AS s
      FROM ab
    ),
    ranked AS (
      SELECT label, s,
             ROW_NUMBER() OVER (PARTITION BY label ORDER BY s) AS rn,
             COUNT(*) OVER (PARTITION BY label) AS n
      FROM sil
    )
    SELECT CAST(label AS INT) AS label, CAST(MAX(n) AS BIGINT) AS n_vecs,
           CAST(SUM(CASE WHEN s > 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_positive,
           MAX(CASE WHEN rn = (n + 1) // 2 THEN s END) AS median_silhouette
    FROM ranked GROUP BY label
    """,
)
def q_embedding_centroid_silhouette(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Centroid silhouette per label — the clustering-quality score
    (b−a)/max(a,b) with a = distance to the OWN-label centroid and b =
    distance to the nearest OTHER centroid, the standard simplified
    silhouette that avoids the O(n²) pairwise original. Determinism is
    engineered end-to-end: embeddings quantize to int64 fixed-point, so
    per-label centroid SUMS are exact integers (summation-order-free);
    the single divide per component and the index-ordered distance fold
    (zip_with + aggregate ≡ the oracle's SUM ... ORDER BY i) are then
    bitwise reproducible; and the per-label summary reports the MEDIAN
    silhouette (an order statistic — deterministic) plus the exact count
    of positive-silhouette vectors, instead of a float mean that would
    drift with aggregation order. Corpus × 10 broadcast centroids; all
    windows partition by label."""
    from ..operators.similarity import quantize_embedding

    emb = table_scan(spark, sf_dir, "embeddings").select(
        "vec_id", "label", quantize_embedding("embedding").alias("qv")
    )
    n_dim = 64
    cent = (
        emb.select(
            "label", F.posexplode("qv").alias("i", "qx")
        )
        .groupBy("label", "i")
        .agg((F.sum("qx").cast("double") / F.count(F.lit(1))).alias("c"))
        .groupBy("label")
        .agg(
            F.transform(
                F.sort_array(F.collect_list(F.struct("i", "c"))),
                lambda s: s["c"],
            ).alias("cvec")
        )
        .select(F.col("label").alias("clabel"), "cvec")
    )
    dist = emb.crossJoin(F.broadcast(cent)).select(
        "vec_id",
        "label",
        "clabel",
        F.sqrt(
            F.aggregate(
                F.zip_with(
                    "qv", "cvec", lambda x, c: (x - c) * (x - c)
                ),
                F.lit(0.0),
                lambda acc, v: acc + v,
            )
        ).alias("d"),
    )
    ab = dist.groupBy("vec_id", "label").agg(
        F.max(F.when(F.col("clabel") == F.col("label"), F.col("d"))).alias("a"),
        F.min(F.when(F.col("clabel") != F.col("label"), F.col("d"))).alias("b"),
    )
    s = F.when(F.greatest("a", "b") == 0, F.lit(0.0)).otherwise(
        (F.col("b") - F.col("a")) / F.greatest("a", "b")
    )
    sil = ab.select("vec_id", "label", s.alias("s"))
    wl = Window.partitionBy("label")
    ranked = sil.select(
        "label",
        "s",
        F.row_number().over(wl.orderBy("s")).alias("rn"),
        F.count(F.lit(1)).over(wl).alias("n"),
    )
    return ranked.groupBy("label").agg(
        F.max("n").alias("n_vecs"),
        F.sum(F.when(F.col("s") > 0, 1).otherwise(0)).alias("n_positive"),
        F.max(
            F.when(F.col("rn") == F.expr("(n + 1) div 2"), F.col("s"))
        ).alias("median_silhouette"),
    ).select(
        F.col("label").cast("int").alias("label"),
        "n_vecs",
        "n_positive",
        "median_silhouette",
    )


def _jl_signs(out_dims: int = 16, in_dims: int = 64) -> list[list[int]]:
    """Deterministic Rademacher (±1) projection matrix: sign(j,d) from the
    parity of the portable 60-bit md5 of "j_d" — the same public formula
    the DuckDB oracle evaluates in SQL, so both engines build the
    identical matrix from nothing but the dimension indices."""
    import hashlib as _hl

    return [
        [
            1
            if int(_hl.md5(f"{j}_{d}".encode()).hexdigest()[:15], 16) % 2
            == 0
            else -1
            for d in range(in_dims)
        ]
        for j in range(out_dims)
    ]


@register(
    "embedding_jl_projection_distortion",
    """
    WITH q AS (
      SELECT vec_id,
             list_transform(embedding,
               x -> CAST(ROUND(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS q
      FROM embeddings WHERE vec_id < 20
    ),
    e AS (
      SELECT vec_id, UNNEST(q) AS qe, UNNEST(range(len(q))) AS d FROM q
    ),
    signs AS (
      SELECT j.j, d.d,
             CASE WHEN CAST(concat('0x', substr(md5(CAST(j.j AS VARCHAR)
                  || '_' || CAST(d.d AS VARCHAR)), 1, 15)) AS BIGINT)
                  % 2 = 0 THEN 1 ELSE -1 END AS s
      FROM (SELECT UNNEST(range(16)) AS j) j,
           (SELECT UNNEST(range(64)) AS d) d
    ),
    y AS (
      SELECT e.vec_id, signs.j,
             CAST(SUM(e.qe * signs.s) AS BIGINT) AS y
      FROM e JOIN signs ON e.d = signs.d
      GROUP BY e.vec_id, signs.j
    ),
    d16 AS (
      SELECT a.vec_id AS id_a, b.vec_id AS id_b,
             CAST(SUM((a.y - b.y) * (a.y - b.y)) AS BIGINT) AS d16_sq
      FROM y a JOIN y b ON a.j = b.j AND a.vec_id < b.vec_id
      GROUP BY a.vec_id, b.vec_id
    ),
    d64 AS (
      SELECT a.vec_id AS id_a, b.vec_id AS id_b,
             CAST(SUM((a.qe - b.qe) * (a.qe - b.qe)) AS BIGINT) AS d64_sq
      FROM e a JOIN e b ON a.d = b.d AND a.vec_id < b.vec_id
      GROUP BY a.vec_id, b.vec_id
    )
    SELECT d64.id_a, d64.id_b, d64.d64_sq, d16.d16_sq,
           CAST(CASE WHEN d64.d64_sq > 0
                THEN (1000000 * d16.d16_sq) // (16 * d64.d64_sq)
                END AS BIGINT) AS distortion_ppm
    FROM d64 JOIN d16 ON d64.id_a = d16.id_a AND d64.id_b = d16.id_b
    """,
)
def q_embedding_jl_projection_distortion(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Johnson–Lindenstrauss random projection + distortion audit — the
    dimensionality-reduction workhorse (64→16 dims here) every
    embedding-heavy pipeline uses to shrink ANN indexes and shuffles,
    with the measurement that justifies it: for a Rademacher (±1) matrix
    S, E‖Sx‖² = k‖x‖², so per probe pair the ratio d16²/(16·d64²) should
    sit near 1 — the emitted distortion_ppm IS the JL lemma, measured.
    Everything is exact integer: embeddings quantize to fixed-point
    (×1000), the sign matrix derives from the portable md5 parity of the
    dimension indices (both engines build the identical matrix from the
    formula — no shipped constants), projections and squared distances
    are BIGINT. Scale shape: the projection is 16 scan-stage JVM
    fold expressions over zip_with (no row explosion, no shuffle — the
    64×16 multiply stays inside whole-stage codegen); only the bounded
    20-probe pair audit joins."""
    from ..operators.similarity import quantize_embedding

    signs = _jl_signs(16, 64)
    q = table_scan(spark, sf_dir, "embeddings").filter(
        F.col("vec_id") < 20
    ).select(
        "vec_id", quantize_embedding("embedding", scale=1000).alias("q")
    )
    proj_cols = [
        F.aggregate(
            F.zip_with(
                F.col("q"),
                F.array(*[F.lit(s) for s in signs[j]]),
                lambda a, b: a * b,
            ),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        ).alias(f"y{j}")
        for j in range(16)
    ]
    y = q.select("vec_id", F.array(*proj_cols).alias("y"), "q")
    a = y.select(
        F.col("vec_id").alias("id_a"),
        F.col("y").alias("ya"),
        F.col("q").alias("qa"),
    )
    b = y.select(
        F.col("vec_id").alias("id_b"),
        F.col("y").alias("yb"),
        F.col("q").alias("qb"),
    )
    pairs = a.join(F.broadcast(b), F.col("id_a") < F.col("id_b"))

    def dist_sq(u, v):
        return F.aggregate(
            F.zip_with(F.col(u), F.col(v), lambda x, z: (x - z) * (x - z)),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        )

    return pairs.select(
        "id_a",
        "id_b",
        dist_sq("qa", "qb").alias("d64_sq"),
        dist_sq("ya", "yb").alias("d16_sq"),
    ).select(
        "id_a",
        "id_b",
        "d64_sq",
        "d16_sq",
        F.when(
            F.col("d64_sq") > 0,
            F.expr("(1000000 * d16_sq) div (16 * d64_sq)"),
        )
        .cast("long")
        .alias("distortion_ppm"),
    )


def _kcenter_oracle(k: int = 4) -> str:
    """Chained-CTE oracle for farthest-point (k-center greedy) seeding:
    level r computes every vector's distance to the nearest chosen center
    and picks the argmax (smallest vec_id on ties) — the same unrolled
    iteration the Spark loop runs."""
    sql = """
    WITH q AS (
      SELECT vec_id,
             list_transform(embedding,
               x -> CAST(ROUND(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS q
      FROM embeddings
    ),
    e AS (
      SELECT vec_id, UNNEST(q) AS qe, UNNEST(range(len(q))) AS i FROM q
    ),
    cent0 AS (
      SELECT 0 AS rank, vec_id, CAST(0 AS BIGINT) AS radius_sq
      FROM q WHERE vec_id = (SELECT MIN(vec_id) FROM q)
    )"""
    for r in range(1, k):
        prev = " UNION ALL ".join(
            f"SELECT rank, vec_id, radius_sq FROM cent{i}" for i in range(r)
        )
        sql += f""",
    allc{r} AS ({prev}),
    dist{r} AS (
      SELECT a.vec_id, MIN(dd.d2) AS nearest FROM (
        SELECT a.vec_id, c.vec_id AS cid,
               CAST(SUM((a.qe - c.qe) * (a.qe - c.qe)) AS BIGINT) AS d2
        FROM e a
        JOIN (SELECT e2.* FROM e e2 JOIN allc{r} x ON e2.vec_id = x.vec_id)
          c ON a.i = c.i
        GROUP BY a.vec_id, c.vec_id
      ) dd JOIN e a ON dd.vec_id = a.vec_id
      GROUP BY a.vec_id
    ),
    cent{r} AS (
      SELECT {r} AS rank, vec_id, CAST(nearest AS BIGINT) AS radius_sq
      FROM dist{r} ORDER BY nearest DESC, vec_id ASC LIMIT 1
    )"""
    final = " UNION ALL ".join(
        f"SELECT rank, vec_id, radius_sq FROM cent{i}" for i in range(k)
    )
    sql += f"""
    SELECT CAST(rank AS BIGINT) AS center_rank,
           CAST(vec_id AS BIGINT) AS vec_id, radius_sq
    FROM ({final})
    """
    return sql


@register("embedding_kcenter_greedy_init", _kcenter_oracle(4))
def q_embedding_kcenter_greedy_init(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Farthest-point (k-center greedy) seeding — the deterministic
    k-means++ alternative (2-approximation for the k-center objective)
    that coreset construction, diverse-sample selection, and IVF
    quantizer init all use: start from the smallest vec_id, then k−1
    times pick the vector FARTHEST from its nearest chosen center
    (smallest id on ties). Each emitted radius_sq is the covering radius
    BEFORE that center was added — the non-increasing sequence a coreset
    quality dashboard plots. Exact integers: fixed-point (×1000)
    embeddings, BIGINT squared distances, struct-lexicographic argmax.
    Scale shape per iteration: one full scan computing LEAST over the ≤k
    chosen centers INLINED as literal vectors, a single-row argmax
    aggregate collected per round — k·O(n) total with zero shuffles, the
    textbook bound. (Optimization round r14, guide §5/§2.4: the prior
    form carried each round's centers as a UNION of the previous rounds'
    argmax PLANS, so pick r was re-executed once per later round it was
    embedded in — ~2× redundant corpus passes at k=4 — and the k-way
    crossJoin + groupBy paid a corpus shuffle per round. The 1-row
    per-round collect is the same bounded-collect pattern as the kmeans
    centroid seeds; the argmax expression is unchanged, so the picked
    rows are bit-identical — oracle MATCH ×3 SFs.)"""
    from pyspark.sql import types as T

    from ..operators.similarity import quantize_embedding

    q = (
        table_scan(spark, sf_dir, "embeddings")
        .select(
            "vec_id", quantize_embedding("embedding", scale=1000).alias("q")
        )
        .transform(cached)
    )
    id_type = q.schema["vec_id"].dataType
    out_schema = T.StructType(
        [
            T.StructField("center_rank", T.LongType(), False),
            T.StructField("vec_id", id_type),
            T.StructField("radius_sq", T.LongType()),
        ]
    )
    # seed: every row holding the min vec_id (same equality-join
    # semantics as before — a unique id yields exactly one seed row)
    from ..operators.agg import bounded_collect

    seed_rows = bounded_collect(
        q.join(
            F.broadcast(q.agg(F.min("vec_id").alias("vid"))),
            q["vec_id"] == F.col("vid"),
        ).select("vec_id", "q"),
        1024,
        "embedding_kcenter_greedy_init seed rows (rows holding the min "
        "vec_id — exactly 1 for a unique id; 1024 is pure driver-memory "
        "insurance against a degenerate duplicated-id corpus)",
    )
    out = [(0, r["vec_id"], 0) for r in seed_rows]
    centers = [list(r["q"]) for r in seed_rows]

    def _d2_sql(c: list[int]) -> str:
        arr = "array(" + ",".join(f"{x}L" for x in c) + ")"
        return (
            f"aggregate(zip_with(q, {arr}, (a, b) -> (a - b) * (a - b)), "
            "0L, (acc, x) -> acc + x)"
        )

    for r in range(1, 4):
        if not centers:
            # degenerate empty corpus: the prior union-of-plans form
            # emitted an all-NULL argmax row per round — replicate
            out.append((r, None, None))
            continue
        exprs = [_d2_sql(c) for c in centers]
        nearest_sql = (
            exprs[0] if len(exprs) == 1 else "least(" + ", ".join(exprs) + ")"
        )
        s = (
            q.select("vec_id", "q", F.expr(nearest_sql).alias("nearest"))
            .agg(
                F.max_by(
                    F.struct(F.col("vec_id"), F.col("q"), F.col("nearest")),
                    F.struct(
                        F.col("nearest"), (-F.col("vec_id")).alias("nid")
                    ),
                ).alias("s")
            )
            .select("s.vec_id", "s.q", "s.nearest")
            .collect()[0]
        )
        out.append((r, s["vec_id"], s["nearest"]))
        centers.append(list(s["q"]))
    return spark.createDataFrame(out, out_schema)


@register(
    "embedding_seeding_cost_eval",
    """
    WITH q AS (
      SELECT vec_id,
             list_transform(embedding,
               x -> CAST(ROUND(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS q
      FROM embeddings
    ),
    e AS (
      SELECT vec_id, UNNEST(q) AS qe, UNNEST(range(len(q))) AS i FROM q
    ),
    kc AS (
      SELECT 'kcenter_greedy' AS method, c.vec_id
      FROM ("""
    + _kcenter_oracle(4).replace("\n", "\n    ")
    + """) c
    ),
    fk AS (
      SELECT 'first_k' AS method, vec_id
      FROM q WHERE vec_id < 4
    ),
    seeds AS (SELECT * FROM kc UNION ALL SELECT * FROM fk),
    d AS (
      SELECT s.method, a.vec_id AS pid, s.vec_id AS cid,
             CAST(SUM((a.qe - c.qe) * (a.qe - c.qe)) AS BIGINT) AS d2
      FROM seeds s
      JOIN e c ON c.vec_id = s.vec_id
      JOIN e a ON a.i = c.i
      GROUP BY s.method, a.vec_id, s.vec_id
    ),
    nearest AS (
      SELECT method, pid, MIN(d2) AS nd FROM d GROUP BY method, pid
    )
    SELECT method,
           CAST(SUM(nd) AS BIGINT) AS total_cost,
           CAST(MAX(nd) AS BIGINT) AS max_cost
    FROM nearest GROUP BY method
    """,
)
def q_embedding_seeding_cost_eval(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Seeding-quality evaluation — the measurement that justifies
    embedding_kcenter_greedy_init: quantization cost (Σ and max of
    squared distance to the nearest seed) of the k-center greedy seeds vs
    the naive first-k baseline, over the full corpus. k-center greedy is
    a 2-approximation for the k-center objective, so its MAX cost (the
    covering radius) should beat first-k's — asserted in pytest, and the
    two-row output makes the comparison a standing regression check.
    Exact integers throughout (fixed-point vectors, BIGINT distances).
    Scale: both seedings are ≤k-row broadcasts against one corpus scan
    each — the eval costs two passes regardless of n."""
    from ..operators.similarity import quantize_embedding

    q = (
        table_scan(spark, sf_dir, "embeddings")
        .select(
            "vec_id", quantize_embedding("embedding", scale=1000).alias("q")
        )
        .transform(cached)
    )
    kc = (
        q_embedding_kcenter_greedy_init(spark, sf_dir)
        .join(q, "vec_id")
        .select(
            F.lit("kcenter_greedy").alias("method"),
            F.col("q").alias("cq"),
        )
    )
    fk = q.filter(F.col("vec_id") < 4).select(
        F.lit("first_k").alias("method"), F.col("q").alias("cq")
    )
    seeds = kc.unionByName(fk)
    d2 = F.aggregate(
        F.zip_with(F.col("q"), F.col("cq"), lambda a, b: (a - b) * (a - b)),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    nearest = (
        q.crossJoin(F.broadcast(seeds))
        .select("method", "vec_id", d2.alias("d2"))
        .groupBy("method", "vec_id")
        .agg(F.min("d2").alias("nd"))
    )
    return nearest.groupBy("method").agg(
        F.sum("nd").cast("long").alias("total_cost"),
        F.max("nd").cast("long").alias("max_cost"),
    )


@register(
    "embedding_clustering_rand_index",
    """
    WITH q AS (
      SELECT vec_id, label,
             CAST(CASE WHEN CAST(ROUND(CAST(embedding[1] AS DOUBLE) * 1000)
                    AS BIGINT) > 0 THEN 2 ELSE 0 END
                  + CASE WHEN CAST(ROUND(CAST(embedding[2] AS DOUBLE)
                    * 1000) AS BIGINT) > 0 THEN 1 ELSE 0 END AS BIGINT)
               AS bucket
      FROM embeddings
    ),
    ct AS (
      SELECT label, bucket, CAST(COUNT(*) AS BIGINT) AS nij
      FROM q GROUP BY label, bucket
    ),
    parts AS (
      SELECT CAST(SUM(nij * (nij - 1) // 2) AS BIGINT) AS idx FROM ct
    ),
    ai AS (
      SELECT CAST(SUM(s * (s - 1) // 2) AS BIGINT) AS sa FROM (
        SELECT SUM(nij) AS s FROM ct GROUP BY label)
    ),
    bj AS (
      SELECT CAST(SUM(s * (s - 1) // 2) AS BIGINT) AS sb FROM (
        SELECT SUM(nij) AS s FROM ct GROUP BY bucket)
    ),
    nn AS (SELECT CAST(SUM(nij) AS BIGINT) AS n FROM ct),
    f AS (
      SELECT parts.idx, ai.sa, bj.sb, nn.n,
             CAST((ai.sa * bj.sb) // (nn.n * (nn.n - 1) // 2) AS BIGINT)
               AS expected_idx
      FROM parts CROSS JOIN ai CROSS JOIN bj CROSS JOIN nn
    )
    SELECT n, idx AS pair_agreements, sa, sb, expected_idx,
           CAST(CASE WHEN (sa + sb) // 2 > expected_idx
                THEN (1000000 * (idx - expected_idx))
                     // ((sa + sb) // 2 - expected_idx)
                END AS BIGINT) AS ari_ppm
    FROM f
    """,
)
def q_embedding_clustering_rand_index(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Adjusted Rand Index — THE pairwise clustering-agreement measure
    (complements the geometric silhouette with label-vs-label
    agreement): how much does a cheap 2-hyperplane LSH bucketing (sign
    of quantized dims 0 and 1 → 4 buckets) agree with the stored ground-
    truth labels, corrected for chance? Computed entirely from the
    bounded (label × bucket) contingency: Σ C(nij,2), marginals, the
    chance-expected index Sa·Sb/C(n,2) (floored — the documented exact
    contract), ARI as one ppm cross-division with its witness columns
    emitted. Near-0 ARI here is the honest answer — two arbitrary
    hyperplanes barely recover 10 semantic labels, which is exactly what
    the chance correction exists to expose (pytest asserts |ARI| small
    but the raw index large — the un-adjusted trap). One scan + one
    ≤40-cell contingency."""
    from ..operators.similarity import quantize_embedding

    q = table_scan(spark, sf_dir, "embeddings").select(
        "label",
        (
            F.when(F.element_at(quantize_embedding("embedding", 1000), 1) > 0, 2)
            .otherwise(0)
            + F.when(
                F.element_at(quantize_embedding("embedding", 1000), 2) > 0, 1
            ).otherwise(0)
        )
        .cast("long")
        .alias("bucket"),
    )
    ct = q.groupBy("label", "bucket").agg(
        F.count(F.lit(1)).cast("long").alias("nij")
    ).transform(cached)  # ≤40 cells, read by 4 reductions
    parts = ct.agg(
        F.sum(F.expr("nij * (nij - 1) div 2")).cast("long").alias("idx")
    )
    ai = (
        ct.groupBy("label")
        .agg(F.sum("nij").alias("s"))
        .agg(F.sum(F.expr("s * (s - 1) div 2")).cast("long").alias("sa"))
    )
    bj = (
        ct.groupBy("bucket")
        .agg(F.sum("nij").alias("s"))
        .agg(F.sum(F.expr("s * (s - 1) div 2")).cast("long").alias("sb"))
    )
    nn = ct.agg(F.sum("nij").cast("long").alias("n"))
    f = (
        parts.crossJoin(F.broadcast(ai))
        .crossJoin(F.broadcast(bj))
        .crossJoin(F.broadcast(nn))
        .select(
            "idx",
            "sa",
            "sb",
            "n",
            F.expr("(sa * sb) div (n * (n - 1) div 2)")
            .cast("long")
            .alias("expected_idx"),
        )
    )
    return f.select(
        "n",
        F.col("idx").alias("pair_agreements"),
        "sa",
        "sb",
        "expected_idx",
        F.when(
            F.expr("(sa + sb) div 2") > F.col("expected_idx"),
            F.expr(
                "(1000000 * (idx - expected_idx))"
                " div ((sa + sb) div 2 - expected_idx)"
            ),
        )
        .cast("long")
        .alias("ari_ppm"),
    )


_D4_PRUNE_ORACLE = """
    WITH kk AS (
      SELECT GREATEST(8, CAST(FLOOR(SQRT(COUNT(*))) AS BIGINT)) AS k
      FROM embeddings
    ),
    e AS (
      SELECT vec_id, i, CAST(ROUND(CAST(x AS DOUBLE) * 1000000) AS BIGINT) AS qx
      FROM (SELECT vec_id, UNNEST(embedding) AS x,
                   UNNEST(range(len(embedding))) AS i FROM embeddings)
    ),
    c0 AS (SELECT vec_id AS cid, i, qx AS cx FROM e
           WHERE vec_id < (SELECT k FROM kk)),
    d1 AS (
      SELECT e.vec_id, c0.cid,
             CAST(SUM((e.qx - c0.cx) * (e.qx - c0.cx)) AS BIGINT) AS dist
      FROM e JOIN c0 ON e.i = c0.i GROUP BY e.vec_id, c0.cid
    ),
    a1 AS (
      SELECT vec_id, cid,
             ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
      FROM d1
    ),
    s1 AS (
      SELECT a1.cid AS cluster, e.i, CAST(SUM(e.qx) AS BIGINT) AS s,
             COUNT(*) AS n
      FROM a1 JOIN e ON e.vec_id = a1.vec_id
      WHERE a1.rn = 1 GROUP BY a1.cid, e.i
    ),
    c1 AS (SELECT cluster AS cid, i, CAST(s // n AS BIGINT) AS cx FROM s1),
    d2 AS (
      SELECT e.vec_id, c1.cid,
             CAST(SUM((e.qx - c1.cx) * (e.qx - c1.cx)) AS BIGINT) AS dist
      FROM e JOIN c1 ON e.i = c1.i GROUP BY e.vec_id, c1.cid
    ),
    a2 AS (
      SELECT vec_id, cid AS cluster FROM (
        SELECT vec_id, cid,
               ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
        FROM d2) WHERE rn = 1
    ),
    vn AS (SELECT vec_id, CAST(SUM(qx * qx) AS BIGINT) AS n2 FROM e GROUP BY vec_id),
    cn AS (SELECT cid, CAST(SUM(cx * cx) AS BIGINT) AS n2 FROM c1 GROUP BY cid),
    pdot AS (
      SELECT a2.vec_id, a2.cluster, CAST(SUM(e.qx * c1.cx) AS BIGINT) AS dot
      FROM a2 JOIN e ON e.vec_id = a2.vec_id
              JOIN c1 ON c1.cid = a2.cluster AND c1.i = e.i
      GROUP BY a2.vec_id, a2.cluster
    ),
    proto AS (
      SELECT p.vec_id, p.cluster,
             CAST(p.dot AS DOUBLE) / (sqrt(vn.n2) * sqrt(cn.n2)) AS proto_sim
      FROM pdot p JOIN vn ON vn.vec_id = p.vec_id JOIN cn ON cn.cid = p.cluster
    ),
    pairdot AS (
      SELECT l.vec_id AS id, r.vec_id AS rid,
             CAST(SUM(le.qx * re.qx) AS BIGINT) AS dot
      FROM a2 l JOIN a2 r ON l.cluster = r.cluster AND l.vec_id > r.vec_id
      JOIN e le ON le.vec_id = l.vec_id
      JOIN e re ON re.vec_id = r.vec_id AND re.i = le.i
      GROUP BY l.vec_id, r.vec_id
    ),
    drops AS (
      SELECT DISTINCT p.id AS vec_id
      FROM pairdot p JOIN vn a ON a.vec_id = p.id
                     JOIN vn b ON b.vec_id = p.rid
      WHERE CAST(p.dot AS DOUBLE) / (sqrt(a.n2) * sqrt(b.n2)) >= 0.4
    ),
    surv AS (
      SELECT pr.vec_id,
             ROW_NUMBER() OVER (PARTITION BY pr.cluster
                                ORDER BY pr.proto_sim DESC, pr.vec_id) AS rn,
             COUNT(*) OVER (PARTITION BY pr.cluster) AS nc
      FROM proto pr
      WHERE pr.vec_id NOT IN (SELECT vec_id FROM drops)
    )
    SELECT pr.vec_id, pr.cluster,
           CASE WHEN d.vec_id IS NOT NULL THEN 'semdedup_drop'
                WHEN s.rn * 4 <= s.nc THEN 'proto_drop'
                ELSE 'keep' END AS stage,
           pr.proto_sim
    FROM proto pr
    LEFT JOIN drops d ON d.vec_id = pr.vec_id
    LEFT JOIN surv s ON s.vec_id = pr.vec_id
"""


@register("embedding_d4_prune", _D4_PRUNE_ORACLE)
def q_embedding_d4_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D4 data curation (Tirumala et al. 2023, arXiv:2308.12284): k-means
    the embedding space, SemDeDup away near-duplicates WITHIN each cluster
    (Abbas et al. 2023), then prune the most PROTOTYPICAL quarter of each
    cluster's survivors (SSL-prototypes, Sorscher et al. 2022 — when data
    is abundant the easiest/most-central examples teach the least). Every
    vector gets a verdict: 'semdedup_drop' (cosine ≥ 0.4 to a smaller-id
    cluster sibling), 'proto_drop' (rank·4 ≤ n by centroid-cosine DESC —
    a pure-integer per-cluster quantile, no float boundary), or 'keep'.

    k is ADAPTIVE: max(8, ⌊√N⌋), computed identically on both sides
    (count → correctly-rounded sqrt → floor). √N balances the two stages
    — assignment costs N·k distance folds, the cluster-local SemDeDup
    pair join N²/k·d — so total work is Θ(N^1.5·d), never all-pairs
    (measured: SF1's 20k vectors fall from 50M pairs at fixed k=8 to
    1.5M at k=141). The one driver-side scalar is that bounded count.

    Bitwise oracle-checkable end to end: embeddings quantize to int64
    fixed point (ROUND(x·10⁶)), the two Lloyd passes reuse the proven
    kmeans_lloyd_converge_int kernel (exact integer distances, argmin
    tiebreak on cid, trunc-division centroid update), and every cosine —
    pair AND centroid — is exact-int64 dot/norms (|dot| ≤ 64·(5.8e5)² ≈
    2.2e13 < 2⁵³, so the double casts are exact and the one
    correctly-rounded sqrt/mul/div sequence is bit-identical in both
    engines; integer sums are associative, so no index-ordered fold is
    even needed).

    Scale: k grows with N (D4 uses ~11k clusters at 100M docs) so the
    SemDeDup pair join stays cluster-local — never all-pairs; the
    centroid table is a broadcast k×dim dim; prototypicality ranking is a
    per-cluster window, partition-parallel. The only global shuffles are
    the assignment groupBys and the dim-sized centroid update — the same
    partial-aggregate shape a distributed k-means already pays."""
    from ..operators.similarity import quantize_embedding

    import math as _math

    emb = table_scan(spark, sf_dir, "embeddings")
    q0 = emb.select("vec_id", quantize_embedding("embedding").alias("qv")).transform(
        cached
    )
    k = max(8, _math.isqrt(q0.count()))

    def _dot(a: str, b: str):
        return F.aggregate(
            F.zip_with(a, b, lambda x, y: x * y),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        )

    def assign(cents: DataFrame) -> DataFrame:
        diff = F.zip_with("qv", "cv", lambda a, b: (a - b) * (a - b))
        dist = F.aggregate(diff, F.lit(0).cast("long"), lambda acc, x: acc + x)
        scored = q0.crossJoin(F.broadcast(cents)).select(
            "vec_id", "qv", "cid", dist.alias("dist")
        )
        return (
            scored.groupBy("vec_id")
            .agg(F.min(F.struct("dist", "cid", "qv")).alias("m"))
            .select("vec_id", F.col("m.cid").alias("cluster"), F.col("m.qv").alias("qv"))
        )

    c0 = q0.filter(F.col("vec_id") < k).select(
        F.col("vec_id").alias("cid"), F.col("qv").alias("cv")
    )
    a1 = assign(c0)
    s1 = (
        a1.select("cluster", F.posexplode("qv").alias("i", "qx"))
        .groupBy("cluster", "i")
        .agg(F.sum("qx").alias("s"), F.count(F.lit(1)).alias("n"))
    )
    c1 = (
        s1.selectExpr("cluster AS cid", "i", "s div n AS comp")
        .groupBy("cid")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("i", "comp"))),
                lambda x: x["comp"],
            ).alias("cv")
        )
    )
    # per-vector quantized norms ride along with the final assignment
    vn = assign(c1).select(
        "vec_id", "cluster", "qv", _dot("qv", "qv").alias("n2")
    ).transform(cached)

    cents = c1.select("cid", "cv", _dot("cv", "cv").alias("cn2"))
    proto = vn.join(
        F.broadcast(cents), vn["cluster"] == cents["cid"]
    ).select(
        "vec_id",
        "cluster",
        (
            _dot("qv", "cv").cast("double")
            / (F.sqrt(F.col("n2").cast("double")) * F.sqrt(F.col("cn2").cast("double")))
        ).alias("proto_sim"),
    ).transform(cached)

    lside = vn.select(
        F.col("vec_id").alias("id"),
        "cluster",
        F.col("qv").alias("lv"),
        F.col("n2").alias("ln2"),
    )
    rside = vn.select(
        F.col("vec_id").alias("rid"),
        F.col("cluster").alias("rcluster"),
        F.col("qv").alias("rv"),
        F.col("n2").alias("rn2"),
    )
    pair_sim = _dot("lv", "rv").cast("double") / (
        F.sqrt(F.col("ln2").cast("double")) * F.sqrt(F.col("rn2").cast("double"))
    )
    drops = (
        lside.join(
            rside,
            (F.col("cluster") == F.col("rcluster")) & (F.col("id") > F.col("rid")),
        )
        .filter(pair_sim >= 0.4)
        .select(F.col("id").alias("vec_id"))
        .distinct()
    )

    w_rank = Window.partitionBy("cluster").orderBy(F.desc("proto_sim"), "vec_id")
    w_all = Window.partitionBy("cluster")
    surv = (
        proto.join(drops, "vec_id", "left_anti")
        .select(
            "vec_id",
            F.row_number().over(w_rank).alias("rn"),
            F.count(F.lit(1)).over(w_all).alias("nc"),
        )
    )
    return (
        proto.join(drops.withColumn("is_drop", F.lit(True)), "vec_id", "left")
        .join(surv, "vec_id", "left")
        .select(
            "vec_id",
            "cluster",
            F.when(F.col("is_drop"), F.lit("semdedup_drop"))
            .when(F.col("rn") * 4 <= F.col("nc"), F.lit("proto_drop"))
            .otherwise(F.lit("keep"))
            .alias("stage"),
            "proto_sim",
        )
    )
