"""Similarity search over embedding columns (LLM-pipeline extension).

An exact baseline and two approximate scale paths:

- **Brute-force top-k** (`cosine_topk`): exact. The query side is broadcast
  (queries are few), the corpus side streams — one pass over the corpus per
  batch of queries, a window top-k per query. At 100 TB of embeddings this
  is the *baseline*: cost is O(|corpus| · |queries|) but perfectly
  data-parallel with zero shuffle on the corpus until the (tiny) top-k
  aggregation.
- **LSH-bucketed** (`cosine_topk_lsh`):
  integer-hyperplane signatures bucket the corpus (one cheap map pass, no
  shuffle); queries only score vectors sharing a bucket, turning O(N·Q)
  into O(N·Q / 2^bits · bands). Approximate: recall < 1.
- **IVF** (`cosine_topk_ivf`): inverted lists from an exact int64 k-means
  quantizer; queries score only their nearest lists. Approximate.

Every approximate path quantizes embeddings to int64 fixed point and
projects or clusters them with exact integer arithmetic, so the bucket or
list each vector lands in, and therefore the whole result, replays
bit-for-bit in SQL.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, Window

from ..caching import cached
from pyspark.sql import functions as F

from ..functions.vectors import cosine


def portable_planes_int(dim: int, n_planes: int, tag: str = "annlsh") -> list[list[int]]:
    """Integer hyperplane weights derived from the md5-prefix 60-bit hash —
    the Python replica of ``functions/hashing.portable_hash64`` (same
    ``CAST(concat('0x', substr(md5(s),1,15)) AS BIGINT)`` stream), so ANY
    engine regenerates the identical planes from the tag alone:
    ``w[b][j] = h(f"{tag}:{b}:{j}") % 2001 - 1000`` ∈ [-1000, 1000].
    Uniform symmetric weights give unbiased sign projections (the LSH
    guarantee needs symmetry around 0, not gaussianity)."""
    import hashlib

    def h(s: str) -> int:
        return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)

    return [
        [h(f"{tag}:{b}:{j}") % 2001 - 1000 for j in range(dim)]
        for b in range(n_planes)
    ]


def quantize_embedding(vec_col, scale: int = 1_000_000):
    """array<float> → array<bigint> fixed-point: ROUND(x·scale) → BIGINT,
    the NOTES.md engine-portable exact-reduction idiom (int64→anything is
    correctly rounded everywhere; the ROUND itself agrees between Spark's
    HALF_UP and DuckDB's round-half-away on doubles)."""
    c = F.col(vec_col) if isinstance(vec_col, str) else vec_col
    return F.transform(
        c, lambda x: F.round(x.cast("double") * F.lit(float(scale))).cast("long")
    )


def int_hyperplane_bits(qvec_col, planes: list[list[int]]):
    """Sign bits of EXACT integer projections of a quantized (array<bigint>)
    embedding onto integer hyperplanes, packed into one BIGINT. Integer
    addition is associative — the numpy matmul's summation order cannot
    change the result (unlike float projections), so the bucket assignment is
    bit-replicable by any engine that sums the same integers.
    Arrow-batched pandas UDF: one (batch × dim) @ (dim × planes) int64
    matmul per batch. Overflow-safe by construction: |qx|·|w|·dim must fit
    int64 — callers keep scale·max|x|·1000·dim ≪ 2^63."""
    from pyspark.sql.functions import pandas_udf

    if len(planes) > 62:
        raise ValueError(f"at most 62 bits fit a signed long, got {len(planes)}")
    mat = np.asarray(planes, dtype=np.int64).T.copy()  # (dim, n_planes)
    weights = np.int64(1) << np.arange(len(planes), dtype=np.int64)

    @pandas_udf("long")
    def _sig(col: pd.Series) -> pd.Series:
        if len(col) == 0:
            return pd.Series([], dtype="int64")
        X = np.stack(col.to_numpy()).astype(np.int64)  # (n, dim) exact
        bits = (X @ mat) >= 0
        return pd.Series(bits.astype(np.int64) @ weights)

    c = F.col(qvec_col) if isinstance(qvec_col, str) else qvec_col
    return _sig(c)


def cosine_topk_lsh(corpus: DataFrame, queries: DataFrame, k: int = 10) -> DataFrame:
    """Approximate cosine top-k over (vec_id, embedding) via LSH with
    ENGINE-PORTABLE bucketing: int64 fixed-point projections of the 64-dim
    embeddings onto md5-seeded integer hyperplanes, 8 bands × 4 sign bits.
    For a neighbor at angle θ the per-band match probability is
    (1-θ/π)^4, any-band recall 1-(1-p)^8 ≈ 0.8 at cos≈0.5 (recall against
    exact top-k is asserted in tests/test_ann_recall.py).
    Every bucket assignment (and therefore the exact candidate set, scores,
    and ranks) is replicable in plain SQL — the registry query's DuckDB
    oracle regenerates the planes from the tag and replays the whole
    pipeline, making this approximate-ANN path fully value-checkable, not
    just row-counted. Corpus signatures in one map pass, candidates from a
    broadcast equi-join on (band_idx, band_sig), self-pairs dropped, exact
    cosine re-score."""
    bits_per_band, n_bands = 4, 8
    planes = portable_planes_int(64, bits_per_band * n_bands, "annlsh")

    def with_bands(df: DataFrame, out_id: str, out_vec: str) -> DataFrame:
        # materialize the UDF signature as a bound column FIRST: the n_bands
        # struct references below would otherwise re-evaluate the UDF per
        # band (NOTES.md expression-capture gotcha)
        based = df.select(
            F.col("vec_id").alias(out_id),
            F.col("embedding").alias(out_vec),
            int_hyperplane_bits(quantize_embedding("embedding"), planes).alias("__sig"),
        )
        bands = F.array(
            *[
                F.struct(
                    F.lit(b).alias("band_idx"),
                    (F.shiftright(F.col("__sig"), b * bits_per_band)
                     % (1 << bits_per_band)).alias("band_sig"),
                )
                for b in range(n_bands)
            ]
        )
        return based.select(out_id, out_vec, F.explode(bands).alias("b")).select(
            out_id, out_vec, "b.band_idx", "b.band_sig"
        )

    cb = with_bands(corpus, "neighbor_id", "__cvec")
    qb = with_bands(queries, "query_id", "__qvec")
    cand = (
        cb.join(F.broadcast(qb), on=["band_idx", "band_sig"])
        .select("query_id", "neighbor_id", "__qvec", "__cvec")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .dropDuplicates(["query_id", "neighbor_id"])
    )
    scored = cand.select(
        "query_id", "neighbor_id", cosine("__qvec", "__cvec").alias("score")
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "score", "rank")
    )


def cosine_topk(corpus: DataFrame, queries: DataFrame, k: int = 10) -> DataFrame:
    """Exact cosine top-k over (vec_id, embedding), self-pairs dropped:
    (query_id, neighbor_id, score, rank).

    ``queries`` is broadcast; ties break by neighbor_id so results are fully
    deterministic.
    """
    q = queries.select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("__qvec")
    )
    c = corpus.select(
        F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("__cvec")
    )
    pairs = c.crossJoin(F.broadcast(q)).filter(
        F.col("neighbor_id") != F.col("query_id")
    )
    scored = pairs.select(
        "query_id", "neighbor_id", cosine("__qvec", "__cvec").alias("score")
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "score", "rank")
    )


def cosine_topk_ivf(corpus: DataFrame, queries: DataFrame, k: int = 10) -> DataFrame:
    """IVF approximate top-k over (vec_id, embedding), self-pairs dropped:
    (query_id, neighbor_id, score, rank).

    The coarse quantizer is one exact int64 Lloyd update (the kernel of
    registry ``kmeans_lloyd_converge_int``): embeddings quantize to int64
    fixed point, the corpus vectors with ``vec_id < 8`` seed 8 centroids,
    squared-L2 distances fold as exact integers, argmin tiebreaks on the
    centroid id, and the updated centroids are the trunc-toward-zero
    ``div`` means. Every corpus vector joins its nearest list; each query
    probes its 2 nearest lists and scores only their members (exact cosine
    re-score, index-ordered double fold). No stage collects to the driver
    and every one replays in plain SQL (registry
    ``ann_cosine_topk_ivf_portable``). Recall against ``cosine_topk`` is
    asserted in tests/test_ann_recall.py."""

    def quantized(df: DataFrame) -> DataFrame:
        return df.select(
            "vec_id", "embedding", quantize_embedding("embedding").alias("qv")
        )

    def distances(q: DataFrame, cents: DataFrame) -> DataFrame:
        diff = F.zip_with("qv", "cv", lambda a, b: (a - b) * (a - b))
        dist = F.aggregate(diff, F.lit(0).cast("long"), lambda acc, x: acc + x)
        return q.crossJoin(F.broadcast(cents)).select(
            "vec_id", "embedding", "qv", "cid", dist.alias("dist")
        )

    q0 = quantized(corpus).transform(cached)
    c0 = q0.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("cid"), F.col("qv").alias("cv")
    )
    a1 = (
        distances(q0, c0)
        .groupBy("vec_id")
        .agg(F.min(F.struct("dist", "cid", "qv")).alias("m"))
        .select("vec_id", F.col("m.cid").alias("cluster"), F.col("m.qv").alias("qv"))
    )
    c1 = (
        a1.select("cluster", F.posexplode("qv").alias("i", "qx"))
        .groupBy("cluster", "i")
        .agg(F.sum("qx").alias("s"), F.count(F.lit(1)).alias("n"))
        .selectExpr("cluster AS cid", "i", "s div n AS comp")
        .groupBy("cid")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("i", "comp"))),
                lambda x: x["comp"],
            ).alias("cv")
        )
    )
    members = (
        distances(q0, c1)
        .groupBy("vec_id")
        .agg(F.min(F.struct("dist", "cid", "embedding")).alias("m"))
        .select(
            F.col("vec_id").alias("neighbor_id"),
            F.col("m.cid").alias("cid"),
            F.col("m.embedding").alias("__cvec"),
        )
    )
    wq = Window.partitionBy("vec_id").orderBy("dist", "cid")
    probes = (
        distances(quantized(queries), c1)
        .select("vec_id", "cid", "embedding", F.row_number().over(wq).alias("rn"))
        .filter(F.col("rn") <= 2)
        .select(
            F.col("vec_id").alias("query_id"),
            "cid",
            F.col("embedding").alias("__qvec"),
        )
    )
    cand = (
        members.join(F.broadcast(probes), "cid")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .dropDuplicates(["query_id", "neighbor_id"])
    )
    scored = cand.select(
        "query_id", "neighbor_id", cosine("__qvec", "__cvec").alias("score")
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "score", "rank")
    )


def embedding_near_dup_pairs(
    corpus: DataFrame,
    threshold: float = 0.95,
    bits_per_band: int = 7,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs over (vec_id, embedding):
    (id_a < id_b, cosine >= t).

    LSH candidate generation (8 bands of 64-dim sign bits) followed by
    exact cosine verify — the standard near-dup sweep shape for 100 TB
    embedding stores: the all-pairs O(N²) never materializes, only
    bucket-local pairs do.

    The sign bits come from md5-seeded INTEGER planes over int64
    fixed-point embeddings (see ``cosine_topk_lsh``) — exact
    integer projections make the bucket assignment, and therefore the full
    verified-pair output, SQL-replicable (registry ``embedding_near_dup``
    is value-checked against a DuckDB replay).
    """
    n_bands = 8
    total_bits = bits_per_band * n_bands
    sig = int_hyperplane_bits(
        quantize_embedding("embedding"), portable_planes_int(64, total_bits, "embnd")
    )
    # materialize the UDF signature as a bound column before the n_bands
    # references below (expression capture would re-run the UDF per band)
    based = corpus.select(
        F.col("vec_id").alias("id"), F.col("embedding").alias("vec"), sig.alias("__sig")
    )
    bands = F.array(
        *[
            F.struct(
                F.lit(b).alias("band_idx"),
                (F.shiftright(F.col("__sig"), b * bits_per_band)
                 % (1 << bits_per_band)).alias("band_sig"),
            )
            for b in range(n_bands)
        ]
    )
    # candidate generation is SKINNY (id, band_idx, band_sig) — same shape
    # as the MinHash-LSH banded join: a pair matching in b bands surfaces b
    # times, and carrying the two 64-float vectors through that fan-out
    # (then deduping the wide rows) shuffled ~2 GB and ran 216 s on a
    # 10×-sf0.1 corpus whose duplicate clusters inflate bucket sizes.
    # Dedup the bare id pairs first, then re-attach each side's vector with
    # two joins against the (persisted) based table — measured 2.1× faster
    # end-to-end in that regime (216 s → 103 s, identical 159,700 pairs);
    # the residual cost is the bucket-pair enumeration itself, which is
    # inherently Σ m² over bucket sizes — on dup-heavy corpora run exact
    # dedup first (the composed pipeline in plans/registry does).
    based = based.transform(cached)
    skinny = based.select("id", F.explode(bands).alias("b")).select(
        "id", "b.band_idx", "b.band_sig"
    )
    left = skinny.alias("l")
    right = skinny.alias("r")
    cand_ids = (
        left.join(
            right,
            on=[
                F.col("l.band_idx") == F.col("r.band_idx"),
                F.col("l.band_sig") == F.col("r.band_sig"),
                F.col("l.id") < F.col("r.id"),
            ],
        )
        .select(F.col("l.id").alias("id_a"), F.col("r.id").alias("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )
    va = based.select(F.col("id").alias("id_a"), F.col("vec").alias("__va"))
    vb = based.select(F.col("id").alias("id_b"), F.col("vec").alias("__vb"))
    cand = cand_ids.join(va, "id_a").join(vb, "id_b")
    return (
        cand.select("id_a", "id_b", cosine("__va", "__vb").alias("score"))
        .filter(F.col("score") >= threshold)
        .select("id_a", "id_b", "score")
    )


def semantic_dedup(
    corpus: DataFrame,
    threshold: float = 0.4,
    cluster_bits: int = 4,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023) over 64-dim (vec_id, embedding): the
    cluster id is the ``cluster_bits``-bit sign signature of EXACT integer
    hyperplane projections (md5-seeded integer planes over int64
    fixed-point embeddings, the ``cosine_topk_lsh`` machinery); inside each
    cluster every vector whose cosine to a LOWER-id cluster-mate is >=
    ``threshold`` is dropped (keep-min, same convention as the MinHash keep
    list). The pair join is cluster-local — cost Σ n_c², never corpus-wide
    O(N²) — and every stage (cluster assignment, candidate pairs, the
    index-ordered double cosine fold) is bitwise replicable in ANSI SQL,
    so the registry queries carry a full value oracle.

    At 100 TB the signature is one Arrow-batched matmul pass at ingest; the
    corpus is then hash-partitioned by cluster and the self-join shuffles
    nothing that is not already co-located. Returns (id, cluster, keep).
    """
    sig = int_hyperplane_bits(
        quantize_embedding("embedding"), portable_planes_int(64, cluster_bits, "semdd")
    )
    a = corpus.select(
        F.col("vec_id").alias("id"), F.col("embedding").alias("vec"), sig.alias("cluster")
    )
    left, right = a.alias("l"), a.alias("r")
    dropped = (
        left.join(
            right,
            on=[
                F.col("l.cluster") == F.col("r.cluster"),
                F.col("l.id") > F.col("r.id"),
            ],
        )
        .select(F.col("l.id").alias("id"), cosine("l.vec", "r.vec").alias("__score"))
        .filter(F.col("__score") >= threshold)
        .select("id")
        .distinct()
    )
    return (
        a.select("id", "cluster")
        .join(dropped.withColumn("__dup", F.lit(True)), on="id", how="left")
        .select(
            "id", "cluster", F.coalesce(~F.col("__dup"), F.lit(True)).alias("keep")
        )
    )
