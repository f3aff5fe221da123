"""ANN quality: LSH and IVF approximate top-k must reach reasonable recall
against the exact brute-force result (the embeddings have planted cluster
structure via their labels, so neighbors are findable).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from breweries_data_engineering_case_spark.operators.similarity import (
    cosine_topk,
    cosine_topk_ivf,
    cosine_topk_lsh,
)
from breweries_data_engineering_case_spark.sources.readers import table_scan


def _topk_sets(df):
    out: dict[int, set[int]] = {}
    for r in df.collect():
        out.setdefault(r.query_id, set()).add(r.neighbor_id)
    return out


def _recall(approx: dict, exact: dict) -> float:
    hits = total = 0
    for q, ex in exact.items():
        hits += len(ex & approx.get(q, set()))
        total += len(ex)
    return hits / total


def test_ivf_and_lsh_recall(spark, sf_dir):
    emb = table_scan(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 10)
    exact = _topk_sets(cosine_topk(emb, q, k=10))

    # integer-quantizer IVF (8 lists from one integer Lloyd update, each
    # query probes 2) — the path both IVF registry queries serve
    ivf = _topk_sets(cosine_topk_ivf(emb, q, k=10))
    r_ivf = _recall(ivf, exact)
    assert r_ivf >= 0.5, f"IVF recall {r_ivf:.2f}"

    # integer-plane LSH (the oracle-checked registry path), 8 bands × 4
    # bits — measured 0.66 at sf0.01
    lshp = _topk_sets(cosine_topk_lsh(emb, q, k=10))
    r_lshp = _recall(lshp, exact)
    assert r_lshp >= 0.5, f"portable LSH recall {r_lshp:.2f}"
    # every returned neighbor must be a real scored vector (no phantom ids)
    all_ids = {r.vec_id for r in emb.select("vec_id").collect()}
    assert all(n in all_ids for s in ivf.values() for n in s)


def test_embedding_near_dup_planted_pairs(spark):
    """LSH near-dup must find planted near-duplicates at the production
    threshold (0.9): each planted pair is a vector plus a tiny perturbation
    of it (cosine >= 0.99), buried in 200 random vectors."""
    import random

    from breweries_data_engineering_case_spark.operators.similarity import (
        embedding_near_dup_pairs,
    )

    rng = random.Random(123)
    dim = 64
    rows = []
    for i in range(200):
        rows.append((i, [rng.gauss(0.0, 1.0) for _ in range(dim)]))
    planted = []
    for j in range(10):
        base_id = j * 17
        base = rows[base_id][1]
        dup = [x + rng.gauss(0.0, 0.02) for x in base]
        dup_id = 1000 + j
        rows.append((dup_id, dup))
        planted.append((base_id, dup_id))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    got = {
        (r.id_a, r.id_b)
        for r in embedding_near_dup_pairs(emb, threshold=0.9).collect()
    }
    found = sum(1 for p in planted if p in got)
    # 8 bands x 7 bits at cosine ~0.99 -> per-band match ~0.67, any-band ~1.0
    assert found >= 9, f"found only {found}/10 planted near-dup pairs: {got}"
    # precision 1.0 by construction: every returned pair is exactly verified
    # and random 64-dim pairs essentially never reach cosine 0.9
    extras = got - set(planted)
    assert not extras, f"false positives: {extras}"


def test_embedding_near_dup_recall_vs_exact(spark, sf_dir):
    """On the real (dup-free) test corpus at threshold 0.4 the LSH path must
    recover most of the exact all-pairs result; precision is 1.0 because
    candidates are exactly re-scored."""
    from breweries_data_engineering_case_spark.functions.vectors import cosine
    from breweries_data_engineering_case_spark.operators.similarity import (
        embedding_near_dup_pairs,
    )

    emb = table_scan(spark, sf_dir, "embeddings")
    a = emb.select(F.col("vec_id").alias("id_a"), F.col("embedding").alias("__va"))
    b = emb.select(F.col("vec_id").alias("id_b"), F.col("embedding").alias("__vb"))
    exact = {
        (r.id_a, r.id_b)
        for r in a.join(b, F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", cosine("__va", "__vb").alias("score"))
        .filter(F.col("score") >= 0.4)
        .collect()
    }
    # integer-plane LSH (the oracle-checked registry path): measured recall
    # 0.83 at sf0.01, precision 1.0 by construction
    approx = {
        (r.id_a, r.id_b)
        for r in embedding_near_dup_pairs(emb, threshold=0.4, bits_per_band=4).collect()
    }
    assert approx <= exact, f"false positives: {approx - exact}"
    if exact:
        recall = len(approx & exact) / len(exact)
        assert recall >= 0.5, f"near-dup recall {recall:.2f}"



def test_ivf_portable_recall(spark, sf_dir):
    """The registry's ``ann_cosine_topk_ivf_portable`` query (the integer
    IVF: 8 lists from one integer Lloyd update, nprobe=2) must hold useful
    recall vs the exact baseline."""
    from breweries_data_engineering_case_spark.plans import registry

    emb = table_scan(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 5)
    exact = _topk_sets(cosine_topk(emb, q, k=10))
    port = _topk_sets(registry.QUERIES["ann_cosine_topk_ivf_portable"](spark, sf_dir))
    r = _recall(port, exact)
    assert r >= 0.4, f"portable IVF recall {r:.2f}"
