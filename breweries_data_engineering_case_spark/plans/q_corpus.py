"""Corpus/dataset assembly: vocabulary stats, tokenizer eval, dataset splits/mixtures, entity resolution, GDPR/dedup ledgers, end-to-end curation."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..caching import cached
from ..operators.fuzzy_dedup import simhash_near_dup_pairs
from ..operators.similarity import cosine_topk
from ..sources.readers import source_fingerprint, table_scan

from .qshared import (
    _SIMHASH_CTE,
    register,
)



@register(
    "vocab_term_freq",
    """
    SELECT token, COUNT(*) AS tf, COUNT(DISTINCT doc_id) AS df
    FROM (SELECT doc_id, UNNEST(string_split_regex(TRIM(text), '\\s+')) AS token
          FROM documents)
    GROUP BY token
    """,
)
def q_vocab_term_freq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary with term and document frequencies — the explode →
    two-level aggregate behind tokenizer training / tf-idf; partial
    aggregation collapses the token fan-out before the shuffle."""
    d = table_scan(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", F.explode(F.split(F.trim(F.col("text")), r"\s+")).alias("token")
    )
    return toks.groupBy("token").agg(
        F.count(F.lit(1)).alias("tf"), F.countDistinct("doc_id").alias("df")
    )


@register(
    "dataset_split_hash",
    """
    WITH h AS (
      SELECT doc_id,
             CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))
                  AS BIGINT) % 100 AS bucket
      FROM documents
    )
    SELECT doc_id,
           CASE WHEN bucket < 80 THEN 'train'
                WHEN bucket < 90 THEN 'val'
                ELSE 'test' END AS split
    FROM h
    """,
)
def q_dataset_split_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 80/10/10 train/val/test split by engine-portable hash
    bucket — stable across runs, engines, partitionings, and row order
    (functions/hashing.py). The oracle recomputes the same assignment in
    DuckDB, which is the point: split decisions persist beyond the job and
    must be reproducible everywhere."""
    from ..functions.hashing import split_assign

    d = table_scan(spark, sf_dir, "documents")
    return d.select("doc_id", split_assign("doc_id").alias("split"))


@register(
    "chunk_dedup_exact",
    """
    WITH t AS (
      SELECT doc_id, string_split_regex(TRIM(text), '\\s+') AS toks
      FROM documents
    ),
    k AS (
      SELECT doc_id, toks,
             GREATEST(CAST(CEIL((len(toks) - 16) / 48.0) AS BIGINT), 1) AS nch
      FROM t
    ),
    c AS (
      SELECT doc_id,
             array_to_string(list_slice(toks, i*48 + 1, i*48 + 64), ' ')
               AS chunk_text
      FROM k, UNNEST(range(nch)) AS u(i)
    )
    SELECT md5(chunk_text) AS fp, COUNT(*) AS dup_cnt,
           MIN(doc_id) AS first_doc
    FROM c GROUP BY fp HAVING COUNT(*) > 1
    """,
)
def q_chunk_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boilerplate detection: exact dedup at CHUNK granularity — repeated
    64-token windows across documents (headers, footers, license blocks)
    that document-level dedup can't see. chunk fan-out → md5 hash-groupBy
    with map-side combine; emitted fingerprints are only the duplicated
    ones."""
    from ..operators.chunking import chunk_documents

    d = table_scan(spark, sf_dir, "documents")
    chunks = chunk_documents(d, chunk_tokens=64, overlap=16)
    return (
        chunks.groupBy(F.md5("chunk_text").alias("fp"))
        .agg(
            F.count(F.lit(1)).alias("dup_cnt"),
            F.min("doc_id").alias("first_doc"),
        )
        .filter(F.col("dup_cnt") > 1)
    )


@register(
    "source_quota_sample",
    """
    SELECT doc_id, source FROM (
      SELECT doc_id, source,
             row_number() OVER (
               PARTITION BY source
               ORDER BY CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)),
                                                 1, 15)) AS BIGINT), doc_id
             ) AS rn
      FROM documents
    ) WHERE rn <= 10
    """,
)
def q_source_quota_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source quota sampling (data-mixing): up to 10 documents per
    source, chosen by portable-hash order so the quota set is deterministic
    and engine-reproducible — rebalancing over-represented sources is the
    standard pre-training mixing step. One window sort per source
    partition."""
    from ..functions.hashing import portable_hash64

    d = table_scan(spark, sf_dir, "documents")
    w = Window.partitionBy("source").orderBy(portable_hash64("doc_id"), "doc_id")
    return (
        d.select("doc_id", "source", F.row_number().over(w).alias("rn"))
        .filter(F.col("rn") <= 10)
        .select("doc_id", "source")
    )


@register(
    "source_mixture_weights",
    """
    WITH s AS (
      SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs
      FROM documents GROUP BY source
    ), t AS (
      SELECT CAST(SUM(CAST(sqrt(CAST(n_docs AS DOUBLE)) AS DECIMAL(18,9)))
                  AS DOUBLE) AS z
      FROM s
    )
    SELECT source, n_docs,
           sqrt(CAST(n_docs AS DOUBLE)) / z AS weight,
           CAST(FLOOR(CAST(1000000 AS DOUBLE)
                      * sqrt(CAST(n_docs AS DOUBLE)) / z) AS BIGINT) AS quota_docs
    FROM s, t
    ORDER BY source
    """,
)
def q_source_mixture_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-mixture reweighting: per-source doc counts → temperature-
    damped sampling weights (w ∝ n^0.5 — sqrt because IEEE sqrt is
    correctly rounded and therefore engine-portable, unlike pow(x, 0.7))
    → normalized share and an integer doc quota for a 1M-doc budget. The
    normalizer sums the per-source sqrt through the exact-decimal idiom so
    the division is bit-deterministic. Per-source stats are a tiny grouped
    pass; the 1-row normalizer broadcasts back."""
    docs = table_scan(spark, sf_dir, "documents").select("source")
    s = docs.groupBy("source").agg(F.count(F.lit(1)).alias("n_docs"))
    sq = F.sqrt(F.col("n_docs").cast("double"))
    t = s.agg(F.sum(sq.cast("decimal(18,9)")).cast("double").alias("z"))
    return (
        s.join(F.broadcast(t))
        .select(
            "source",
            "n_docs",
            (sq / F.col("z")).alias("weight"),
            F.floor(F.lit(1000000).cast("double") * sq / F.col("z"))
            .cast("long")
            .alias("quota_docs"),
        )
        .orderBy("source")
    )


@register(
    "dataset_shuffle_deterministic",
    """
    WITH h AS (
      SELECT doc_id,
             CAST(concat('0x', substr(md5('shuf42:' || CAST(doc_id AS VARCHAR)),
                                      1, 15)) AS BIGINT) AS hv
      FROM documents
    )
    SELECT doc_id,
           ROW_NUMBER() OVER (ORDER BY hv, doc_id) AS shuffle_pos,
           CAST((ROW_NUMBER() OVER (ORDER BY hv, doc_id) - 1) % 8 AS BIGINT)
             AS shard
    FROM h
    """,
)
def q_dataset_shuffle_deterministic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seeded deterministic global shuffle — reproducible training-data
    ordering without rand(): sort key = portable hash of (seed, doc_id), so
    any engine (and any re-run) produces the same permutation and the same
    8-way shard assignment. Global positions are assigned with the TWO-PHASE
    pattern (the distributed zipWithIndex): range-partition on the sort key,
    rank locally within each partition, then add per-partition offsets
    computed from the ≤-shuffle-partition-count row-count table — the only
    global window runs over THAT tiny table, so no data-sized input ever
    funnels through one task (contrast a naive
    `row_number() OVER (ORDER BY hv)`). The result is identical regardless
    of range boundaries because partitions are ordered and non-overlapping;
    persist pins one boundary sampling across the two phases."""
    from ..functions.hashing import portable_hash64

    d = table_scan(spark, sf_dir, "documents").select(
        "doc_id",
        portable_hash64(
            F.concat(F.lit("shuf42:"), F.col("doc_id").cast("string"))
        ).alias("hv"),
    )
    ranged = (
        d.repartitionByRange(16, "hv", "doc_id")
        .withColumn("pid", F.spark_partition_id())
        .transform(cached)
    )
    local = ranged.withColumn(
        "rn_local",
        F.row_number().over(Window.partitionBy("pid").orderBy("hv", "doc_id")),
    )
    counts = ranged.groupBy("pid").agg(F.count(F.lit(1)).alias("cnt"))
    offsets = counts.select(
        "pid",
        F.coalesce(
            F.sum("cnt").over(
                Window.orderBy("pid").rowsBetween(Window.unboundedPreceding, -1)
            ),
            F.lit(0),
        ).alias("offset"),
    )
    pos = F.col("rn_local") + F.col("offset")
    return local.join(F.broadcast(offsets), "pid").select(
        "doc_id",
        pos.alias("shuffle_pos"),
        ((pos - F.lit(1)) % F.lit(8)).cast("long").alias("shard"),
    )


@register(
    "bpe_top_merges",
    """
    WITH w AS (
      SELECT UNNEST(string_split_regex(TRIM(text), '\\s+')) AS word
      FROM documents
    ), p AS (
      SELECT substr(word, i + 1, 2) AS pair
      FROM w, UNNEST(range(length(word) - 1)) AS u(i)
      WHERE length(word) >= 2
    )
    SELECT pair, COUNT(*) AS cnt
    FROM p GROUP BY pair ORDER BY cnt DESC, pair LIMIT 20
    """,
)
def q_bpe_top_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The counting step of BPE tokenizer training (Sennrich et al. 2016):
    most frequent adjacent symbol pairs across the corpus — the candidate
    merge table a distributed tokenizer trainer recomputes every merge
    round. Two explodes (word, then in-word position) that stay JVM-side;
    the pair count partial-aggregates map-side, so at 100 TB the shuffle
    carries only (distinct pair, count) — vocabulary-sized, not
    corpus-sized."""
    d = table_scan(spark, sf_dir, "documents")
    w = d.select(
        F.explode(F.split(F.trim("text"), r"\s+")).alias("word")
    ).filter(F.length("word") >= 2)
    pairs = F.transform(
        F.sequence(F.lit(1), F.length("word") - 1),
        lambda i: F.substr("word", i, F.lit(2)),
    )
    return (
        w.select(F.explode(pairs).alias("pair"))
        .groupBy("pair")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.desc("cnt"), "pair")
        .limit(20)
    )


_HARD_NEG_ORACLE = """
    WITH p AS (
      SELECT q.vec_id AS query_id, v.vec_id AS neighbor_id,
             q.label = v.label AS same_label,
             UNNEST(q.embedding) AS qe, UNNEST(v.embedding) AS ve,
             UNNEST(range(len(q.embedding))) AS i
      FROM embeddings q, embeddings v
      WHERE q.vec_id < 30 AND v.vec_id <> q.vec_id
    ), d AS (
      SELECT query_id, neighbor_id, same_label,
             SUM(CAST(qe AS DOUBLE) * CAST(ve AS DOUBLE) ORDER BY i) AS dot,
             SUM(CAST(qe AS DOUBLE) * CAST(qe AS DOUBLE) ORDER BY i) AS qn,
             SUM(CAST(ve AS DOUBLE) * CAST(ve AS DOUBLE) ORDER BY i) AS vn
      FROM p GROUP BY query_id, neighbor_id, same_label
    ), s AS (
      SELECT query_id, neighbor_id, same_label,
             dot / (sqrt(qn) * sqrt(vn)) AS score,
             ROW_NUMBER() OVER (PARTITION BY query_id, same_label
                                ORDER BY dot / (sqrt(qn) * sqrt(vn)) DESC,
                                         neighbor_id) AS rn
      FROM d
    )
    SELECT query_id, neighbor_id, same_label, score FROM s WHERE rn = 1
"""


@register("hard_negative_mining", _HARD_NEG_ORACLE)
def q_hard_negative_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contrastive-pair mining for embedding training: per anchor, the most
    similar SAME-label vector (positive) and the most similar DIFFERENT-label
    vector (hard negative) — the pair construction behind triplet/InfoNCE
    fine-tuning. Same execution shape as `ann_cosine_topk` (anchors
    broadcast, corpus streamed, window top-1 per (anchor, same_label)); at
    scale the corpus never shuffles and the LSH/IVF variants bound the
    candidate set. Cosine folds element-wise in index order ⇒ bit-identical
    to the oracle."""
    from ..functions.vectors import cosine

    emb = table_scan(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 30).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("__qvec"),
        F.col("label").alias("__qlabel"),
    )
    c = emb.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("__cvec"),
        F.col("label").alias("__clabel"),
    )
    pairs = c.crossJoin(F.broadcast(q)).filter(
        F.col("neighbor_id") != F.col("query_id")
    )
    scored = pairs.select(
        "query_id",
        "neighbor_id",
        (F.col("__qlabel") == F.col("__clabel")).alias("same_label"),
        cosine("__qvec", "__cvec").alias("score"),
    )
    w = Window.partitionBy("query_id", "same_label").orderBy(
        F.desc("score"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select("query_id", "neighbor_id", "same_label", "score")
    )


_PROFILE_COLS = [
    "o_orderkey",
    "o_custkey",
    "o_orderstatus",
    "o_totalprice",
    "o_orderpriority",
]

_PROFILE_ORACLE = "\nUNION ALL\n".join(
    f"""
    SELECT '{c}' AS column_name, COUNT(*) AS n_rows,
           COUNT(CASE WHEN {c} IS NULL THEN 1 END) AS n_nulls,
           COUNT(DISTINCT {c}) AS n_distinct
    FROM orders
    """
    for c in _PROFILE_COLS
)


@register("table_profile_summary", _PROFILE_ORACLE)
def q_table_profile_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column-level data profiling (the ANALYZE/data-catalog primitive): one
    pass over the table computing per-column null counts and exact distinct
    counts, emitted long-form (column_name, n_rows, n_nulls, n_distinct).
    The N distinct aggregates share a single scan via Spark's Expand (one
    pass, N× row replication map-side — still one shuffle); at 100 TB swap
    approx_count_distinct in for the exact count to keep the expand cheap.
    The wide→long pivot is an inline array of structs, no extra scan."""
    o = table_scan(spark, sf_dir, "orders")
    aggs = [F.count(F.lit(1)).alias("n_rows")]
    for c in _PROFILE_COLS:
        aggs.append(
            F.count(F.when(F.col(c).isNull(), F.lit(1))).alias(f"__nulls_{c}")
        )
        aggs.append(F.countDistinct(F.col(c)).alias(f"__nd_{c}"))
    g = o.agg(*aggs)
    rows = F.array(
        *[
            F.struct(
                F.lit(c).alias("column_name"),
                F.col("n_rows").alias("n_rows"),
                F.col(f"__nulls_{c}").alias("n_nulls"),
                F.col(f"__nd_{c}").alias("n_distinct"),
            )
            for c in _PROFILE_COLS
        ]
    )
    return g.select(F.inline(rows))


@register(
    "vocab_skipgram_pairs",
    """
    WITH d AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
    p AS (
      SELECT w[i] AS center, w[i + k] AS context
      FROM d, UNNEST(range(1, len(w))) AS t(i), UNNEST([1, 2]) AS kk(k)
      WHERE i + k <= len(w) AND w[i] <> '' AND w[i + k] <> ''
    ),
    c AS (
      SELECT center, context, CAST(COUNT(*) AS BIGINT) AS n_pairs
      FROM p GROUP BY center, context
    )
    SELECT center, context, n_pairs
    FROM c ORDER BY n_pairs DESC, center, context LIMIT 50
    """,
)
def q_vocab_skipgram_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skip-gram (center, context) pair extraction — the word2vec /
    contrastive-pretraining training-pair generator: forward co-occurrence
    pairs at offsets 1 and 2, counted corpus-wide, top-50 by frequency
    with a total-order tiebreak. Pairs come from arrays_zip of shifted
    slices (the doc_bigram_rarity idiom) — no positions self-join, no
    per-token shuffle; the only shuffle is the (center, context) count,
    which partial-aggregates map-side, and the top-50 is a distributed
    TakeOrdered, not a single-partition sort."""
    docs = table_scan(spark, sf_dir, "documents").select(
        "doc_id", F.split("text", " ").alias("w")
    )
    n = F.size("w")
    off1 = F.arrays_zip(
        F.slice("w", 1, n - 1).alias("center"),
        F.slice(F.col("w"), F.lit(2), n - 1).alias("context"),
    )
    len2 = F.greatest(n - 2, F.lit(0))
    off2 = F.arrays_zip(
        F.slice(F.col("w"), F.lit(1), len2).alias("center"),
        F.slice(F.col("w"), F.lit(3), len2).alias("context"),
    )
    pairs = (
        docs.select(F.explode(F.concat(off1, off2)).alias("p"))
        .select(F.col("p.center").alias("center"), F.col("p.context").alias("context"))
        .filter((F.col("center") != "") & (F.col("context") != ""))
    )
    counts = pairs.groupBy("center", "context").agg(
        F.count(F.lit(1)).alias("n_pairs")
    )
    return counts.orderBy(F.desc("n_pairs"), "center", "context").limit(50)


@register(
    "vocab_posting_lists",
    """
    WITH t AS (
      SELECT DISTINCT doc_id, token
      FROM (SELECT doc_id, UNNEST(string_split(text, ' ')) AS token
            FROM documents WHERE doc_id < 40)
      WHERE token <> ''
    )
    SELECT token, CAST(COUNT(*) AS BIGINT) AS df,
           string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id) AS postings
    FROM t GROUP BY token
    """,
)
def q_vocab_posting_lists(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted-index build — the search/retrieval-side structure a corpus
    store materializes next to the vocabulary: token → sorted posting list
    of containing docs, over one 40-doc index segment (production builds
    per-segment postings exactly like this and merges; whole-corpus lists
    for head tokens would be delta-encoded, not strings). Shape: explode →
    (token, doc) distinct → one groupBy; collect_list is safe because the
    segment bounds the list length by construction. The numeric sort
    before stringification makes the list canonical cross-engine."""
    t = (
        table_scan(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 40)
        .select("doc_id", F.explode(F.split("text", " ")).alias("token"))
        .filter(F.col("token") != "")
        .distinct()
    )
    return t.groupBy("token").agg(
        F.count(F.lit(1)).alias("df"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list("doc_id")), lambda x: x.cast("string")
            ),
            ",",
        ).alias("postings"),
    )


@register(
    "vocab_heavy_hitters_pigeonhole",
    r"""
    WITH t AS (
      SELECT UNNEST(string_split_regex(TRIM(text), '\s+')) AS tok
      FROM documents
    ),
    tot AS (SELECT COUNT(*) AS n FROM t)
    SELECT tok, CAST(COUNT(*) AS BIGINT) AS cnt,
           CAST(COUNT(*) * 1000 // (SELECT n FROM tot) AS BIGINT) AS per_mille
    FROM t GROUP BY tok
    HAVING COUNT(*) * 50 >= (SELECT n FROM tot)
    """,
)
def q_vocab_heavy_hitters_pigeonhole(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact heavy hitters (tokens with ≥ 1/50 corpus share) via two-phase
    pigeonhole pruning — the distributed frequent-items shape that never
    shuffles the long tail: phase 1 counts tokens WITHIN each input
    partition (map-side only, grouped on ``spark_partition_id``) and keeps
    candidates whose local count ≥ n/(50·P). By pigeonhole, any token with
    global count ≥ n/50 spread over P partitions must clear that local bar
    somewhere, so the candidate set provably contains every true hitter —
    recall is exactly 1, unlike sketch-based frequent-items. Phase 2
    exactly recounts ONLY candidates (broadcast semi-join drops the tail
    before the shuffle) and applies the global threshold, which also makes
    the output independent of the physical partitioning. At 100 TB the
    shuffle carries |candidates| ≪ |vocabulary| keys; the tail — the bulk
    of any Zipfian vocabulary — dies map-side."""
    docs = table_scan(spark, sf_dir, "documents")
    toks = docs.select(
        F.explode(F.split(F.trim(F.col("text")), r"\s+")).alias("tok")
    ).transform(cached)
    total = toks.agg(F.count(F.lit(1)).alias("n"))
    p_cnt = toks.rdd.getNumPartitions()  # partition COUNT (metadata), no data
    local = toks.groupBy(F.spark_partition_id().alias("pid"), "tok").agg(
        F.count(F.lit(1)).alias("lc")
    )
    cand = (
        local.crossJoin(F.broadcast(total))
        .filter(F.col("lc") * 50 * p_cnt >= F.col("n"))
        .select("tok")
        .distinct()
    )
    return (
        toks.join(F.broadcast(cand), "tok")
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .crossJoin(F.broadcast(total))
        .filter(F.col("cnt") * 50 >= F.col("n"))
        .selectExpr("tok", "cnt", "cnt * 1000 div n AS per_mille")
    )


@register(
    "url_canonical_dedup",
    """
    SELECT source || '.example.com/' || lang || '/doc-'
             || CAST(doc_id % 50 AS VARCHAR) AS canonical_url,
           CAST(MIN(doc_id) AS BIGINT) AS keep_doc_id,
           CAST(COUNT(*) AS BIGINT) AS dup_cnt
    FROM documents GROUP BY 1
    """,
)
def q_url_canonical_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL canonicalization + dedup — the first pass of every web-crawl
    pipeline: synthesize each document's source URL (deterministically from
    its columns), canonicalize it by KEEPING host+path and DROPPING the
    query string (tracking params like utm_* must not distinguish pages),
    and keep the lowest doc_id per canonical URL. Canonicalization uses
    Spark's JVM ``parse_url(HOST)`` / ``parse_url(PATH)`` — no regex in
    the hot path, no Python. The oracle derives the canonical form
    independently from the raw columns, so the driver check verifies the
    parser actually stripped exactly the query string."""
    d = table_scan(spark, sf_dir, "documents")
    url = F.concat(
        F.lit("https://"),
        F.col("source"),
        F.lit(".example.com/"),
        F.col("lang"),
        F.lit("/doc-"),
        (F.col("doc_id") % 50).cast("string"),
        F.lit("?utm_source="),
        F.col("source"),
    )
    canon = F.concat(
        F.parse_url(url, F.lit("HOST")), F.parse_url(url, F.lit("PATH"))
    )
    return (
        d.select(F.col("doc_id"), canon.alias("canonical_url"))
        .groupBy("canonical_url")
        .agg(
            F.min("doc_id").alias("keep_doc_id"),
            F.count(F.lit(1)).alias("dup_cnt"),
        )
    )


@register(
    "gdpr_delete_propagation",
    """
    WITH del AS (
      SELECT DISTINCT user_id FROM events WHERE user_id % 53 = 0
    ),
    kept AS (
      SELECT e.* FROM events e
      WHERE e.user_id NOT IN (SELECT user_id FROM del)
    )
    SELECT CAST((SELECT COUNT(*) FROM kept) AS BIGINT) AS kept_events,
           CAST((SELECT COUNT(*) FROM events)
                - (SELECT COUNT(*) FROM kept) AS BIGINT) AS purged_events,
           CAST((SELECT COUNT(DISTINCT user_id) FROM kept) AS BIGINT)
             AS kept_users,
           CAST((SELECT COUNT(*) FROM del) AS BIGINT) AS deleted_users,
           CAST((SELECT COUNT(*) FROM kept k
                 WHERE k.user_id IN (SELECT user_id FROM del)) AS BIGINT)
             AS residue
    """,
)
def q_gdpr_delete_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Right-to-be-forgotten purge — the compliance op every lakehouse
    needs: a deterministic deletion list (users with ``user_id % 53 = 0``
    stands in for the real request table) is anti-joined out of the fact
    table, and the output is the AUDIT record the DPO actually files:
    kept/purged row counts, surviving distinct users, deletion-list size,
    and — witnessed IN the same plan, not assumed — ``residue``: a
    semi-join recount of deleted users still present, which must be 0.
    The purge is a broadcast anti join (deletion lists are small); at
    100 TB the same plan rewrites files partition-by-partition and the
    residue query is the post-purge verification pass."""
    e = table_scan(spark, sf_dir, "events")
    dels = (
        e.filter(F.col("user_id") % 53 == 0).select("user_id").distinct()
    )
    kept = e.join(F.broadcast(dels), "user_id", "left_anti").transform(cached)
    residue = kept.join(F.broadcast(dels), "user_id", "left_semi")
    totals = e.agg(F.count(F.lit(1)).alias("total"))
    return (
        kept.agg(
            F.count(F.lit(1)).alias("kept_events"),
            F.count_distinct("user_id").alias("kept_users"),
        )
        .crossJoin(F.broadcast(totals))
        .crossJoin(
            F.broadcast(dels.agg(F.count(F.lit(1)).alias("deleted_users")))
        )
        .crossJoin(
            F.broadcast(residue.agg(F.count(F.lit(1)).alias("residue")))
        )
        .select(
            "kept_events",
            (F.col("total") - F.col("kept_events")).alias("purged_events"),
            "kept_users",
            "deleted_users",
            "residue",
        )
    )


@register(
    "entity_resolution_fuzzy",
    """
    WITH RECURSIVE rec AS (
      SELECT p_partkey AS rec_id,
             CASE WHEN p_partkey % 4 = 0 THEN p_name
                  WHEN p_partkey % 4 = 1
                    THEN substr(p_name, 1, length(p_name) - 1)
                  WHEN p_partkey % 4 = 2
                    THEN p_name || substr(p_name, length(p_name), 1)
                  ELSE substr(p_name, 1, length(p_name) - 1) || 'x'
             END AS name
      FROM part
    ),
    names AS (
      SELECT name, CAST(MIN(rec_id) AS BIGINT) AS name_id,
             CAST(COUNT(*) AS BIGINT) AS n_records
      FROM rec GROUP BY name
    ),
    e AS (
      SELECT a.name_id AS u, b.name_id AS v
      FROM names a JOIN names b
        ON substr(a.name, 1, 2) = substr(b.name, 1, 2)
       AND a.name_id < b.name_id
       AND abs(length(a.name) - length(b.name)) <= 1
       AND levenshtein(a.name, b.name) <= 1
    ),
    sym AS (SELECT u AS a, v AS b FROM e UNION SELECT v, u FROM e),
    reach(a, b) AS (
      SELECT a, b FROM sym
      UNION
      SELECT r.a, s.b FROM reach r JOIN sym s ON r.b = s.a
    ),
    lab AS (
      SELECT n.name, n.name_id, n.n_records,
             LEAST(n.name_id, COALESCE(MIN(r.b), n.name_id)) AS component
      FROM names n LEFT JOIN reach r ON r.a = n.name_id
      GROUP BY n.name, n.name_id, n.n_records
    )
    SELECT CAST(component AS BIGINT) AS entity_id,
           MIN(name) AS canonical_name,
           CAST(COUNT(*) AS BIGINT) AS n_spellings,
           CAST(SUM(n_records) AS BIGINT) AS n_records
    FROM lab GROUP BY component
    """,
)
def q_entity_resolution_fuzzy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy entity resolution — blocked edit-distance record linkage, the
    master-data dedup every ingest of names/merchants/addresses needs.
    Records carry deterministically dirtied part names (exact / last char
    dropped / doubled / typo'd — all ≤ 1 edit). The SCALE-CRITICAL move:
    records collapse to DISTINCT spellings FIRST (canonicalize-then-match
    — the candidate universe becomes |distinct strings|, not |records|),
    then spellings meet only inside (2-char-prefix) blocks with a length
    band as join residual — an equi-join, never all-pairs — and survive
    on JVM ``levenshtein ≤ 1``. Transitive matches (drop-last ↔ exact ↔
    doubled are pairwise 2 edits apart) are closed by the reusable
    `connected_components` operator (operators/components.py); the entity
    graph here is |distinct spellings|-sized (256 vertices at sf0.1), so
    the operator takes its small-graph fast path
    (``LOCAL_THRESHOLD``): under the threshold the closure is a bounded
    driver-side union-find — the distributed loop's per-round job
    overhead dominated 80%+ of this query's wall time (round-12 A/B;
    VERDICT r11 #2) — while an over-threshold graph (the 100 TB regime)
    takes the staged distributed loop unchanged. Each entity reports its
    canonical spelling, spelling count, and record count. Oracle:
    identical blocking + DuckDB levenshtein + WITH RECURSIVE closure."""
    from ..operators.components import connected_components

    p = table_scan(spark, sf_dir, "part")
    rec = p.select(
        F.col("p_partkey").alias("rec_id"),
        F.expr(
            "CASE WHEN p_partkey % 4 = 0 THEN p_name "
            "WHEN p_partkey % 4 = 1 THEN substring(p_name, 1, length(p_name) - 1) "
            "WHEN p_partkey % 4 = 2 THEN p_name || substring(p_name, length(p_name), 1) "
            "ELSE substring(p_name, 1, length(p_name) - 1) || 'x' END"
        ).alias("name"),
    )
    names = rec.groupBy("name").agg(
        F.min("rec_id").alias("name_id"), F.count(F.lit(1)).alias("n_records")
    )

    def edges() -> DataFrame:
        a = names.select(
            F.col("name").alias("name_a"),
            F.col("name_id").alias("u"),
            F.substring("name", 1, 2).alias("blk"),
        )
        b = names.select(
            F.col("name").alias("name_b"),
            F.col("name_id").alias("v"),
            F.substring("name", 1, 2).alias("blk"),
        )
        return (
            a.join(b, "blk")
            .filter(
                (F.col("u") < F.col("v"))
                & (F.abs(F.length("name_a") - F.length("name_b")) <= 1)
                & (F.levenshtein("name_a", "name_b") <= 1)
            )
            .select("u", "v")
        )

    vertices = names.select(F.col("name_id").alias("node"))
    comp = connected_components(
        vertices,
        edges,
        id_col="node",
        src_col="u",
        dst_col="v",
        stage_key="er_fuzzy_sym:v1:" + source_fingerprint(sf_dir, "part"),
    )
    return (
        names.join(comp, names["name_id"] == comp["node"])
        .groupBy("component")
        .agg(
            F.min("name").alias("canonical_name"),
            F.count(F.lit(1)).alias("n_spellings"),
            F.sum("n_records").alias("n_records"),
        )
        .select(
            F.col("component").alias("entity_id"),
            "canonical_name",
            "n_spellings",
            "n_records",
        )
    )


_CASCADE_ORACLE = _SIMHASH_CTE.replace("WITH tok", "WITH RECURSIVE tok") + """
    , s1 AS (
      SELECT MIN(doc_id) AS doc_id FROM documents GROUP BY md5(text)
    ),
    s2 AS (
      SELECT MIN(d.doc_id) AS doc_id
      FROM documents d JOIN s1 ON s1.doc_id = d.doc_id
      GROUP BY d.source || '.example.com/' || d.lang || '/doc-'
               || CAST(d.doc_id % 50 AS VARCHAR)
    ),
    e AS (
      SELECT a.doc_id AS u, b.doc_id AS v
      FROM sh a JOIN s2 sa ON sa.doc_id = a.doc_id
           JOIN sh b ON a.doc_id < b.doc_id
           JOIN s2 sb ON sb.doc_id = b.doc_id
      WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
    ),
    sym AS (SELECT u AS a, b FROM (SELECT u, v AS b FROM e)
            UNION SELECT v, u FROM e),
    reach(a, b) AS (
      SELECT a, b FROM sym
      UNION
      SELECT r.a, s.b FROM reach r JOIN sym s ON r.b = s.a
    ),
    lab AS (
      SELECT s2.doc_id,
             LEAST(s2.doc_id, COALESCE(MIN(r.b), s2.doc_id)) AS component
      FROM s2 LEFT JOIN reach r ON r.a = s2.doc_id
      GROUP BY s2.doc_id
    ),
    s3 AS (SELECT MIN(doc_id) AS doc_id FROM lab GROUP BY component)
    SELECT * FROM (
      SELECT 1 AS stage, 'input' AS name,
             CAST(COUNT(*) AS BIGINT) AS survivors FROM documents
      UNION ALL
      SELECT 2, 'exact', CAST(COUNT(*) AS BIGINT) FROM s1
      UNION ALL
      SELECT 3, 'url', CAST(COUNT(*) AS BIGINT) FROM s2
      UNION ALL
      SELECT 4, 'near_dup', CAST(COUNT(*) AS BIGINT) FROM s3
    )
"""


@register("dedup_cascade_funnel", _CASCADE_ORACLE)
def q_dedup_cascade_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THE production dedup pipeline, composed end-to-end with its
    attrition funnel: exact content dedup (md5 keep-min) → canonical-URL
    dedup (JVM parse_url host+path, tracking params dropped) → SimHash
    near-dup clustering (banded-Hamming pairs, transitive closure via
    `connected_components`, keep-min per cluster). Each stage runs ONLY on
    the previous stage's survivors (cheap-to-expensive ordering is what
    makes a 100 TB dedup affordable — near-dup never sees rows exact/URL
    already killed), and the emitted funnel row per stage is the
    attrition report every data-curation run ships. The near-dup pairs
    are built only by the call that stages their symmetrized edge list;
    later calls in the session read the staged list. Oracle: the identical
    cascade with the shared SimHash CTE and a WITH RECURSIVE closure."""
    from ..operators.components import connected_components

    d = table_scan(spark, sf_dir, "documents").select("doc_id", "text", "lang", "source")
    s1 = (
        d.groupBy(F.md5("text").alias("fp"))
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id")
    )
    s1d = d.join(s1, "doc_id", "left_semi")
    url = F.concat(
        F.lit("https://"),
        F.col("source"),
        F.lit(".example.com/"),
        F.col("lang"),
        F.lit("/doc-"),
        (F.col("doc_id") % 50).cast("string"),
        F.lit("?utm_source="),
        F.col("source"),
    )
    canon = F.concat(
        F.parse_url(url, F.lit("HOST")), F.parse_url(url, F.lit("PATH"))
    )
    s2 = (
        s1d.select("doc_id", canon.alias("curl"))
        .groupBy("curl")
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id")
    )
    s2d = d.join(s2, "doc_id", "left_semi")
    comp = connected_components(
        s2d.select(F.col("doc_id").alias("node")),
        lambda: simhash_near_dup_pairs(s2d, bits=32, bands=4, max_hamming=3).select(
            "id_a", "id_b"
        ),
        id_col="node",
        src_col="id_a",
        dst_col="id_b",
        # near-dup edges are deterministic per corpus snapshot: stage the
        # symmetrized edge list bucketed on the gather key so the CC loop
        # never re-exchanges it and reruns reuse it (pagerank pattern).
        # The post-URL-dedup graph is tiny at bench scale (1.2k edges /
        # 500 vertices at sf0.1), so the operator solves it on its
        # adaptive small-graph fast path; an over-threshold graph (the
        # 100 TB regime) takes the staged distributed loop unchanged —
        # plan-asserted in tests/test_components_staged.py, which lowers
        # components.LOCAL_THRESHOLD.
        stage_key="cascade_sym:v1:" + source_fingerprint(sf_dir, "documents"),
    )
    s3 = comp.groupBy("component").agg(F.min("node").alias("doc_id"))

    def stage(n: int, name: str, frame: DataFrame) -> DataFrame:
        return frame.agg(F.count(F.lit(1)).alias("survivors")).select(
            F.lit(n).alias("stage"), F.lit(name).alias("name"), "survivors"
        )

    return (
        stage(1, "input", d)
        .unionByName(stage(2, "exact", s1d))
        .unionByName(stage(3, "url", s2d))
        .unionByName(stage(4, "near_dup", s3))
    )


@register(
    "vocab_pmi_collocations",
    """
    WITH d AS (SELECT string_split(text, ' ') AS w FROM documents),
    tok AS (SELECT UNNEST(w) AS t FROM d),
    uni AS (SELECT t, CAST(COUNT(*) AS BIGINT) AS n
            FROM tok WHERE t <> '' GROUP BY t),
    tot AS (SELECT CAST(SUM(n) AS BIGINT) AS tt FROM uni),
    p AS (
      SELECT w[i] AS center, w[i + 1] AS context
      FROM d, UNNEST(range(1, len(w))) AS u(i)
      WHERE w[i] <> '' AND w[i + 1] <> ''
    ),
    pc AS (SELECT center, context, CAST(COUNT(*) AS BIGINT) AS n_xy
           FROM p GROUP BY center, context),
    pt AS (SELECT CAST(SUM(n_xy) AS BIGINT) AS pp FROM pc),
    s AS (
      SELECT pc.center, pc.context, pc.n_xy,
             CAST((CAST(pc.n_xy AS HUGEINT) * tt * tt * 1000000)
                  // (CAST(pp AS HUGEINT) * ux.n * uy.n) AS BIGINT)
               AS pmi_ratio_ppm
      FROM pc
      CROSS JOIN tot CROSS JOIN pt
      JOIN uni ux ON ux.t = pc.center
      JOIN uni uy ON uy.t = pc.context
      WHERE pc.n_xy >= 3
    )
    SELECT center, context, n_xy AS n_pairs, pmi_ratio_ppm
    FROM s ORDER BY pmi_ratio_ppm DESC, center, context LIMIT 50
    """,
)
def q_vocab_pmi_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PMI collocation extraction — the classic corpus-statistics pass that
    finds multi-word expressions worth merging into single tokens before
    tokenizer training (Mikolov et al. 2013 phrase detection). PMI =
    log[p(x,y) / (p(x)p(y))]; log is monotone, so the score is emitted as
    the exact INTEGER ratio n_xy·T² ·10⁶ / (P·n_x·n_y) in DECIMAL(38,0)
    (DuckDB HUGEINT twin) — no float anywhere, bitwise cross-engine, with
    min-support n_xy ≥ 3 (the standard PMI low-frequency guard). Shape:
    two count shuffles (unigrams, bigrams) that partial-agg map-side, two
    vocab-keyed joins to attach marginals, two broadcast scalars (T, P) via
    crossJoin(broadcast(agg)) — never a global window — and a distributed
    TakeOrdered top-50. At 100 TB the vocab joins shuffle only (token,
    count) pairs: payload-free."""
    docs = table_scan(spark, sf_dir, "documents").select(
        F.split("text", " ").alias("w")
    )
    toks = docs.select(F.explode("w").alias("t")).filter(F.col("t") != "")
    uni = toks.groupBy("t").agg(F.count(F.lit(1)).alias("n"))
    tot = uni.agg(F.sum("n").alias("tt"))
    n = F.size("w")
    off1 = F.arrays_zip(
        F.slice("w", 1, n - 1).alias("center"),
        F.slice(F.col("w"), F.lit(2), n - 1).alias("context"),
    )
    pairs = (
        docs.select(F.explode(off1).alias("pr"))
        .select(F.col("pr.center").alias("center"), F.col("pr.context").alias("context"))
        .filter((F.col("center") != "") & (F.col("context") != ""))
    )
    pc = pairs.groupBy("center", "context").agg(F.count(F.lit(1)).alias("n_xy"))
    pt = pc.agg(F.sum("n_xy").alias("pp"))
    s = (
        pc.filter(F.col("n_xy") >= 3)
        .join(uni.select(F.col("t").alias("center"), F.col("n").alias("nx")), "center")
        .join(uni.select(F.col("t").alias("context"), F.col("n").alias("ny")), "context")
        .crossJoin(F.broadcast(tot))
        .crossJoin(F.broadcast(pt))
        .selectExpr(
            "center",
            "context",
            "n_xy AS n_pairs",
            "CAST((CAST(n_xy AS DECIMAL(38,0)) * tt * tt * 1000000)"
            " div (CAST(pp AS DECIMAL(38,0)) * nx * ny) AS BIGINT)"
            " AS pmi_ratio_ppm",
        )
    )
    return s.orderBy(F.desc("pmi_ratio_ppm"), "center", "context").limit(50)


@register(
    "dataset_kfold_split",
    """
    WITH f AS (
      SELECT CAST(CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))
                  AS BIGINT) % 5 AS INT) AS fold,
             lang
      FROM documents
    ),
    g AS (SELECT fold, lang, CAST(COUNT(*) AS BIGINT) AS n_docs
          FROM f GROUP BY fold, lang),
    t AS (SELECT lang, CAST(SUM(n_docs) AS BIGINT) AS lang_total FROM g
          GROUP BY lang)
    SELECT g.fold, g.lang, g.n_docs,
           CAST(g.n_docs * 1000 // t.lang_total AS BIGINT) AS share_permille
    FROM g JOIN t ON t.lang = g.lang
    """,
)
def q_dataset_kfold_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-fold cross-validation assignment (k=5) by portable hash —
    completes the dataset-split family (train/val/test, stratified, quota,
    mixture) with the CV shape: fold membership is a pure function of the
    row key (md5-prefix % 5), so every engine, every rerun, and every
    downstream job recomputes the same folds with zero stored state. The
    per-(fold, language) counts + per-mille share audit the balance a
    hash split promises (~200‰ per fold). One count shuffle + one
    broadcast-sized marginals join."""
    from ..functions.hashing import portable_hash64

    d = table_scan(spark, sf_dir, "documents")
    f = d.select(
        F.pmod(portable_hash64(F.col("doc_id")), F.lit(5)).cast("int").alias("fold"),
        "lang",
    )
    g = f.groupBy("fold", "lang").agg(F.count(F.lit(1)).alias("n_docs"))
    t = g.groupBy("lang").agg(F.sum("n_docs").alias("lang_total"))
    return (
        g.join(F.broadcast(t), "lang")
        .selectExpr(
            "fold",
            "lang",
            "n_docs",
            "n_docs * 1000 div lang_total AS share_permille",
        )
    )


@register(
    "vocab_char_coverage",
    """
    WITH ch AS (
      SELECT UNNEST(string_split(text, '')) AS c FROM documents
    ),
    cnt AS (
      SELECT c, CAST(COUNT(*) AS BIGINT) AS n
      FROM ch WHERE c <> '' GROUP BY c
    ),
    tot AS (SELECT CAST(SUM(n) AS BIGINT) AS t FROM cnt),
    r AS (
      SELECT c, n,
             CAST(ROW_NUMBER() OVER (ORDER BY n DESC, c) AS INT) AS rnk,
             CAST(SUM(n) OVER (ORDER BY n DESC, c
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
               AS cum_n
      FROM cnt
    )
    SELECT c AS ch, n, rnk,
           CAST(cum_n * 1000000 // t AS BIGINT) AS cum_coverage_ppm
    FROM r CROSS JOIN tot
    """,
)
def q_vocab_char_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-coverage curve — the statistic behind SentencePiece's
    character_coverage knob (how many code points does it take to cover
    99.95 % of the corpus?): per-character counts ranked by frequency with
    cumulative coverage in exact ppm. The char explode is the only
    corpus-sized stage (one partial-agg count shuffle); the ranking
    windows run over the per-CHARACTER aggregate — the alphabet, dozens of
    rows at any corpus size — so the 'global' window is O(|charset|), not
    O(corpus). Total-order tiebreak (count desc, char) keeps the curve
    deterministic."""
    d = table_scan(spark, sf_dir, "documents")
    cnt = (
        d.select(F.explode(F.split("text", "")).alias("c"))
        .filter(F.col("c") != "")
        .groupBy("c")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    tot = cnt.agg(F.sum("n").alias("t"))
    w = Window.orderBy(F.desc("n"), "c")
    r = cnt.select(
        "c",
        "n",
        F.row_number().over(w).cast("int").alias("rnk"),
        F.sum("n")
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .alias("cum_n"),
    )
    return r.crossJoin(F.broadcast(tot)).selectExpr(
        "c AS ch", "n", "rnk", "(cum_n * 1000000) div t AS cum_coverage_ppm"
    )


@register(
    "source_mixture_temperature",
    """
    WITH s AS (
      SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents
      GROUP BY source
    ),
    q AS (
      SELECT source, n_docs,
             CAST(FLOOR(SQRT(CAST(n_docs AS DOUBLE)) * 1000000) AS BIGINT)
               AS s_i
      FROM s
    ),
    t AS (SELECT CAST(SUM(s_i) AS BIGINT) AS st,
                 CAST(SUM(n_docs) AS BIGINT) AS nt FROM q)
    SELECT source, n_docs,
           CAST(n_docs * 1000000 // nt AS BIGINT) AS raw_share_ppm,
           CAST(s_i * 1000000 // st AS BIGINT) AS temp_weight_ppm
    FROM q CROSS JOIN t
    """,
)
def q_source_mixture_temperature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-based source mixture weights (τ=2 ⇒ p ∝ n^½) — the
    standard up-weighting of low-resource sources in multilingual /
    multi-source pretraining (mT5's temperature sampling), next to the
    fixed-weight source_mixture_weights. Made cross-engine exact WITHOUT
    trusting float summation: √n is a single correctly-rounded IEEE op,
    floored to integer micro units per source; every sum and division
    after that is integer. Both shares emitted in ppm so the flattening
    (raw vs temperature) is visible in one row. One tiny group count —
    the totals broadcast."""
    d = table_scan(spark, sf_dir, "documents")
    s = d.groupBy("source").agg(F.count(F.lit(1)).alias("n_docs"))
    q = s.select(
        "source",
        "n_docs",
        F.floor(F.sqrt(F.col("n_docs").cast("double")) * 1000000)
        .cast("long")
        .alias("s_i"),
    )
    t = q.agg(F.sum("s_i").alias("st"), F.sum("n_docs").alias("nt"))
    return q.crossJoin(F.broadcast(t)).selectExpr(
        "source",
        "n_docs",
        "(n_docs * 1000000) div nt AS raw_share_ppm",
        "(s_i * 1000000) div st AS temp_weight_ppm",
    )


@register(
    "dataset_token_budget_allocation",
    """
    WITH s AS (
      SELECT source,
             CAST(SUM(CASE WHEN TRIM(text) = '' THEN 0
                  ELSE len(string_split_regex(TRIM(text), '\\s+')) END)
                  AS BIGINT) AS n_tokens
      FROM documents GROUP BY source
    ),
    t AS (SELECT CAST(SUM(n_tokens) AS BIGINT) AS nt FROM s),
    base AS (
      SELECT source, n_tokens,
             CAST((10000 * n_tokens) // nt AS BIGINT) AS floor_alloc,
             CAST((10000 * n_tokens) % nt AS BIGINT) AS remainder
      FROM s CROSS JOIN t
    ),
    short AS (
      SELECT CAST(10000 - SUM(floor_alloc) AS BIGINT) AS shortfall FROM base
    ),
    r AS (
      SELECT source, n_tokens, floor_alloc,
             CAST(ROW_NUMBER() OVER (ORDER BY remainder DESC, source)
                  AS BIGINT) AS rk
      FROM base
    )
    SELECT source, n_tokens,
           CAST(floor_alloc + CASE WHEN rk <= shortfall THEN 1 ELSE 0 END
                AS BIGINT) AS alloc_tokens
    FROM r CROSS JOIN short
    """,
)
def q_dataset_token_budget_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget apportionment across sources by the largest-remainder
    (Hamilton) method — the 'data recipe' solver that turns per-source
    token counts into an EXACT integer allocation of a fixed training
    budget (10 000 tokens): floor the proportional shares, then hand the
    shortfall to the largest fractional remainders with a total-order
    tiebreak. Σalloc == budget exactly, by construction, on both engines.
    The only corpus-sized stage is the per-source token count (one
    partial-agg shuffle); apportionment runs over the handful of source
    rows (broadcast total + scalar shortfall + one tiny rank window)."""
    d = table_scan(spark, sf_dir, "documents")
    s = d.groupBy("source").agg(
        F.sum(
            F.when(F.trim(F.col("text")) == "", 0).otherwise(
                F.size(F.split(F.trim(F.col("text")), r"\s+"))
            )
        ).alias("n_tokens")
    )
    t = s.agg(F.sum("n_tokens").alias("nt"))
    from ..operators.agg import largest_remainder_topup

    base = s.crossJoin(F.broadcast(t)).selectExpr(
        "source",
        "n_tokens",
        "(10000 * n_tokens) div nt AS floor_alloc",
        "(10000 * n_tokens) % nt AS remainder",
    )
    return largest_remainder_topup(
        base, 10000, "floor_alloc", "remainder", "source", "alloc_tokens"
    ).select("source", "n_tokens", "alloc_tokens")


@register(
    "vocab_growth_heaps_curve",
    r"""
    WITH mx AS (SELECT MAX(doc_id) + 1 AS md FROM documents),
    tok AS (
      SELECT doc_id, UNNEST(string_split_regex(TRIM(text), '\s+')) AS t
      FROM documents WHERE TRIM(text) <> ''
    ),
    ck AS (SELECT UNNEST(range(1, 11)) AS k),
    curve AS (
      SELECT CAST(ck.k AS INT) AS decile,
             CAST(COUNT(CASE WHEN tok.doc_id * 10 < ck.k * mx.md
                        THEN 1 END) AS BIGINT) AS n_tokens,
             CAST(COUNT(DISTINCT CASE WHEN tok.doc_id * 10 < ck.k * mx.md
                                 THEN tok.t END) AS BIGINT) AS vocab_size
      FROM tok CROSS JOIN mx CROSS JOIN ck
      WHERE tok.t <> ''
      GROUP BY ck.k
    )
    SELECT decile, n_tokens, vocab_size
    FROM curve
    """,
)
def q_vocab_growth_heaps_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps'-law vocabulary growth curve — how fast does the vocab grow
    as the corpus grows? (The curve that sizes tokenizer vocabularies and
    predicts marginal-data novelty): at each corpus decile (by doc-id
    prefix — the stable, engine-replayable 'arrival order'), cumulative
    token count and cumulative DISTINCT vocabulary, computed in ONE pass
    via conditional distinct aggregation over the 10 cutoffs (a 10× token
    fan against broadcast scalars — never 10 corpus rescans). Sub-linear
    vocab growth (V ∝ nᵝ, β<1) is the expected shape; a straight line
    screams synthetic or deduplicatable data."""
    d = table_scan(spark, sf_dir, "documents")
    mx = d.agg((F.max("doc_id") + 1).alias("md"))
    tok = (
        d.filter(F.trim(F.col("text")) != "")
        .select(
            "doc_id",
            F.explode(F.split(F.trim(F.col("text")), r"\s+")).alias("t"),
        )
        .filter(F.col("t") != "")
    )
    ck = spark.range(1, 11).select(F.col("id").cast("int").alias("k"))
    curve = (
        tok.crossJoin(F.broadcast(mx))
        .crossJoin(F.broadcast(ck))
        .groupBy("k")
        .agg(
            F.count(
                F.when(F.col("doc_id") * 10 < F.col("k") * F.col("md"), 1)
            ).alias("n_tokens"),
            F.countDistinct(
                F.when(
                    F.col("doc_id") * 10 < F.col("k") * F.col("md"),
                    F.col("t"),
                )
            ).alias("vocab_size"),
        )
    )
    return curve.select(
        F.col("k").cast("int").alias("decile"), "n_tokens", "vocab_size"
    )


_MMR_COSINE_CTES = """
    q AS (SELECT embedding FROM embeddings WHERE vec_id = 0),
    relp AS (
      SELECT v.vec_id AS id, UNNEST(q.embedding) AS qe,
             UNNEST(v.embedding) AS ve, UNNEST(range(len(q.embedding))) AS i
      FROM embeddings v, q WHERE v.vec_id <> 0
    ),
    rels AS (
      SELECT id,
             SUM(CAST(qe AS DOUBLE) * CAST(ve AS DOUBLE) ORDER BY i)
               / (sqrt(SUM(CAST(qe AS DOUBLE) * CAST(qe AS DOUBLE) ORDER BY i))
                  * sqrt(SUM(CAST(ve AS DOUBLE) * CAST(ve AS DOUBLE) ORDER BY i)))
               AS rel
      FROM relp GROUP BY id
    ),
    cand AS (SELECT id, rel FROM rels ORDER BY rel DESC, id LIMIT 8),
    cv AS (
      SELECT c.id, e.embedding FROM cand c
      JOIN embeddings e ON e.vec_id = c.id
    ),
    pmp AS (
      SELECT a.id AS ia, b.id AS ib, UNNEST(a.embedding) AS ae,
             UNNEST(b.embedding) AS be, UNNEST(range(len(a.embedding))) AS i
      FROM cv a, cv b WHERE a.id <> b.id
    ),
    pm AS (
      SELECT ia, ib,
             SUM(CAST(ae AS DOUBLE) * CAST(be AS DOUBLE) ORDER BY i)
               / (sqrt(SUM(CAST(ae AS DOUBLE) * CAST(ae AS DOUBLE) ORDER BY i))
                  * sqrt(SUM(CAST(be AS DOUBLE) * CAST(be AS DOUBLE) ORDER BY i)))
               AS s
      FROM pmp GROUP BY ia, ib
    )
"""


@register(
    "retrieval_mmr_diversified_topk",
    """
    WITH
"""
    + _MMR_COSINE_CTES
    + """,
    s1 AS (SELECT id, 0.7 * rel AS mmr FROM cand ORDER BY rel DESC, id LIMIT 1),
    r2 AS (
      SELECT c.id, c.rel, MAX(pm.s) AS red FROM cand c
      JOIN pm ON pm.ia = c.id AND pm.ib IN (SELECT id FROM s1)
      WHERE c.id NOT IN (SELECT id FROM s1) GROUP BY c.id, c.rel
    ),
    s2 AS (SELECT id, 0.7 * rel - 0.3 * red AS mmr FROM r2
           ORDER BY mmr DESC, id LIMIT 1),
    r3 AS (
      SELECT c.id, c.rel, MAX(pm.s) AS red FROM cand c
      JOIN pm ON pm.ia = c.id
       AND pm.ib IN (SELECT id FROM s1 UNION ALL SELECT id FROM s2)
      WHERE c.id NOT IN (SELECT id FROM s1 UNION ALL SELECT id FROM s2)
      GROUP BY c.id, c.rel
    ),
    s3 AS (SELECT id, 0.7 * rel - 0.3 * red AS mmr FROM r3
           ORDER BY mmr DESC, id LIMIT 1),
    r4 AS (
      SELECT c.id, c.rel, MAX(pm.s) AS red FROM cand c
      JOIN pm ON pm.ia = c.id
       AND pm.ib IN (SELECT id FROM s1 UNION ALL SELECT id FROM s2
                     UNION ALL SELECT id FROM s3)
      WHERE c.id NOT IN (SELECT id FROM s1 UNION ALL SELECT id FROM s2
                         UNION ALL SELECT id FROM s3)
      GROUP BY c.id, c.rel
    ),
    s4 AS (SELECT id, 0.7 * rel - 0.3 * red AS mmr FROM r4
           ORDER BY mmr DESC, id LIMIT 1)
    SELECT CAST(1 AS INT) AS step, id AS vec_id, mmr AS mmr_score FROM s1
    UNION ALL SELECT 2, id, mmr FROM s2
    UNION ALL SELECT 3, id, mmr FROM s3
    UNION ALL SELECT 4, id, mmr FROM s4
    """,
)
def q_retrieval_mmr_diversified_topk(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Maximal Marginal Relevance re-ranking — the diversity-aware top-k
    selection every RAG retrieval stack bolts onto its ANN stage: from the
    top-8 cosine candidates for query vector 0, greedily pick 4 results
    maximizing MMR = λ·sim(q,d) − (1−λ)·max_{s∈S} sim(d,s) with λ = 0.7,
    so near-duplicate passages can't crowd out coverage. The greedy loop
    is inherently sequential but k-BOUNDED: each of the 3 unrolled steps
    is one anti-join + max-aggregate + TakeOrdered over the ≤8-row
    candidate table and its ≤56-row pairwise-cosine matrix (both persisted
    — the corpus-sized work is ONLY the initial cosine_topk candidate
    scan, same plan as ann_cosine_topk). Every similarity is the
    array-index-ordered double fold both engines share (_ANN_ORACLE
    idiom), ties pin by id, so the selection — float scores and all — is
    bit-deterministic. At scale, candidate generation is the distributed
    stage; re-ranking cost is O(k²) per query by construction."""
    from ..functions.vectors import cosine
    from ..operators.similarity import cosine_topk

    emb = table_scan(spark, sf_dir, "embeddings")
    qdf = emb.filter(F.col("vec_id") == 0)
    cand = (
        cosine_topk(emb, qdf, k=8)
        .select(F.col("neighbor_id").alias("id"), F.col("score").alias("rel"))
        .transform(cached)
    )
    cv = (
        emb.join(F.broadcast(cand), emb.vec_id == F.col("id"))
        .select("id", "embedding")
        .transform(cached)
    )
    a, b = cv.alias("a"), cv.alias("b")
    pm = (
        a.join(F.broadcast(b), F.col("a.id") != F.col("b.id"))
        .select(
            F.col("a.id").alias("ia"),
            F.col("b.id").alias("ib"),
            cosine(F.col("a.embedding"), F.col("b.embedding")).alias("s"),
        )
        .transform(cached)
    )
    lam, mu = F.lit(0.7), F.lit(0.3)

    def pick(frame: DataFrame) -> DataFrame:
        return frame.orderBy(F.col("mmr").desc(), F.col("id")).limit(1)

    def step(selected: DataFrame) -> DataFrame:
        sel_ids = selected.select("id")
        rem = cand.join(sel_ids, "id", "left_anti")
        red = (
            pm.join(sel_ids.withColumnRenamed("id", "ib"), "ib")
            .groupBy("ia")
            .agg(F.max("s").alias("red"))
        )
        scored = rem.join(red, rem.id == red.ia).select(
            "id", (lam * F.col("rel") - mu * F.col("red")).alias("mmr")
        )
        return pick(scored)

    s1 = cand.select("id", (lam * F.col("rel")).alias("mmr"))
    s1 = pick(s1)
    s2 = step(s1)
    s3 = step(s1.unionByName(s2))
    s4 = step(s1.unionByName(s2).unionByName(s3))
    out = None
    for i, s in enumerate((s1, s2, s3, s4), start=1):
        part = s.select(
            F.lit(i).cast("int").alias("step"),
            F.col("id").alias("vec_id"),
            F.col("mmr").alias("mmr_score"),
        )
        out = part if out is None else out.unionByName(part)
    return out


@register(
    "vocab_zipf_product_stability",
    """
    WITH d AS (SELECT string_split(text, ' ') AS w FROM documents),
    tok AS (SELECT UNNEST(w) AS t FROM d),
    uni AS (SELECT t, CAST(COUNT(*) AS BIGINT) AS f
            FROM tok WHERE t <> '' GROUP BY t),
    top AS (
      SELECT t, f, CAST(ROW_NUMBER() OVER (ORDER BY f DESC, t) AS BIGINT)
               AS r
      FROM uni ORDER BY f DESC, t LIMIT 100
    ),
    rf AS (SELECT r * f AS rf FROM top),
    ranked AS (
      SELECT rf, ROW_NUMBER() OVER (ORDER BY rf) AS i,
             COUNT(*) OVER () AS m
      FROM rf
    )
    SELECT CAST(MAX(m) AS BIGINT) AS n_terms,
           CAST(MAX(CASE WHEN i = (m + 1) // 2 THEN rf END) AS BIGINT)
             AS median_rf,
           CAST(MAX(CASE WHEN i = (m + 3) // 4 THEN rf END) AS BIGINT)
             AS q1_rf,
           CAST(MAX(CASE WHEN i = (3 * m + 3) // 4 THEN rf END) AS BIGINT)
             AS q3_rf
    FROM ranked
    """,
)
def q_vocab_zipf_product_stability(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Zipf's-law fit WITHOUT logs: under f_r ∝ 1/r the product r·f_r is
    CONSTANT, so the corpus is Zipfian exactly when the top-rank products
    cluster tightly — the median and quartiles of {r·f_r : r ≤ 100} are
    the slope-free, float-free goodness-of-fit summary (a wide IQR/median
    ratio says the head deviates: stopword-stripped, templated, or
    synthetic text). One token-explode + grouped count (the same shuffle
    every vocab query pays), a 100-row TakeOrdered head, and quartile
    selection over those 100 products via rank windows on a bounded list —
    the post-head work is O(1) at any corpus size. Tokenization is the
    house split-on-space idiom shared by the PMI/Heaps/fertility
    queries."""
    d = table_scan(spark, sf_dir, "documents").select(
        F.split(F.col("text"), " ").alias("w")
    )
    uni = (
        d.select(F.explode("w").alias("t"))
        .filter(F.col("t") != "")
        .groupBy("t")
        .agg(F.count(F.lit(1)).cast("long").alias("f"))
    )
    top = (
        uni.orderBy(F.col("f").desc(), F.col("t").asc())
        .limit(100)
        .select(
            "t",
            "f",
            F.row_number()
            .over(Window.orderBy(F.col("f").desc(), F.col("t").asc()))
            .cast("long")
            .alias("r"),
        )
    )
    rf = top.select((F.col("r") * F.col("f")).alias("rf"))
    ranked = rf.select(
        "rf",
        F.row_number().over(Window.orderBy("rf")).alias("i"),
        F.count(F.lit(1)).over(Window.partitionBy()).alias("m"),
    )
    return ranked.agg(
        F.max("m").cast("long").alias("n_terms"),
        F.max(F.when(F.col("i") == F.expr("(m + 1) div 2"), F.col("rf")))
        .cast("long")
        .alias("median_rf"),
        F.max(F.when(F.col("i") == F.expr("(m + 3) div 4"), F.col("rf")))
        .cast("long")
        .alias("q1_rf"),
        F.max(F.when(F.col("i") == F.expr("(3 * m + 3) div 4"), F.col("rf")))
        .cast("long")
        .alias("q3_rf"),
    )


@register(
    "dataset_split_leakage_audit",
    """
    WITH e AS (
      SELECT event_id, user_id,
             CAST(CAST(concat('0x', substr(md5(CAST(event_id AS VARCHAR)),
                  1, 15)) AS BIGINT) % 100 AS INT) AS row_bucket,
             CAST(CAST(concat('0x', substr(md5(CAST(user_id AS VARCHAR)),
                  1, 15)) AS BIGINT) % 100 AS INT) AS usr_bucket
      FROM events
    ),
    by_event AS (
      SELECT user_id,
             MAX(CASE WHEN row_bucket < 80 THEN 1 ELSE 0 END) AS in_train,
             MAX(CASE WHEN row_bucket >= 80 THEN 1 ELSE 0 END) AS in_test
      FROM e GROUP BY user_id
    ),
    by_user AS (
      SELECT user_id,
             MAX(CASE WHEN usr_bucket < 80 THEN 1 ELSE 0 END) AS in_train,
             MAX(CASE WHEN usr_bucket >= 80 THEN 1 ELSE 0 END) AS in_test
      FROM e GROUP BY user_id
    ),
    folded AS (
      SELECT 'split_by_event' AS strategy,
             CAST(COUNT(*) AS BIGINT) AS n_users,
             CAST(SUM(in_train * in_test) AS BIGINT) AS n_leaked
      FROM by_event
      UNION ALL
      SELECT 'split_by_user' AS strategy,
             CAST(COUNT(*) AS BIGINT) AS n_users,
             CAST(SUM(in_train * in_test) AS BIGINT) AS n_leaked
      FROM by_user
    )
    SELECT strategy, n_users, n_leaked,
           CAST((1000000 * n_leaked) // n_users AS BIGINT) AS leakage_ppm
    FROM folded
    """,
)
def q_dataset_split_leakage_audit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Train/test leakage audit — the eval-integrity check every split
    pipeline should run before a model sees the data: a ROW-level 80/20
    hash split scatters each user's events across both sides (near-100 %
    of multi-event users "leak", so any per-user memorization inflates
    test metrics), while a GROUP-level split hashed on user_id leaks
    exactly zero. Both strategies use the portable md5 hash so the
    assignment — and therefore the audit — is reproducible on any engine
    with no stored state. One pass computes both bucketings; two grouped
    max-folds and a 2-row union report users-in-both and the exact ppm
    leak rate. The same audit shape applies to any grouping key
    (document, session, patient) at any scale — it is one user-keyed
    shuffle."""
    from ..functions.hashing import portable_hash64

    e = table_scan(spark, sf_dir, "events").select(
        "user_id",
        (portable_hash64(F.col("event_id")) % 100).cast("int").alias("rb"),
        (portable_hash64(F.col("user_id")) % 100).cast("int").alias("ub"),
    )

    def fold(bucket: str, label: str) -> DataFrame:
        g = e.groupBy("user_id").agg(
            F.max(F.when(F.col(bucket) < 80, 1).otherwise(0)).alias(
                "in_train"
            ),
            F.max(F.when(F.col(bucket) >= 80, 1).otherwise(0)).alias(
                "in_test"
            ),
        )
        return g.agg(
            F.lit(label).alias("strategy"),
            F.count(F.lit(1)).cast("long").alias("n_users"),
            F.sum(F.col("in_train") * F.col("in_test"))
            .cast("long")
            .alias("n_leaked"),
        )

    folded = fold("rb", "split_by_event").unionByName(
        fold("ub", "split_by_user")
    )
    return folded.select(
        "strategy",
        "n_users",
        "n_leaked",
        F.expr("(1000000 * n_leaked) div n_users")
        .cast("long")
        .alias("leakage_ppm"),
    )


@register(
    "er_blocking_quality_eval",
    """
    WITH rec AS (
      SELECT p_partkey AS rec_id,
             CASE WHEN p_partkey % 4 = 0 THEN p_name
                  WHEN p_partkey % 4 = 1
                    THEN substring(p_name, 1, length(p_name) - 1)
                  WHEN p_partkey % 4 = 2
                    THEN p_name || substring(p_name, length(p_name), 1)
                  ELSE substring(p_name, 1, length(p_name) - 1) || 'x'
             END AS name
      FROM part WHERE p_partkey < 800
    ),
    names AS (
      SELECT name, CAST(MIN(rec_id) AS BIGINT) AS name_id
      FROM rec GROUP BY name
    ),
    pairs AS (
      SELECT a.name AS name_a, b.name AS name_b,
             CASE WHEN substring(a.name, 1, 2) = substring(b.name, 1, 2)
                   AND abs(length(a.name) - length(b.name)) <= 1
                  THEN 1 ELSE 0 END AS cand,
             CASE WHEN levenshtein(a.name, b.name) <= 1
                  THEN 1 ELSE 0 END AS truth
      FROM names a JOIN names b ON a.name_id < b.name_id
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs,
           CAST(SUM(cand) AS BIGINT) AS n_candidates,
           CAST(SUM(truth) AS BIGINT) AS n_true,
           CAST(SUM(cand * truth) AS BIGINT) AS n_caught,
           CAST(CASE WHEN SUM(truth) > 0
                THEN (1000000 * SUM(cand * truth)) // SUM(truth) END
             AS BIGINT) AS completeness_ppm,
           CAST(1000000 - (1000000 * SUM(cand)) // COUNT(*) AS BIGINT)
             AS reduction_ratio_ppm
    FROM pairs
    """,
)
def q_er_blocking_quality_eval(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Blocking-scheme QUALITY evaluation for entity resolution — the two
    Christen record-linkage metrics every blocking design is judged by:
    PAIRS COMPLETENESS (what fraction of true ≤1-edit matches share a
    block — recall the blocks can still deliver) and REDUCTION RATIO (what
    fraction of the all-pairs comparison space the blocks eliminate).
    Evaluates entity_resolution_fuzzy's production scheme (2-char-prefix
    block + length band ≤ 1) against the exact levenshtein ≤ 1 ground
    truth on a FIXED 800-record probe slice, so the O(n²) truth join stays
    bounded at any SF (the doc_lsh_candidate_eval pattern — measurement
    harness, not serving path; the production match itself rides the
    blocked equi-join). Single-row output, all BIGINT ppm floors. The
    completeness here is < 10⁶ by design: drop-last↔doubled spellings are
    1 edit apart but differ 2 in length — exactly the blind spot a
    blocking audit exists to surface."""
    p = table_scan(spark, sf_dir, "part").filter(F.col("p_partkey") < 800)
    rec = p.select(
        F.col("p_partkey").alias("rec_id"),
        F.expr(
            "CASE WHEN p_partkey % 4 = 0 THEN p_name "
            "WHEN p_partkey % 4 = 1 THEN substring(p_name, 1, length(p_name) - 1) "
            "WHEN p_partkey % 4 = 2 THEN p_name || substring(p_name, length(p_name), 1) "
            "ELSE substring(p_name, 1, length(p_name) - 1) || 'x' END"
        ).alias("name"),
    )
    names = rec.groupBy("name").agg(
        F.min("rec_id").cast("long").alias("name_id")
    )
    a = names.select(
        F.col("name").alias("name_a"), F.col("name_id").alias("ida")
    )
    b = names.select(
        F.col("name").alias("name_b"), F.col("name_id").alias("idb")
    )
    pairs = a.join(
        F.broadcast(b), F.col("ida") < F.col("idb")
    ).select(
        F.when(
            (F.substring("name_a", 1, 2) == F.substring("name_b", 1, 2))
            & (
                F.abs(F.length("name_a") - F.length("name_b")) <= 1
            ),
            1,
        )
        .otherwise(0)
        .alias("cand"),
        F.when(F.levenshtein("name_a", "name_b") <= 1, 1)
        .otherwise(0)
        .alias("truth"),
    )
    agg = pairs.agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs"),
        F.sum("cand").cast("long").alias("n_candidates"),
        F.sum("truth").cast("long").alias("n_true"),
        F.sum(F.col("cand") * F.col("truth"))
        .cast("long")
        .alias("n_caught"),
    )
    return agg.select(
        "n_pairs",
        "n_candidates",
        "n_true",
        "n_caught",
        F.when(
            F.col("n_true") > 0,
            F.expr("(1000000 * n_caught) div n_true"),
        )
        .cast("long")
        .alias("completeness_ppm"),
        F.expr("1000000 - (1000000 * n_candidates) div n_pairs")
        .cast("long")
        .alias("reduction_ratio_ppm"),
    )


@register(
    "llm_curation_pipeline_end_to_end",
    """
    WITH d0 AS (SELECT doc_id, source, text, n_chars FROM documents),
    tok AS (
      SELECT doc_id, source, n_chars,
             string_split_regex(TRIM(text), '\\s+') AS toks
      FROM d0 WHERE TRIM(text) <> ''
    ),
    q AS (
      SELECT doc_id, source, n_chars,
             CAST(len(toks) AS BIGINT) AS n_tokens,
             CAST(len(list_distinct(toks)) AS BIGINT) AS n_types,
             md5(array_to_string(list_slice(toks, 1, 16), ' ')) AS ckey
      FROM tok
    ),
    qual AS (
      SELECT * FROM q
      WHERE n_tokens >= 5 AND (1000 * n_types) // n_tokens >= 200
    ),
    kept AS (
      SELECT * FROM (
        SELECT *, row_number() OVER (PARTITION BY ckey
                   ORDER BY n_chars DESC, doc_id) AS rn
        FROM qual) WHERE rn = 1
    ),
    a AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS docs_in
          FROM d0 GROUP BY source),
    b AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS docs_quality
          FROM qual GROUP BY source),
    k2 AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS docs_kept,
                  CAST(SUM(n_tokens) AS BIGINT) AS tokens_kept
           FROM kept GROUP BY source),
    t AS (SELECT CAST(SUM(tokens_kept) AS BIGINT) AS tt FROM k2),
    base AS (
      SELECT k2.source, k2.docs_kept, k2.tokens_kept,
             CAST(((t.tt // 2) * k2.tokens_kept) // t.tt AS BIGINT)
               AS floor_alloc,
             CAST(((t.tt // 2) * k2.tokens_kept) % t.tt AS BIGINT)
               AS remainder,
             t.tt
      FROM k2 CROSS JOIN t
    ),
    short AS (
      SELECT CAST(MAX(tt) // 2 - SUM(floor_alloc) AS BIGINT) AS shortfall
      FROM base
    ),
    r AS (
      SELECT base.*, row_number() OVER (ORDER BY remainder DESC, source)
               AS rk
      FROM base
    )
    SELECT a.source, a.docs_in,
           CAST(COALESCE(b.docs_quality, 0) AS BIGINT) AS docs_quality,
           CAST(COALESCE(r.docs_kept, 0) AS BIGINT) AS docs_kept,
           CAST(COALESCE(r.tokens_kept, 0) AS BIGINT) AS tokens_kept,
           CAST(COALESCE(r.floor_alloc
                + CASE WHEN r.rk <= short.shortfall THEN 1 ELSE 0 END, 0)
             AS BIGINT) AS budget_tokens
    FROM a LEFT JOIN b USING (source) LEFT JOIN r USING (source)
    CROSS JOIN short
    """,
)
def q_llm_curation_pipeline_end_to_end(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """END-TO-END LLM data-curation pipeline in ONE plan — the flagship
    composition showing the full recipe the individual operators serve:
    (1) QUALITY GATE: drop empty docs, <5 tokens, or type-token ratio
    < 200‰ (the doc_ttr_lexical_diversity filter); (2) DEDUP with keep
    policy: lead-span (first-16-token) clusters keep the longest member
    (the doc_dedup_quality_keeper rule); (3) DATA RECIPE: apportion a
    training budget of HALF the surviving tokens across sources by
    largest-remainder (the dataset_token_budget_allocation method —
    Σbudget == ⌊T/2⌋ exactly). Per source the funnel is fully auditable:
    docs_in → docs_quality → docs_kept → tokens_kept → budget_tokens.
    One corpus scan computes tokenization/TTR/cluster key together;
    dedup is one cluster-partitioned window; apportionment runs on the
    ~20-row source dim. Catalyst pipelines the whole thing — the point:
    curation is a QUERY, not a DAG of jobs."""
    d0 = table_scan(spark, sf_dir, "documents").select(
        "doc_id", "source", "text", "n_chars"
    )
    tok = d0.filter(F.trim(F.col("text")) != "").select(
        "doc_id",
        "source",
        "n_chars",
        F.split(F.trim(F.col("text")), r"\s+").alias("toks"),
    )
    q = tok.select(
        "doc_id",
        "source",
        "n_chars",
        F.size("toks").cast("long").alias("n_tokens"),
        F.size(F.array_distinct("toks")).cast("long").alias("n_types"),
        F.md5(F.array_join(F.slice("toks", 1, 16), " ")).alias("ckey"),
    )
    qual = q.filter(
        (F.col("n_tokens") >= 5)
        & (F.expr("(1000 * n_types) div n_tokens") >= 200)
    ).transform(cached)  # read by the per-source quality count AND the dedup stage
    wk = Window.partitionBy("ckey").orderBy(
        F.col("n_chars").desc(), F.col("doc_id")
    )
    kept = (
        qual.withColumn("rn", F.row_number().over(wk))
        .filter(F.col("rn") == 1)
    )
    a = d0.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("docs_in")
    )
    b = qual.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("docs_quality")
    )
    k2 = kept.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("docs_kept"),
        F.sum("n_tokens").cast("long").alias("tokens_kept"),
    ).transform(cached)  # ~20 rows, read by total + base + shortfall + final join
    t = k2.agg(F.sum("tokens_kept").cast("long").alias("tt"))
    base = k2.crossJoin(F.broadcast(t)).selectExpr(
        "source",
        "docs_kept",
        "tokens_kept",
        "CAST(((tt div 2) * tokens_kept) div tt AS BIGINT) AS floor_alloc",
        "CAST(((tt div 2) * tokens_kept) % tt AS BIGINT) AS remainder",
        "tt",
    ).transform(cached)
    short = base.agg(
        (F.expr("max(tt) div 2") - F.sum("floor_alloc"))
        .cast("long")
        .alias("shortfall")
    )
    wr = Window.orderBy(F.desc("remainder"), "source")
    r = base.withColumn("rk", F.row_number().over(wr).cast("long"))
    return (
        a.join(b, "source", "left")
        .join(r, "source", "left")
        .crossJoin(F.broadcast(short))
        .select(
            "source",
            "docs_in",
            F.coalesce("docs_quality", F.lit(0))
            .cast("long")
            .alias("docs_quality"),
            F.coalesce("docs_kept", F.lit(0))
            .cast("long")
            .alias("docs_kept"),
            F.coalesce("tokens_kept", F.lit(0))
            .cast("long")
            .alias("tokens_kept"),
            F.coalesce(
                F.col("floor_alloc")
                + F.when(F.col("rk") <= F.col("shortfall"), 1).otherwise(0),
                F.lit(0),
            )
            .cast("long")
            .alias("budget_tokens"),
        )
    )


_DSIR_ORACLE = r"""
    WITH t AS (
      SELECT doc_id, lang,
             list_transform(string_split_regex(TRIM(text), '\s+'),
                            tok -> CAST(concat('0x', substr(md5(tok), 1, 15))
                                        AS BIGINT) % 2147483647) AS th
      FROM documents
    ),
    occ AS (
      SELECT doc_id, lang,
             ((th[i + 1] * 1000003 + th[i + 2]) % 2147483647) % 1024 AS b
      FROM t, UNNEST(range(GREATEST(len(th) - 1, 0))) AS u(i)
    ),
    raw AS (SELECT b, CAST(COUNT(*) AS BIGINT) AS r FROM occ GROUP BY b),
    tgt AS (SELECT b, CAST(COUNT(*) AS BIGINT) AS tc
            FROM occ WHERE lang = 'en' GROUP BY b),
    rt AS (SELECT CAST(SUM(r) AS BIGINT) AS rr FROM raw),
    tt AS (SELECT CAST(COALESCE(SUM(tc), 0) AS BIGINT) AS tsum FROM tgt),
    lr AS (
      SELECT raw.b,
             CAST(FLOOR(1000000.0 * ln(
                 (CAST(COALESCE(tgt.tc, 0) + 1 AS DOUBLE)
                  * CAST(rr + 1024 AS DOUBLE))
               / (CAST(raw.r + 1 AS DOUBLE)
                  * CAST(tsum + 1024 AS DOUBLE)))) AS BIGINT) AS lr
      FROM raw LEFT JOIN tgt USING (b) CROSS JOIN rt CROSS JOIN tt
    ),
    sc AS (
      SELECT occ.doc_id, occ.lang, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
             CAST(SUM(lr.lr) AS BIGINT) AS score_micro_nats
      FROM occ JOIN lr USING (b)
      GROUP BY occ.doc_id, occ.lang
    )
    SELECT doc_id, lang, score_micro_nats, n_bigrams
    FROM sc ORDER BY score_micro_nats DESC, doc_id LIMIT 50
"""


@register("doc_dsir_importance_select", _DSIR_ORACLE)
def q_doc_dsir_importance_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR-style data selection — importance resampling via hashed n-gram
    features (Xie et al. 2023, "Data Selection for Language Models via
    Importance Resampling"): documents are scored by how much their hashed
    BIGRAM distribution looks like a target domain (here lang='en' stands
    in for the curated target) relative to the raw pool, and the top-k by
    importance weight are selected. Per bucket b of 1024 hashed-bigram
    buckets, the add-one-smoothed log-likelihood ratio
    ln[ p_target(b) / p_raw(b) ] is frozen as the INTEGER
    floor(1e6·ln(·)) (micro-nats) — so each document's log importance
    weight is an exact integer SUM over its bigram occurrences, associative
    regardless of partitioning (float log-weights would diverge in
    summation order). Portability caveat (ADVICE r9): ln() is
    libm-dependent, so the frozen integer is NOT guaranteed bit-portable
    the way the pure-integer queries are — a 1-ulp JVM-vs-DuckDB ln
    difference (≲1e-9 after the 1e6 scale) could flip the floor when
    1e6·ln(ratio) lands that close to an integer. The residual risk is
    bounded and MEASURED: tests/test_round10_fixes.py replays every
    bucket's ratio and asserts the scaled ln sits ≥1e-7 away from the
    nearest floor boundary at the tested SFs (≥100× the 1-ulp flip
    window); a ratio drawn adversarially close to exp(k/1e6) remains the
    documented theoretical hole. Scale shape: the "model" is 1024
    integers — ONE broadcast join scores any corpus; two bucket-count
    shuffles (skinny (doc, bucket) rows) fit partial aggregation; the
    hashed features reuse the portable MinHash token-hash roll
    (operators/fuzzy_dedup.shingle_hash_sequence), CPU-fanned via
    spread(). Top-k rides distributed TakeOrdered with (score desc,
    doc_id) total order. Oracle replays every stage including the ln
    freeze in DuckDB SQL."""
    from ..operators.fuzzy_dedup import shingle_hash_sequence
    from ..sources.readers import spread

    n_buckets = 1024
    d = table_scan(spark, sf_dir, "documents").select("doc_id", "lang", "text")
    occ = (
        spread(d)
        .select(
            "doc_id",
            "lang",
            F.explode(shingle_hash_sequence("text", 2)).alias("s"),
        )
        .select("doc_id", "lang", (F.col("s") % n_buckets).alias("b"))
        # read three times: raw counts, target counts, and the scoring pass
        .transform(cached)
    )
    raw = occ.groupBy("b").agg(F.count(F.lit(1)).alias("r"))
    tgt = (
        occ.filter(F.col("lang") == "en")
        .groupBy("b")
        .agg(F.count(F.lit(1)).alias("tc"))
    )
    rt = raw.agg(F.sum("r").alias("rr"))
    tt = tgt.agg(F.coalesce(F.sum("tc"), F.lit(0)).alias("tsum"))
    lr = (
        raw.join(tgt, "b", "left")
        .crossJoin(F.broadcast(rt))
        .crossJoin(F.broadcast(tt))
        .select(
            "b",
            F.floor(
                F.lit(1000000.0)
                * F.log(
                    (
                        (F.coalesce(F.col("tc"), F.lit(0)) + 1).cast("double")
                        * (F.col("rr") + n_buckets).cast("double")
                    )
                    / (
                        (F.col("r") + 1).cast("double")
                        * (F.col("tsum") + n_buckets).cast("double")
                    )
                )
            )
            .cast("long")
            .alias("lr"),
        )
    )
    scored = (
        occ.join(F.broadcast(lr), "b")
        .groupBy("doc_id", "lang")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_bigrams"),
            F.sum("lr").cast("long").alias("score_micro_nats"),
        )
    )
    return (
        scored.orderBy(F.desc("score_micro_nats"), "doc_id")
        .limit(50)
        .select("doc_id", "lang", "score_micro_nats", "n_bigrams")
    )


@register(
    "vocab_good_turing_unseen_mass",
    r"""
    WITH tok AS (
      SELECT source, UNNEST(string_split_regex(TRIM(text), '\s+')) AS t
      FROM documents
    ),
    tf AS (
      SELECT source, t, CAST(COUNT(*) AS BIGINT) AS c
      FROM tok WHERE t <> '' GROUP BY source, t
    )
    SELECT source,
           CAST(SUM(c) AS BIGINT) AS n_tokens,
           CAST(COUNT(*) AS BIGINT) AS n_types,
           CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_hapax,
           CAST(SUM(CASE WHEN c = 2 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_dis_legomena,
           CAST((1000000 * SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END))
                // SUM(c) AS BIGINT) AS unseen_mass_ppm,
           CASE WHEN SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) = 0 THEN NULL
                ELSE CAST((2000 * SUM(CASE WHEN c = 2 THEN 1 ELSE 0 END))
                          // SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END)
                          AS BIGINT) END AS r1_star_milli
    FROM tf GROUP BY source ORDER BY source
    """,
)
def q_vocab_good_turing_unseen_mass(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Good–Turing unseen-probability mass per source — the estimator that
    tells a corpus curator how much vocabulary a source HASN'T shown yet
    (Good 1953; the leave-one-out identity P(unseen) = n1/N): a source
    whose hapax share stays high under continued crawling still has
    unharvested diversity, one whose mass collapses is exhausted —
    the sampling-priority signal next to the Heaps-curve fit
    (vocab_growth_heaps_curve). Emits the frequency-spectrum head (N,
    |V|, n1 hapax, n2 dis legomena), unseen mass as exact integer ppm,
    and the Good–Turing adjusted count for singletons r1* = 2·n2/n1 in
    milli-units (NULL when no hapax exist) — all integer div, bit-portable.
    Scale shape: one (source, token) count shuffle with map-side partial
    aggregation, then a 20-row spectrum aggregate; no token list ever
    leaves the partial-agg hash tables."""
    tf = (
        table_scan(spark, sf_dir, "documents")
        .select("source", F.explode(F.split(F.trim("text"), r"\s+")).alias("t"))
        .filter(F.col("t") != "")
        .groupBy("source", "t")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    n1 = F.sum(F.when(F.col("c") == 1, 1).otherwise(0))
    n2 = F.sum(F.when(F.col("c") == 2, 1).otherwise(0))
    return (
        tf.groupBy("source")
        .agg(
            F.sum("c").cast("long").alias("n_tokens"),
            F.count(F.lit(1)).cast("long").alias("n_types"),
            n1.cast("long").alias("n_hapax"),
            n2.cast("long").alias("n_dis_legomena"),
            F.expr(
                "CAST((1000000 * SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END))"
                " div SUM(c) AS BIGINT)"
            ).alias("unseen_mass_ppm"),
            F.expr(
                "CASE WHEN SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) = 0"
                " THEN NULL ELSE"
                " CAST((2000 * SUM(CASE WHEN c = 2 THEN 1 ELSE 0 END))"
                " div SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) END"
            ).alias("r1_star_milli"),
        )
        .orderBy("source")
    )


_KN_ORACLE = r"""
    WITH t AS (
      SELECT doc_id, lang,
             list_transform(string_split_regex(TRIM(text), '\s+'),
                 tok -> (CAST(concat('0x', substr(md5(tok), 1, 15))
                              AS BIGINT) % 2147483647) % 65536) AS th
      FROM documents WHERE TRIM(text) <> ''
    ),
    occ AS (
      SELECT doc_id, lang, th[i + 1] AS w1, th[i + 2] AS w2
      FROM t, UNNEST(range(GREATEST(len(th) - 1, 0))) AS u(i)
    ),
    dc AS (
      SELECT doc_id, lang, w1, w2, CAST(COUNT(*) AS BIGINT) AS dcnt
      FROM occ GROUP BY doc_id, lang, w1, w2
    ),
    big AS (
      SELECT w1, w2, CAST(SUM(dcnt) AS BIGINT) AS c12
      FROM dc WHERE lang = 'en' GROUP BY w1, w2
    ),
    uni AS (
      SELECT w1, CAST(SUM(c12) AS BIGINT) AS c1,
             CAST(COUNT(*) AS BIGINT) AS n1p
      FROM big GROUP BY w1
    ),
    cont AS (
      SELECT w2, CAST(COUNT(*) AS BIGINT) AS cw2 FROM big GROUP BY w2
    ),
    tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS t FROM big),
    sc AS (
      SELECT dc.doc_id, dc.lang, dc.dcnt,
        CASE WHEN uni.c1 IS NULL THEN
          CAST(FLOOR(1000000.0 * ln(
            CAST(COALESCE(cont.cw2, 0) + 1 AS DOUBLE)
            / CAST(tot.t + 65536 AS DOUBLE))) AS BIGINT)
        ELSE
          CAST(FLOOR(1000000.0 * ln(
            CAST(GREATEST(4 * COALESCE(big.c12, 0) - 3, 0) * (tot.t + 65536)
                 + 3 * uni.n1p * (COALESCE(cont.cw2, 0) + 1) AS DOUBLE)
            / CAST(4 * uni.c1 * (tot.t + 65536) AS DOUBLE))) AS BIGINT)
        END AS lp
      FROM dc
      LEFT JOIN big ON dc.w1 = big.w1 AND dc.w2 = big.w2
      LEFT JOIN uni ON dc.w1 = uni.w1
      LEFT JOIN cont ON dc.w2 = cont.w2
      CROSS JOIN tot
    ),
    perdoc AS (
      SELECT doc_id, lang,
             CAST(SUM(dcnt) AS BIGINT) AS n_bigrams,
             CAST(-SUM(dcnt * lp) AS BIGINT) AS nll_micro_nats
      FROM sc GROUP BY doc_id, lang
    ),
    final AS (
      SELECT doc_id, lang, n_bigrams, nll_micro_nats,
             nll_micro_nats // n_bigrams AS ppl_micro_per_tok
      FROM perdoc
    )
    SELECT doc_id, lang, n_bigrams, nll_micro_nats, ppl_micro_per_tok,
      CASE NTILE(3) OVER (PARTITION BY lang
                          ORDER BY ppl_micro_per_tok ASC, doc_id ASC)
        WHEN 1 THEN 'head' WHEN 2 THEN 'middle' ELSE 'tail'
      END AS ccnet_bucket
    FROM final ORDER BY doc_id
"""


@register("doc_kneser_ney_ppl_filter", _KN_ORACLE)
def q_doc_kneser_ney_ppl_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style LM-perplexity quality filter (Wenzek et al. 2020,
    "CCNet: Extracting High Quality Monolingual Datasets from Web Crawl
    Data"): train an interpolated Kneser-Ney bigram LM on the clean
    subset (lang='en' stands in for CCNet's Wikipedia target, as in
    doc_dsir_importance_select), score EVERY document's negative
    log-likelihood under it, and bucket each language's documents into
    the head/middle/tail perplexity tertiles CCNet keeps/filters by.

    Determinism: the interpolated-KN bigram probability with absolute
    discount D=0.75 and an add-one-smoothed continuation distribution
    (positivity for any scored pair, seen or unseen) is an EXACT integer
    ratio once multiplied through by 4·(T+V):

        P(w2|w1) = [max(4·c12−3, 0)·(T+V) + 3·N1+(w1·)·(cont(w2)+1)]
                   / [4·c1·(T+V)]                      (w1 seen in train)
        P(w2|w1) = (cont(w2)+1) / (T+V)                (w1 unseen)

    with T = N1+(··) distinct train bigrams and V = 65536 hashed-vocab
    buckets. Each distinct scored pair pays ONE ln on that exact double
    ratio, frozen as floor(1e6·ln) micro-nats (the DSIR freeze — same
    libm caveat, same boundary-margin test discipline in
    tests/test_round14_ops.py); per-doc NLL is then an exact integer sum,
    associative under any partitioning, and micro-nats/token is integer
    division (both operands positive → floor == truncate, no engine
    divergence). Numerators/denominators stay < 2^53 (exact doubles) up
    to ~1e5 max unigram-bucket count × ~2e6 train bigram types; beyond
    that the freeze is still deterministic per engine but the 1-ulp
    cross-engine window widens — documented, like DSIR.

    Scale shape: the "LM" is three count tables — uni/cont are ≤V=65536
    rows (explicitly broadcast), big is ≤V² but realistically
    corpus-bounded and joins (w1,w2)-to-(w1,w2) with partial aggregation
    on both sides; one ln per distinct (doc,w1,w2) row, all JVM. The
    tertile NTILE partitions by language (CCNet's actual grouping), so
    the window never needs a global sort. 100 TB: the scoring join
    shuffles skinny (doc, w1, w2, dcnt) rows; the model build is two
    map-side-combinable aggregations over the train subset."""
    from ..operators.fuzzy_dedup import shingle_hash_sequence
    from ..sources.readers import spread

    V = 65536
    d = (
        table_scan(spark, sf_dir, "documents")
        .select("doc_id", "lang", "text")
        .filter(F.trim("text") != "")
    )
    th = F.transform(
        shingle_hash_sequence("text", 1), lambda t: t % V
    )
    seq = spread(d).select("doc_id", "lang", th.alias("th"))
    sz = F.size("th")
    pairs = F.arrays_zip(
        F.slice("th", 1, sz - 1).alias("w1"),
        F.slice(F.col("th"), F.lit(2), sz - 1).alias("w2"),
    )
    occ = seq.select("doc_id", "lang", F.explode(pairs).alias("p")).select(
        "doc_id", "lang", F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2")
    )
    # collapse to per-doc bigram types first (the doc→model join then
    # moves one row per DISTINCT (doc, bigram); read twice: train + score)
    dc = (
        occ.groupBy("doc_id", "lang", "w1", "w2")
        .agg(F.count(F.lit(1)).alias("dcnt"))
        .transform(cached)
    )
    # train counts (read four times: uni, cont, tot, scoring join)
    big = (
        dc.filter(F.col("lang") == "en")
        .groupBy("w1", "w2")
        .agg(F.sum("dcnt").cast("long").alias("c12"))
        .transform(cached)
    )
    uni = big.groupBy("w1").agg(
        F.sum("c12").cast("long").alias("c1"),
        F.count(F.lit(1)).cast("long").alias("n1p"),
    )
    cont = big.groupBy("w2").agg(F.count(F.lit(1)).cast("long").alias("cw2"))
    tot = big.agg(F.count(F.lit(1)).cast("long").alias("t"))
    j = (
        dc.join(big, ["w1", "w2"], "left")
        .join(F.broadcast(uni), "w1", "left")
        .join(F.broadcast(cont), "w2", "left")
        .crossJoin(F.broadcast(tot))
    )
    t4 = F.col("t") + F.lit(V)
    cw2p = F.coalesce("cw2", F.lit(0)) + 1
    num_seen = (
        F.greatest(4 * F.coalesce("c12", F.lit(0)) - 3, F.lit(0)) * t4
        + 3 * F.col("n1p") * cw2p
    )
    den_seen = 4 * F.col("c1") * t4
    lp = (
        F.when(
            F.col("c1").isNull(),
            F.floor(
                F.lit(1000000.0)
                * F.log(cw2p.cast("double") / t4.cast("double"))
            ),
        )
        .otherwise(
            F.floor(
                F.lit(1000000.0)
                * F.log(num_seen.cast("double") / den_seen.cast("double"))
            )
        )
        .cast("long")
    )
    perdoc = (
        j.select("doc_id", "lang", "dcnt", lp.alias("lp"))
        .groupBy("doc_id", "lang")
        .agg(
            F.sum("dcnt").cast("long").alias("n_bigrams"),
            (-F.sum(F.col("dcnt") * F.col("lp"))).cast("long").alias(
                "nll_micro_nats"
            ),
        )
        .withColumn(
            "ppl_micro_per_tok",
            F.expr("nll_micro_nats div n_bigrams").cast("long"),
        )
    )
    wt = Window.partitionBy("lang").orderBy(
        F.asc("ppl_micro_per_tok"), F.asc("doc_id")
    )
    nt = F.ntile(3).over(wt)
    return (
        perdoc.withColumn("__nt", nt)
        .select(
            "doc_id",
            "lang",
            "n_bigrams",
            "nll_micro_nats",
            "ppl_micro_per_tok",
            F.when(F.col("__nt") == 1, F.lit("head"))
            .when(F.col("__nt") == 2, F.lit("middle"))
            .otherwise(F.lit("tail"))
            .alias("ccnet_bucket"),
        )
        .orderBy("doc_id")
    )


_DOREMI_ORACLE = r"""
    WITH tok AS (
      SELECT lang,
             (CAST(concat('0x', substr(md5(t), 1, 15)) AS BIGINT)
              % 2147483647) % 1024 AS v
      FROM (SELECT lang, UNNEST(string_split_regex(TRIM(text), '\s+')) AS t
            FROM documents WHERE TRIM(text) <> '')
    ),
    ckv AS (SELECT lang, v, CAST(COUNT(*) AS BIGINT) AS c
            FROM tok GROUP BY lang, v),
    pool AS (SELECT v, CAST(SUM(c) AS BIGINT) AS cv FROM ckv GROUP BY v),
    nk AS (SELECT lang, CAST(SUM(c) AS BIGINT) AS ntok FROM ckv GROUP BY lang),
    ntot AS (SELECT CAST(SUM(cv) AS BIGINT) AS n FROM pool),
    lpref AS (
      SELECT v, CAST(FLOOR(1000000.0 * ln(
               CAST(1000 * cv + 1 AS DOUBLE)
               / CAST(1000 * n + 1024 AS DOUBLE))) AS BIGINT) AS lpr
      FROM pool CROSS JOIN ntot
    ),
    lpk AS (
      SELECT ckv.lang, ckv.v, ckv.c,
             CAST(FLOOR(1000000.0 * ln(
               CAST(1000 * ckv.c + 1 AS DOUBLE)
               / CAST(1000 * nk.ntok + 1024 AS DOUBLE))) AS BIGINT) AS lpk
      FROM ckv JOIN nk USING (lang)
    ),
    ex AS (
      SELECT lpk.lang,
             SUM(CAST(lpk.c AS HUGEINT) * (lpk.lpk - lpref.lpr)) AS et
      FROM lpk JOIN lpref USING (v) GROUP BY lpk.lang
    ),
    ept AS (
      SELECT ex.lang, nk.ntok,
             CAST(GREATEST(ex.et, 0) // nk.ntok AS BIGINT) AS excess
      FROM ex JOIN nk USING (lang)
    ),
    mx AS (SELECT CAST(MAX(excess) AS BIGINT) AS m FROM ept),
    sk AS (
      SELECT lang, ntok, excess,
             CAST(FLOOR(1000000000.0 * exp(
               CAST(100 * (excess - m) AS DOUBLE) / 1000000.0)) AS BIGINT) AS s
      FROM ept CROSS JOIN mx
    ),
    agg AS (SELECT CAST(SUM(s) AS BIGINT) AS stot,
                   CAST(COUNT(*) AS BIGINT) AS k FROM sk),
    ak AS (
      SELECT lang, ntok, excess, s,
             99 * s * k + stot AS a, 100 * k * stot AS d
      FROM sk CROSS JOIN agg
    ),
    alloc AS (
      SELECT lang, ntok, excess, s,
             CAST((1000000::HUGEINT * a) // d AS BIGINT) AS wfloor,
             CAST((1000000::HUGEINT * a) % d AS BIGINT) AS rem
      FROM ak
    ),
    short AS (SELECT 1000000 - CAST(SUM(wfloor) AS BIGINT) AS sh FROM alloc),
    rk AS (SELECT *, CAST(ROW_NUMBER() OVER (ORDER BY rem DESC, lang)
                          AS BIGINT) AS rn
           FROM alloc)
    SELECT lang, ntok AS n_tokens, excess AS excess_micro_per_tok,
           s AS eg_score_nano,
           wfloor + CASE WHEN rn <= sh THEN 1 ELSE 0 END AS weight_ppm
    FROM rk CROSS JOIN short ORDER BY lang
"""


@register("doremi_domain_mixture_weights", _DOREMI_ORACLE)
def q_doremi_domain_mixture_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DoReMi-style domain reweighting (Xie et al. 2023, "DoReMi:
    Optimizing Data Mixtures Speeds Up Language Model Pretraining"):
    per-domain excess loss drives one exponentiated-gradient step with
    uniform smoothing, emitting a training mixture in exact ppm. Domains
    are `lang`; the reference model is a Lidstone-smoothed hashed-unigram
    LM over the POOL, the per-domain proxy is the same LM fit on the
    domain alone, and excess loss is the per-token gap
    NLL_ref − NLL_proxy clipped at 0 — an exact plug-in estimate of
    KL(domain ‖ pool), DoReMi's "domain the reference underserves" signal.

    Determinism ladder (the DSIR/KN freeze discipline):
    - Lidstone α=1/1000 is the exact rational (1000·c+1)/(1000·N+V),
      V=1024 hash buckets — α≈V/(1000·N)·mass keeps the smoothing penalty
      far below the inter-domain KL (add-ONE at this vocab size drowns it;
      measured round 14). Each distinct count pays one ln on that exact
      double ratio, frozen as floor(1e6·ln) micro-nats; domain sums are
      then exact integer dot products, associative under any partitioning.
    - The EG step exp(η·excess), η=100, is max-normalized (log-sum-exp
      style: exponent = η·(excess−max) ≤ 0) so the frozen
      floor(1e9·exp(·)) fits int64 for ANY corpus, and exp(0)=1 is exact
      in every IEEE libm when the argument is the max domain itself.
    - DoReMi's uniform mixing (c=0.01) is the exact rational
      w_k = 0.99·s_k/S + 0.01/K = (99·s_k·K + S)/(100·K·S): numerators
      a_k are int64, Σa_k = 100·K·S = D by construction, and the ppm
      allocation runs largest-remainder over (10⁶·a_k) div D in
      DECIMAL(38,0) (Spark) / HUGEINT (DuckDB) — proven bit-equal — so
      the emitted weights always sum to exactly 1,000,000.

    Scale shape: the "model" is ≤V=1024 reference rows (broadcast) plus
    one ≤K-row domain table — ONE (domain, bucket) count shuffle with
    map-side partial aggregation scores any corpus; everything after is
    K-row arithmetic. 100 TB: the token explode partial-aggregates to
    (domain, v) before shuffling; no doc-level state survives the first
    groupBy."""
    from ..operators.fuzzy_dedup import shingle_hash_sequence
    from ..sources.readers import spread

    V = 1024
    ETA = 100
    d = (
        table_scan(spark, sf_dir, "documents")
        .select("lang", "text")
        .filter(F.trim("text") != "")
    )
    th = F.transform(
        shingle_hash_sequence("text", 1), lambda t: t % V
    )
    ckv = (
        spread(d)
        .select("lang", F.explode(th).alias("v"))
        .groupBy("lang", "v")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
        # read three times: pool counts, domain totals, proxy scoring
        .transform(cached)
    )
    pool = ckv.groupBy("v").agg(F.sum("c").cast("long").alias("cv"))
    nk = ckv.groupBy("lang").agg(F.sum("c").cast("long").alias("ntok"))
    ntot = pool.agg(F.sum("cv").cast("long").alias("n"))
    freeze = lambda num, den: F.floor(  # noqa: E731
        F.lit(1000000.0) * F.log(num.cast("double") / den.cast("double"))
    ).cast("long")
    lpref = pool.crossJoin(F.broadcast(ntot)).select(
        "v",
        freeze(1000 * F.col("cv") + 1, 1000 * F.col("n") + V).alias("lpr"),
    )
    lpk = ckv.join(F.broadcast(nk), "lang").select(
        "lang",
        "v",
        "c",
        freeze(1000 * F.col("c") + 1, 1000 * F.col("ntok") + V).alias("lpk"),
    )
    # the excess total accumulates c·Δlp with Δlp up to ~3.5e7 micro-nats,
    # so a ~1e13-token domain can exceed int64 — accumulate in
    # DECIMAL(38,0) (Spark) / HUGEINT (DuckDB); the per-TOKEN excess that
    # leaves this stage is bounded by max|Δlp| and always fits int64
    ex = (
        lpk.join(F.broadcast(lpref), "v")
        .groupBy("lang")
        .agg(
            F.sum(
                (F.col("c") * (F.col("lpk") - F.col("lpr"))).cast(
                    "decimal(38,0)"
                )
            ).alias("et")
        )
    )
    ept = (
        ex.join(F.broadcast(nk), "lang")
        .select(
            "lang",
            "ntok",
            F.expr(
                "greatest(et, CAST(0 AS DECIMAL(38,0)))"
                " div CAST(ntok AS DECIMAL(38,0))"
            )
            .cast("long")
            .alias("excess"),
        )
        # K rows; caching truncates the corpus-scan lineage so the five
        # downstream scalar broadcasts (mx, S/K, shortfall, rank, final)
        # re-read K cached rows instead of re-running the count shuffles
        .transform(cached)
    )
    mx = ept.agg(F.max("excess").cast("long").alias("m"))
    sk = ept.crossJoin(F.broadcast(mx)).select(
        "lang",
        "ntok",
        "excess",
        F.floor(
            F.lit(1000000000.0)
            * F.exp(
                (ETA * (F.col("excess") - F.col("m"))).cast("double")
                / F.lit(1000000.0)
            )
        )
        .cast("long")
        .alias("s"),
    )
    agg = sk.agg(
        F.sum("s").cast("long").alias("stot"),
        F.count(F.lit(1)).cast("long").alias("k"),
    )
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    ak = sk.crossJoin(F.broadcast(agg)).select(
        "lang",
        "ntok",
        "excess",
        "s",
        (99 * dec(F.col("s")) * dec(F.col("k")) + dec(F.col("stot"))).alias(
            "a"
        ),
        (100 * dec(F.col("k")) * dec(F.col("stot"))).alias("d"),
    )
    alloc = ak.select(
        "lang",
        "ntok",
        "excess",
        "s",
        F.expr("(CAST(1000000 AS DECIMAL(38,0)) * a) div d")
        .cast("long")
        .alias("wfloor"),
        F.expr("(CAST(1000000 AS DECIMAL(38,0)) * a) % d").alias("rem"),
    ).transform(cached)  # K rows, read by shortfall + the rank pass
    from ..operators.agg import largest_remainder_topup

    return (
        largest_remainder_topup(
            alloc, 1000000, "wfloor", "rem", "lang", "weight_ppm"
        )
        .select(
            "lang",
            F.col("ntok").alias("n_tokens"),
            F.col("excess").alias("excess_micro_per_tok"),
            F.col("s").alias("eg_score_nano"),
            "weight_ppm",
        )
        .orderBy("lang")
    )


_DISTILL_ORACLE = r"""
    WITH w AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents
    ),
    wc AS (
      SELECT doc_id, word, COUNT(*) AS c
      FROM w WHERE word <> '' GROUP BY doc_id, word
    ),
    lab AS (
      SELECT doc_id,
        CAST(SUM(c) BETWEEN 20 AND 100000
             AND CAST(SUM(c * length(word)) AS DOUBLE)
                 / CAST(SUM(c) AS DOUBLE) BETWEEN 2.0 AND 10.0
             AND CAST(MAX(c) AS DOUBLE) / CAST(SUM(c) AS DOUBLE) <= 0.2
             AND CAST(SUM(CASE WHEN word IN ('a', 'the') THEN c ELSE 0 END)
                      AS DOUBLE) / CAST(SUM(c) AS DOUBLE) >= 0.005
             AS BOOLEAN) AS keep
      FROM wc GROUP BY doc_id
    ),
    base AS (
      SELECT d.doc_id, d.source, COALESCE(lab.keep, FALSE) AS keep
      FROM documents d LEFT JOIN lab USING (doc_id)
    ),
    fv AS (
      SELECT doc_id,
             (CAST(concat('0x', substr(md5(t), 1, 15)) AS BIGINT)
              % 2147483647) % 4096 AS v,
             CAST(COUNT(*) AS BIGINT) AS c
      FROM (SELECT doc_id, UNNEST(string_split_regex(TRIM(text), '\s+')) AS t
            FROM documents WHERE TRIM(text) <> '')
      GROUP BY doc_id, v
    ),
    cls AS (
      SELECT fv.v,
             CAST(SUM(CASE WHEN base.keep THEN fv.c ELSE 0 END) AS BIGINT)
               AS cp,
             CAST(SUM(CASE WHEN base.keep THEN 0 ELSE fv.c END) AS BIGINT)
               AS cn
      FROM fv JOIN base USING (doc_id) GROUP BY fv.v
    ),
    tots AS (
      SELECT CAST(SUM(cp) AS BIGINT) AS np, CAST(SUM(cn) AS BIGINT) AS nn
      FROM cls
    ),
    dtot AS (
      SELECT CAST(SUM(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS dp,
             CAST(SUM(CASE WHEN keep THEN 0 ELSE 1 END) AS BIGINT) AS dn
      FROM base
    ),
    wv AS (
      SELECT v, CAST(FLOOR(1000000.0 * ln(
               (CAST(1000 * cp + 1 AS DOUBLE)
                / CAST(1000 * np + 4096 AS DOUBLE))
               / (CAST(1000 * cn + 1 AS DOUBLE)
                  / CAST(1000 * nn + 4096 AS DOUBLE)))) AS BIGINT) AS wv
      FROM cls CROSS JOIN tots
    ),
    fs AS (
      SELECT fv.doc_id, CAST(SUM(fv.c * wv.wv) AS BIGINT) AS fsum
      FROM fv JOIN wv USING (v) GROUP BY fv.doc_id
    ),
    scored AS (
      SELECT base.doc_id, base.source, base.keep,
             CAST(FLOOR(1000000.0 * ln(CAST(dp + 1 AS DOUBLE)
                                       / CAST(dn + 1 AS DOUBLE))) AS BIGINT)
               + COALESCE(fs.fsum, 0) AS score
      FROM base LEFT JOIN fs USING (doc_id) CROSS JOIN dtot
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT)
             AS n_keep_labels,
           CAST(SUM(CASE WHEN keep AND score >= 0 THEN 1 ELSE 0 END)
                AS BIGINT) AS tp,
           CAST(SUM(CASE WHEN NOT keep AND score >= 0 THEN 1 ELSE 0 END)
                AS BIGINT) AS fp,
           CAST(SUM(CASE WHEN keep AND score < 0 THEN 1 ELSE 0 END)
                AS BIGINT) AS fn,
           CAST(SUM(CASE WHEN NOT keep AND score < 0 THEN 1 ELSE 0 END)
                AS BIGINT) AS tn,
           (1000000 * CAST(SUM(CASE WHEN (score >= 0) = keep THEN 1 ELSE 0
                                    END) AS BIGINT)) // COUNT(*)
             AS accuracy_ppm,
           CAST(SUM(score) AS BIGINT) AS sum_score_micro
    FROM scored GROUP BY source ORDER BY source
"""


@register("doc_quality_classifier_distill", _DISTILL_ORACLE)
def q_doc_quality_classifier_distill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distill an expensive rule-based quality filter into a cheap linear
    classifier and measure the agreement — the GPT-3 / LLaMA CommonCrawl
    quality-filter workflow (Brown et al. 2020 App. A; Touvron et al.
    2023 train a fastText-style linear model to imitate a reference
    filter). Teacher labels are the Gopher keep rule (doc_gopher_quality,
    replicated verbatim); the student is a multinomial Naive-Bayes
    log-odds model over V=4096 hashed unigrams — exactly a linear
    classifier with integer weights — trained in closed form on the
    labeled pool and evaluated in-sample as a per-source confusion
    matrix. High agreement means the cheap broadcast-join score can
    replace the word-level teacher on the next 100 TB; the per-source
    breakdown shows WHERE the student drifts.

    Determinism: per-token weight w_v = ln[p(v|keep)/p(v|drop)] with
    Lidstone α=1/1000 is one ln over a quotient of two exact int/int
    double ratios ((1000·c+1)/(1000·N+V), all operands exact doubles
    < 2^53), frozen as floor(1e6·ln) micro-nats (the DSIR freeze,
    boundary-margin-tested); the doc score is then the exact integer
    bias + Σ c_v·w_v, associative under any partitioning; accuracy is
    integer ppm division on positive operands. Bound note: the
    sum_score_micro checksum is an int64 sum of per-doc scores (each
    ≤ tokens/doc·max|w| ≈ 3.5e10 for kilotoken docs), safe to ~1e8 docs
    per source; beyond that drop the checksum column, not the matrix.

    Scale shape: teacher pass = the Gopher (doc_id, word) shuffle with
    map-side partial aggregation; student training = ONE (v ≤ 4096)-row
    aggregate over doc-joined features; student scoring = a broadcast
    join of the 4096-row weight table — the whole point of distillation.
    No doc-level list survives any stage."""
    from ..operators.fuzzy_dedup import shingle_hash_sequence
    from ..sources.readers import spread

    V = 4096
    docs = (
        table_scan(spark, sf_dir, "documents")
        .select("doc_id", "source", "text")
        .transform(cached)  # read by the teacher, the feature pass, and base
    )
    # --- teacher: THE Gopher keep rule (operators/quality.py — the same
    # code object doc_gopher_quality emits, so the student can never
    # train on a drifted rule; Catalyst prunes the unused signal columns)
    from ..operators.quality import gopher_quality_signals

    lab = gopher_quality_signals(docs.select("doc_id", "text")).select(
        "doc_id", "keep"
    )
    base = (
        docs.select("doc_id", "source")
        .join(lab, "doc_id", "left")
        .select(
            "doc_id", "source", F.coalesce("keep", F.lit(False)).alias("keep")
        )
        # read by training (class counts + doc prior) and the final eval
        .transform(cached)
    )
    # --- student features: hashed \s+ unigrams, per-doc counts
    th = F.transform(
        shingle_hash_sequence("text", 1), lambda t: t % V
    )
    fv = (
        spread(docs.filter(F.trim("text") != "").select("doc_id", "text"))
        .select("doc_id", F.explode(th).alias("v"))
        .groupBy("doc_id", "v")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
        .transform(cached)  # read by training and scoring
    )
    cls = (
        fv.join(base.select("doc_id", "keep"), "doc_id")
        .groupBy("v")
        .agg(
            F.sum(F.when(F.col("keep"), F.col("c")).otherwise(0))
            .cast("long")
            .alias("cp"),
            F.sum(F.when(F.col("keep"), 0).otherwise(F.col("c")))
            .cast("long")
            .alias("cn"),
        )
        # ≤V rows; read by the totals broadcast AND the weight freeze —
        # caching stops the doc-feature shuffle from running twice
        .transform(cached)
    )
    tots = cls.agg(
        F.sum("cp").cast("long").alias("np"),
        F.sum("cn").cast("long").alias("nn"),
    )
    dtot = base.agg(
        F.sum(F.when(F.col("keep"), 1).otherwise(0)).cast("long").alias("dp"),
        F.sum(F.when(F.col("keep"), 0).otherwise(1)).cast("long").alias("dn"),
    )
    wv = cls.crossJoin(F.broadcast(tots)).select(
        "v",
        F.floor(
            F.lit(1000000.0)
            * F.log(
                (
                    (1000 * F.col("cp") + 1).cast("double")
                    / (1000 * F.col("np") + V).cast("double")
                )
                / (
                    (1000 * F.col("cn") + 1).cast("double")
                    / (1000 * F.col("nn") + V).cast("double")
                )
            )
        )
        .cast("long")
        .alias("wv"),
    )
    fs = (
        fv.join(F.broadcast(wv), "v")
        .groupBy("doc_id")
        .agg(F.sum(F.col("c") * F.col("wv")).cast("long").alias("fsum"))
    )
    bias = F.floor(
        F.lit(1000000.0)
        * F.log((F.col("dp") + 1).cast("double") / (F.col("dn") + 1).cast("double"))
    ).cast("long")
    scored = (
        base.join(fs, "doc_id", "left")
        .crossJoin(F.broadcast(dtot))
        .select(
            "source",
            "keep",
            (bias + F.coalesce("fsum", F.lit(0))).alias("score"),
        )
    )
    pred = F.col("score") >= 0
    return (
        scored.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum(F.when(F.col("keep"), 1).otherwise(0))
            .cast("long")
            .alias("n_keep_labels"),
            F.sum(F.when(F.col("keep") & pred, 1).otherwise(0))
            .cast("long")
            .alias("tp"),
            F.sum(F.when(~F.col("keep") & pred, 1).otherwise(0))
            .cast("long")
            .alias("fp"),
            F.sum(F.when(F.col("keep") & ~pred, 1).otherwise(0))
            .cast("long")
            .alias("fn"),
            F.sum(F.when(~F.col("keep") & ~pred, 1).otherwise(0))
            .cast("long")
            .alias("tn"),
            F.expr(
                "(1000000 * CAST(SUM(CASE WHEN (score >= 0) = keep"
                " THEN 1 ELSE 0 END) AS BIGINT)) div COUNT(*)"
            ).alias("accuracy_ppm"),
            F.sum("score").cast("long").alias("sum_score_micro"),
        )
        .orderBy("source")
    )


_EPOCH_PLAN_ORACLE = r"""
    WITH u0 AS (
      SELECT source, md5(text) AS fp,
             MIN(len(string_split_regex(TRIM(text), '\s+'))) AS tc
      FROM documents WHERE TRIM(text) <> '' GROUP BY source, md5(text)
    ),
    uk AS (SELECT source, CAST(SUM(tc) AS BIGINT) AS u
           FROM u0 GROUP BY source),
    tot AS (SELECT CAST(2 * SUM(u) AS BIGINT) AS b,
                   CAST(COUNT(*) AS BIGINT) AS k
            FROM uk),
    alloc AS (SELECT source, u, b // k AS budget FROM uk CROSS JOIN tot),
    eff AS (
      SELECT source, u, budget, (1000 * budget) // u AS epochs_milli,
        CASE WHEN budget <= u THEN budget
        ELSE CAST(FLOOR(CAST(u AS DOUBLE)
               + CAST(77 * u AS DOUBLE)
                 * (1.0 - exp(-(CAST(5 * (budget - u) AS DOUBLE)
                                / CAST(77 * u AS DOUBLE)))) / 5.0) AS BIGINT)
        END AS effective_tokens
      FROM alloc
    )
    SELECT source, u AS unique_tokens, budget AS budget_tokens, epochs_milli,
           effective_tokens,
           (1000000 * effective_tokens) // budget AS efficiency_ppm,
           CASE WHEN budget <= u THEN 1000000
                ELSE (1000000 * (effective_tokens - u)) // (budget - u)
           END AS repeat_retention_ppm,
           epochs_milli > 4000 AS beyond_4_epochs
    FROM eff ORDER BY source
"""


@register("dataset_epoch_repetition_plan", _EPOCH_PLAN_ORACLE)
def q_dataset_epoch_repetition_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-constrained epoch planning (Muennighoff et al. 2023, "Scaling
    Data-Constrained Language Models"): given each source's UNIQUE token
    supply and an equal per-source token budget, how much EFFECTIVE
    training data does repetition actually buy? Their fitted decay —
    effective data D' = U + U·R*·(1−exp(−R/R*)) for R repeat epochs
    beyond the first, R* = 15.4 — means the second epoch retains ~97% of
    fresh-data value but the return collapses past ~4 epochs; this is the
    planning query that closes the curation chain mixture → budget →
    epochs (source_mixture_weights / dataset_token_budget_allocation
    pick budgets; this prices the repetition those budgets imply).

    Per source: U = Σ tokens over exactly-deduplicated texts (md5
    fingerprint within source — repetition of a duplicate is repetition,
    so dedup FIRST is what makes U "unique supply"); budget = (2·ΣU) div
    K (an equal-allocation 2×-pool budget, documented; Σbudgets ≤ B by
    integer division); epochs_milli = (1000·budget) div U. The one
    non-integer step freezes R* = 77/5 exactly: effective_tokens =
    floor(U + 77·U·(1−exp(−5·(budget−U)/(77·U)))/5) — every operand an
    exact int64-as-double, one identical correctly-rounded op sequence
    in both engines, boundary-margin-tested; a budget below one epoch
    is all fresh data (effective = budget, retention 1e6 by
    convention). Efficiency and repeat-retention are integer ppm
    divisions on positive operands.

    Scale shape: one (source, fingerprint) dedup shuffle with map-side
    partial aggregation (the md5 collapses each text before the
    shuffle), one ≤K-row source aggregate, then K-row arithmetic under
    a 1-row totals broadcast. No text survives the first groupBy."""
    d = (
        table_scan(spark, sf_dir, "documents")
        .select("source", "text")
        .filter(F.trim("text") != "")
    )
    u0 = (
        d.select(
            "source",
            F.md5("text").alias("fp"),
            F.size(F.split(F.trim("text"), r"\s+")).alias("tc"),
        )
        .groupBy("source", "fp")
        .agg(F.min("tc").alias("tc"))
    )
    uk = (
        u0.groupBy("source")
        .agg(F.sum("tc").cast("long").alias("u"))
        # K rows; read by the totals aggregate and the per-source plan
        .transform(cached)
    )
    tot = uk.agg(
        (2 * F.sum("u")).cast("long").alias("b"),
        F.count(F.lit(1)).cast("long").alias("k"),
    )
    alloc = uk.crossJoin(F.broadcast(tot)).select(
        "source", "u", F.expr("b div k").cast("long").alias("budget")
    )
    fresh_only = F.col("budget") <= F.col("u")
    d_eff = F.floor(
        F.col("u").cast("double")
        + (77 * F.col("u")).cast("double")
        * (
            F.lit(1.0)
            - F.exp(
                -(
                    (5 * (F.col("budget") - F.col("u"))).cast("double")
                    / (77 * F.col("u")).cast("double")
                )
            )
        )
        / F.lit(5.0)
    ).cast("long")
    eff = alloc.select(
        "source",
        "u",
        "budget",
        F.expr("(1000 * budget) div u").cast("long").alias("epochs_milli"),
        F.when(fresh_only, F.col("budget"))
        .otherwise(d_eff)
        .cast("long")
        .alias("effective_tokens"),
    )
    return eff.select(
        "source",
        F.col("u").alias("unique_tokens"),
        F.col("budget").alias("budget_tokens"),
        "epochs_milli",
        "effective_tokens",
        F.expr("(1000000 * effective_tokens) div budget")
        .cast("long")
        .alias("efficiency_ppm"),
        F.when(F.col("budget") <= F.col("u"), F.lit(1000000))
        .otherwise(
            F.expr("(1000000 * (effective_tokens - u)) div (budget - u)")
        )
        .cast("long")
        .alias("repeat_retention_ppm"),
        (F.col("epochs_milli") > 4000).alias("beyond_4_epochs"),
    ).orderBy("source")


_UNIMAX_ORACLE = r"""
    WITH u0 AS (
      SELECT lang, md5(text) AS fp,
             MIN(len(string_split_regex(TRIM(text), '\s+'))) AS tc
      FROM documents WHERE TRIM(text) <> '' GROUP BY lang, md5(text)
    ),
    uk AS (SELECT lang, CAST(SUM(tc) AS BIGINT) AS u FROM u0 GROUP BY lang),
    tot AS (SELECT CAST((3 * SUM(u)) // 2 AS BIGINT) AS b,
                   CAST(COUNT(*) AS BIGINT) AS k FROM uk),
    cap AS (SELECT lang, u, 2 * u AS c FROM uk),
    srt AS (
      SELECT lang, u, c,
             CAST(ROW_NUMBER() OVER (ORDER BY c, lang) AS BIGINT) AS i,
             CAST(COALESCE(SUM(c) OVER (ORDER BY c, lang
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                  AS BIGINT) AS pfx_excl
      FROM cap
    ),
    flags AS (
      SELECT srt.*, tot.b, tot.k,
             (tot.b - pfx_excl) <= (tot.k - i + 1) * c AS valid
      FROM srt CROSS JOIN tot
    ),
    m AS (SELECT MIN(i) FILTER (WHERE valid) AS m FROM flags),
    ms AS (
      SELECT m.m, CAST(COALESCE(f.pfx_excl, 0) AS BIGINT) AS pfx_m
      FROM m LEFT JOIN flags f ON f.i = m.m
    ),
    alloc AS (
      SELECT f.lang, f.u, f.c, f.i,
             CASE WHEN s.m IS NULL OR f.i < s.m THEN f.c
                  ELSE (f.b - s.pfx_m) // (f.k - s.m + 1)
                       + CASE WHEN (f.i - s.m + 1)
                                   <= (f.b - s.pfx_m) % (f.k - s.m + 1)
                              THEN 1 ELSE 0 END
             END AS alloc_tokens
      FROM flags f CROSS JOIN ms s
    )
    SELECT lang, u AS unique_tokens, c AS capacity_tokens, alloc_tokens,
           (1000 * alloc_tokens) // u AS epochs_milli,
           alloc_tokens = c AS capped
    FROM alloc ORDER BY lang
"""


@register("dataset_unimax_allocation", _UNIMAX_ORACLE)
def q_dataset_unimax_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UniMax language sampling (Chung et al. 2023, "UniMax: Fairer and
    More Effective Language Sampling for Large-Scale Multilingual
    Pretraining"): distribute a token budget as UNIFORMLY as possible
    across languages, subject to a per-language epoch cap — the
    principled alternative to temperature sampling that never
    over-repeats low-resource languages. The iterative UniMax loop
    ("give every language an equal share; cap the ones that can't absorb
    it; redistribute") collapses to ONE closed-form water-fill over the
    capacity-sorted language table: with capacities C_i = E·U_i sorted
    ascending and exclusive prefix sums P_i, the capped set is exactly
    the rows below the FIRST i where B − P_i ≤ (K−i+1)·C_i; everyone
    else splits the remainder evenly (integer div, remainder to the
    smallest-capacity uncapped rows — which provably cannot breach their
    caps: remainder > 0 at level C would contradict the split
    condition). E = 2 epochs, B = (3·ΣU) div 2, U = per-language unique
    supply after exact text dedup (the dataset_epoch_repetition_plan
    convention).

    Determinism: PURE INTEGER end to end — no ln/exp freeze, no margin
    test needed; Σalloc == min(B, ΣC) exactly by construction, and every
    operand is a nonneg int64 so div/mod agree across engines. The
    emitted epochs_milli shows the UniMax signature: low-resource
    languages pinned at exactly E·1000, the high-resource tail below
    1000 (fresh data only).

    Scale shape: one (lang, fingerprint) dedup shuffle with map-side
    partial aggregation, then K-row arithmetic — a cumulative window and
    a rank over the K-language table (O(|languages|) through one task at
    any corpus size) under 1-row totals broadcasts."""
    d = (
        table_scan(spark, sf_dir, "documents")
        .select("lang", "text")
        .filter(F.trim("text") != "")
    )
    u0 = (
        d.select(
            "lang",
            F.md5("text").alias("fp"),
            F.size(F.split(F.trim("text"), r"\s+")).alias("tc"),
        )
        .groupBy("lang", "fp")
        .agg(F.min("tc").alias("tc"))
    )
    uk = (
        u0.groupBy("lang")
        .agg(F.sum("tc").cast("long").alias("u"))
        # K rows; read by the totals aggregate and the water-fill
        .transform(cached)
    )
    tot = uk.agg(
        F.expr("(3 * SUM(u)) div 2").cast("long").alias("b"),
        F.count(F.lit(1)).cast("long").alias("k"),
    )
    cap = uk.select("lang", "u", (2 * F.col("u")).alias("c"))
    w = Window.orderBy("c", "lang")
    srt = cap.select(
        "lang",
        "u",
        "c",
        F.row_number().over(w).cast("long").alias("i"),
        F.coalesce(
            F.sum("c").over(w.rowsBetween(Window.unboundedPreceding, -1)),
            F.lit(0),
        )
        .cast("long")
        .alias("pfx_excl"),
    )
    flags = (
        srt.crossJoin(F.broadcast(tot))
        .withColumn(
            "valid",
            (F.col("b") - F.col("pfx_excl"))
            <= (F.col("k") - F.col("i") + 1) * F.col("c"),
        )
        # K rows; read by the split-point aggregate and the final alloc
        .transform(cached)
    )
    m = flags.agg(
        F.min(F.when(F.col("valid"), F.col("i"))).alias("m")
    )
    ms = m.join(
        flags.select(F.col("i").alias("__mi"), F.col("pfx_excl").alias("pfx_m")),
        F.col("m") == F.col("__mi"),
        "left",
    ).select("m", F.coalesce("pfx_m", F.lit(0)).cast("long").alias("pfx_m"))
    alloc_tokens = (
        F.when(F.col("m").isNull() | (F.col("i") < F.col("m")), F.col("c"))
        .otherwise(
            F.expr("(b - pfx_m) div (k - m + 1)")
            + F.when(
                F.col("i") - F.col("m") + 1
                <= F.expr("(b - pfx_m) % (k - m + 1)"),
                1,
            ).otherwise(0)
        )
        .cast("long")
    )
    return (
        flags.crossJoin(F.broadcast(ms))
        .select(
            "lang",
            F.col("u").alias("unique_tokens"),
            F.col("c").alias("capacity_tokens"),
            alloc_tokens.alias("alloc_tokens"),
        )
        .select(
            "lang",
            "unique_tokens",
            "capacity_tokens",
            "alloc_tokens",
            F.expr("(1000 * alloc_tokens) div unique_tokens")
            .cast("long")
            .alias("epochs_milli"),
            (F.col("alloc_tokens") == F.col("capacity_tokens")).alias(
                "capped"
            ),
        )
        .orderBy("lang")
    )
