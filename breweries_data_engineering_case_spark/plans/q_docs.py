"""Document/LLM-curation pipeline: dedup families, text quality scoring, fingerprinting, chunking."""

from __future__ import annotations

import tempfile
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StringType, StructField, StructType

from ..caching import cached
from ..functions.text import LANG_MARKERS, fingerprint, lang_id, quality_score, token_count
from ..operators.fuzzy_dedup import (
    minhash_lsh_pairs,
    minhash_signatures,
    ngram_jaccard_pairs,
    simhash,
    simhash_near_dup_pairs,
)
from ..sources.readers import source_fingerprint, spread, table_scan
from ..sources.writers import session_workspace, staged_dir

from .qshared import (
    _SIMHASH_CTE,
    register,
)



# ---------------------------------------------------------------------------
# text / documents (LLM-pipeline extension)
# ---------------------------------------------------------------------------

@register(
    "doc_token_count",
    """
    SELECT doc_id,
           CASE WHEN TRIM(text) = '' THEN 0
                ELSE len(string_split_regex(TRIM(text), '\\s+')) END AS n_tokens
    FROM documents
    """,
)
def q_doc_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whitespace token counting over documents (JVM-side split, no UDF)."""
    d = table_scan(spark, sf_dir, "documents")
    return d.select("doc_id", token_count("text").alias("n_tokens"))


@register(
    "doc_dedup_exact",
    """
    SELECT md5(TRIM(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fp,
           MIN(doc_id) AS keep_doc_id,
           COUNT(*) AS dup_cnt
    FROM documents
    GROUP BY 1
    """,
)
def q_doc_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact near-identity dedup: md5 over normalized text, keep the minimum
    doc_id per fingerprint. Hash-groupBy: partial agg removes duplicates
    map-side, so the shuffle carries one row per distinct document."""
    d = table_scan(spark, sf_dir, "documents")
    return d.groupBy(fingerprint("text").alias("fp")).agg(
        F.min("doc_id").alias("keep_doc_id"), F.count(F.lit(1)).alias("dup_cnt")
    )


# ---------------------------------------------------------------------------
# fuzzy dedup (LLM-pipeline extension)
# ---------------------------------------------------------------------------

#: Transitive-closure tail of the keep-list oracles: a ``pairs`` (id_a, id_b)
#: CTE → symmetric edges → WITH RECURSIVE reachability → (doc_id,
#: component, is_kept), the minimum id of each component kept. The
#: recursive closure is O(cluster²) per component; exact verify keeps
#: clusters tiny.
_CLOSURE_KEEP_TAIL = """    sym AS (
      SELECT id_a AS a, id_b AS b FROM pairs
      UNION SELECT id_b AS a, id_a AS b FROM pairs
    ),
    reach(a, b) AS (
      SELECT a, b FROM sym
      UNION
      SELECT r.a, s.b FROM reach r JOIN sym s ON r.b = s.a
    )
    SELECT a AS doc_id, LEAST(a, MIN(b)) AS component,
           a = LEAST(a, MIN(b)) AS is_kept
    FROM reach GROUP BY a
    """


def _minhash_portable_oracle(num_hashes: int = 16) -> str:
    """Full-SQL replication of the MinHash signature pipeline: the
    universal-hash coefficients come from the SAME seeded generator the
    Spark operator uses, interpolated into the oracle text."""
    from ..operators.fuzzy_dedup import _MH_B, _MH_P, _mh_coeffs

    vals = ", ".join(f"({i}, {a}, {b})" for i, (a, b) in enumerate(_mh_coeffs(num_hashes)))
    return rf"""
    WITH t AS (
      SELECT doc_id,
             list_transform(string_split_regex(TRIM(text), '\s+'),
                            tok -> CAST(concat('0x', substr(md5(tok), 1, 15))
                                        AS BIGINT) % {_MH_P}) AS th
      FROM documents
    ),
    sh AS (
      SELECT DISTINCT doc_id,
             ((th[i + 1] * {_MH_B} + th[i + 2]) % {_MH_P} * {_MH_B}
              + th[i + 3]) % {_MH_P} AS s
      FROM t, UNNEST(range(GREATEST(len(th) - 2, 0))) AS u(i)
    ),
    c(i, a, b) AS (VALUES {vals}),
    sig AS (
      SELECT doc_id, c.i, MIN((sh.s * c.a + c.b) % {_MH_P}) AS m
      FROM sh CROSS JOIN c GROUP BY doc_id, c.i
    )
    SELECT doc_id, string_agg(CAST(m AS VARCHAR), '-' ORDER BY i) AS sig
    FROM sig GROUP BY doc_id
    """


def _dedup_portable_oracle(num_hashes: int = 16, bands: int = 4) -> str:
    """Full-SQL oracle for the END-TO-END dedup decision of
    doc_dedup_portable_pipeline: signatures → banded LSH candidates → exact
    integer Jaccard verify → transitive closure → min-id keep list."""
    from ..operators.fuzzy_dedup import _MH_B, _MH_P, _mh_coeffs

    vals = ", ".join(
        f"({i}, {a}, {b})" for i, (a, b) in enumerate(_mh_coeffs(num_hashes))
    )
    rpb = num_hashes // bands
    bh = "m0"
    for r in range(1, rpb):
        bh = f"({bh} * {_MH_B} + m{r}) % {_MH_P}"
    mcols = ", ".join(
        f"MAX(CASE WHEN i % {rpb} = {r} THEN m END) AS m{r}" for r in range(rpb)
    )
    return rf"""
    WITH RECURSIVE t AS (
      SELECT doc_id,
             list_transform(string_split_regex(TRIM(text), '\s+'),
                            tok -> CAST(concat('0x', substr(md5(tok), 1, 15))
                                        AS BIGINT) % {_MH_P}) AS th
      FROM documents
    ),
    sh AS (
      SELECT DISTINCT doc_id,
             ((th[i + 1] * {_MH_B} + th[i + 2]) % {_MH_P} * {_MH_B}
              + th[i + 3]) % {_MH_P} AS s
      FROM t, UNNEST(range(GREATEST(len(th) - 2, 0))) AS u(i)
    ),
    sz AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
    c(i, a, b) AS (VALUES {vals}),
    sig AS (
      SELECT doc_id, c.i, MIN((sh.s * c.a + c.b) % {_MH_P}) AS m
      FROM sh CROSS JOIN c GROUP BY doc_id, c.i
    ),
    bandm AS (
      SELECT doc_id, i // {rpb} AS b, {mcols}
      FROM sig GROUP BY doc_id, i // {rpb}
    ),
    band AS (SELECT doc_id, b, {bh} AS bh FROM bandm),
    cand AS (
      SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b
      FROM band x JOIN band y
        ON x.b = y.b AND x.bh = y.bh AND x.doc_id < y.doc_id
    ),
    inter AS (
      SELECT c.id_a, c.id_b, COUNT(*) AS icnt
      FROM cand c
      JOIN sh sa ON sa.doc_id = c.id_a
      JOIN sh sb ON sb.doc_id = c.id_b AND sb.s = sa.s
      GROUP BY c.id_a, c.id_b
    ),
    pairs AS (
      SELECT id_a, id_b
      FROM inter
      JOIN sz za ON za.doc_id = id_a
      JOIN sz zb ON zb.doc_id = id_b
      WHERE icnt * 10 >= (za.n + zb.n - icnt) * 7
    ),
{_CLOSURE_KEEP_TAIL}"""


def _lsh_pairs_portable_oracle(num_hashes: int = 16, bands: int = 4) -> str:
    """Full-SQL oracle for the minhash_lsh_pairs pipeline: md5 token
    hashes → signatures → polynomial band hash → banded candidate join →
    exact string-shingle Jaccard verify → threshold filter. Ends at the
    verified-pairs stage (the shape doc_dedup_minhash_lsh runs), with the
    verify on 3-word STRING shingles exactly as the Spark operator's
    word_shingles-based jaccard()."""
    from ..operators.fuzzy_dedup import _MH_B, _MH_P, _mh_coeffs

    vals = ", ".join(
        f"({i}, {a}, {b})" for i, (a, b) in enumerate(_mh_coeffs(num_hashes))
    )
    rpb = num_hashes // bands
    bh = "m0"
    for r in range(1, rpb):
        bh = f"({bh} * {_MH_B} + m{r}) % {_MH_P}"
    mcols = ", ".join(
        f"MAX(CASE WHEN i % {rpb} = {r} THEN m END) AS m{r}" for r in range(rpb)
    )
    return rf"""
    WITH t AS (
      SELECT doc_id, string_split_regex(TRIM(text), '\s+') AS toks,
             list_transform(string_split_regex(TRIM(text), '\s+'),
                            tok -> CAST(concat('0x', substr(md5(tok), 1, 15))
                                        AS BIGINT) % {_MH_P}) AS th
      FROM documents
    ),
    sh AS (
      SELECT DISTINCT doc_id,
             ((th[i + 1] * {_MH_B} + th[i + 2]) % {_MH_P} * {_MH_B}
              + th[i + 3]) % {_MH_P} AS s
      FROM t, UNNEST(range(GREATEST(len(th) - 2, 0))) AS u(i)
    ),
    strsh AS (
      SELECT DISTINCT doc_id,
             toks[i + 1] || ' ' || toks[i + 2] || ' ' || toks[i + 3] AS g
      FROM t, UNNEST(range(GREATEST(len(toks) - 2, 0))) AS u(i)
    ),
    ssz AS (SELECT doc_id, COUNT(*) AS n FROM strsh GROUP BY doc_id),
    c(i, a, b) AS (VALUES {vals}),
    sig AS (
      SELECT doc_id, c.i, MIN((sh.s * c.a + c.b) % {_MH_P}) AS m
      FROM sh CROSS JOIN c GROUP BY doc_id, c.i
    ),
    bandm AS (
      SELECT doc_id, i // {rpb} AS b, {mcols}
      FROM sig GROUP BY doc_id, i // {rpb}
    ),
    band AS (SELECT doc_id, b, {bh} AS bh FROM bandm),
    cand AS (
      SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b
      FROM band x JOIN band y
        ON x.b = y.b AND x.bh = y.bh AND x.doc_id < y.doc_id
    ),
    inter AS (
      SELECT c.id_a, c.id_b, COUNT(*) AS icnt
      FROM cand c
      JOIN strsh sa ON sa.doc_id = c.id_a
      JOIN strsh sb ON sb.doc_id = c.id_b AND sb.g = sa.g
      GROUP BY c.id_a, c.id_b
    ),
    j AS (
      SELECT i.id_a, i.id_b,
             CAST(i.icnt AS DOUBLE) / (za.n + zb.n - i.icnt) AS jaccard
      FROM inter i
      JOIN ssz za ON za.doc_id = i.id_a
      JOIN ssz zb ON zb.doc_id = i.id_b
    )
    SELECT id_a, id_b, jaccard FROM j WHERE jaccard >= 0.7
    """


@register("doc_dedup_minhash_lsh", _lsh_pairs_portable_oracle(48, 12))
def q_doc_dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash(48) + LSH(12 bands × 4) near-dup pairs over documents,
    verified by exact shingle Jaccard >= 0.7. The DuckDB oracle replays
    every stage: md5 token hashes, signatures, polynomial band hashes, the
    banded candidate join and the string-shingle Jaccard verify."""
    d = table_scan(spark, sf_dir, "documents")
    return minhash_lsh_pairs(d, threshold=0.7)


@register(
    "doc_dedup_keep_list",
    f"""
    SELECT doc_id AS dropped_doc_id, component AS kept_doc_id FROM (
    WITH RECURSIVE pairs AS ({_lsh_pairs_portable_oracle(48, 12)}),
{_CLOSURE_KEEP_TAIL})
    WHERE doc_id <> component
    """,
)
def q_doc_dedup_keep_list(spark: SparkSession, sf_dir: str) -> DataFrame:
    """END-TO-END dedup decision: MinHash-LSH verified pairs → connected
    components (duplicates are transitive) → one canonical survivor per
    cluster. Returns only the dropped docs + their surviving representative
    (empty ⇒ corpus is already unique at the 0.7 Jaccard level). The
    oracle closes doc_dedup_minhash_lsh's pairs transitively in SQL."""
    from ..operators.components import keep_one_per_cluster

    d = table_scan(spark, sf_dir, "documents")
    decisions = keep_one_per_cluster(
        d.select("doc_id"), lambda: minhash_lsh_pairs(d, threshold=0.7)
    )
    return (
        decisions.filter(~F.col("is_kept"))
        .select(F.col("doc_id").alias("dropped_doc_id"), F.col("component").alias("kept_doc_id"))
        .orderBy("dropped_doc_id")
    )


@register(
    "doc_minhash_signature",
    "SELECT doc_id, "
    + ", ".join(f"CAST(split_part(sig, '-', {i + 1}) AS BIGINT) AS mh{i}" for i in range(4))
    + f" FROM ({_minhash_portable_oracle(64)})",
)
def q_doc_minhash_signature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document MinHash signature head (first 4 of 64 hashes), checked
    against the head of the full 64-hash SQL replay."""
    d = table_scan(spark, sf_dir, "documents")
    sigs = minhash_signatures(d, num_hashes=64)
    return sigs.select(
        F.col("id").alias("doc_id"),
        *[F.element_at("sig", i + 1).alias(f"mh{i}") for i in range(4)],
    )


@register(
    "doc_dedup_simhash",
    # generated SQL mirrors the Spark expression exactly (md5-based 60-bit
    # token hash, per-bit sign votes, 32-bit pack)
    """
    WITH tok AS (
      SELECT doc_id,
             CAST(concat('0x', substr(md5(UNNEST(string_split_regex(TRIM(text), '\\s+'))), 1, 15)) AS BIGINT) AS h
      FROM documents
    ),
    votes AS (
      SELECT doc_id,
             {vote_exprs}
      FROM tok GROUP BY doc_id
    )
    SELECT doc_id, {pack_expr} AS simhash
    FROM votes
    """.replace(
        "{vote_exprs}",
        ",\n             ".join(
            f"SUM(((h >> {i}) & 1) * 2 - 1) AS v{i}" for i in range(32)
        ),
    ).replace(
        "{pack_expr}",
        " + ".join(f"(CASE WHEN v{i} > 0 THEN {1 << i} ELSE 0 END)" for i in range(32)),
    ),
)
def q_doc_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash(32) per document from md5-based token hashes — fully
    oracle-checked (the hash is engine-portable). Near-identical docs get
    equal/near-equal values; grouping by simhash is the dedup step."""
    d = table_scan(spark, sf_dir, "documents")
    return simhash(d, bits=32).select(F.col("id").alias("doc_id"), "simhash")


@register(
    "doc_ngram_jaccard_pairs",
    """
    WITH s AS (
      SELECT doc_id, list_distinct(string_split_regex(TRIM(text), '\\s+')) AS sh
      FROM documents WHERE doc_id < 150
    )
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
             / len(list_distinct(list_concat(a.sh, b.sh))) AS jaccard
    FROM s a JOIN s b ON a.doc_id < b.doc_id
    WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
             / len(list_distinct(list_concat(a.sh, b.sh))) >= 0.5
    """,
)
def q_doc_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact token-set Jaccard similarity join (bounded subset): the
    verification primitive behind MinHash-LSH, oracle-checked. Integer set
    sizes → one double division (cross-engine deterministic)."""
    d = table_scan(spark, sf_dir, "documents").filter(F.col("doc_id") < 150)
    return ngram_jaccard_pairs(d, shingle_n=1, threshold=0.5)


# ---------------------------------------------------------------------------
# text analysis (LLM-pipeline extension)
# ---------------------------------------------------------------------------

def _lang_sql() -> str:
    """DuckDB twin of functions.text.lang_id (kept in sync by construction)."""
    hits = {
        lang: " + ".join(
            f"(CASE WHEN regexp_matches(text, '(^|\\s){w}(\\s|$)') THEN 1 ELSE 0 END)"
            for w in ws
        )
        for lang, ws in LANG_MARKERS.items()
    }
    # fixed fold order = same deterministic tie-break as the Spark expression
    expr = "'und'"
    score = "0"
    for lang in LANG_MARKERS:
        expr = f"(CASE WHEN ({hits[lang]}) > ({score}) THEN '{lang}' ELSE {expr} END)"
        score = f"(CASE WHEN ({hits[lang]}) > ({score}) THEN ({hits[lang]}) ELSE {score} END)"
    return f"SELECT doc_id, {expr} AS lang_pred FROM documents"


@register("doc_lang_id", _lang_sql())
def q_doc_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic language ID (stopword-marker argmax) — JVM regex only, no
    UDF; the production swap-in point for a real model is the multimodal
    mapInPandas path."""
    d = table_scan(spark, sf_dir, "documents")
    return d.select("doc_id", lang_id("text").alias("lang_pred"))


@register(
    "doc_quality_score",
    """
    WITH m AS (
      SELECT doc_id,
             CASE WHEN TRIM(text) = '' THEN 0
                  ELSE len(string_split_regex(TRIM(text), '\\s+')) END AS n_tokens,
             CASE WHEN length(text) = 0 THEN 0.0
                  ELSE CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS DOUBLE)
                       / length(text) END AS alpha_ratio,
             CASE WHEN length(text) = 0 THEN 0.0
                  ELSE CAST(length(regexp_replace(text, '[^.,;:!?''"()\\[\\]-]', '', 'g')) AS DOUBLE)
                       / length(text) END AS punct_ratio,
             ((CASE WHEN regexp_matches(text, '(^|\\s)the(\\s|$)') THEN 1 ELSE 0 END)
            + (CASE WHEN regexp_matches(text, '(^|\\s)and(\\s|$)') THEN 1 ELSE 0 END)
            + (CASE WHEN regexp_matches(text, '(^|\\s)of(\\s|$)') THEN 1 ELSE 0 END)
            + (CASE WHEN regexp_matches(text, '(^|\\s)to(\\s|$)') THEN 1 ELSE 0 END)
            + (CASE WHEN regexp_matches(text, '(^|\\s)is(\\s|$)') THEN 1 ELSE 0 END)) AS stop_hits
      FROM documents
    )
    SELECT doc_id,
           GREATEST(0.0, LEAST(1.0,
             0.4 * LEAST(CAST(n_tokens AS DOUBLE) / 100.0, 1.0)
           + 0.4 * alpha_ratio
           + 0.2 * LEAST(CAST(stop_hits AS DOUBLE) / 3.0, 1.0)
           - 0.2 * punct_ratio)) AS quality
    FROM m
    """,
)
def q_doc_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite text-quality score (length + alphabetic ratio + stopword
    presence − punctuation excess), per-row double arithmetic — exact
    cross-engine parity, no aggregation involved."""
    d = table_scan(spark, sf_dir, "documents")
    return d.select("doc_id", quality_score("text").alias("quality"))


@register(
    "doc_pii_scrub",
    """
    SELECT doc_id,
           regexp_replace(
             regexp_replace(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}',
                            '<EMAIL>', 'g'),
             '\\+?\\d[\\d() -]{7,}\\d', '<PHONE>', 'g') AS scrubbed
    FROM documents WHERE doc_id < 100
    """,
)
def q_doc_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing pass (emails, phone-like digit runs → placeholders) —
    the standard pre-training redaction map pass; pure JVM regex."""
    d = table_scan(spark, sf_dir, "documents").filter(F.col("doc_id") < 100)
    email = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
    phone = r"\+?\d[\d() -]{7,}\d"
    return d.select(
        "doc_id",
        F.regexp_replace(
            F.regexp_replace(F.col("text"), email, "<EMAIL>"), phone, "<PHONE>"
        ).alias("scrubbed"),
    )


@register(
    "doc_levenshtein_pairs",
    """
    WITH s AS (SELECT doc_id, text FROM documents WHERE doc_id < 30)
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(levenshtein(a.text, b.text) AS INT) AS edit_distance
    FROM s a JOIN s b ON a.doc_id < b.doc_id
    """,
)
def q_doc_levenshtein(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance similarity join on a bounded subset — the exact-verify
    primitive for fuzzy text matching (parity with DuckDB is exact; the
    scale path prunes candidates via LSH first, as in doc_dedup_minhash_lsh)."""
    d = table_scan(spark, sf_dir, "documents").filter(F.col("doc_id") < 30).select(
        "doc_id", "text"
    )
    a = d.alias("a")
    b = d.alias("b")
    return a.join(b, F.col("a.doc_id") < F.col("b.doc_id")).select(
        F.col("a.doc_id").alias("id_a"),
        F.col("b.doc_id").alias("id_b"),
        F.levenshtein(F.col("a.text"), F.col("b.text")).cast("int").alias("edit_distance"),
    )


@register(
    "doc_simhash_near_dup",
    _SIMHASH_CTE
    + """
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
    FROM sh a, sh b
    WHERE a.doc_id < b.doc_id
      AND bit_count(xor(a.simhash, b.simhash)) <= 3
    """,
)
def q_doc_simhash_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-duplicate pairs (Hamming ≤ 3) via banded LSH self-join
    + exact verify. max_hamming < bands gives recall exactly 1.0 by
    pigeonhole, so the LSH path is checked bit-for-bit against the oracle's
    exact all-pairs form — the only fuzzy-dedup operator in the family whose
    approximation is provably lossless."""
    d = table_scan(spark, sf_dir, "documents")
    return simhash_near_dup_pairs(d, bits=32, bands=4, max_hamming=3).select(
        F.col("id_a"), F.col("id_b"), F.col("hamming")
    )


@register(
    "doc_chunking",
    """
    WITH t AS (
      SELECT doc_id, string_split_regex(TRIM(text), '\\s+') AS toks
      FROM documents
    ),
    k AS (
      SELECT doc_id, toks,
             GREATEST(CAST(CEIL((len(toks) - 16) / 48.0) AS BIGINT), 1) AS nch
      FROM t
    )
    SELECT doc_id, CAST(i AS BIGINT) AS chunk_idx,
           array_to_string(list_slice(toks, i*48 + 1, i*48 + 64), ' ')
             AS chunk_text,
           CAST(len(list_slice(toks, i*48 + 1, i*48 + 64)) AS BIGINT)
             AS n_tokens
    FROM k, UNNEST(range(nch)) AS u(i)
    """,
)
def q_doc_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping token-window chunking (64-token windows, 16 overlap) —
    the long-document fan-out ahead of tokenization/embedding. All JVM
    higher-order functions over one materialized token array; explode is the
    only row multiplier (operators/chunking.py)."""
    from ..operators.chunking import chunk_documents

    d = table_scan(spark, sf_dir, "documents")
    return chunk_documents(d, chunk_tokens=64, overlap=16)


@register(
    "doc_filter_pipeline",
    """
    WITH m AS (
      SELECT doc_id, text,
             CASE WHEN TRIM(text) = '' THEN 0
                  ELSE len(string_split_regex(TRIM(text), '\\s+')) END AS n_tokens,
             CASE WHEN length(text) = 0 THEN 0.0
                  ELSE CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS DOUBLE)
                       / length(text) END AS alpha_ratio,
             CASE WHEN length(text) = 0 THEN 0.0
                  ELSE CAST(length(regexp_replace(text, '[^.,;:!?''"()\\[\\]-]', '', 'g')) AS DOUBLE)
                       / length(text) END AS punct_ratio,
             ((CASE WHEN regexp_matches(text, '(^|\\s)the(\\s|$)') THEN 1 ELSE 0 END)
            + (CASE WHEN regexp_matches(text, '(^|\\s)and(\\s|$)') THEN 1 ELSE 0 END)
            + (CASE WHEN regexp_matches(text, '(^|\\s)of(\\s|$)') THEN 1 ELSE 0 END)
            + (CASE WHEN regexp_matches(text, '(^|\\s)to(\\s|$)') THEN 1 ELSE 0 END)
            + (CASE WHEN regexp_matches(text, '(^|\\s)is(\\s|$)') THEN 1 ELSE 0 END)) AS stop_hits
      FROM documents
    ),
    q AS (
      SELECT doc_id, n_tokens, stop_hits,
             GREATEST(0.0, LEAST(1.0,
               0.4 * LEAST(CAST(n_tokens AS DOUBLE) / 100.0, 1.0)
             + 0.4 * alpha_ratio
             + 0.2 * LEAST(CAST(stop_hits AS DOUBLE) / 3.0, 1.0)
             - 0.2 * punct_ratio)) AS quality
      FROM m
    )
    SELECT doc_id, quality, CAST(n_tokens AS BIGINT) AS n_tokens
    FROM q
    WHERE quality >= 0.5 AND n_tokens BETWEEN 10 AND 5000 AND stop_hits >= 1
    """,
)
def q_doc_filter_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed pre-training quality gate: length band + quality score +
    English-marker presence in ONE predicate pass — Catalyst fuses all three
    signals into a single projection+filter over one scan (no distinct
    per-signal passes). The oracle replays the identical arithmetic, so the
    0.5 boundary is bit-exact cross-engine."""
    from ..functions.text import word_hits

    d = table_scan(spark, sf_dir, "documents")
    scored = d.select(
        "doc_id",
        quality_score("text").alias("quality"),
        token_count("text").alias("n_tokens"),
        word_hits("text", LANG_MARKERS["en"]).alias("__stop_hits"),
    )
    return scored.filter(
        (F.col("quality") >= 0.5)
        & F.col("n_tokens").between(10, 5000)
        & (F.col("__stop_hits") >= 1)
    ).select("doc_id", "quality", "n_tokens")


@register(
    "doc_token_count_bpe",
    r"""
    SELECT doc_id,
           CAST(len(regexp_extract_all(text, '\w+|[^\w\s]')) AS BIGINT)
             AS n_subtokens
    FROM documents
    """,
)
def q_doc_token_count_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE-ish token counting: `\\w+|[^\\w\\s]` splits words and punctuation
    into separate tokens (the pre-tokenization regex family BPE vocabularies
    are trained over) — the second token metric next to whitespace
    `doc_token_count`. JVM regexp_extract_all, no UDF."""
    d = table_scan(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.size(F.regexp_extract_all("text", F.lit(r"\w+|[^\w\s]"), 0))
        .cast("long")
        .alias("n_subtokens"),
    )


@register(
    "doc_rolling_fingerprint",
    r"""
    SELECT doc_id,
           list_reduce(
             list_transform(string_split_regex(TRIM(text), '\s+'),
                            t -> CAST(concat('0x', substr(md5(t), 1, 15))
                                      AS BIGINT) % 1000000007),
             (a, b) -> (a * 1000003 + b) % 1000000007
           ) AS fp
    FROM documents
    """,
)
def q_doc_rolling_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORDER-SENSITIVE document fingerprint: polynomial rolling hash over the
    token-hash sequence (h = h·B + t mod p). Complements the set-based md5
    fingerprint (`doc_dedup_exact`): reordered tokens change this value but
    not a bag-of-words hash. Engine-portable (md5 token hash, same modular
    fold in DuckDB list_reduce), pure JVM F.aggregate."""
    from ..functions.hashing import portable_hash64

    P, B = 1_000_000_007, 1_000_003
    d = table_scan(spark, sf_dir, "documents")
    toks = F.split(F.trim("text"), r"\s+")
    th = F.transform(toks, lambda t: F.pmod(portable_hash64(t), F.lit(P)))
    base = d.select("doc_id", th.alias("__th"))
    rolled = F.aggregate(
        F.expr("slice(__th, 2, size(__th) - 1)"),
        F.element_at("__th", 1),
        lambda a, b: F.pmod(a * F.lit(B) + b, F.lit(P)),
    )
    return base.select("doc_id", rolled.alias("fp"))


@register(
    "doc_lang_id_accuracy",
    """
    WITH p AS ({lang_pred})
    SELECT d.lang, p.lang_pred, COUNT(*) AS cnt
    FROM documents d JOIN p USING (doc_id)
    GROUP BY d.lang, p.lang_pred
    """.replace("{lang_pred}", _lang_sql()),
)
def q_doc_lang_id_accuracy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-evaluation join: the heuristic language-ID prediction against
    the corpus's ground-truth `lang` column as a confusion matrix — the
    accuracy-tracking query a production pipeline runs per batch. (The
    testdata includes a `zh` class the marker heuristic cannot predict —
    visible as zh→und/en rows.)"""
    d = table_scan(spark, sf_dir, "documents")
    return (
        d.select("doc_id", "lang", lang_id("text").alias("lang_pred"))
        .groupBy("lang", "lang_pred")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


@register(
    "doc_gopher_quality",
    """
    WITH w AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents
    ), wc AS (
      SELECT doc_id, word, COUNT(*) AS c
      FROM w WHERE word <> '' GROUP BY doc_id, word
    )
    SELECT doc_id,
      CAST(SUM(c) AS BIGINT) AS n_words,
      CAST(SUM(c * length(word)) AS DOUBLE) / CAST(SUM(c) AS DOUBLE)
        AS mean_word_len,
      CAST(COUNT(*) AS BIGINT) AS n_distinct_words,
      CAST(MAX(c) AS DOUBLE) / CAST(SUM(c) AS DOUBLE) AS top_word_frac,
      CAST(SUM(CASE WHEN word IN ('a', 'the') THEN c ELSE 0 END) AS DOUBLE)
        / CAST(SUM(c) AS DOUBLE) AS stopword_frac,
      CAST(SUM(c) BETWEEN 20 AND 100000
           AND CAST(SUM(c * length(word)) AS DOUBLE) / CAST(SUM(c) AS DOUBLE)
               BETWEEN 2.0 AND 10.0
           AND CAST(MAX(c) AS DOUBLE) / CAST(SUM(c) AS DOUBLE) <= 0.2
           AND CAST(SUM(CASE WHEN word IN ('a', 'the') THEN c ELSE 0 END)
                    AS DOUBLE) / CAST(SUM(c) AS DOUBLE) >= 0.005
           AS BOOLEAN) AS keep
    FROM wc GROUP BY doc_id
    """,
)
def q_doc_gopher_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style document quality signals (Rae et al. 2021 §A1.1, adapted
    to the single-line corpus): word count, mean word length, distinct-word
    count, top-word dominance, stopword fraction, and a composite keep flag
    with Gopher-ish thresholds. One explode + two grouped passes, all
    JVM-side; ratios are int/int double divisions (bit-deterministic
    cross-engine, no float-sum ordering involved). At 100 TB the word-level
    intermediate is the big shuffle — it partial-aggregates on
    (doc_id, word) map-side, and the second pass groups the already-skinny
    per-word counts. The rule itself lives in operators/quality.py so the
    distilled classifier (doc_quality_classifier_distill) trains on
    EXACTLY this teacher."""
    from ..operators.quality import gopher_quality_signals

    docs = table_scan(spark, sf_dir, "documents").select("doc_id", "text")
    return gopher_quality_signals(docs)


@register(
    "doc_bigram_rarity",
    """
    WITH d AS (
      SELECT doc_id, string_split(text, ' ') AS words FROM documents
    ), bg AS (
      SELECT doc_id, words[i] AS w1, words[i + 1] AS w2
      FROM d, UNNEST(range(1, len(words))) AS t(i)
      WHERE words[i] <> '' AND words[i + 1] <> ''
    ), bc AS (
      SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c FROM bg GROUP BY w1, w2
    )
    SELECT bg.doc_id,
      CAST(COUNT(*) AS BIGINT) AS n_bigrams,
      CAST(CAST(SUM(bc.c) AS BIGINT) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
        AS mean_bigram_count,
      CAST(SUM(CASE WHEN bc.c <= 2 THEN 1 ELSE 0 END) AS BIGINT)
        AS rare_bigrams,
      CAST(SUM(CASE WHEN bc.c <= 2 THEN 1 ELSE 0 END) AS DOUBLE)
        / CAST(COUNT(*) AS DOUBLE) AS rare_frac,
      CAST(MIN(bc.c) AS BIGINT) AS min_bigram_count
    FROM bg JOIN bc ON bg.w1 = bc.w1 AND bg.w2 = bc.w2
    GROUP BY bg.doc_id
    """,
)
def q_doc_bigram_rarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-LM document scoring, the CCNet quality-filter shape with an
    engine-portable statistic: train a bigram table on the corpus itself,
    score each document by how rare its bigrams are (mean corpus count,
    rare-bigram fraction, min count). Log-prob perplexity is the classic
    form but log2/ln are NOT bitwise-portable across engines (measured:
    ~30% of values differ in the last ulp), so the emitted scores are pure
    integer ratios — deterministic AND monotone in the same signal.

    Shape: the bigram extraction is an arrays_zip of two shifted slices
    (no window, no shuffle). Raw occurrences are immediately collapsed to
    per-doc bigram counts (`dc`) — the doc→model join then moves one row
    per DISTINCT (doc, bigram) instead of one per occurrence, and the
    per-doc stats are dcnt-weighted (identical semantics, verified against
    the occurrence-level oracle). `dc` is persisted because it's
    referenced twice (model build + scoring) and Spark would otherwise
    re-run the explode."""
    docs = table_scan(spark, sf_dir, "documents").select("doc_id", "text")
    words = F.split("text", " ")
    d = docs.select("doc_id", words.alias("words"))
    n = F.size("words")
    pairs = F.arrays_zip(
        F.slice("words", 1, n - 1).alias("w1"),
        F.slice(F.col("words"), F.lit(2), n - 1).alias("w2"),
    )
    bg = (
        d.select("doc_id", F.explode(pairs).alias("p"))
        .select("doc_id", F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2"))
        .filter((F.col("w1") != "") & (F.col("w2") != ""))
    )
    dc = (
        bg.groupBy("doc_id", "w1", "w2")
        .agg(F.count(F.lit(1)).alias("dcnt"))
        .transform(cached)
    )
    bc = dc.groupBy("w1", "w2").agg(F.sum("dcnt").alias("c"))
    j = dc.join(bc, on=["w1", "w2"])
    n_occ = F.sum("dcnt")
    rare = F.sum(F.when(F.col("c") <= 2, F.col("dcnt")).otherwise(0))
    return j.groupBy("doc_id").agg(
        n_occ.alias("n_bigrams"),
        (F.sum(F.col("dcnt") * F.col("c")).cast("double") / n_occ.cast("double")).alias(
            "mean_bigram_count"
        ),
        rare.alias("rare_bigrams"),
        (rare.cast("double") / n_occ.cast("double")).alias("rare_frac"),
        F.min("c").alias("min_bigram_count"),
    )


@register(
    "doc_pack_sequences",
    """
    WITH tok AS (
      SELECT doc_id,
             CASE WHEN TRIM(text) = '' THEN 0
                  ELSE len(string_split_regex(TRIM(text), '\\s+')) END AS n_tokens,
             CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))
                  AS BIGINT) % 8 AS shard
      FROM documents
    ), off AS (
      SELECT doc_id, shard, CAST(n_tokens AS BIGINT) AS n_tokens,
             CAST(COALESCE(SUM(n_tokens) OVER (
                    PARTITION BY shard ORDER BY doc_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                  AS BIGINT) AS stream_offset
      FROM tok
    )
    SELECT doc_id, shard, n_tokens, stream_offset,
           stream_offset // 2048 AS seq_index
    FROM off
    """,
)
def q_doc_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training sequence packing (concatenate-then-chunk): documents are
    deterministically sharded by portable hash, laid out in doc_id order
    within each shard, and each doc gets its token offset in the shard's
    concatenated stream plus the 2048-token sequence it starts in. This is
    the pack-planning pass of an LLM data loader — the actual tensor write
    follows the (shard, seq_index, stream_offset) plan. One window cumsum
    per shard; shards are independent, so at 100 TB parallelism = shard
    count and no shard needs to fit in memory (the window is a streaming
    prefix sum)."""
    from ..functions.hashing import portable_hash64

    d = table_scan(spark, sf_dir, "documents")
    tok = d.select(
        "doc_id",
        token_count("text").cast("long").alias("n_tokens"),
        (portable_hash64("doc_id") % 8).alias("shard"),
    )
    w = (
        Window.partitionBy("shard")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    off = tok.select(
        "doc_id",
        "shard",
        "n_tokens",
        F.coalesce(F.sum("n_tokens").over(w), F.lit(0)).cast("long").alias(
            "stream_offset"
        ),
    )
    return off.withColumn("seq_index", F.expr("stream_offset div 2048"))


@register(
    "doc_shared_span_flags",
    """
    WITH d AS (
      SELECT doc_id, string_split_regex(TRIM(text), '\\s+') AS w
      FROM documents
    ), s AS (
      SELECT doc_id,
             CAST(concat('0x', substr(md5(
               array_to_string(list_slice(w, i + 1, i + 8), ' ')), 1, 15))
             AS BIGINT) AS h
      FROM d, UNNEST(range(len(w) - 7)) AS u(i)
      WHERE len(w) >= 8
    ), sh AS (
      SELECT h, COUNT(DISTINCT doc_id) AS nd FROM s GROUP BY h
    )
    SELECT s.doc_id, COUNT(*) AS n_spans,
           COUNT(CASE WHEN sh.nd >= 2 THEN 1 END) AS n_shared_spans,
           CAST(COUNT(CASE WHEN sh.nd >= 2 THEN 1 END) AS DOUBLE)
             / CAST(COUNT(*) AS DOUBLE) AS shared_frac
    FROM s JOIN sh USING (h)
    GROUP BY s.doc_id
    """,
)
def q_doc_shared_span_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document exact-substring contamination signal (the scalable
    stand-in for suffix-array dedup, cf. Lee et al. 2022 "Deduplicating
    Training Data Makes Language Models Better"): every 8-word rolling window
    is hashed; a span appearing in ≥2 distinct docs marks copied text, and
    each doc reports its shared-span fraction. Span hashes are md5-portable.
    Plan: one explode (n_words spans/doc), one (hash → distinct-doc-count)
    partial agg, one hash-keyed join back — the span table is persisted so
    the explode runs once. At 100 TB the hash agg is the big shuffle and it
    map-side combines; nothing is quadratic in docs."""
    from ..functions.hashing import portable_hash64

    d = table_scan(spark, sf_dir, "documents").select(
        "doc_id", F.split(F.trim("text"), r"\s+").alias("w")
    )
    d = d.withColumn("__n", F.size("w")).filter(F.col("__n") >= 8)
    spans = F.transform(
        F.sequence(F.lit(1), F.col("__n") - 7),
        lambda i: F.concat_ws(" ", F.slice("w", i, F.lit(8))),
    )
    s = d.select(
        "doc_id", F.explode(spans).alias("__span")
    ).select("doc_id", portable_hash64("__span").alias("h"))
    s = s.transform(cached)
    sh = s.groupBy("h").agg(F.countDistinct("doc_id").alias("nd"))
    shared = F.count(F.when(F.col("nd") >= 2, F.lit(1)))
    return (
        s.join(sh, "h")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_spans"),
            shared.alias("n_shared_spans"),
        )
        .select(
            "doc_id",
            "n_spans",
            "n_shared_spans",
            (
                F.col("n_shared_spans").cast("double")
                / F.col("n_spans").cast("double")
            ).alias("shared_frac"),
        )
    )


@register(
    "doc_dedup_incremental",
    """
    WITH hist AS (
      SELECT DISTINCT md5(TRIM(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fp
      FROM documents WHERE doc_id % 2 = 0
    ), batch AS (
      SELECT doc_id, md5(TRIM(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fp
      FROM documents WHERE doc_id % 2 = 1
    )
    SELECT fp, MIN(doc_id) AS keep_doc_id
    FROM batch WHERE fp NOT IN (SELECT fp FROM hist)
    GROUP BY fp
    """,
)
def q_doc_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental dedup — the production flow exact dedup actually runs in:
    a NEW batch is deduped against the fingerprint index of the ALREADY
    INGESTED corpus (anti join), then within itself (keep-min groupBy). The
    even/odd doc_id split stands in for history vs. arriving batch. At
    100 TB the history side is a skinny persisted fingerprint table, the
    anti join shuffles only fingerprints (or broadcasts, batch ≪ history
    index), and re-running the batch is idempotent — nothing survives twice.
    Cites reference silver-stage overwrite (app/tasks/silver.py:61-71) which
    re-processes the full corpus instead."""
    d = table_scan(spark, sf_dir, "documents")
    hist = (
        d.filter(F.col("doc_id") % 2 == 0)
        .select(fingerprint("text").alias("fp"))
        .distinct()
    )
    batch = d.filter(F.col("doc_id") % 2 == 1).select(
        "doc_id", fingerprint("text").alias("fp")
    )
    return (
        batch.join(hist, "fp", "left_anti")
        .groupBy("fp")
        .agg(F.min("doc_id").alias("keep_doc_id"))
    )


# ---------------------------------------------------------------------------
# round-4 additions: repetition / tf-idf / RFM / growth accounting /
# Benford DQ / interval-overlap join / containment dedup
# ---------------------------------------------------------------------------


@register(
    "doc_repetition_topngram",
    r"""
    WITH t AS (
      SELECT doc_id, string_split_regex(TRIM(text), '\s+') AS toks FROM documents
    ),
    b AS (
      SELECT doc_id,
             UNNEST(list_transform(range(1, len(toks)),
                                   i -> toks[i] || ' ' || toks[i + 1])) AS bigram
      FROM t WHERE len(toks) >= 2
    ),
    c AS (SELECT doc_id, bigram, COUNT(*) AS cnt FROM b GROUP BY doc_id, bigram),
    r AS (
      SELECT doc_id, bigram, cnt,
             ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY cnt DESC, bigram) AS rn,
             SUM(cnt) OVER (PARTITION BY doc_id) AS total
      FROM c
    )
    SELECT doc_id, bigram AS top_bigram, CAST(cnt AS BIGINT) AS top_cnt,
           CAST(total AS BIGINT) AS total_bigrams,
           CAST(cnt * 5 > total AS INT) AS repetitive
    FROM r WHERE rn = 1
    """,
)
def q_doc_repetition_topngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition signal: per-document top word-bigram mass.
    Docs whose single most frequent bigram covers >20 % of all bigrams are
    boilerplate/spam candidates (the "top n-gram fraction" filter of the
    Gopher rules; duplicate-LINE fractions need newline structure this corpus
    lacks). The bigram list is built array-side (transform over an index
    sequence — one pass, no re-tokenize per n-gram), then explode → partial
    count → one window over the per-doc COUNTED table (≪ token fan-out).
    The 20 % flag is integer cross-multiplication (cnt·5 > total), so the
    boundary cannot flip between engines."""
    d = table_scan(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.split(F.trim(F.col("text")), r"\s+").alias("toks"))
    big = (
        toks.filter(F.size("toks") >= 2)
        .select(
            "doc_id",
            F.explode(
                F.transform(
                    F.sequence(F.lit(0), F.size("toks") - 2),
                    lambda i: F.concat(
                        F.col("toks")[i], F.lit(" "), F.col("toks")[i + 1]
                    ),
                )
            ).alias("bigram"),
        )
    )
    c = big.groupBy("doc_id", "bigram").agg(F.count(F.lit(1)).alias("cnt"))
    wd = Window.partitionBy("doc_id")
    r = c.select(
        "doc_id",
        "bigram",
        "cnt",
        F.row_number()
        .over(wd.orderBy(F.desc("cnt"), "bigram"))
        .alias("rn"),
        F.sum("cnt").over(wd).alias("total"),
    )
    return r.filter(F.col("rn") == 1).select(
        "doc_id",
        F.col("bigram").alias("top_bigram"),
        F.col("cnt").alias("top_cnt"),
        F.col("total").alias("total_bigrams"),
        (F.col("cnt") * 5 > F.col("total")).cast("int").alias("repetitive"),
    )


@register(
    "doc_tfidf_top_terms",
    r"""
    WITH toks AS (
      SELECT doc_id, UNNEST(string_split_regex(TRIM(text), '\s+')) AS token
      FROM documents
    ),
    tf AS (SELECT doc_id, token, COUNT(*) AS tf FROM toks GROUP BY doc_id, token),
    df AS (SELECT token, COUNT(*) AS df FROM tf GROUP BY token),
    n AS (SELECT COUNT(*) AS n_docs FROM documents),
    s AS (
      SELECT doc_id, token, tf, df,
             CAST(tf * n_docs AS DOUBLE) / df AS tfidf
      FROM tf JOIN df USING (token) CROSS JOIN n
    ),
    r AS (
      SELECT doc_id, token, tf, df, tfidf,
             ROW_NUMBER() OVER (PARTITION BY doc_id
                                ORDER BY tfidf DESC, token) AS term_rank
      FROM s
    )
    SELECT doc_id, token, tf, df, tfidf, CAST(term_rank AS INT) AS term_rank
    FROM r WHERE term_rank <= 3
    """,
)
def q_doc_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 tf-idf terms per document (keyword extraction / index features).
    Uses the linear idf surrogate tf·N/df: one exact-integer product then ONE
    correctly-rounded IEEE division — bitwise-portable across engines, unlike
    log-based idf (ln/log2 differ in the last ulp; see doc_bigram_rarity).
    Shape: token explode → (doc,token) partial-count → token-keyed df
    aggregate joined back (shuffle on token, both sides already aggregated),
    scalar doc count broadcast, one window over the scored (doc,token) table.
    Ties rank lexicographically — fully deterministic output."""
    d = table_scan(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", F.explode(F.split(F.trim(F.col("text")), r"\s+")).alias("token")
    )
    tf = toks.groupBy("doc_id", "token").agg(F.count(F.lit(1)).alias("tf"))
    df_t = tf.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
    n = d.agg(F.count(F.lit(1)).alias("n_docs"))
    s = (
        tf.join(df_t, "token")
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            "token",
            "tf",
            "df",
            ((F.col("tf") * F.col("n_docs")).cast("double") / F.col("df")).alias(
                "tfidf"
            ),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("tfidf"), "token")
    return (
        s.withColumn("term_rank", F.row_number().over(w))
        .filter(F.col("term_rank") <= 3)
        .select("doc_id", "token", "tf", "df", "tfidf", "term_rank")
    )


@register(
    "doc_containment_pairs",
    r"""
    WITH t AS (
      SELECT doc_id, UNNEST(list_distinct(string_split_regex(TRIM(text), '\s+')))
               AS token
      FROM documents WHERE doc_id < 120
    ),
    sz AS (SELECT doc_id, COUNT(*) AS n_tok FROM t GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS inter_cnt
      FROM t a JOIN t b ON a.token = b.token AND a.doc_id < b.doc_id
      GROUP BY id_a, id_b
    )
    SELECT id_a, id_b, inter_cnt,
           sa.n_tok AS n_a, sb.n_tok AS n_b,
           CAST(inter_cnt AS DOUBLE) / least(sa.n_tok, sb.n_tok) AS containment
    FROM inter
    JOIN sz sa ON sa.doc_id = id_a
    JOIN sz sb ON sb.doc_id = id_b
    WHERE inter_cnt * 2 >= least(sa.n_tok, sb.n_tok)
    """,
)
def q_doc_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set-containment similarity pairs: C(A,B) = |A∩B| / min(|A|,|B|) —
    the asymmetric-duplicate signal Jaccard misses (a short doc fully
    embedded in a long one scores low Jaccard but containment ≈ 1). The
    intersection comes from an INVERTED-INDEX equi-join on token (never
    all-pairs: candidate pairs exist only where a token co-occurs), partial-
    counted before the pair shuffle. The ≥0.5 threshold is integer
    cross-multiplication; the emitted containment value is one exact-rounded
    IEEE division. Bounded to doc_id < 120 as the exact-verify primitive —
    at 100 TB the same plan runs behind MinHash-LSH candidate pruning
    (doc_dedup_minhash_lsh)."""
    d = table_scan(spark, sf_dir, "documents").filter(F.col("doc_id") < 120)
    t = d.select(
        "doc_id",
        F.explode(
            F.array_distinct(F.split(F.trim(F.col("text")), r"\s+"))
        ).alias("token"),
    )
    sz = t.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_tok"))
    a, b = t.alias("a"), t.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.token") == F.col("b.token"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b")
        )
        .agg(F.count(F.lit(1)).alias("inter_cnt"))
    )
    sa = sz.select(F.col("doc_id").alias("id_a"), F.col("n_tok").alias("n_a"))
    sb = sz.select(F.col("doc_id").alias("id_b"), F.col("n_tok").alias("n_b"))
    return (
        inter.join(F.broadcast(sa), "id_a")
        .join(F.broadcast(sb), "id_b")
        .filter(F.col("inter_cnt") * 2 >= F.least("n_a", "n_b"))
        .select(
            "id_a",
            "id_b",
            "inter_cnt",
            "n_a",
            "n_b",
            (F.col("inter_cnt").cast("double") / F.least("n_a", "n_b")).alias(
                "containment"
            ),
        )
    )


@register(
    "doc_feature_hashing",
    r"""
    WITH tf AS (
      SELECT doc_id, token, COUNT(*) AS tf
      FROM (SELECT doc_id,
                   UNNEST(string_split_regex(TRIM(text), '\s+')) AS token
            FROM documents)
      GROUP BY doc_id, token
    ),
    hashed AS (
      SELECT doc_id,
             CAST(concat('0x', substr(md5(token), 1, 15)) AS BIGINT) % 1024
               AS bucket,
             CASE WHEN CAST(concat('0x', substr(md5('s:' || token), 1, 15))
                        AS BIGINT) % 2 = 1
                  THEN tf ELSE -tf END AS signed_tf
      FROM tf
    )
    SELECT doc_id, bucket, CAST(SUM(signed_tf) AS BIGINT) AS weight
    FROM hashed GROUP BY doc_id, bucket
    HAVING SUM(signed_tf) <> 0
    """,
)
def q_doc_feature_hashing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Signed hashing-trick bag-of-words (Weinberger et al. feature hashing):
    each token folds into one of 1024 buckets with a ±1 sign drawn from an
    independent hash, so collisions cancel in expectation and the sparse
    vector is unbiased. Output is the sparse COO form (doc_id, bucket,
    weight) — the fixed-width featurization that needs NO vocabulary build,
    no global state, and therefore no second pass over 100 TB: every
    partition featurizes independently and the groupBy is a plain partial
    agg on (doc, bucket). Weights are integer term-count sums — exact in
    both engines; zero-weight cells (full cancellation) are dropped to keep
    the vector sparse."""
    from ..functions.hashing import portable_hash64

    d = table_scan(spark, sf_dir, "documents")
    tf = (
        d.select(
            "doc_id",
            F.explode(F.split(F.trim(F.col("text")), r"\s+")).alias("token"),
        )
        .groupBy("doc_id", "token")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    hashed = tf.select(
        "doc_id",
        F.pmod(portable_hash64("token"), F.lit(1024)).alias("bucket"),
        F.when(
            F.pmod(portable_hash64(F.concat(F.lit("s:"), F.col("token"))), F.lit(2))
            == 1,
            F.col("tf"),
        )
        .otherwise(-F.col("tf"))
        .alias("signed_tf"),
    )
    return (
        hashed.groupBy("doc_id", "bucket")
        .agg(F.sum("signed_tf").cast("long").alias("weight"))
        .filter(F.col("weight") != 0)
    )


@register(
    "doc_bloom_probe",
    r"""
    WITH member AS (
      SELECT DISTINCT UNNEST(string_split_regex(TRIM(p_name), '\s+')) AS token
      FROM part
    ),
    bits AS (
      SELECT DISTINCT k,
             CAST(concat('0x', substr(md5(CAST(k AS VARCHAR) || '#' || token),
                                      1, 15)) AS BIGINT) % 4096 AS pos
      FROM member, UNNEST(range(3)) AS u(k)
    ),
    probe AS (
      SELECT DISTINCT UNNEST(string_split_regex(TRIM(text), '\s+')) AS token
      FROM documents
    ),
    ppos AS (
      SELECT token, k,
             CAST(concat('0x', substr(md5(CAST(k AS VARCHAR) || '#' || token),
                                      1, 15)) AS BIGINT) % 4096 AS pos
      FROM probe, UNNEST(range(3)) AS u(k)
    ),
    hits AS (
      SELECT p.token, COUNT(b.pos) AS set_bits
      FROM ppos p LEFT JOIN bits b ON p.k = b.k AND p.pos = b.pos
      GROUP BY p.token
    ),
    verdict AS (
      SELECT h.token,
             CAST(h.set_bits = 3 AS INT) AS bloom_hit,
             CAST(m.token IS NOT NULL AS INT) AS exact_hit
      FROM hits h LEFT JOIN member m ON h.token = m.token
    )
    SELECT COUNT(*) AS probes,
           CAST(SUM(bloom_hit) AS BIGINT) AS bloom_hits,
           CAST(SUM(exact_hit) AS BIGINT) AS exact_hits,
           CAST(SUM(CASE WHEN bloom_hit = 1 AND exact_hit = 0 THEN 1 ELSE 0 END)
                AS BIGINT) AS false_positives
    FROM verdict
    """,
)
def q_doc_bloom_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter membership probe with MEASURED false-positive rate: the
    part-name vocabulary builds an m=4096-bit / k=3 filter, every distinct
    document token probes it, and each bloom verdict is replayed against
    exact membership — `false_positives` is the filter's actual FP count
    (bloom_hits ≥ exact_hits always; no false negatives by construction).
    The filter is represented relationally as its SET-BIT table (k, pos) —
    ≤ 12 288 rows regardless of corpus size — broadcast to the probe side as
    an equi-join; a probe token is a member iff all k positions match
    (COUNT = k). This is the shape of a distributed bloom join: build once
    map-side, broadcast the bitset, prune the big side before any shuffle.
    Portable md5-prefix hashing means DuckDB constructs the identical filter,
    so the FP count itself is oracle-checked."""
    from ..functions.hashing import portable_hash64

    def tok(df: DataFrame, col: str) -> DataFrame:
        # plain explode, not explode_outer: a NULL text would emit a NULL
        # token row that the oracle's UNNEST (which skips NULL lists)
        # never produces, skewing the probes count.
        return df.select(
            F.explode(F.split(F.trim(F.col(col)), r"\s+")).alias("token")
        ).distinct()

    def positions(df: DataFrame) -> DataFrame:
        ks = F.sequence(F.lit(0), F.lit(2))
        return df.select(
            "token", F.explode(ks).alias("k")
        ).select(
            "token",
            "k",
            F.pmod(
                portable_hash64(
                    F.concat(F.col("k").cast("string"), F.lit("#"), F.col("token"))
                ),
                F.lit(4096),
            ).alias("pos"),
        )

    member = tok(table_scan(spark, sf_dir, "part"), "p_name")
    bits = positions(member).select("k", "pos").distinct()
    probe = tok(table_scan(spark, sf_dir, "documents"), "text")
    ppos = positions(probe)
    hits = (
        ppos.join(F.broadcast(bits), ["k", "pos"], "left_semi")
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("set_bits"))
    )
    all_probe = probe.join(
        hits.filter(F.col("set_bits") == 3).select("token").withColumn(
            "bloom_hit", F.lit(1)
        ),
        "token",
        "left",
    ).join(
        member.withColumn("exact_hit", F.lit(1)), "token", "left"
    )
    return all_probe.agg(
        F.count(F.lit(1)).alias("probes"),
        F.sum(F.coalesce(F.col("bloom_hit"), F.lit(0))).cast("long").alias(
            "bloom_hits"
        ),
        F.sum(F.coalesce(F.col("exact_hit"), F.lit(0))).cast("long").alias(
            "exact_hits"
        ),
        F.sum(
            F.when(
                F.col("bloom_hit").isNotNull() & F.col("exact_hit").isNull(), 1
            ).otherwise(0)
        )
        .cast("long")
        .alias("false_positives"),
    )


@register("doc_minhash_portable_sig", _minhash_portable_oracle(16))
def q_doc_minhash_portable_sig(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash signatures on the PORTABLE hash base, value-checked end to
    end: token md5-prefix hash → rolling 3-gram shingle hash → 16 seeded
    universal min-hashes, with the DuckDB oracle re-running the identical
    arithmetic (the universal-hash coefficients are interpolated from the
    same seeded generator into the SQL). doc_minhash_signature checks the
    head of the 64-hash signature the same way. Signature emitted as a
    '-'-joined string (the driver value-hash can't hash arrays)."""
    d = table_scan(spark, sf_dir, "documents")
    sig = minhash_signatures(d, num_hashes=16, shingle_n=3)
    return sig.select(
        F.col("id").alias("doc_id"),
        F.array_join(F.col("sig"), "-").alias("sig"),
    )


@register("doc_dedup_portable_pipeline", _dedup_portable_oracle(16, 4))
def q_doc_dedup_portable_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The END-TO-END dedup DECISION, value-checked bit-for-bit: portable
    MinHash signatures → banded LSH (4 bands × 4 rows, polynomial band
    hash — no Spark-internal hashing anywhere) → exact-integer Jaccard
    verify (inter·10 ≥ union·7, no float boundary) → connected components
    (min-label + pointer jumping) → keep-the-min-id list. The oracle
    replays every stage in SQL, closing the component step with a
    WITH RECURSIVE transitive closure — so the thing that actually deletes
    documents at 100 TB (the keep list) is what's checked, not just an
    intermediate. doc_dedup_keep_list runs the same hash base at 48/12
    with the string-shingle verify. Closure note: the oracle's
    recursive closure is O(cluster²) per component — exact-verify keeps
    clusters tiny; Spark's pointer-jumping loop is the form that scales."""
    from ..operators.components import connected_components
    from ..operators.fuzzy_dedup import minhash_lsh_candidates, shingle_hashes

    d = table_scan(spark, sf_dir, "documents")
    cand = minhash_lsh_candidates(d, 16, 4, 3)
    cand_ids = (
        cand.select(F.col("id_a").alias("id"))
        .unionByName(cand.select(F.col("id_b").alias("id")))
        .distinct()
    )
    # verify on the hashed shingle sets, recomputed only for candidate ids
    sub = d.join(
        F.broadcast(cand_ids), F.col("doc_id") == cand_ids["id"], "left_semi"
    ).select(F.col("doc_id").alias("id"), shingle_hashes("text", 3).alias("sh"))
    a = sub.select(F.col("id").alias("id_a"), F.col("sh").alias("__sa"))
    b = sub.select(F.col("id").alias("id_b"), F.col("sh").alias("__sb"))
    inter = F.size(F.array_intersect("__sa", "__sb"))
    union = F.size("__sa") + F.size("__sb") - inter
    pairs = (
        cand.join(a, "id_a")
        .join(b, "id_b")
        .filter(inter * 10 >= union * 7)
        .select("id_a", "id_b")
        .transform(cached)
    )
    verts = (
        pairs.select(F.col("id_a").alias("doc_id"))
        .unionByName(pairs.select(F.col("id_b").alias("doc_id")))
        .distinct()
    )
    comp = connected_components(
        verts,
        lambda: pairs,
        id_col="doc_id",
        src_col="id_a",
        dst_col="id_b",
        stage_key="portable_sym:v1:" + source_fingerprint(sf_dir, "documents"),
    )
    return comp.select(
        "doc_id",
        "component",
        (F.col("doc_id") == F.col("component")).alias("is_kept"),
    )


@register("doc_minhash_portable_lsh_pairs", _lsh_pairs_portable_oracle(16, 4))
def q_doc_minhash_portable_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The MinHash-LSH pair pipeline (operators/fuzzy_dedup.
    minhash_lsh_pairs — the function doc_dedup_minhash_lsh runs at 48/12)
    at the 16/4 geometry of doc_minhash_portable_sig, value-checked end to
    end: md5-prefix token hashes, polynomial band hash, banded candidate
    self-join and the string-shingle Jaccard verify at threshold 0.7."""
    d = table_scan(spark, sf_dir, "documents")
    return minhash_lsh_pairs(
        d, num_hashes=16, bands=4, shingle_n=3, threshold=0.7
    ).select("id_a", "id_b", "jaccard")


@register(
    "doc_udtf_sentence_split",
    r"""
    WITH t AS (
      SELECT doc_id, string_split(text, '.') AS parts
      FROM documents WHERE doc_id < 200
    ),
    s AS (
      SELECT doc_id, CAST(i AS INT) AS sent_idx,
             TRIM(parts[i + 1], ' ' || chr(9) || chr(10) || chr(13))
               AS sentence
      FROM t, UNNEST(range(len(parts))) AS u(i)
    )
    SELECT doc_id, sent_idx, sentence,
           CAST(len(string_split_regex(sentence, '\s+')) AS INT) AS n_words
    FROM s WHERE sentence <> ''
    """,
)
def q_doc_udtf_sentence_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document → sentence fan-out through a SPARK 4 PYTHON UDTF (table
    function) applied with LATERAL — the third modern Python-extension
    surface after the custom DataSource (python_datasource_scan) and
    transformWithStateInPandas: a UDTF yields a RELATION per input row,
    letting arbitrary Python expansion logic (here a sentence splitter
    with per-sentence stats) compose inside SQL instead of a driver loop.
    ``useArrow=True`` batches rows through Arrow (ArrowEvalPythonUDTF —
    whitelisted in the plan sweep; the row-at-a-time BatchEvalPythonUDTF
    variant is exactly what the sweep exists to keep out). Deterministic
    split semantics (literal '.', explicit strip charset) are replayed
    exactly by the SQL oracle; sent_idx preserves pre-filter positions so
    empty segments leave index gaps identically in both engines. Bounded
    to doc_id < 200; at scale the same plan maps over the full corpus —
    the UDTF runs executor-side, one Arrow batch per task."""
    from pyspark.sql.functions import udtf

    @udtf(returnType="sent_idx: int, sentence: string, n_words: int", useArrow=True)
    class SplitSentences:
        def eval(self, text):  # noqa: ANN001 - UDTF contract
            import re

            if text is None:
                return
            for i, raw in enumerate(re.split(r"\.", text)):
                p = raw.strip(" \t\n\r")
                if p:
                    yield (i, p, len(p.split()))

    spark.udtf.register("bdec_split_sentences", SplitSentences)
    d = table_scan(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    d.createOrReplaceTempView("bdec_udtf_docs")
    return spark.sql(
        """
        SELECT d.doc_id, s.sent_idx, s.sentence, s.n_words
        FROM bdec_udtf_docs d, LATERAL bdec_split_sentences(d.text) s
        """
    )


@register(
    "doc_prefix_filter_pairs",
    r"""
    WITH t AS (
      SELECT doc_id,
             UNNEST(list_distinct(string_split_regex(TRIM(text), '\s+')))
               AS token
      FROM documents WHERE doc_id < 150
    ),
    df AS (SELECT token, COUNT(*) AS df FROM t GROUP BY token),
    ranked AS (
      SELECT t.doc_id, t.token,
             ROW_NUMBER() OVER (PARTITION BY t.doc_id
                                ORDER BY df.df, t.token) AS rn,
             COUNT(*) OVER (PARTITION BY t.doc_id) AS sz
      FROM t JOIN df USING (token)
    ),
    pref AS (
      SELECT doc_id, token FROM ranked
      WHERE rn <= sz - ((3 * sz + 4) // 5) + 1
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM pref a JOIN pref b
        ON a.token = b.token AND a.doc_id < b.doc_id
    ),
    sz AS (SELECT doc_id, COUNT(*) AS n FROM t GROUP BY doc_id),
    inter AS (
      SELECT c.id_a, c.id_b, COUNT(*) AS icnt
      FROM cand c
      JOIN t ta ON ta.doc_id = c.id_a
      JOIN t tb ON tb.doc_id = c.id_b AND tb.token = ta.token
      GROUP BY c.id_a, c.id_b
    )
    SELECT i.id_a, i.id_b,
           CAST(i.icnt AS DOUBLE) / (za.n + zb.n - i.icnt) AS jaccard
    FROM inter i
    JOIN sz za ON za.doc_id = i.id_a
    JOIN sz zb ON zb.doc_id = i.id_b
    WHERE i.icnt * 5 >= (za.n + zb.n - i.icnt) * 3
    """,
)
def q_doc_prefix_filter_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Similarity join via PREFIX FILTERING (PPJoin-family) — the exact,
    hash-free alternative to MinHash-LSH for candidate generation: order
    each document's distinct tokens by global rarity (df, then token), keep
    only the first |X| - ceil(0.6·|X|) + 1 tokens as the PREFIX, and join
    prefixes on token. Guarantee: any pair with Jaccard ≥ 0.6 must share a
    prefix token under a common global order (pigeonhole on the overlap
    bound), so RECALL IS EXACTLY 1 — the output equals the exact-Jaccard
    join, and the whole operator is oracle-checkable (unlike probabilistic
    LSH). Scale shape: the candidate join touches only prefix tokens
    (rarest-first ordering makes prefixes low-df, so bucket fan-out is
    bounded by rare-token frequency — the inverted-index join never pivots
    on stopwords); verify re-joins full token sets only for candidates.
    The 0.6 threshold is exact integer cross-multiplication; ceil via
    integer arithmetic ((3·sz + 4) div 5) — no float anywhere before the
    final reported division. Bounded to doc_id < 150 as the exact
    primitive (this synthetic corpus is template-generated, so ≥0.6
    token-set similarity is ubiquitous — unbounded output is quadratic in
    corpus size by construction, not an algorithm property)."""
    d = table_scan(spark, sf_dir, "documents").filter(F.col("doc_id") < 150)
    t = d.select(
        "doc_id",
        F.explode(
            F.array_distinct(F.split(F.trim(F.col("text")), r"\s+"))
        ).alias("token"),
    ).transform(cached)
    dfreq = t.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
    wdoc = Window.partitionBy("doc_id").orderBy("df", "token")
    ranked = (
        t.join(dfreq, "token")
        .select(
            "doc_id",
            "token",
            F.row_number().over(wdoc).alias("rn"),
            F.count(F.lit(1)).over(Window.partitionBy("doc_id")).alias("sz"),
        )
    )
    pref = ranked.filter(
        F.col("rn") <= F.col("sz") - F.expr("(3 * sz + 4) div 5") + 1
    ).select("doc_id", "token")
    pa, pb = pref.alias("pa"), pref.alias("pb")
    cand = (
        pa.join(
            pb,
            (F.col("pa.token") == F.col("pb.token"))
            & (F.col("pa.doc_id") < F.col("pb.doc_id")),
        )
        .select(
            F.col("pa.doc_id").alias("id_a"), F.col("pb.doc_id").alias("id_b")
        )
        .distinct()
    )
    sz = t.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    ta = t.selectExpr("doc_id AS id_a", "token")
    tb = t.selectExpr("doc_id AS id_b", "token")
    inter = (
        cand.join(ta, "id_a")
        .join(tb, ["id_b", "token"])
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("icnt"))
    )
    za = sz.selectExpr("doc_id AS id_a", "n AS na")
    zb = sz.selectExpr("doc_id AS id_b", "n AS nb")
    return (
        inter.join(F.broadcast(za), "id_a")
        .join(F.broadcast(zb), "id_b")
        .filter(
            F.col("icnt") * 5 >= (F.col("na") + F.col("nb") - F.col("icnt")) * 3
        )
        .select(
            "id_a",
            "id_b",
            (
                F.col("icnt").cast("double")
                / (F.col("na") + F.col("nb") - F.col("icnt"))
            ).alias("jaccard"),
        )
    )


@register(
    "doc_token_stats_arrow",
    """
    SELECT doc_id,
           CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
           CAST(length(text) AS BIGINT) AS n_chars
    FROM documents
    """,
)
def q_doc_token_stats_arrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """mapInArrow — the zero-copy sibling of mapInPandas (RecordBatch in,
    RecordBatch out; no pandas materialization), completing the Python
    execution-surface matrix: pandas UDF, mapInPandas, applyInPandas,
    cogrouped applyInPandas, applyInPandasWithState /
    transformWithStateInPandas, Python UDTF, Python DataSource, and now
    raw Arrow. The kernel stays entirely in pyarrow.compute (vectorized C,
    never Python-per-row): split → list_value_length for token counts,
    utf8_length for characters — exact integers, so the relational oracle
    value-checks the Arrow path bitwise. This is the shape for
    tokenizer-adjacent passes where even pandas conversion overhead
    matters at 100 TB batch sizes."""
    import pyarrow as pa

    d = table_scan(spark, sf_dir, "documents").select("doc_id", "text")

    def stats(batches):
        import pyarrow.compute as pc

        for batch in batches:
            t = batch.column("text")
            yield pa.RecordBatch.from_arrays(
                [
                    batch.column("doc_id"),
                    pc.cast(pc.list_value_length(pc.split_pattern(t, " ")),
                            pa.int64()),
                    pc.cast(pc.utf8_length(t), pa.int64()),
                ],
                ["doc_id", "n_tokens", "n_chars"],
            )

    return d.mapInArrow(stats, schema="doc_id long, n_tokens long, n_chars long")


@register(
    "doc_idf_score_hotsalted",
    r"""
    WITH t AS (
      SELECT doc_id, UNNEST(string_split_regex(TRIM(text), '\s+')) AS tok
      FROM documents
    ),
    df AS (SELECT tok, COUNT(DISTINCT doc_id) AS df FROM t GROUP BY tok),
    nd AS (SELECT COUNT(*) AS n FROM documents)
    SELECT t.doc_id, CAST(COUNT(*) AS BIGINT) AS n_toks,
           CAST(SUM((SELECT n FROM nd) * 1000 // df.df) AS BIGINT)
             AS rarity_score
    FROM t JOIN df ON t.tok = df.tok
    GROUP BY t.doc_id
    """,
)
def q_doc_idf_score_hotsalted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverse-document-frequency scoring through a HOT-KEY-ONLY salted
    join (operators/joins.hot_key_salted_join) — the skew fix full salting
    overpays for: the token→stats join is Zipf-skewed (a few stopword-like
    tokens own most probe rows), so only tokens with ≥ 1/50 of the token
    mass are salted over 8 buckets while the long tail joins un-replicated.
    Build-side expansion is cold + hot×8 instead of all×8 (asserted in
    tests/test_round6_ops.py), and the result is identical to a plain
    join — which is exactly what the oracle checks. The per-doc score is
    an integer inverse-frequency sum (n_docs·1000 div df per token), so
    no float leaves the plan. At 100 TB the hot set comes from a sample
    or sketch; any superset of the truly-hot keys stays correct."""
    from ..operators.joins import hot_key_salted_join

    docs = table_scan(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.explode(F.split(F.trim(F.col("text")), r"\s+")).alias("tok")
    ).transform(cached)
    n_docs = docs.agg(F.count(F.lit(1)).alias("nd"))
    dfreq = (
        toks.groupBy("tok")
        .agg(F.count_distinct("doc_id").alias("df"))
        .crossJoin(F.broadcast(n_docs))
        .selectExpr("tok", "nd * 1000 div df AS w")
    )
    total = toks.agg(F.count(F.lit(1)).alias("n"))
    hot = (
        toks.groupBy("tok")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .crossJoin(F.broadcast(total))
        .filter(F.col("cnt") * 50 >= F.col("n"))
        .select("tok")
    )
    return (
        hot_key_salted_join(toks, dfreq, "tok", salt_buckets=8, hot_keys=hot)
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_toks"),
            F.sum("w").alias("rarity_score"),
        )
    )


def _lsh_eval_oracle(num_hashes: int = 16, bands: int = 4) -> str:
    """DuckDB twin of doc_lsh_candidate_eval: the portable LSH candidate
    stage (same geometry as _lsh_pairs_portable_oracle) PLUS the exact
    3-shingle Jaccard ground truth, reduced to candidate-set
    precision/recall counts."""
    from ..operators.fuzzy_dedup import _MH_B, _MH_P, _mh_coeffs

    vals = ", ".join(
        f"({i}, {a}, {b})" for i, (a, b) in enumerate(_mh_coeffs(num_hashes))
    )
    rpb = num_hashes // bands
    bh = "m0"
    for r in range(1, rpb):
        bh = f"({bh} * {_MH_B} + m{r}) % {_MH_P}"
    mcols = ", ".join(
        f"MAX(CASE WHEN i % {rpb} = {r} THEN m END) AS m{r}" for r in range(rpb)
    )
    return rf"""
    WITH t AS (
      SELECT doc_id, string_split_regex(TRIM(text), '\s+') AS toks,
             list_transform(string_split_regex(TRIM(text), '\s+'),
                            tok -> CAST(concat('0x', substr(md5(tok), 1, 15))
                                        AS BIGINT) % {_MH_P}) AS th
      FROM documents WHERE doc_id < 400
    ),
    sh AS (
      SELECT DISTINCT doc_id,
             ((th[i + 1] * {_MH_B} + th[i + 2]) % {_MH_P} * {_MH_B}
              + th[i + 3]) % {_MH_P} AS s
      FROM t, UNNEST(range(GREATEST(len(th) - 2, 0))) AS u(i)
    ),
    strsh AS (
      SELECT DISTINCT doc_id,
             toks[i + 1] || ' ' || toks[i + 2] || ' ' || toks[i + 3] AS g
      FROM t, UNNEST(range(GREATEST(len(toks) - 2, 0))) AS u(i)
    ),
    ssz AS (SELECT doc_id, COUNT(*) AS n FROM strsh GROUP BY doc_id),
    c(i, a, b) AS (VALUES {vals}),
    sig AS (
      SELECT doc_id, c.i, MIN((sh.s * c.a + c.b) % {_MH_P}) AS m
      FROM sh CROSS JOIN c GROUP BY doc_id, c.i
    ),
    bandm AS (
      SELECT doc_id, i // {rpb} AS b, {mcols}
      FROM sig GROUP BY doc_id, i // {rpb}
    ),
    band AS (SELECT doc_id, b, {bh} AS bh FROM bandm),
    cand AS (
      SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b
      FROM band x JOIN band y
        ON x.b = y.b AND x.bh = y.bh AND x.doc_id < y.doc_id
    ),
    inter AS (
      SELECT sa.doc_id AS id_a, sb.doc_id AS id_b, COUNT(*) AS icnt
      FROM strsh sa JOIN strsh sb ON sb.g = sa.g AND sa.doc_id < sb.doc_id
      GROUP BY sa.doc_id, sb.doc_id
    ),
    truth AS (
      SELECT i.id_a, i.id_b
      FROM inter i
      JOIN ssz za ON za.doc_id = i.id_a
      JOIN ssz zb ON zb.doc_id = i.id_b
      WHERE CAST(i.icnt AS DOUBLE) / (za.n + zb.n - i.icnt) >= 0.7
    ),
    counts AS (
      SELECT (SELECT COUNT(*) FROM cand) AS n_cand,
             (SELECT COUNT(*) FROM truth) AS n_truth,
             (SELECT COUNT(*) FROM cand c2
              JOIN truth t2 ON c2.id_a = t2.id_a AND c2.id_b = t2.id_b)
               AS n_hit
    )
    SELECT CAST(n_cand AS BIGINT) AS n_candidates,
           CAST(n_truth AS BIGINT) AS n_truth_pairs,
           CAST(n_hit AS BIGINT) AS n_hits,
           CAST(CASE WHEN n_cand = 0 THEN NULL
                     ELSE n_hit * 1000 // n_cand END AS BIGINT)
             AS precision_permille,
           CAST(CASE WHEN n_truth = 0 THEN NULL
                     ELSE n_hit * 1000 // n_truth END AS BIGINT)
             AS recall_permille
    FROM counts
    """


@register("doc_lsh_candidate_eval", _lsh_eval_oracle(16, 4))
def q_doc_lsh_candidate_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Candidate-set QUALITY evaluation of MinHash-LSH — the measurement
    every production dedup pipeline needs before trusting its banded
    geometry: candidate precision (how much verify work is wasted) and
    candidate recall (what the (1−tʳ)ᵇ curve actually delivered) against
    the EXACT 3-shingle Jaccard ≥ 0.7 ground truth, on a fixed 400-doc
    probe slice so the O(n²) truth stays bounded at any SF. Uses the
    production candidate stage (operators/fuzzy_dedup.minhash_lsh_candidates,
    16/4 geometry) and the O(n²) exact join as ground
    truth; the comparison is a full-outer pair join reduced to five
    integers — all BIGINT, bitwise cross-engine. The counts themselves are
    data-dependent, which is exactly the point: the oracle recomputes both
    sides independently."""
    from ..operators.fuzzy_dedup import minhash_lsh_candidates, ngram_jaccard_pairs

    sub = table_scan(spark, sf_dir, "documents").filter(F.col("doc_id") < 400)
    cand = minhash_lsh_candidates(
        sub, num_hashes=16, bands=4, shingle_n=3
    ).withColumn("c", F.lit(1))
    truth = (
        ngram_jaccard_pairs(sub, shingle_n=3, threshold=0.7)
        .select("id_a", "id_b")
        .withColumn("t", F.lit(1))
    )
    j = cand.join(truth, ["id_a", "id_b"], "full_outer")
    agg = j.agg(
        F.coalesce(F.sum("c"), F.lit(0)).alias("n_cand"),
        F.coalesce(F.sum("t"), F.lit(0)).alias("n_truth"),
        F.coalesce(
            F.sum(F.coalesce(F.col("c"), F.lit(0)) * F.coalesce(F.col("t"), F.lit(0))),
            F.lit(0),
        ).alias("n_hit"),
    )
    return agg.selectExpr(
        "n_cand AS n_candidates",
        "n_truth AS n_truth_pairs",
        "n_hit AS n_hits",
        "CAST(CASE WHEN n_cand = 0 THEN NULL"
        "          ELSE n_hit * 1000 div n_cand END AS BIGINT)"
        " AS precision_permille",
        "CAST(CASE WHEN n_truth = 0 THEN NULL"
        "          ELSE n_hit * 1000 div n_truth END AS BIGINT)"
        " AS recall_permille",
    )


@register(
    "doc_readability_flesch",
    """
    WITH s AS (
      SELECT doc_id,
             CASE WHEN TRIM(text) = '' THEN 0
                  ELSE len(string_split_regex(TRIM(text), '\\s+')) END AS words,
             length(regexp_replace(regexp_replace(text, '[.!?]+', '#', 'g'),
                                   '[^#]', '', 'g')) AS sentences,
             length(regexp_replace(regexp_replace(lower(text), '[aeiouy]+',
                                                  '#', 'g'),
                                   '[^#]', '', 'g')) AS syllables
      FROM documents
    )
    SELECT doc_id, CAST(words AS BIGINT) AS words,
           CAST(GREATEST(sentences, 1) AS BIGINT) AS sentences,
           CAST(syllables AS BIGINT) AS syllables,
           CASE WHEN words = 0 THEN NULL
                ELSE 206.835
                     - 1.015 * (CAST(words AS DOUBLE)
                                / GREATEST(sentences, 1))
                     - 84.6 * (CAST(syllables AS DOUBLE) / words) END
             AS flesch
    FROM s
    """,
)
def q_doc_readability_flesch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flesch reading-ease score — the classic readability quality signal
    (CCNet/Gopher-class corpus filters gate on it): 206.835 − 1.015·
    (words/sentences) − 84.6·(syllables/words), with sentences counted as
    [.!?]+ runs and syllables approximated by vowel-group runs (the
    standard heuristic). Pure per-row JVM regex + one fixed double
    expression — no UDF, no aggregation, embarrassingly parallel at any
    scale; zero-word docs emit NULL and zero-sentence docs clamp to 1
    (both engines replay the same guards)."""
    d = table_scan(spark, sf_dir, "documents")
    words = F.when(F.trim(F.col("text")) == "", F.lit(0)).otherwise(
        F.size(F.split(F.trim(F.col("text")), r"\s+"))
    )
    sentences = F.length(
        F.regexp_replace(
            F.regexp_replace(F.col("text"), r"[.!?]+", "#"), r"[^#]", ""
        )
    )
    syllables = F.length(
        F.regexp_replace(
            F.regexp_replace(F.lower(F.col("text")), r"[aeiouy]+", "#"),
            r"[^#]",
            "",
        )
    )
    s = d.select(
        "doc_id",
        words.cast("long").alias("words"),
        F.greatest(sentences, F.lit(1)).cast("long").alias("sentences"),
        syllables.cast("long").alias("syllables"),
    )
    flesch = F.when(F.col("words") == 0, F.lit(None).cast("double")).otherwise(
        F.lit(206.835)
        - F.lit(1.015)
        * (F.col("words").cast("double") / F.col("sentences"))
        - F.lit(84.6) * (F.col("syllables").cast("double") / F.col("words"))
    )
    return s.select("doc_id", "words", "sentences", "syllables", flesch.alias("flesch"))


@register(
    "doc_bm25_topk",
    r"""
    WITH toks AS (
      SELECT doc_id, UNNEST(string_split_regex(TRIM(text), '\s+')) AS token
      FROM documents
    ),
    dl AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS dl
           FROM toks GROUP BY doc_id),
    corpus AS (SELECT CAST(SUM(dl) AS BIGINT) AS s,
                      CAST(COUNT(*) AS BIGINT) AS n FROM dl),
    tf AS (
      SELECT doc_id, token, CAST(COUNT(*) AS BIGINT) AS tf
      FROM toks WHERE token IN ('spark', 'join', 'window')
      GROUP BY doc_id, token
    ),
    df AS (SELECT token, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY token),
    term AS (
      SELECT tf.doc_id, tf.token,
             CAST((CAST(22 AS HUGEINT) * tf.tf * c.s * (2 * c.n - 2 * df.df + 1)
                   * 1000000)
                  // (CAST(10 AS HUGEINT) * tf.tf * c.s + 3 * c.s
                      + 9 * dl.dl * c.n)
                  // (2 * df.df + 1) AS BIGINT) AS term_score_micro
      FROM tf
      JOIN df USING (token)
      JOIN dl ON dl.doc_id = tf.doc_id
      CROSS JOIN corpus c
    ),
    scored AS (
      SELECT doc_id, CAST(SUM(term_score_micro) AS BIGINT) AS bm25_micro,
             CAST(COUNT(*) AS BIGINT) AS n_terms_hit
      FROM term GROUP BY doc_id
    )
    SELECT doc_id, bm25_micro, n_terms_hit
    FROM scored ORDER BY bm25_micro DESC, doc_id LIMIT 20
    """,
)
def q_doc_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 ranking (Robertson/Sparck Jones) for a fixed 3-term query,
    top-20 — the lexical-retrieval scorer, made EXACT and log-free so both
    engines agree bitwise: with k1=6/5 and b=3/4 the tf saturation term
    tf·(k1+1)/(tf + k1(1−b+b·dl/avgdl)) reduces to the integer fraction
    22·tf·S / (10·tf·S + 3S + 9·dl·N) (S = corpus tokens, N = docs,
    avgdl = S/N), and the idf uses the rational Robertson core
    (2N−2df+1)/(2df+1) instead of its log — log differs in the last ulp
    across libm implementations (the doc_bigram_rarity lesson), a rational
    score doesn't. Per-term scores floor to micro units in
    HUGEINT/DECIMAL(38), then sum — identical floor-then-sum on both
    engines. Shape: the token scan prunes to the query terms BEFORE any
    shuffle (predicate on the exploded stream), doc lengths fold
    map-side, df is a 3-row broadcast, corpus totals a 1-row broadcast;
    top-20 is a distributed TakeOrdered."""
    d = table_scan(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", F.explode(F.split(F.trim(F.col("text")), r"\s+")).alias("token")
    )
    dl = toks.groupBy("doc_id").agg(F.count(F.lit(1)).alias("dl"))
    corpus = dl.agg(
        F.sum("dl").alias("s"), F.count(F.lit(1)).alias("n")
    )
    tf = (
        toks.filter(F.col("token").isin("spark", "join", "window"))
        .groupBy("doc_id", "token")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    df_t = tf.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
    term = (
        tf.join(F.broadcast(df_t), "token")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(corpus))
        .selectExpr(
            "doc_id",
            "CAST((CAST(22 AS DECIMAL(38,0)) * tf * s * (2 * n - 2 * df + 1)"
            "      * 1000000)"
            "     div (CAST(10 AS DECIMAL(38,0)) * tf * s + 3 * s + 9 * dl * n)"
            "     div (2 * df + 1) AS BIGINT) AS term_score_micro",
        )
    )
    scored = term.groupBy("doc_id").agg(
        F.sum("term_score_micro").alias("bm25_micro"),
        F.count(F.lit(1)).alias("n_terms_hit"),
    )
    return scored.orderBy(F.desc("bm25_micro"), "doc_id").limit(20)


_RAKE_STOP = "('a', 'the', 'and', 'of', 'to', 'is', 'in')"


@register(
    "doc_rake_keywords",
    f"""
    WITH tok AS (
      SELECT doc_id, t.w AS w, CAST(t.i AS BIGINT) AS pos
      FROM documents,
           LATERAL (SELECT UNNEST(string_split(text, ' ')) AS w,
                           UNNEST(range(len(string_split(text, ' ')))) AS i)
             AS t
      WHERE t.w <> ''
    ),
    nonstop AS (
      SELECT doc_id, w, pos,
             pos - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY pos)
               AS island
      FROM tok WHERE w NOT IN {_RAKE_STOP}
    ),
    phr AS (
      SELECT doc_id, island,
             string_agg(w, ' ' ORDER BY pos) AS phrase,
             CAST(COUNT(*) AS BIGINT) AS plen
      FROM nonstop GROUP BY doc_id, island
    ),
    ws AS (
      SELECT w, CAST(COUNT(*) AS BIGINT) AS freq,
             CAST(SUM(plen) AS BIGINT) AS deg
      FROM nonstop n JOIN phr USING (doc_id, island)
      GROUP BY w
    ),
    pw AS (
      SELECT p.phrase, u.w
      FROM (SELECT DISTINCT phrase FROM phr) p,
           LATERAL (SELECT UNNEST(string_split(p.phrase, ' ')) AS w) u
    ),
    ps AS (
      SELECT pw.phrase,
             CAST(SUM((ws.deg * 1000000) // ws.freq) AS BIGINT) AS score_ppm
      FROM pw JOIN ws ON ws.w = pw.w
      GROUP BY pw.phrase
    ),
    occ AS (SELECT phrase, CAST(COUNT(*) AS BIGINT) AS n_occurrences
            FROM phr GROUP BY phrase)
    SELECT ps.phrase, occ.n_occurrences, ps.score_ppm
    FROM ps JOIN occ USING (phrase)
    ORDER BY ps.score_ppm DESC, ps.phrase LIMIT 20
    """,
)
def q_doc_rake_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAKE keyword extraction (Rose et al. 2010) — unsupervised keyphrase
    mining, the classic corpus-labeling pass: candidate phrases are maximal
    stopword-free token runs (found with the gaps-and-islands identity
    pos − row_number, a per-doc window — no UDF, no regex backtracking),
    word degree/frequency aggregate corpus-wide, and a phrase scores as
    the sum of its words' deg/freq ratios — held exact as floored ppm
    integers (identical floor-then-sum on both engines). Shape: one
    explode + per-doc island window, one (doc, island) phrase roll-up, one
    corpus-wide word-stats shuffle, one phrase⋈word-score join — all
    partial-agg friendly; top-20 is a distributed TakeOrdered with
    total-order tiebreak."""
    stop = ["a", "the", "and", "of", "to", "is", "in"]
    d = table_scan(spark, sf_dir, "documents")
    tok = (
        d.select("doc_id", F.posexplode(F.split("text", " ")).alias("pos", "w"))
        .filter(F.col("w") != "")
        .select("doc_id", "w", F.col("pos").cast("long").alias("pos"))
    )
    wnd = Window.partitionBy("doc_id").orderBy("pos")
    nonstop = tok.filter(~F.col("w").isin(stop)).withColumn(
        "island", F.col("pos") - F.row_number().over(wnd)
    )
    phr = nonstop.groupBy("doc_id", "island").agg(
        F.expr(
            "array_join(transform(sort_array(collect_list(struct(pos, w))),"
            " x -> x.w), ' ')"
        ).alias("phrase"),
        F.count(F.lit(1)).alias("plen"),
    )
    ws = (
        nonstop.join(phr, ["doc_id", "island"])
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("freq"), F.sum("plen").alias("deg"))
    )
    pw = (
        phr.select("phrase")
        .distinct()
        .select("phrase", F.explode(F.split("phrase", " ")).alias("w"))
    )
    ps = (
        pw.join(ws, "w")
        .groupBy("phrase")
        .agg(F.expr("SUM((deg * 1000000) div freq)").alias("score_ppm"))
    )
    occ = phr.groupBy("phrase").agg(F.count(F.lit(1)).alias("n_occurrences"))
    return (
        ps.join(occ, "phrase")
        .select("phrase", "n_occurrences", "score_ppm")
        .orderBy(F.desc("score_ppm"), "phrase")
        .limit(20)
    )


def _winnow_oracle() -> str:
    from ..operators.fuzzy_dedup import _MH_B, _MH_P

    return rf"""
    WITH t AS (
      SELECT doc_id,
             list_transform(string_split_regex(TRIM(text), '\s+'),
                            tok -> CAST(concat('0x', substr(md5(tok), 1, 15))
                                        AS BIGINT) % {_MH_P}) AS th
      FROM documents
    ),
    kg AS (
      SELECT doc_id, CAST(i AS BIGINT) AS pos,
             ((th[i + 1] * {_MH_B} + th[i + 2]) % {_MH_P} * {_MH_B}
              + th[i + 3]) % {_MH_P} AS h
      FROM t, UNNEST(range(GREATEST(len(th) - 2, 0))) AS u(i)
    ),
    nkg AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS nk FROM kg
            GROUP BY doc_id),
    winall AS (
      SELECT doc_id, pos,
             MIN(h) OVER (PARTITION BY doc_id ORDER BY pos
               ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS fp
      FROM kg
    ),
    win AS (
      SELECT w.doc_id, w.fp
      FROM winall w JOIN nkg ON nkg.doc_id = w.doc_id
      WHERE w.pos <= nkg.nk - 4
    ),
    fps AS (SELECT DISTINCT doc_id, fp FROM win),
    pairs AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             CAST(COUNT(*) AS BIGINT) AS shared_fps
      FROM fps a JOIN fps b ON b.fp = a.fp AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
    )
    SELECT id_a, id_b, shared_fps
    FROM pairs WHERE shared_fps >= 3
    ORDER BY shared_fps DESC, id_a, id_b LIMIT 50
    """


@register("doc_winnowing_fingerprints", _winnow_oracle())
def q_doc_winnowing_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing document fingerprints (Schleimer, Wilkerson & Aiken 2003
    — the MOSS plagiarism-detection algorithm): from each window of w=4
    consecutive 3-gram hashes, keep the MINIMUM hash — the provably
    position-robust selection (any shared substring of ≥ w+k−1 tokens
    guarantees a shared fingerprint), storing ~2/(w+1) of the k-gram
    hashes. Pairs then join on the skinny (doc, fingerprint) table and
    rank by shared-fingerprint count. All stages are the established
    portable-hash primitives: polynomial 3-gram rolls, a per-doc
    ROWS-framed window min, a distinct, and a bucket self-join — never
    payloads, never all-pairs. Complements MinHash (set resemblance) with
    the SUBSTRING-overlap detector."""
    from ..operators.fuzzy_dedup import shingle_hash_sequence

    d = table_scan(spark, sf_dir, "documents")
    kg = d.select(
        "doc_id",
        F.posexplode(
            shingle_hash_sequence("text", 3)
        ).alias("pos", "h"),
    )
    nkg = kg.groupBy("doc_id").agg(F.count(F.lit(1)).alias("nk"))
    wwin = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(Window.currentRow, 3)
    )
    win = (
        kg.join(nkg, "doc_id")
        .withColumn("fp", F.min("h").over(wwin))
        .filter(F.col("pos") <= F.col("nk") - 4)
    )
    fps = win.select("doc_id", "fp").distinct()
    a, b = fps.alias("a"), fps.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("b.fp") == F.col("a.fp"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b")
        )
        .agg(F.count(F.lit(1)).alias("shared_fps"))
        .filter(F.col("shared_fps") >= 3)
    )
    return pairs.orderBy(F.desc("shared_fps"), "id_a", "id_b").limit(50)


@register(
    "doc_length_log2_histogram",
    """
    WITH n AS (
      SELECT CASE WHEN TRIM(text) = '' THEN 0
             ELSE len(string_split_regex(TRIM(text), '\\s+')) END AS n_tokens
      FROM documents
    )
    SELECT CAST(CASE WHEN n_tokens = 0 THEN -1
                ELSE length(bin(n_tokens)) - 1 END AS INT) AS log2_bucket,
           CAST(MIN(n_tokens) AS BIGINT) AS min_tokens,
           CAST(MAX(n_tokens) AS BIGINT) AS max_tokens,
           CAST(COUNT(*) AS BIGINT) AS n_docs
    FROM n GROUP BY 1
    """,
)
def q_doc_length_log2_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Power-of-two document-length histogram — the corpus length
    distribution every tokenizer/packing decision starts from, with
    ⌊log₂ n⌋ computed EXACTLY as length(bin(n))−1 (the binary-string
    length — a pure integer identity both engines share, where a float
    LOG2 could round 2ᵏ−ε either way at the bucket edges). Empty docs get
    bucket −1. One map + one ≤64-key partial agg: the histogram shape
    that scales to any corpus."""
    d = table_scan(spark, sf_dir, "documents")
    n = d.select(
        F.when(F.trim(F.col("text")) == "", 0)
        .otherwise(F.size(F.split(F.trim(F.col("text")), r"\s+")))
        .alias("n_tokens")
    )
    return (
        n.selectExpr(
            "n_tokens",
            "CAST(CASE WHEN n_tokens = 0 THEN -1"
            " ELSE length(bin(n_tokens)) - 1 END AS INT) AS log2_bucket",
        )
        .groupBy("log2_bucket")
        .agg(
            F.min("n_tokens").alias("min_tokens"),
            F.max("n_tokens").alias("max_tokens"),
            F.count(F.lit(1)).alias("n_docs"),
        )
        .select("log2_bucket", "min_tokens", "max_tokens", "n_docs")
    )


@register(
    "doc_span_corruption_plan",
    """
    WITH tok AS (
      SELECT doc_id, t.i AS pos
      FROM documents,
           LATERAL (SELECT UNNEST(range(len(string_split_regex(TRIM(text),
                                                               '\\s+')))) AS i)
             AS t
      WHERE TRIM(text) <> ''
    ),
    masked AS (
      SELECT doc_id, pos
      FROM tok
      WHERE CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR) || ':'
                   || CAST(pos AS VARCHAR)), 1, 15)) AS BIGINT) % 100 < 15
    ),
    isl AS (
      SELECT doc_id, pos,
             pos - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY pos)
               AS island
      FROM masked
    ),
    spans AS (
      SELECT doc_id, CAST(MIN(pos) AS BIGINT) AS span_start,
             CAST(COUNT(*) AS BIGINT) AS span_len
      FROM isl GROUP BY doc_id, island
    )
    SELECT doc_id, span_start, span_len,
           CAST(ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY span_start)
                - 1 AS INT) AS sentinel_id
    FROM spans
    """,
)
def q_doc_span_corruption_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T5-style span-corruption plan (Raffel et al. 2020) — the noising
    schedule for denoising-objective pretraining, computed as DATA rather
    than inside the training loop: each token position masks with
    probability 15 % by PORTABLE hash of (doc, position) — so any engine,
    any rerun, any shard regenerates the identical corruption — and
    consecutive masked positions merge into spans via the gaps-and-islands
    identity, numbered per doc as sentinel ids (<extra_id_k>). Shape: one
    positional explode, one hash filter (6.7× data reduction before any
    shuffle), per-doc island + sentinel windows. Mean span length and
    corruption rate are then auditable downstream as plain aggregates."""
    from ..functions.hashing import portable_hash64

    d = table_scan(spark, sf_dir, "documents").filter(
        F.trim(F.col("text")) != ""
    )
    tok = d.select(
        "doc_id",
        F.posexplode(F.split(F.trim(F.col("text")), r"\s+")).alias("pos", "w"),
    ).select("doc_id", F.col("pos").cast("long").alias("pos"))
    key = F.concat(
        F.col("doc_id").cast("string"), F.lit(":"), F.col("pos").cast("string")
    )
    masked = tok.filter(F.pmod(portable_hash64(key), F.lit(100)) < 15)
    wi = Window.partitionBy("doc_id").orderBy("pos")
    isl = masked.withColumn(
        "island", F.col("pos") - F.row_number().over(wi)
    )
    spans = isl.groupBy("doc_id", "island").agg(
        F.min("pos").alias("span_start"), F.count(F.lit(1)).alias("span_len")
    )
    ws = Window.partitionBy("doc_id").orderBy("span_start")
    return spans.select(
        "doc_id",
        "span_start",
        "span_len",
        (F.row_number().over(ws) - 1).cast("int").alias("sentinel_id"),
    )


@register(
    "doc_tokenizer_fertility",
    r"""
    WITH m AS (
      SELECT lang,
             CAST(SUM(CASE WHEN TRIM(text) = '' THEN 0
                  ELSE len(string_split_regex(TRIM(text), '\s+')) END)
                  AS BIGINT) AS words,
             CAST(SUM(len(regexp_extract_all(text, '\w+|[^\w\s]')))
                  AS BIGINT) AS subtokens
      FROM documents GROUP BY lang
    )
    SELECT lang, words, subtokens,
           CAST(CASE WHEN words = 0 THEN NULL
                ELSE subtokens * 1000000 // words END AS BIGINT)
             AS fertility_ppm
    FROM m
    """,
)
def q_doc_tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer fertility per language — subtokens-per-word, THE metric
    for how well a tokenization serves each language (fertility ≫ 1 means
    a language pays more sequence length per word — the classic
    multilingual-tokenizer equity check): whitespace words vs the BPE-ish
    pre-tokenization (`\\w+|[^\\w\\s]`) counted in the same pass, ratio in
    exact floored ppm. Two JVM regex counters + one tiny group-by —
    O(corpus) map, O(languages) everything else."""
    d = table_scan(spark, sf_dir, "documents")
    m = d.groupBy("lang").agg(
        F.sum(
            F.when(F.trim(F.col("text")) == "", 0).otherwise(
                F.size(F.split(F.trim(F.col("text")), r"\s+"))
            )
        ).alias("words"),
        F.sum(
            F.size(F.regexp_extract_all("text", F.lit(r"\w+|[^\w\s]"), 0))
        ).alias("subtokens"),
    )
    return m.selectExpr(
        "lang",
        "words",
        "subtokens",
        "CAST(CASE WHEN words = 0 THEN NULL"
        "     ELSE (subtokens * 1000000) div words END AS BIGINT)"
        " AS fertility_ppm",
    )


@register(
    "doc_jaccard_threshold_sweep",
    r"""
    WITH s AS (
      SELECT doc_id, list_distinct(string_split_regex(TRIM(text), '\s+')) AS sh
      FROM documents WHERE doc_id < 300
    ),
    p AS (
      SELECT CAST(len(list_intersect(a.sh, b.sh)) AS BIGINT) AS icnt,
             CAST(len(list_distinct(list_concat(a.sh, b.sh))) AS BIGINT)
               AS ucnt
      FROM s a JOIN s b ON a.doc_id < b.doc_id
    ),
    b AS (
      SELECT CAST(CASE WHEN ucnt = 0 THEN 0
                  ELSE (icnt * 10) // ucnt END AS INT) AS bucket
      FROM p
    )
    SELECT bucket AS jaccard_decile, CAST(COUNT(*) AS BIGINT) AS n_pairs,
           CAST(SUM(COUNT(*)) OVER (ORDER BY bucket DESC
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
             AS n_pairs_at_or_above
    FROM b GROUP BY bucket
    """,
)
def q_doc_jaccard_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup-threshold operating curve — before picking jaccard ≥ 0.7 as
    'duplicate', measure WHAT EACH THRESHOLD WOULD DO: exact token-set
    Jaccard for all pairs of a fixed 300-doc probe slice, bucketed to
    deciles (exact integer floor — no float binning), with the
    descending-cumulative count = pairs a threshold at that decile would
    flag. The decision-support twin of doc_lsh_candidate_eval (that
    evaluates the INDEX at one threshold; this evaluates the THRESHOLD).
    The O(n²) pass is probe-bounded at any SF; the cumulative window runs
    over ≤11 decile rows."""
    from ..operators.fuzzy_dedup import jaccard, word_shingles

    sub = (
        table_scan(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 300)
        .select("doc_id", word_shingles("text", 1).alias("sh"))
    )
    a, b = sub.alias("a"), sub.alias("b")
    p = a.join(b, F.col("a.doc_id") < F.col("b.doc_id")).select(
        F.size(F.array_intersect(F.col("a.sh"), F.col("b.sh")))
        .cast("long")
        .alias("icnt"),
        F.size(F.array_union(F.col("a.sh"), F.col("b.sh")))
        .cast("long")
        .alias("ucnt"),
    )
    bb = p.selectExpr(
        "CAST(CASE WHEN ucnt = 0 THEN 0"
        " ELSE (icnt * 10) div ucnt END AS INT) AS bucket"
    )
    g = bb.groupBy("bucket").agg(F.count(F.lit(1)).alias("n_pairs"))
    w = (
        Window.orderBy(F.desc("bucket"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return g.select(
        F.col("bucket").alias("jaccard_decile"),
        "n_pairs",
        F.sum("n_pairs").over(w).alias("n_pairs_at_or_above"),
    )


@register(
    "doc_filter_ablation_grid",
    r"""
    WITH f AS (
      SELECT
        (CASE WHEN TRIM(text) = '' THEN 0
              ELSE len(string_split_regex(TRIM(text), '\s+')) END) >= 5
          AS len_ok,
        (CASE WHEN length(text) = 0 THEN 0.0
              ELSE CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g'))
                        AS DOUBLE) / length(text) END) >= 0.6 AS alpha_ok,
        ((CASE WHEN regexp_matches(text, '(^|\s)the(\s|$)') THEN 1 ELSE 0 END)
       + (CASE WHEN regexp_matches(text, '(^|\s)and(\s|$)') THEN 1 ELSE 0 END)
       + (CASE WHEN regexp_matches(text, '(^|\s)of(\s|$)') THEN 1 ELSE 0 END))
          >= 1 AS stop_ok
      FROM documents
    )
    SELECT len_ok, alpha_ok, stop_ok,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           (len_ok AND alpha_ok AND stop_ok) AS survives_all
    FROM f GROUP BY len_ok, alpha_ok, stop_ok
    """,
)
def q_doc_filter_ablation_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-filter ablation grid — the table every data-curation paper
    publishes: document counts for every COMBINATION of the three quality
    gates (length ≥ 5 tokens, alphabetic ratio ≥ 0.6, ≥ 1 common
    stopword), so the marginal cost of each gate and their overlap is
    read straight off the 8 rows (gate A alone = sum of rows with
    len_ok, etc.). One pass computing three boolean flags JVM-side, one
    8-key partial agg — the ablation that usually takes 2ᵏ pipeline
    reruns, as one query."""
    d = table_scan(spark, sf_dir, "documents")
    n_tokens = F.when(F.trim(F.col("text")) == "", 0).otherwise(
        F.size(F.split(F.trim(F.col("text")), r"\s+"))
    )
    alpha = F.when(F.length("text") == 0, F.lit(0.0)).otherwise(
        F.length(F.regexp_replace("text", "[^A-Za-z]", "")).cast("double")
        / F.length("text")
    )
    stop_hits = sum(
        F.when(
            F.col("text").rlike(rf"(^|\s){w}(\s|$)"), 1
        ).otherwise(0)
        for w in ("the", "and", "of")
    )
    f = d.select(
        (n_tokens >= 5).alias("len_ok"),
        (alpha >= 0.6).alias("alpha_ok"),
        (stop_hits >= 1).alias("stop_ok"),
    )
    return (
        f.groupBy("len_ok", "alpha_ok", "stop_ok")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .withColumn(
            "survives_all",
            F.col("len_ok") & F.col("alpha_ok") & F.col("stop_ok"),
        )
    )


@register(
    "doc_dup_rate_by_source",
    """
    WITH h AS (
      SELECT doc_id, source, md5(text) AS fp FROM documents
    ),
    g AS (SELECT fp, CAST(COUNT(*) AS BIGINT) AS n FROM h GROUP BY fp),
    flagged AS (
      SELECT h.source, CASE WHEN g.n > 1 THEN 1 ELSE 0 END AS is_dup
      FROM h JOIN g ON g.fp = h.fp
    )
    SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(is_dup) AS BIGINT) AS n_dup_docs,
           CAST(CAST(SUM(is_dup) AS BIGINT) * 1000 // COUNT(*) AS BIGINT)
             AS dup_rate_permille
    FROM flagged GROUP BY source
    """,
)
def q_doc_dup_rate_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-contamination rate per source — WHICH feed is polluting
    the corpus? Every doc whose exact md5 fingerprint appears more than
    once (corpus-wide, so cross-source copies count against BOTH sources)
    flags as duplicated; per-source rate in floored per-mille. The
    curation dashboard number that decides which crawler to fix: one
    fingerprint pass, one group count, one fingerprint-keyed join back —
    all partial-agg shapes."""
    d = table_scan(spark, sf_dir, "documents").select(
        "doc_id", "source", F.md5(F.col("text")).alias("fp")
    )
    g = d.groupBy("fp").agg(F.count(F.lit(1)).alias("n"))
    flagged = d.join(g, "fp").select(
        "source", F.when(F.col("n") > 1, 1).otherwise(0).alias("is_dup")
    )
    return flagged.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("is_dup").alias("n_dup_docs"),
    ).selectExpr(
        "source",
        "n_docs",
        "n_dup_docs",
        "(n_dup_docs * 1000) div n_docs AS dup_rate_permille",
    )


def _textrank_oracle(rounds: int = 3) -> str:
    head = """
    WITH d AS (SELECT string_split(text, ' ') AS w FROM documents),
    tok AS (SELECT t FROM (SELECT UNNEST(w) AS t FROM d) WHERE t <> ''),
    vocab AS (SELECT t, CAST(COUNT(*) AS BIGINT) AS f FROM tok GROUP BY t
              HAVING COUNT(*) >= 5),
    p AS (
      SELECT w[i] AS a, w[i + 1] AS b
      FROM d, UNNEST(range(1, len(w))) AS u(i)
      WHERE w[i] <> '' AND w[i + 1] <> '' AND w[i] <> w[i + 1]
    ),
    e0 AS (
      SELECT LEAST(a, b) AS u, GREATEST(a, b) AS v,
             CAST(COUNT(*) AS BIGINT) AS wt
      FROM p GROUP BY LEAST(a, b), GREATEST(a, b)
    ),
    e AS (
      SELECT e0.u, e0.v FROM e0
      JOIN vocab va ON va.t = e0.u JOIN vocab vb ON vb.t = e0.v
      WHERE e0.wt >= 2
    ),
    sym AS (SELECT u AS a, v AS b FROM e UNION ALL SELECT v, u FROM e),
    deg AS (SELECT a AS t, CAST(COUNT(*) AS BIGINT) AS d FROM sym GROUP BY a),
    nodes AS (SELECT t, d FROM deg),
    pr0 AS (SELECT t, d, CAST(1000000 AS BIGINT) AS pr FROM nodes)"""
    body = ""
    for k in range(1, rounds + 1):
        body += f""",
    pr{k} AS (
      SELECT n.t, n.d,
             CAST(200000 + (4 * COALESCE(CAST(SUM(pp.pr // pp.d) AS BIGINT),
                                         0)) // 5 AS BIGINT) AS pr
      FROM nodes n
      LEFT JOIN sym s ON s.a = n.t
      LEFT JOIN pr{k - 1} pp ON pp.t = s.b
      GROUP BY n.t, n.d
    )"""
    return (
        head
        + body
        + f"""
    SELECT t AS token, d AS degree, pr AS textrank_ppm
    FROM pr{rounds}
    ORDER BY pr DESC, t LIMIT 20
    """
    )


@register("doc_textrank_keywords", _textrank_oracle(3))
def q_doc_textrank_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TextRank keyword extraction (Mihalcea & Tarau 2004) — PageRank on
    the word co-occurrence graph, the graph-based competitor to RAKE and
    tf-idf: adjacent-token pairs (support ≥ 2, vocab frequency ≥ 5) build
    an undirected word graph, then 3 damped PageRank rounds in integer
    ppm — pr ← 0.2 + 0.8·Σ pr(nbr)/deg(nbr), every division floored,
    damping 4/5 exact — so both engines replay the identical fixed
    point. Reuses the graph-iteration shape (edge⋈score join + per-node
    fold per round, the LPA/PageRank idiom) on a WORD graph; top-20 by
    rank with total-order tiebreak."""
    docs = table_scan(spark, sf_dir, "documents").select(
        F.split("text", " ").alias("w")
    )
    tok = docs.select(F.explode("w").alias("t")).filter(F.col("t") != "")
    vocab = tok.groupBy("t").agg(F.count(F.lit(1)).alias("f")).filter(
        F.col("f") >= 5
    )
    n = F.size("w")
    off1 = F.arrays_zip(
        F.slice("w", 1, n - 1).alias("a"),
        F.slice(F.col("w"), F.lit(2), n - 1).alias("b"),
    )
    p = (
        docs.select(F.explode(off1).alias("pr"))
        .select(F.col("pr.a").alias("a"), F.col("pr.b").alias("b"))
        .filter((F.col("a") != "") & (F.col("b") != "") & (F.col("a") != F.col("b")))
    )
    e0 = p.groupBy(
        F.least("a", "b").alias("u"), F.greatest("a", "b").alias("v")
    ).agg(F.count(F.lit(1)).alias("wt"))
    e = (
        e0.filter(F.col("wt") >= 2)
        .join(vocab.selectExpr("t AS u"), "u")
        .join(vocab.selectExpr("t AS v"), "v")
        .select("u", "v")
    )
    sym = e.selectExpr("u AS a2", "v AS b2").unionByName(
        e.selectExpr("v AS a2", "u AS b2")
    )
    deg = sym.groupBy(F.col("a2").alias("t")).agg(F.count(F.lit(1)).alias("d"))
    pr = deg.select("t", "d", F.lit(1000000).cast("long").alias("pr"))
    for _ in range(3):
        contrib = (
            sym.join(
                pr.selectExpr("t AS b2", "pr AS npr", "d AS nd"), "b2"
            )
            .groupBy(F.col("a2").alias("t"))
            .agg(F.expr("SUM(npr div nd)").alias("acc"))
        )
        pr = (
            deg.join(contrib, "t", "left")
            .selectExpr(
                "t",
                "d",
                "CAST(200000 + (4 * COALESCE(acc, 0)) div 5 AS BIGINT) AS pr",
            )
        )
    return (
        pr.selectExpr("t AS token", "d AS degree", "pr AS textrank_ppm")
        .orderBy(F.desc("textrank_ppm"), "token")
        .limit(20)
    )


@register(
    "doc_simhash_bit_balance",
    """
    WITH t AS (
      SELECT doc_id,
             list_transform(string_split_regex(TRIM(text), '\\s+'),
                            tok -> CAST(concat('0x', substr(md5(tok), 1, 15))
                                        AS BIGINT)) AS th
      FROM documents WHERE TRIM(text) <> ''
    ),
    votes AS (
      SELECT doc_id, CAST(b.b AS INT) AS bit,
             CASE WHEN 2 * len(list_filter(th,
                    h -> (h >> b.b) & 1 = 1)) > len(th)
                  THEN 1 ELSE 0 END AS one
      FROM t, (SELECT UNNEST(range(32)) AS b) b
      WHERE len(th) > 0
    ),
    m AS (
      SELECT bit, CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(one) AS BIGINT) AS n_ones
      FROM votes GROUP BY bit
    )
    SELECT bit, n_docs, n_ones,
           (2 * n_ones - n_docs) * (2 * n_ones - n_docs) > 9 * n_docs
             AS is_skewed
    FROM m
    """,
)
def q_doc_simhash_bit_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash bit-balance audit — the hash-quality check behind the
    near-dup detector's guarantees: each of the 32 sign-vote bits should
    split the corpus ~50/50 (a skewed bit carries less than one bit of
    information, weakening Hamming distances corpus-wide). Per bit, the
    majority-vote outcome over each doc's md5 token hashes (the exact
    simhash bit definition, recomputed relationally), then a 3σ binomial
    skew flag as the cross-multiplied integer inequality
    (2·ones−n)² > 9n. One 32× bit fan over per-doc hash arrays — all
    JVM lambda expressions, no UDF — and a 32-row fold. Auditing the
    INFRASTRUCTURE (the hash) rather than the data completes the audit
    family."""
    d = table_scan(spark, sf_dir, "documents").filter(
        F.trim(F.col("text")) != ""
    )
    t = d.select(
        "doc_id",
        F.expr(
            "transform(split(trim(text), '\\\\s+'),"
            " tok -> CAST(conv(substring(md5(tok), 1, 15), 16, 10) AS BIGINT))"
        ).alias("th"),
    ).filter(F.size("th") > 0)
    votes = (
        t.crossJoin(
            F.broadcast(
                spark.range(32).select(F.col("id").cast("int").alias("bit"))
            )
        )
        .selectExpr(
            "bit",
            "CASE WHEN 2 * size(filter(th,"
            " h -> (h >> bit) & 1 = 1)) > size(th)"
            " THEN 1 ELSE 0 END AS one",
        )
    )
    m = votes.groupBy("bit").agg(
        F.count(F.lit(1)).alias("n_docs"), F.sum("one").alias("n_ones")
    )
    return m.selectExpr(
        "bit",
        "n_docs",
        "n_ones",
        "(2 * n_ones - n_docs) * (2 * n_ones - n_docs) > 9 * n_docs"
        " AS is_skewed",
    )


@register(
    "doc_onion_dup_fraction",
    """
    WITH tok AS (
      SELECT doc_id, string_split_regex(TRIM(text), '\\s+') AS t
      FROM documents
    ),
    k AS (
      SELECT doc_id, t,
             GREATEST(CAST(len(t) // 16 AS BIGINT), 1) AS nch
      FROM tok
    ),
    c AS (
      SELECT doc_id,
             md5(array_to_string(list_slice(t, i*16 + 1, i*16 + 16), ' '))
               AS fp
      FROM k, UNNEST(range(nch)) AS u(i)
    ),
    shared AS (
      SELECT fp FROM c GROUP BY fp HAVING COUNT(DISTINCT doc_id) > 1
    )
    SELECT c.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_chunks,
           CAST(SUM(CASE WHEN s.fp IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_shared,
           CAST(1000 * SUM(CASE WHEN s.fp IS NOT NULL THEN 1 ELSE 0 END)
                // COUNT(*) AS BIGINT) AS dup_permille
    FROM c LEFT JOIN shared s ON c.fp = s.fp
    GROUP BY c.doc_id
    HAVING SUM(CASE WHEN s.fp IS NOT NULL THEN 1 ELSE 0 END) > 0
    """,
)
def q_doc_onion_dup_fraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Onion-style per-document duplication budget — the curation measure
    BETWEEN document-level dedup (doc_dedup_*: is the whole doc a dup?)
    and chunk-level boilerplate listing (chunk_dedup_exact: which chunks
    repeat?): for each document, what FRACTION of its 16-token chunks
    also appears in OTHER documents? Corpus pipelines threshold on this
    per-doc fraction (e.g. drop docs >50 % recycled) rather than on either
    endpoint. Chunks are non-overlapping md5 fingerprints; "shared" means
    seen in ≥2 DISTINCT docs (within-doc repetition is doc_repetition's
    job, not counted here). Docs with zero shared chunks are omitted (the
    keep-side is the complement). Plan: chunk fan-out → fingerprint
    groupBy with distinct-doc partial agg → shared list joined back on fp
    (a shuffle join, not a forced broadcast — boilerplate inventory grows
    with the corpus) — two shuffles on the skinny (doc, fp) table at any
    corpus size."""
    tok = table_scan(spark, sf_dir, "documents").select(
        "doc_id", F.split(F.trim(F.col("text")), r"\s+").alias("t")
    )
    k = tok.select(
        "doc_id",
        "t",
        F.greatest(F.floor(F.size("t") / 16), F.lit(1))
        .cast("long")
        .alias("nch"),
    )
    c = k.select(
        "doc_id",
        F.explode(F.sequence(F.lit(0), F.col("nch") - 1)).alias("i"),
        "t",
    ).select(
        "doc_id",
        F.md5(
            F.concat_ws(
                " ", F.slice(F.col("t"), F.col("i") * 16 + 1, 16)
            )
        ).alias("fp"),
    )
    shared = (
        c.groupBy("fp")
        .agg(F.countDistinct("doc_id").alias("nd"))
        .filter(F.col("nd") > 1)
        .select("fp", F.lit(1).alias("is_shared"))
    )
    # deliberately NOT a forced broadcast: the shared-fp list is the
    # corpus's boilerplate inventory and grows with the data — an fp-keyed
    # shuffle join (AQE may still broadcast when it measures small) is the
    # shape that survives 100 TB
    j = c.join(shared, "fp", "left")
    g = j.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_chunks"),
        F.sum(F.coalesce(F.col("is_shared"), F.lit(0)))
        .cast("long")
        .alias("n_shared"),
    )
    return g.filter(F.col("n_shared") > 0).select(
        "doc_id",
        "n_chunks",
        "n_shared",
        F.expr("(1000 * n_shared) div n_chunks")
        .cast("long")
        .alias("dup_permille"),
    )


@register(
    "doc_lang_id_confusion",
    """
    WITH pred AS ({lang_pred}),
    j AS (
      SELECT d.lang AS lang_true, p.lang_pred
      FROM documents d JOIN pred p ON d.doc_id = p.doc_id
    ),
    cm AS (
      SELECT lang_true, lang_pred, CAST(COUNT(*) AS BIGINT) AS n
      FROM j GROUP BY lang_true, lang_pred
    ),
    tot AS (
      SELECT lang_true, CAST(SUM(n) AS BIGINT) AS n_true
      FROM cm GROUP BY lang_true
    )
    SELECT cm.lang_true, cm.lang_pred, cm.n,
           CAST((1000000 * cm.n) // t.n_true AS BIGINT) AS share_of_true_ppm
    FROM cm JOIN tot t ON cm.lang_true = t.lang_true
    """.replace("{lang_pred}", _lang_sql()),
)
def q_doc_lang_id_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID confusion matrix — the EVALUATION layer on top of
    doc_lang_id: the heuristic's prediction against the corpus's stored
    lang label, as (true, predicted, count, share-of-true ppm). The
    diagonal rows are per-language recall; off-diagonal mass says WHICH
    languages the stopword-marker heuristic confuses (the decision input
    for replacing it with a model on specific language pairs). Exact ppm
    floors; one grouped count over the label join plus a broadcast-sized
    per-language marginal. Any classifier-vs-label audit at 100 TB is
    this same two-shuffle shape."""
    from ..functions.text import lang_id

    d = table_scan(spark, sf_dir, "documents")
    j = d.select(
        F.col("lang").alias("lang_true"), lang_id("text").alias("lang_pred")
    )
    cm = j.groupBy("lang_true", "lang_pred").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    tot = cm.groupBy("lang_true").agg(F.sum("n").cast("long").alias("n_true"))
    return cm.join(F.broadcast(tot), "lang_true").select(
        "lang_true",
        "lang_pred",
        "n",
        F.expr("(1000000 * n) div n_true")
        .cast("long")
        .alias("share_of_true_ppm"),
    )


@register(
    "doc_ttr_lexical_diversity",
    """
    WITH t AS (
      SELECT doc_id,
             string_split_regex(TRIM(text), '\\s+') AS toks
      FROM documents WHERE TRIM(text) <> ''
    ),
    m AS (
      SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens,
             CAST(len(list_distinct(toks)) AS BIGINT) AS n_types
      FROM t
    )
    SELECT doc_id, n_tokens, n_types,
           CAST((1000 * n_types) // n_tokens AS BIGINT) AS ttr_permille
    FROM m
    """,
)
def q_doc_ttr_lexical_diversity(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Type-token ratio per document — the lexical-diversity filter in
    every corpus-quality stack (Gopher's cousin metric): templated, keyword
    -stuffed, or machine-looped text has few TYPES per TOKEN, so a low TTR
    is a drop signal complementary to doc_repetition (which catches
    consecutive repeats; TTR catches scattered vocabulary poverty). Pure
    per-row array arithmetic — tokenize, distinct, two lengths, one exact
    permille floor — no aggregation, no shuffle, no UDF: the filter
    pipelines inside the scan stage at any corpus size. Empty documents
    are excluded (TTR undefined)."""
    t = (
        table_scan(spark, sf_dir, "documents")
        .filter(F.trim(F.col("text")) != "")
        .select(
            "doc_id", F.split(F.trim(F.col("text")), r"\s+").alias("toks")
        )
    )
    m = t.select(
        "doc_id",
        F.size("toks").cast("long").alias("n_tokens"),
        F.size(F.array_distinct("toks")).cast("long").alias("n_types"),
    )
    return m.select(
        "doc_id",
        "n_tokens",
        "n_types",
        F.expr("(1000 * n_types) div n_tokens")
        .cast("long")
        .alias("ttr_permille"),
    )


@register(
    "doc_dedup_quality_keeper",
    """
    WITH c AS (
      SELECT doc_id, n_chars,
             md5(array_to_string(list_slice(
               string_split_regex(trim(text), '\\s+'), 1, 16), ' ')) AS ckey
      FROM documents WHERE trim(text) <> ''
    ),
    w AS (
      SELECT doc_id, n_chars,
             row_number() OVER (PARTITION BY ckey
                                ORDER BY n_chars DESC, doc_id) AS rn,
             COUNT(*) OVER (PARTITION BY ckey) AS csize
      FROM c
    )
    SELECT CAST(doc_id AS BIGINT) AS keeper_doc_id,
           CAST(csize AS BIGINT) AS cluster_size,
           CAST(n_chars AS BIGINT) AS kept_n_chars
    FROM w WHERE rn = 1 AND csize >= 2
    """,
)
def q_doc_dedup_quality_keeper(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Quality-aware canonical selection for dedup clusters — the KEEP
    POLICY layer of a curation pipeline: once documents are clustered as
    duplicates, which member survives? Naive keep-lists keep the minimum
    id; production pipelines keep the HIGHEST-QUALITY member (the longest
    variant beats a truncated mirror of the same content — syndicated
    copies usually share the lead but trim the tail). Clusters here key
    on the LEAD SPAN: md5 of the first 16 whitespace tokens (the
    doc_onion_dup_fraction chunk convention), so documents sharing their
    opening chunk collapse together — a policy layer the minhash/simhash
    candidate stages slot above unchanged. Keeper = max n_chars, doc_id
    ascending on ties — deterministic on both engines. Scale shape: one
    map pass to the 32-hex cluster key (the full text never shuffles —
    only the hash), one cluster-partitioned window; emits one row per
    multi-member cluster."""
    d = (
        table_scan(spark, sf_dir, "documents")
        .filter(F.trim(F.col("text")) != "")
        .select(
            "doc_id",
            "n_chars",
            F.md5(
                F.array_join(
                    F.slice(F.split(F.trim(F.col("text")), r"\s+"), 1, 16),
                    " ",
                )
            ).alias("ckey"),
        )
    )
    w = Window.partitionBy("ckey").orderBy(
        F.col("n_chars").desc(), F.col("doc_id")
    )
    wall = Window.partitionBy("ckey")
    ranked = d.select(
        "doc_id",
        "n_chars",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(wall).alias("csize"),
    )
    return ranked.filter((F.col("rn") == 1) & (F.col("csize") >= 2)).select(
        F.col("doc_id").cast("long").alias("keeper_doc_id"),
        F.col("csize").cast("long").alias("cluster_size"),
        F.col("n_chars").cast("long").alias("kept_n_chars"),
    )


@register(
    "doc_c4_span_dedup",
    """
    WITH tok AS (
      SELECT doc_id, string_split_regex(TRIM(text), '\\s+') AS toks
      FROM documents WHERE TRIM(text) <> ''
    ),
    sp AS (
      SELECT doc_id, CAST(len(toks) // 8 AS BIGINT) AS n_sent, toks
      FROM tok WHERE len(toks) >= 24
    ),
    spans AS (
      SELECT doc_id,
             CAST(UNNEST(range(0, n_sent - 2)) AS BIGINT) AS j,
             toks
      FROM sp
    ),
    h AS (
      SELECT doc_id, j,
             md5(array_to_string(
               list_slice(toks, j * 8 + 1, j * 8 + 24), ' ')) AS span_h
      FROM spans
    ),
    owned AS (
      SELECT doc_id, j, span_h,
             row_number() OVER (PARTITION BY span_h
                                ORDER BY doc_id, j) AS rn
      FROM h
    ),
    per AS (
      SELECT doc_id,
             CAST(COUNT(*) AS BIGINT) AS n_spans,
             CAST(SUM(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_removed
      FROM owned GROUP BY doc_id
    )
    SELECT doc_id, n_spans, n_removed,
           CAST((1000000 * n_removed) // n_spans AS BIGINT) AS removed_ppm
    FROM per WHERE n_removed > 0
    """,
)
def q_doc_c4_span_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style SPAN-level dedup accounting — the cleaning rule that built
    C4: any 3-sentence span occurring more than once in the corpus is
    removed from every document except its first owner (document order,
    then position). With the synthetic corpus's unpunctuated text,
    "sentences" are non-overlapping 8-token windows, so a span is 24
    tokens at stride 8 — the intra-document-overlapping span lattice the
    original used. First ownership is a span-hash-partitioned row_number
    (global ordering WITHIN each hash bucket only — scale-safe); output
    is the per-document removal ledger (spans owned elsewhere), the
    number a curation dashboard tracks as 'C4 loss'. Complements
    doc_onion_dup_fraction (per-doc dup budget, no ownership) with the
    REMOVAL semantics. The only data-sized stages: tokenize-and-hash in
    the scan, one span-hash shuffle."""
    tok = (
        table_scan(spark, sf_dir, "documents")
        .filter(F.trim(F.col("text")) != "")
        .select(
            "doc_id", F.split(F.trim(F.col("text")), r"\s+").alias("toks")
        )
    )
    sp = tok.filter(F.size("toks") >= 24).select(
        "doc_id",
        (F.size("toks") / 8).cast("long").alias("n_sent"),
        "toks",
    )
    spans = sp.select(
        "doc_id",
        F.explode(
            F.sequence(F.lit(0).cast("long"), F.col("n_sent") - 3)
        ).alias("j"),
        "toks",
    )
    h = spans.select(
        "doc_id",
        "j",
        F.md5(
            F.array_join(
                F.expr("slice(toks, CAST(j * 8 + 1 AS INT), 24)"), " "
            )
        ).alias("span_h"),
    )
    w = Window.partitionBy("span_h").orderBy("doc_id", "j")
    owned = h.withColumn("rn", F.row_number().over(w))
    per = owned.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_spans"),
        F.sum(F.when(F.col("rn") > 1, 1).otherwise(0))
        .cast("long")
        .alias("n_removed"),
    )
    return per.filter(F.col("n_removed") > 0).select(
        "doc_id",
        "n_spans",
        "n_removed",
        F.expr("(1000000 * n_removed) div n_spans")
        .cast("long")
        .alias("removed_ppm"),
    )


@register(
    "doc_dup_ngram_fraction",
    """
    WITH tok AS (
      SELECT doc_id, string_split_regex(TRIM(text), '\\s+') AS toks
      FROM documents WHERE TRIM(text) <> ''
    ),
    g AS (
      SELECT doc_id,
             list_transform(range(0, CAST(len(toks) AS BIGINT) - 3),
               i -> array_to_string(
                 list_slice(toks, i + 1, i + 4), ' ')) AS grams
      FROM tok WHERE len(toks) >= 4
    )
    SELECT doc_id,
           CAST(len(grams) AS BIGINT) AS n_4grams,
           CAST(len(list_distinct(grams)) AS BIGINT) AS n_distinct,
           CAST((1000000 * (len(grams) - len(list_distinct(grams))))
                // len(grams) AS BIGINT) AS dup_ppm,
           (len(grams) - len(list_distinct(grams))) * 10 > len(grams)
             AS loop_suspect
    FROM g
    """,
)
def q_doc_dup_ngram_fraction(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Duplicate-4-gram fraction — the Gopher repetition rule that
    complements doc_repetition_topngram (top-bigram DOMINANCE catches one
    boilerplate phrase; the DUPLICATE-n-gram FRACTION catches scattered
    loops — the signature of degenerate machine-generated text where many
    different spans each repeat a few times). Per document: overlapping
    4-grams, fraction that are re-occurrences (1 − distinct/total) as
    exact ppm, plus the Gopher-ish >10 % keep/drop flag via integer
    cross-multiplication. Implementation is deliberately EXPLODE-FREE:
    the 4-gram list, its distinct count, and the ratio are pure
    scan-stage array expressions (transform over an index sequence), so
    the filter pipelines inside the scan at any corpus size — zero
    shuffle, zero fan-out."""
    tok = (
        table_scan(spark, sf_dir, "documents")
        .filter(F.trim(F.col("text")) != "")
        .select(
            "doc_id", F.split(F.trim(F.col("text")), r"\s+").alias("toks")
        )
    )
    g = tok.filter(F.size("toks") >= 4).select(
        "doc_id",
        F.expr(
            "transform(sequence(0, size(toks) - 4),"
            " i -> concat_ws(' ', slice(toks, i + 1, 4)))"
        ).alias("grams"),
    )
    return g.select(
        "doc_id",
        F.size("grams").cast("long").alias("n_4grams"),
        F.size(F.array_distinct("grams")).cast("long").alias("n_distinct"),
        F.expr(
            "(1000000 * (size(grams) - size(array_distinct(grams))))"
            " div size(grams)"
        )
        .cast("long")
        .alias("dup_ppm"),
        F.expr(
            "(size(grams) - size(array_distinct(grams))) * 10"
            " > size(grams)"
        ).alias("loop_suspect"),
    )


@register(
    "doc_padding_efficiency_eval",
    """
    WITH t AS (
      SELECT doc_id,
             CAST(len(string_split_regex(TRIM(text), '\\s+')) AS BIGINT)
               AS n_tokens
      FROM documents WHERE TRIM(text) <> ''
    ),
    arrival AS (
      SELECT 'arrival_order' AS strategy, doc_id // 8 AS batch, n_tokens
      FROM t
    ),
    bucketed AS (
      SELECT 'length_bucketed' AS strategy,
             (n_tokens // 16) * 1000000
               + (row_number() OVER (PARTITION BY n_tokens // 16
                                     ORDER BY doc_id) - 1) // 8 AS batch,
             n_tokens
      FROM t
    ),
    u AS (SELECT * FROM arrival UNION ALL SELECT * FROM bucketed),
    b AS (
      SELECT strategy, batch,
             CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(MAX(n_tokens) AS BIGINT) AS max_len,
             CAST(SUM(n_tokens) AS BIGINT) AS real_tokens
      FROM u GROUP BY strategy, batch
    )
    SELECT strategy,
           CAST(COUNT(*) AS BIGINT) AS n_batches,
           CAST(SUM(n_docs * max_len) AS BIGINT) AS token_slots,
           CAST(SUM(real_tokens) AS BIGINT) AS real_tokens,
           CAST((1000000 * (SUM(n_docs * max_len) - SUM(real_tokens)))
                // SUM(n_docs * max_len) AS BIGINT) AS padding_waste_ppm
    FROM b GROUP BY strategy
    """,
)
def q_doc_padding_efficiency_eval(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Padding-efficiency evaluation of BATCHING strategies — the
    training-throughput lever beside sequence packing
    (doc_pack_sequences): batches pad every member to the batch max, so
    ARRIVAL-ORDER batches of 8 waste slots on length variance, while
    LENGTH-BUCKETED batching (bucket = ⌊len/16⌋, batches formed inside
    each bucket by a bucket-partitioned row_number — never a global
    sort) shrinks the per-batch spread. The two-row output quantifies
    exactly how much: token slots vs real tokens and the waste ppm per
    strategy — pytest asserts bucketed ≤ arrival. All integers; both
    strategies are one groupBy over deterministic batch keys. At 100 TB
    the bucketed strategy is the scalable one by construction: its only
    window partitions on the bounded length-bucket key."""
    t = (
        table_scan(spark, sf_dir, "documents")
        .filter(F.trim(F.col("text")) != "")
        .select(
            "doc_id",
            F.size(F.split(F.trim(F.col("text")), r"\s+"))
            .cast("long")
            .alias("n_tokens"),
        )
    )
    arrival = t.select(
        F.lit("arrival_order").alias("strategy"),
        F.expr("doc_id div 8").alias("batch"),
        "n_tokens",
    )
    wb = Window.partitionBy(F.expr("n_tokens div 16")).orderBy("doc_id")
    bucketed = (
        t.select(
            "n_tokens", F.row_number().over(wb).alias("rn")
        )
        .select(
            F.lit("length_bucketed").alias("strategy"),
            F.expr(
                "(n_tokens div 16) * 1000000"
                " + CAST((rn - 1) div 8 AS BIGINT)"
            ).alias("batch"),
            "n_tokens",
        )
    )
    u = arrival.unionByName(bucketed)
    b = u.groupBy("strategy", "batch").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.max("n_tokens").cast("long").alias("max_len"),
        F.sum("n_tokens").cast("long").alias("real_tokens"),
    )
    return b.groupBy("strategy").agg(
        F.count(F.lit(1)).cast("long").alias("n_batches"),
        F.sum(F.col("n_docs") * F.col("max_len"))
        .cast("long")
        .alias("token_slots"),
        F.sum("real_tokens").cast("long").alias("real_tokens"),
        F.expr(
            "(1000000 * (sum(n_docs * max_len) - sum(real_tokens)))"
            " div sum(n_docs * max_len)"
        )
        .cast("long")
        .alias("padding_waste_ppm"),
    )


@register(
    "doc_watermark_greenlist_audit",
    """
    WITH tok AS (
      SELECT doc_id, UNNEST(string_split_regex(TRIM(text), '\\s+')) AS w
      FROM documents WHERE TRIM(text) <> ''
    ),
    g AS (
      SELECT doc_id,
             CAST(COUNT(*) AS BIGINT) AS n_tokens,
             CAST(SUM(CASE WHEN CAST(concat('0x', substr(md5(w), 1, 15))
                                 AS BIGINT) % 2 = 0
                      THEN 1 ELSE 0 END) AS BIGINT) AS n_green
      FROM tok GROUP BY doc_id
    )
    SELECT doc_id, n_tokens, n_green,
           CAST((1000000 * n_green) // n_tokens AS BIGINT) AS green_ppm,
           CAST((1000 * (2 * n_green - n_tokens)
                 * (2 * n_green - n_tokens)) // n_tokens AS BIGINT)
             AS z2_milli,
           (2 * n_green - n_tokens) * (2 * n_green - n_tokens)
             > 9 * n_tokens AS watermark_suspect
    FROM g WHERE n_tokens >= 20
    """,
)
def q_doc_watermark_greenlist_audit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """LLM-watermark detection audit — the Kirchenbauer-style green-list
    test run as a corpus screen: a watermarked generator over-samples a
    pseudorandom half of the vocabulary, so a document whose GREEN-token
    fraction deviates from ½ beyond binomial noise (z² = (2g−n)²/n > 9,
    |z| > 3) is machine-generation-suspect. The green list is the
    portable-md5 parity of each token (both engines derive the identical
    partition from the formula, no key shipped). Per qualifying doc
    (≥ 20 tokens): green count, exact ppm fraction, z² in milli, and the
    flag via pure integer cross-multiplication. Human/organic corpora —
    including this synthetic one — should flag only the ~0.3 % binomial
    tail, which is exactly the base rate a deployment calibrates
    against. One explode + one partial-agg doc rollup, hashes JVM-side."""
    tok = (
        table_scan(spark, sf_dir, "documents")
        .filter(F.trim(F.col("text")) != "")
        .select(
            "doc_id",
            F.explode(F.split(F.trim(F.col("text")), r"\s+")).alias("w"),
        )
    )
    from ..functions.hashing import portable_hash64

    g = tok.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_tokens"),
        F.sum(
            F.when(portable_hash64(F.col("w")) % 2 == 0, 1).otherwise(0)
        )
        .cast("long")
        .alias("n_green"),
    )
    dev = 2 * F.col("n_green") - F.col("n_tokens")
    return g.filter(F.col("n_tokens") >= 20).select(
        "doc_id",
        "n_tokens",
        "n_green",
        F.expr("(1000000 * n_green) div n_tokens")
        .cast("long")
        .alias("green_ppm"),
        F.expr(
            "(1000 * (2 * n_green - n_tokens) * (2 * n_green - n_tokens))"
            " div n_tokens"
        )
        .cast("long")
        .alias("z2_milli"),
        (dev * dev > 9 * F.col("n_tokens")).alias("watermark_suspect"),
    )


@register(
    "doc_quality_feature_matrix",
    """
    WITH tok AS (
      SELECT doc_id, source, lang, n_chars,
             string_split_regex(TRIM(text), '\\s+') AS toks
      FROM documents WHERE TRIM(text) <> ''
    )
    SELECT doc_id, source, lang,
           CAST(n_chars AS BIGINT) AS n_chars,
           CAST(len(toks) AS BIGINT) AS n_tokens,
           CAST(len(list_distinct(toks)) AS BIGINT) AS n_types,
           CAST((1000 * len(list_distinct(toks))) // len(toks) AS BIGINT)
             AS ttr_permille,
           CAST((1000 * (n_chars - len(toks) + 1)) // len(toks) AS BIGINT)
             AS mean_word_len_milli,
           CAST(CASE WHEN len(toks) >= 4
                THEN (1000000 * (len(toks) - 3
                      - len(list_distinct(list_transform(
                          range(0, CAST(len(toks) AS BIGINT) - 3),
                          i -> array_to_string(
                            list_slice(toks, i + 1, i + 4), ' '))))))
                     // (len(toks) - 3)
                ELSE 0 END AS BIGINT) AS dup4_ppm,
           CAST((1000000 * len(list_filter(toks,
                 t -> t IN ('a', 'the')))) // len(toks) AS BIGINT)
             AS stopword_ppm
    FROM tok
    """,
)
def q_doc_quality_feature_matrix(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Per-document quality FEATURE MATRIX — the export step that turns
    the individual curation signals into one trainer-ready row per doc
    (the table a fastText/logreg quality classifier is fit on): token and
    type counts, TTR, mean word length (derived exactly from chars and
    token count — chars minus the n−1 separators over n tokens),
    duplicate-4-gram ppm (the doc_dup_ngram_fraction signal inlined), and
    stopword share. Everything is computed in ONE scan-stage projection —
    no joins between signal queries, no shuffle, every expression a JVM
    array fold — which is the point: feature assembly at 100 TB must be
    a map pass, not a join of ten audits. All integers (permille/milli/
    ppm floors)."""
    tok = (
        table_scan(spark, sf_dir, "documents")
        .filter(F.trim(F.col("text")) != "")
        .select(
            "doc_id",
            "source",
            "lang",
            F.col("n_chars").cast("long").alias("n_chars"),
            F.split(F.trim(F.col("text")), r"\s+").alias("toks"),
        )
    )
    return tok.select(
        "doc_id",
        "source",
        "lang",
        "n_chars",
        F.size("toks").cast("long").alias("n_tokens"),
        F.size(F.array_distinct("toks")).cast("long").alias("n_types"),
        F.expr("(1000 * size(array_distinct(toks))) div size(toks)")
        .cast("long")
        .alias("ttr_permille"),
        F.expr("(1000 * (n_chars - size(toks) + 1)) div size(toks)")
        .cast("long")
        .alias("mean_word_len_milli"),
        F.when(
            F.size("toks") >= 4,
            F.expr(
                "(1000000 * (size(toks) - 3 - size(array_distinct("
                "transform(sequence(0, size(toks) - 4),"
                " i -> concat_ws(' ', slice(toks, i + 1, 4)))))))"
                " div (size(toks) - 3)"
            ),
        )
        .otherwise(0)
        .cast("long")
        .alias("dup4_ppm"),
        F.expr(
            "(1000000 * size(filter(toks, t -> t IN ('a', 'the'))))"
            " div size(toks)"
        )
        .cast("long")
        .alias("stopword_ppm"),
    )


@register(
    "doc_boilerplate_line_strip",
    r"""
    WITH tok AS (
      SELECT doc_id, string_split_regex(TRIM(text), '\s+') AS toks
      FROM documents WHERE TRIM(text) <> ''
    ),
    t AS (
      SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tok,
             CAST(len(toks) // 3 AS BIGINT) AS n_lines, toks
      FROM tok WHERE len(toks) // 3 >= 1
    ),
    ln AS (
      SELECT doc_id, n_tok, n_lines,
             CAST(UNNEST(range(0, n_lines)) AS BIGINT) AS j, toks
      FROM t
    ),
    lt AS (
      SELECT doc_id,
             array_to_string(list_slice(toks, j * 3 + 1, j * 3 + 3), ' ')
               AS line
      FROM ln
    ),
    boiler AS (
      SELECT line
      FROM (SELECT line, COUNT(DISTINCT doc_id) AS nd FROM lt GROUP BY line)
      WHERE nd >= 3
    ),
    bc AS (
      SELECT lt.doc_id, CAST(COUNT(*) AS BIGINT) AS n_boiler
      FROM lt JOIN boiler USING (line) GROUP BY lt.doc_id
    )
    SELECT t.doc_id, t.n_lines,
           COALESCE(bc.n_boiler, 0) AS n_boiler_lines,
           t.n_tok - 3 * COALESCE(bc.n_boiler, 0) AS retained_tokens,
           CAST((1000 * COALESCE(bc.n_boiler, 0)) // t.n_lines AS BIGINT)
             AS boiler_permille
    FROM t LEFT JOIN bc ON t.doc_id = bc.doc_id
    """,
)
def q_doc_boilerplate_line_strip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-frequency boilerplate stripping — the C4/RefinedWeb rule "drop
    any line that occurs in >= k documents across the corpus" (navigation
    chrome, cookie banners, license footers), as a per-doc retention
    ledger: line count, boilerplate-line count, tokens that survive the
    strip, and the boilerplate fraction in exact per-mille. Lines are
    non-overlapping 3-token chunks (the synthetic corpus has no newlines;
    on real data swap the chunker for split('\\n') — every downstream stage
    is unchanged). Differs from doc_c4_span_dedup (keep-FIRST-owner span
    dedup) in that boilerplate has NO owner: a line over the corpus
    frequency threshold is stripped from every document.

    Scale shape: the line-frequency pass is one hash-groupBy on the line
    string with map-side partial distinct (skinny (line, doc_id) rows, the
    exact-dedup shuffle shape); flagging is ONE shuffle left-semi join of
    lines against the over-threshold set (never broadcast — on a real
    corpus the boilerplate set is unbounded); the per-doc rollup re-groups
    by doc_id. All-integer output, no floats anywhere."""
    d = table_scan(spark, sf_dir, "documents")
    t = (
        d.filter(F.trim("text") != "")
        .select("doc_id", F.split(F.trim("text"), r"\s+").alias("toks"))
        .select(
            "doc_id",
            F.size("toks").cast("long").alias("n_tok"),
            F.expr("size(toks) div 3").cast("long").alias("n_lines"),
            "toks",
        )
        .filter(F.col("n_lines") >= 1)
    )
    lt = t.select(
        "doc_id",
        F.explode(
            F.expr(
                "transform(sequence(0, int(n_lines) - 1),"
                " j -> array_join(slice(toks, j * 3 + 1, 3), ' '))"
            )
        ).alias("line"),
    )
    boiler = (
        lt.groupBy("line")
        .agg(F.countDistinct("doc_id").alias("nd"))
        .filter(F.col("nd") >= 3)
        .select("line")
    )
    bc = (
        lt.join(boiler, "line", "left_semi")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).cast("long").alias("n_boiler"))
    )
    return (
        t.join(bc, "doc_id", "left")
        .select(
            "doc_id",
            "n_lines",
            F.coalesce(F.col("n_boiler"), F.lit(0)).cast("long").alias(
                "n_boiler_lines"
            ),
            (
                F.col("n_tok") - 3 * F.coalesce(F.col("n_boiler"), F.lit(0))
            ).cast("long").alias("retained_tokens"),
            F.expr("(1000 * coalesce(n_boiler, 0)) div n_lines")
            .cast("long")
            .alias("boiler_permille"),
        )
    )


def _stream_neardup_oracle(num_hashes: int = 16, bands: int = 4) -> str:
    """Batch-SQL twin of the STREAMING LSH band dedup: per doc, the minimum
    earlier doc id sharing any band bucket + how many bands hit. Same
    signature/band CTEs as the portable dedup pipeline oracle."""
    from ..operators.fuzzy_dedup import _MH_B, _MH_P, _mh_coeffs

    vals = ", ".join(
        f"({i}, {a}, {b})" for i, (a, b) in enumerate(_mh_coeffs(num_hashes))
    )
    rpb = num_hashes // bands
    bh = "m0"
    for r in range(1, rpb):
        bh = f"({bh} * {_MH_B} + m{r}) % {_MH_P}"
    mcols = ", ".join(
        f"MAX(CASE WHEN i % {rpb} = {r} THEN m END) AS m{r}" for r in range(rpb)
    )
    return rf"""
    WITH t AS (
      SELECT doc_id,
             list_transform(string_split_regex(TRIM(text), '\s+'),
                            tok -> CAST(concat('0x', substr(md5(tok), 1, 15))
                                        AS BIGINT) % {_MH_P}) AS th
      FROM documents
    ),
    sh AS (
      SELECT DISTINCT doc_id,
             ((th[i + 1] * {_MH_B} + th[i + 2]) % {_MH_P} * {_MH_B}
              + th[i + 3]) % {_MH_P} AS s
      FROM t, UNNEST(range(GREATEST(len(th) - 2, 0))) AS u(i)
    ),
    c(i, a, b) AS (VALUES {vals}),
    sig AS (
      SELECT doc_id, c.i, MIN((sh.s * c.a + c.b) % {_MH_P}) AS m
      FROM sh CROSS JOIN c GROUP BY doc_id, c.i
    ),
    bandm AS (
      SELECT doc_id, i // {rpb} AS b, {mcols}
      FROM sig GROUP BY doc_id, i // {rpb}
    ),
    band AS (SELECT doc_id, b, {bh} AS bh FROM bandm),
    hits AS (
      SELECT y.doc_id, x.b, MIN(x.doc_id) AS m
      FROM band x JOIN band y
        ON x.b = y.b AND x.bh = y.bh AND x.doc_id < y.doc_id
      GROUP BY y.doc_id, x.b
    )
    SELECT doc_id, MIN(m) AS dup_candidate_of,
           CAST(COUNT(*) AS BIGINT) AS n_band_hits
    FROM hits GROUP BY doc_id ORDER BY doc_id
    """


@register("streaming_neardup_lsh", _stream_neardup_oracle(16, 4))
def q_streaming_neardup_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING near-dup detection — the LSH candidate stage as an
    arbitrary-stateful streaming operator: documents arrive on a stream,
    signatures (16 portable min-hashes) and 4 band hashes are STATELESS
    map expressions, and each (band_idx, band_hash) bucket is a stream
    KEY whose state is one long — the canonical (minimum) doc id ever
    seen in that bucket (streaming/stateful.lsh_band_dedup). A doc
    landing in an occupied bucket is emitted immediately as a candidate
    pair; state is bounded by occupied buckets, not by stream length or
    payload bytes. This is the ingest-time shape of the batch
    doc_dedup_minhash_lsh family: catch near-dups as they ARRIVE instead
    of re-sweeping the corpus. Staged as ONE file so AvailableNow
    processes a single deterministic micro-batch — "earlier" then means
    smaller doc_id, which is exactly what the batch SQL oracle replays
    (per doc: min earlier doc sharing any band + band-hit count). The
    per-row signature uses array_min(transform(...)) over a materialized
    shingle-hash column — 16 traversals stays inside the codegen budget of
    the vanilla session ``tools/replica.py`` checks under (``get_spark``
    evaluates interpreted); the shingle array is bound once so the md5 roll
    runs once per row."""
    from ..operators.fuzzy_dedup import minhash_band_exprs
    from ..streaming.stateful import lsh_band_dedup

    staging = staged_dir(
        spark,
        "stream_docs:" + source_fingerprint(sf_dir, "documents"),
        lambda out: table_scan(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .coalesce(1)
        .write.parquet(str(out)),
    )

    schema = StructType(
        [StructField("doc_id", LongType()), StructField("text", StringType())]
    )
    stream = spark.readStream.schema(schema).parquet(str(staging))
    # The staging dir is ONE file by construction (deterministic single
    # micro-batch), so the file source yields one input partition — fan the
    # CPU-bound signature expressions out first (streaming frames can't use
    # readers.spread, but a plain repartition is a supported streaming
    # shuffle; SF1 45 s → 35 s). The remaining cost is per-BUCKET group
    # overhead inside applyInPandasWithState (~200k near-singleton groups
    # at SF1; 35 → ~30 s in round 10 after _band_dedup stopped building
    # output frames for pair-less groups) — per-group Arrow/Python framing
    # inherent to the Python state API, which a real cluster scales
    # horizontally. Round-11 floor measurement (NOTES): at SF1 the
    # signature/banding expressions alone cost ~21 s (JVM streaming
    # groupBy/min twin) and a TRIVIAL state function adds ~8 s of framing,
    # so no state-side rewrite can beat ~29 s; a per-batch pre-aggregation
    # BEFORE the stateful apply is rejected by Spark itself
    # (AnalysisException: applyInPandasWithState in update mode is not
    # supported with aggregation on a streaming DataFrame). The BATCH
    # scale path for the same semantics is doc_neardup_incremental_snapshot
    # (persisted band-bucket state + delta-only merge: 14.3 s on the same
    # SF1 corpus, all JVM-side).
    # Order-independent: the bucket state logic sorts ids per key within
    # the batch.
    banded = minhash_band_exprs(
        stream.repartition(spark.sparkContext.defaultParallelism),
        num_hashes=16,
        bands=4,
    )

    qname = f"bdec_stream_neardup_{staging.name}"
    q = (
        lsh_band_dedup(banded)
        .writeStream.format("memory")
        .queryName(qname)
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return (
        spark.table(qname)
        .groupBy("doc_id")
        .agg(
            F.min("canon_id").alias("dup_candidate_of"),
            F.count(F.lit(1)).cast("long").alias("n_band_hits"),
        )
        .orderBy("doc_id")
    )


def _incr_neardup_oracle(num_hashes: int = 16, bands: int = 4) -> str:
    """Batch-SQL twin of the snapshot-incremental near-dup merge: the same
    signature/band CTEs as the streaming oracle, split into the persisted
    snapshot (doc_id % 3 <> 0) and the delta drop (doc_id % 3 = 0)."""
    from ..operators.fuzzy_dedup import _MH_B, _MH_P, _mh_coeffs

    vals = ", ".join(
        f"({i}, {a}, {b})" for i, (a, b) in enumerate(_mh_coeffs(num_hashes))
    )
    rpb = num_hashes // bands
    bh = "m0"
    for r in range(1, rpb):
        bh = f"({bh} * {_MH_B} + m{r}) % {_MH_P}"
    mcols = ", ".join(
        f"MAX(CASE WHEN i % {rpb} = {r} THEN m END) AS m{r}" for r in range(rpb)
    )
    return rf"""
    WITH t AS (
      SELECT doc_id,
             list_transform(string_split_regex(TRIM(text), '\s+'),
                            tok -> CAST(concat('0x', substr(md5(tok), 1, 15))
                                        AS BIGINT) % {_MH_P}) AS th
      FROM documents
    ),
    sh AS (
      SELECT DISTINCT doc_id,
             ((th[i + 1] * {_MH_B} + th[i + 2]) % {_MH_P} * {_MH_B}
              + th[i + 3]) % {_MH_P} AS s
      FROM t, UNNEST(range(GREATEST(len(th) - 2, 0))) AS u(i)
    ),
    c(i, a, b) AS (VALUES {vals}),
    sig AS (
      SELECT doc_id, c.i, MIN((sh.s * c.a + c.b) % {_MH_P}) AS m
      FROM sh CROSS JOIN c GROUP BY doc_id, c.i
    ),
    bandm AS (
      SELECT doc_id, i // {rpb} AS b, {mcols}
      FROM sig GROUP BY doc_id, i // {rpb}
    ),
    band AS (SELECT doc_id, b, {bh} AS bh FROM bandm),
    state AS (
      SELECT b, bh, MIN(doc_id) AS c
      FROM band WHERE doc_id % 3 <> 0 GROUP BY b, bh
    ),
    delta AS (SELECT doc_id, b, bh FROM band WHERE doc_id % 3 = 0),
    bmin AS (SELECT b, bh, MIN(doc_id) AS m FROM delta GROUP BY b, bh),
    hits AS (
      SELECT d.doc_id, d.b,
             LEAST(COALESCE(s.c, 9223372036854775807),
                   CASE WHEN bm.m < d.doc_id THEN bm.m
                        ELSE 9223372036854775807 END) AS cand
      FROM delta d
      LEFT JOIN state s ON d.b = s.b AND d.bh = s.bh
      JOIN bmin bm ON d.b = bm.b AND d.bh = bm.bh
      WHERE s.c IS NOT NULL OR bm.m < d.doc_id
    )
    SELECT doc_id, MIN(cand) AS dup_candidate_of,
           CAST(COUNT(*) AS BIGINT) AS n_band_hits
    FROM hits GROUP BY doc_id ORDER BY doc_id
    """


@register("doc_neardup_incremental_snapshot", _incr_neardup_oracle(16, 4))
def q_doc_neardup_incremental_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot-INCREMENTAL fuzzy dedup (VERDICT r9 #6) — the 100 TB
    operating mode: a persisted band-bucket STATE TABLE (one skinny
    (band_idx, band_hash, canon) row per occupied bucket) carries the
    corpus's LSH state between drops, so a new corpus delta only hashes
    its OWN documents and joins the delta's band rows against the state —
    the full corpus is never re-shingled or re-swept. This is the batch
    MERGE twin of streaming_neardup_lsh's band-bucket state (same
    candidate semantics, JVM-side joins instead of per-group Python), and
    the fuzzy upgrade of doc_dedup_incremental's exact-hash state table.

    Fixture: snapshot-0 = docs with doc_id % 3 != 0 (staged ONCE as the
    state parquet, exactly as a previous pipeline run would leave it);
    delta = doc_id % 3 == 0. Per delta doc, a band HIT is a bucket already
    occupied by the snapshot (any snapshot doc is earlier by arrival) or
    by a smaller-id delta doc (within-batch order, same convention as the
    streaming operator); the canonical candidate is the minimum over
    those. The state MERGED with the delta (union + min per bucket) is
    published once per session per snapshot, to ``state_next`` in its own
    staged directory — the write a real incremental pipeline commits; it
    depends only on the corpus, so a rerun has nothing new to write. The
    oracle replays both snapshots' band tables and the same LEAST/COALESCE
    decision in SQL. Scale shape: delta-only hashing (spread-fanned),
    state join on skinny band keys (never payloads), merge is one
    partial-aggregatable groupBy."""
    from ..operators.fuzzy_dedup import minhash_band_exprs
    from ..sources.readers import spread

    d = table_scan(spark, sf_dir, "documents").select("doc_id", "text")
    fp = source_fingerprint(sf_dir, "documents")
    state_dir = staged_dir(
        spark,
        "incr_neardup:" + fp,
        lambda out: minhash_band_exprs(
            spread(d).filter(F.col("doc_id") % 3 != 0), num_hashes=16, bands=4
        )
        .groupBy("band_idx", "band_hash")
        .agg(F.min("doc_id").alias("canon"))
        .write.parquet(str(out)),
    )
    state = spark.read.schema("band_idx bigint, band_hash bigint, canon bigint").parquet(
        str(state_dir)
    )

    delta_bands = minhash_band_exprs(
        spread(d).filter(F.col("doc_id") % 3 == 0), num_hashes=16, bands=4
    ).transform(cached)
    bmin = delta_bands.groupBy("band_idx", "band_hash").agg(
        F.min("doc_id").alias("m")
    )
    big = F.lit(0x7FFFFFFFFFFFFFFF)
    hits = (
        delta_bands.join(state, ["band_idx", "band_hash"], "left")
        .join(bmin, ["band_idx", "band_hash"])
        .filter(F.col("canon").isNotNull() | (F.col("m") < F.col("doc_id")))
        .select(
            "doc_id",
            F.least(
                F.coalesce(F.col("canon"), big),
                F.when(F.col("m") < F.col("doc_id"), F.col("m")).otherwise(big),
            ).alias("cand"),
        )
    )
    # publish the merged state (what the next drop will join against) once
    # per session per snapshot: old buckets keep their min, new buckets
    # enter, shared buckets take the smaller canon — one skinny groupBy, no
    # payloads
    staged_dir(
        spark,
        "incr_neardup_next:" + fp,
        lambda out: state.unionByName(
            delta_bands.select("band_idx", "band_hash", F.col("doc_id").alias("canon"))
        )
        .groupBy("band_idx", "band_hash")
        .agg(F.min("canon").alias("canon"))
        .write.parquet(str(out / "state_next")),
    )
    return (
        hits.groupBy("doc_id")
        .agg(
            F.min("cand").alias("dup_candidate_of"),
            F.count(F.lit(1)).cast("long").alias("n_band_hits"),
        )
        .orderBy("doc_id")
    )


def _stream_incr_oracle(num_hashes: int = 16, bands: int = 4) -> str:
    """Oracle for the foreachBatch incremental near-dup: two micro-batches
    (batch 1 = doc_id % 3 <> 0, batch 2 = doc_id % 3 = 0), each scored
    against the state the previous batches left plus its own batch-local
    smaller ids — the sequential replay of the band-bucket merge."""
    from ..operators.fuzzy_dedup import _MH_B, _MH_P, _mh_coeffs

    vals = ", ".join(
        f"({i}, {a}, {b})" for i, (a, b) in enumerate(_mh_coeffs(num_hashes))
    )
    rpb = num_hashes // bands
    bh = "m0"
    for r in range(1, rpb):
        bh = f"({bh} * {_MH_B} + m{r}) % {_MH_P}"
    mcols = ", ".join(
        f"MAX(CASE WHEN i % {rpb} = {r} THEN m END) AS m{r}" for r in range(rpb)
    )
    return rf"""
    WITH t AS (
      SELECT doc_id,
             list_transform(string_split_regex(TRIM(text), '\s+'),
                            tok -> CAST(concat('0x', substr(md5(tok), 1, 15))
                                        AS BIGINT) % {_MH_P}) AS th
      FROM documents
    ),
    sh AS (
      SELECT DISTINCT doc_id,
             ((th[i + 1] * {_MH_B} + th[i + 2]) % {_MH_P} * {_MH_B}
              + th[i + 3]) % {_MH_P} AS s
      FROM t, UNNEST(range(GREATEST(len(th) - 2, 0))) AS u(i)
    ),
    c(i, a, b) AS (VALUES {vals}),
    sig AS (
      SELECT doc_id, c.i, MIN((sh.s * c.a + c.b) % {_MH_P}) AS m
      FROM sh CROSS JOIN c GROUP BY doc_id, c.i
    ),
    bandm AS (
      SELECT doc_id, i // {rpb} AS b, {mcols}
      FROM sig GROUP BY doc_id, i // {rpb}
    ),
    band AS (SELECT doc_id, b, {bh} AS bh FROM bandm),
    b1 AS (SELECT * FROM band WHERE doc_id % 3 <> 0),
    b2 AS (SELECT * FROM band WHERE doc_id % 3 = 0),
    bmin1 AS (SELECT b, bh, MIN(doc_id) AS m FROM b1 GROUP BY b, bh),
    hits1 AS (
      SELECT d.doc_id, d.b, bm.m AS cand
      FROM b1 d JOIN bmin1 bm ON d.b = bm.b AND d.bh = bm.bh
      WHERE bm.m < d.doc_id
    ),
    state1 AS (SELECT b, bh, m AS c FROM bmin1),
    bmin2 AS (SELECT b, bh, MIN(doc_id) AS m FROM b2 GROUP BY b, bh),
    hits2 AS (
      SELECT d.doc_id, d.b,
             LEAST(COALESCE(s.c, 9223372036854775807),
                   CASE WHEN bm.m < d.doc_id THEN bm.m
                        ELSE 9223372036854775807 END) AS cand
      FROM b2 d
      LEFT JOIN state1 s ON d.b = s.b AND d.bh = s.bh
      JOIN bmin2 bm ON d.b = bm.b AND d.bh = bm.bh
      WHERE s.c IS NOT NULL OR bm.m < d.doc_id
    ),
    hits AS (SELECT * FROM hits1 UNION ALL SELECT * FROM hits2)
    SELECT doc_id, MIN(cand) AS dup_candidate_of,
           CAST(COUNT(*) AS BIGINT) AS n_band_hits
    FROM hits GROUP BY doc_id ORDER BY doc_id
    """


def recover_incremental_state(base: Path) -> Path | None:
    """Resolve the readable state dir for the incremental near-dup merge.

    Crash-safety contract (ADVICE r10): the publish step below guarantees
    that at every instant either ``state`` or ``state_prev`` holds a
    committed (`_SUCCESS`-marked) snapshot. This resolver repairs the
    one crash window where the old state was moved aside but the new one
    never moved in (rename-aside completed, rename-in did not) by moving
    ``state_prev`` back. Returns the state dir to read, or ``None`` on a
    genuinely fresh store. Raises RuntimeError if the ``state_initialized``
    marker says a prior batch committed but neither dir is readable —
    a silent empty-state restart would emit quietly-wrong candidates.
    """
    state_dir = base / "state"
    prev_dir = base / "state_prev"
    if not (state_dir / "_SUCCESS").exists() and (prev_dir / "_SUCCESS").exists():
        prev_dir.rename(state_dir)
    if (state_dir / "_SUCCESS").exists():
        return state_dir
    if (base / "state_initialized").exists():
        raise RuntimeError(
            f"incremental near-dup state missing at {state_dir} despite a "
            "committed prior batch; refusing to continue from an empty state"
        )
    return None


def publish_incremental_state(base: Path, new_dir: Path) -> None:
    """Atomically promote ``new_dir`` (a freshly written, `_SUCCESS`-marked
    parquet dir) to ``base/state`` with an aside copy: old state renames to
    ``state_prev`` BEFORE the new dir renames in, so a crash at any point
    leaves one committed snapshot for :func:`recover_incremental_state`."""
    import shutil as _shutil

    state_dir = base / "state"
    prev_dir = base / "state_prev"
    _shutil.rmtree(prev_dir, ignore_errors=True)
    if state_dir.exists():
        state_dir.rename(prev_dir)
    new_dir.rename(state_dir)
    (base / "state_initialized").touch()
    _shutil.rmtree(prev_dir, ignore_errors=True)


@register("streaming_neardup_incremental", _stream_incr_oracle(16, 4))
def q_streaming_neardup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PRODUCTION streaming shape of incremental near-dup: a
    foreachBatch sink where every micro-batch (a corpus drop) is scored
    and merged entirely JVM-SIDE against a persisted band-bucket state
    table — no per-group Python. Completes the near-dup trio:
    streaming_neardup_lsh (applyInPandasWithState showcase — 1 long of
    state per bucket, but per-group Python framing),
    doc_neardup_incremental_snapshot (one batch MERGE), and this — the
    micro-batch loop a real ingest pipeline runs, where each drop only
    hashes ITSELF, joins the skinny state table, appends its candidate
    ledger, and republishes the merged state (write-new-then-swap, so a
    crash mid-merge leaves the previous state intact). Two deterministic
    micro-batches (maxFilesPerTrigger=1, mtime-ordered files split
    doc_id % 3) make the whole run SQL-replayable: the oracle scores
    batch 1 against its own local mins, batch 2 against batch 1's state —
    the sequential semantics the state table materializes."""
    import time as _time

    from ..operators.fuzzy_dedup import minhash_band_exprs

    def build(src: Path) -> None:
        d = table_scan(spark, sf_dir, "documents").select("doc_id", "text")
        d.filter(F.col("doc_id") % 3 != 0).coalesce(1).write.parquet(str(src / "b1.parquet"))
        _time.sleep(1.2)  # strict mtime order => deterministic batch order
        d.filter(F.col("doc_id") % 3 == 0).coalesce(1).write.parquet(str(src / "b2.parquet"))

    src = staged_dir(spark, "stream_incr:" + source_fingerprint(sf_dir, "documents"), build)
    # fresh state/out/ckpt per call: the stream replays both batches each
    # time, and a shared mutable state would let two concurrent calls
    # rmtree each other's in-flight state (src above is immutable)
    work = Path(tempfile.mkdtemp(dir=session_workspace(spark)))

    parallelism = spark.sparkContext.defaultParallelism
    big = 0x7FFFFFFFFFFFFFFF

    def merge_batch(batch_df, epoch_id: int) -> None:
        bands = minhash_band_exprs(
            batch_df.repartition(parallelism), num_hashes=16, bands=4
        ).persist()
        readable = recover_incremental_state(work)
        if readable is not None:
            state = spark.read.parquet(str(readable))
        else:
            state = spark.createDataFrame(
                [], "band_idx long, band_hash long, canon long"
            )
        bmin = bands.groupBy("band_idx", "band_hash").agg(
            F.min("doc_id").alias("m")
        )
        hits = (
            bands.join(state, ["band_idx", "band_hash"], "left")
            .join(bmin, ["band_idx", "band_hash"])
            .filter(F.col("canon").isNotNull() | (F.col("m") < F.col("doc_id")))
            .select(
                "doc_id",
                F.least(
                    F.coalesce(F.col("canon"), F.lit(big)),
                    F.when(F.col("m") < F.col("doc_id"), F.col("m")).otherwise(
                        F.lit(big)
                    ),
                ).alias("cand"),
            )
        )
        hits.write.mode("append").parquet(str(work / "out"))
        merged = (
            state.unionByName(
                bands.select("band_idx", "band_hash", F.col("doc_id").alias("canon"))
            )
            .groupBy("band_idx", "band_hash")
            .agg(F.min("canon").alias("canon"))
        )
        # write-new-then-swap with an aside copy: a crash at any point
        # leaves either `state` or `state_prev` valid (never neither) —
        # see publish_incremental_state / recover_incremental_state.
        new_dir = work / f"state_e{epoch_id}"
        merged.write.mode("overwrite").parquet(str(new_dir))
        publish_incremental_state(work, new_dir)
        bands.unpersist()

    schema = StructType(
        [StructField("doc_id", LongType()), StructField("text", StringType())]
    )
    q = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src) + "/*.parquet")
        .writeStream.foreachBatch(merge_batch)
        .option("checkpointLocation", str(work / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return (
        spark.read.parquet(str(work / "out"))
        .groupBy("doc_id")
        .agg(
            F.min("cand").alias("dup_candidate_of"),
            F.count(F.lit(1)).cast("long").alias("n_band_hits"),
        )
        .orderBy("doc_id")
    )
