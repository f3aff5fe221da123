"""Near-duplicate detection over text (LLM-pipeline extension).

Four families, each a standard large-scale training-data dedup technique:

- **Exact**: md5 fingerprint hash-groupBy (operators in registry:
  ``doc_dedup_exact``) — partial agg dedups map-side.
- **MinHash + LSH** (`minhash_signatures`, `minhash_lsh_pairs`): word-shingle
  sets → k seeded min-hashes → banded signatures → bucket-join candidates →
  exact Jaccard verify. The all-pairs O(N²) never materializes; the only
  shuffle is the bucket join on (band_idx, band_hash), whose fan-out is
  controlled by bands×rows.
- **SimHash** (`simhash64`): per-token hash sign-votes per bit → one 2^bits
  packed integer per document; near-dups share or almost-share the value.
  Everything is JVM array expressions — one map pass, no shuffle, no UDF.
- **N-gram Jaccard** (`ngram_jaccard_pairs`): exact set-similarity join for
  modest candidate sets (or verification of LSH candidates).

Determinism: MinHash has one hash base, engine-portable end to end —
md5-prefix token hashes, a polynomial-mod shingle roll and a polynomial
band hash over the band's min-hashes. DuckDB replays every stage
bit-for-bit, so every registry query built on it carries a value oracle
(signatures, banded pairs and keep lists alike); recall against exact
Jaccard is anchored in tests/test_minhash_ground_truth.py. SimHash and
Jaccard are built from md5/set algebra that DuckDB reproduces exactly, so
they are oracle-checked too.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame

from ..caching import cached
from pyspark.sql import functions as F


def tokens(c: str) -> Column:
    """Whitespace tokens of the trimmed text column ``c``."""
    return F.split(F.trim(F.col(c)), r"\s+")


# ---------------------------------------------------------------------------
# SQL-text expression builders (r14). Building these trees through the
# Column API costs hundreds of py4j round trips PER QUERY CONSTRUCTION
# (measured 0.5-2.2 s of pure driver time for the 48-hash signature
# pipeline); the same tree written as ONE SQL string parses JVM-side in
# ~10 ms. Results are bit-identical (verified per operator against the
# Column builds before the swap). The helpers below produce SQL TEXT; the
# public operators take a column name and wrap the text in F.expr(...).
# ---------------------------------------------------------------------------


def _sql_quote(name: str) -> str:
    return "`" + name.replace("`", "``") + "`"


def _sql_tokens(col_sql: str) -> str:
    return f"split(trim({col_sql}), '\\\\s+')"


def _sql_bind(arr_sql: str, var: str, body_sql: str) -> str:
    """Bind ``var`` once to the (array-typed) ``arr_sql`` and evaluate the
    array-returning ``body_sql`` against it — lambda binding, so the k
    references to ``var`` in the body do NOT re-evaluate ``arr_sql`` (the
    same per-row dedup the Column path gets from binding a python variable
    a constant number of times)."""
    return f"flatten(transform(array({arr_sql}), {var} -> {body_sql}))"


def _sql_word_shingles(col: str, n: int) -> str:
    toks = _sql_tokens(_sql_quote(col))
    if n == 1:
        return f"array_distinct({toks})"
    acc = "w"
    for k in range(1, n):
        shifted = f"slice(w, {k + 1}, greatest(size(w) - {k}, 0))"
        # zip_with pads the shorter side with NULL; concat_ws skips NULLs,
        # so the tail holds partial shingles — sliced off below
        acc = f"zip_with({acc}, {shifted}, (x, y) -> concat_ws(' ', x, y))"
    body = f"array_distinct(slice({acc}, 1, greatest(size(w) - {n - 1}, 0)))"
    return _sql_bind(toks, "w", body)


def word_shingles(c: str, n: int = 3) -> Column:
    """Distinct n-word shingles of the text column ``c`` (n=1 → token set).

    Built by zipping n shifted copies of the token array (``zip_with`` over
    ``slice``), so the token-split expression is referenced a CONSTANT number
    of times. Any per-element lambda that touches the tokens (via
    ``element_at`` or per-index ``slice``) re-evaluates the split for every
    element — O(len²) per document, measured 2-8× slower at 5k docs.
    One SQL-text parse (one py4j call)."""
    return F.expr(_sql_word_shingles(c, n))


def jaccard(a: Column, b: Column) -> Column:
    """Set Jaccard |A∩B| / |A∪B| in exact integer arithmetic → one double
    division (cross-engine deterministic)."""
    inter = F.size(F.array_intersect(a, b)).cast("double")
    union = F.size(F.array_union(a, b)).cast("double")
    return F.when(union == 0, F.lit(0.0)).otherwise(inter / union)


#: Mersenne prime for the universal hash family. Operands stay < 2^31, so
#: a*h+b < 2^62 — no long overflow even under ANSI mode.
_MH_P = (1 << 31) - 1


def _mh_coeffs(num_hashes: int) -> list[tuple[int, int]]:
    import random

    rng = random.Random(42)
    return [(rng.randrange(1, _MH_P), rng.randrange(0, _MH_P)) for _ in range(num_hashes)]


#: Rolling-hash base for combining token hashes into shingle hashes. Any
#: odd constant < 2^31 works; h*B + h' stays < 2^62 (no long overflow).
_MH_B = 1_000_003


def shingle_hashes(c: str, n: int = 3) -> Column:
    """Distinct n-gram shingle hashes WITHOUT materializing shingle strings.

    Each token is hashed once; an n-gram's hash is the polynomial
    roll h = ((h1·B + h2)·B + h3) mod p over n shifted copies of the token-
    hash array (same zip_with-over-slice shape as ``word_shingles``). This
    replaces |shingles| string concats + string hashes per doc with |tokens|
    string hashes + pure long arithmetic — measured ~2× cheaper on the
    MinHash signature pipeline, identical LSH semantics (hash collisions are
    what MinHash tolerates by construction).

    The token hash is the md5 prefix of functions/hashing.py and everything
    downstream is modular arithmetic both engines share, so the whole
    MinHash pipeline is DuckDB-replicable bit-for-bit (registry
    ``doc_minhash_portable_sig``)."""
    return F.array_distinct(shingle_hash_sequence(c, n))


#: Per-token hash lambda: the md5-prefix hash of functions/hashing, reduced
#: mod the Mersenne prime.
_SQL_TOKEN_HASH = (
    f"t -> pmod(cast(conv(substring(md5(t), 1, 15), 16, 10) as bigint), {_MH_P})"
)


def _sql_band_hash(b: int, rows: int) -> str:
    """Polynomial band hash of band ``b``: the mod-P roll ((m_i·B + m_i+1)·B
    + ...) over its ``rows`` min-hash columns m{b·rows} .. m{b·rows+rows-1}."""
    h = f"m{b * rows}"
    for r in range(1, rows):
        h = f"pmod({h} * {_MH_B} + m{b * rows + r}, {_MH_P})"
    return h


def _sql_shingle_hash_sequence(col: str, n: int) -> str:
    th = f"transform({_sql_tokens(_sql_quote(col))}, {_SQL_TOKEN_HASH})"
    if n == 1:
        return th
    acc = "th"
    for k in range(1, n):
        shifted = f"slice(th, {k + 1}, greatest(size(th) - {k}, 0))"
        # zip_with pads the shorter side with NULL → partial tail, sliced off
        acc = f"zip_with({acc}, {shifted}, (x, y) -> pmod(x * {_MH_B} + y, {_MH_P}))"
    body = f"slice({acc}, 1, greatest(size(th) - {n - 1}, 0))"
    return _sql_bind(th, "th", body)


def shingle_hash_sequence(c: str, n: int = 3) -> Column:
    """POSITIONAL n-gram hash sequence — the same polynomial roll as
    ``shingle_hashes`` but WITHOUT the final distinct, so element i is the
    hash of the n-gram starting at token i (duplicates preserved). This is
    what position-sensitive algorithms need (winnowing's window-min runs
    over the positional sequence; set-based MinHash wants the distinct
    form). One SQL-text parse of the text column ``c``."""
    return F.expr(_sql_shingle_hash_sequence(c, n))


#: (SparkContext identity, num_hashes) → the k parsed min-aggregate Columns.
#: The aggregate expressions are STATIC (seeded coefficients, the literal
#: column name "h") — r15: even as one F.expr parse each, k=48 of them cost
#: ~0.2 s of py4j round trips per query construction, re-parsing the same
#: 48 strings every time. Column objects are immutable expression handles,
#: safe to reuse across frames/queries within one JVM; keying on the
#: active SparkContext's applicationId drops stale handles if the context
#: is ever restarted. Plan metadata only — nothing about data is cached.
_MH_AGG_MEMO: dict = {}


def _mh_agg_cols(num_hashes: int) -> list[Column]:
    from pyspark import SparkContext

    sc = SparkContext._active_spark_context
    app = sc.applicationId if sc is not None else None
    key = (app, num_hashes)
    cols = _MH_AGG_MEMO.get(key)
    if cols is None:
        cols = [
            F.expr(f"min(pmod(h * {a}L + {b}L, {_MH_P}))").alias(f"m{i}")
            for i, (a, b) in enumerate(_mh_coeffs(num_hashes))
        ]
        if len(_MH_AGG_MEMO) > 8:  # bound growth across context restarts
            _MH_AGG_MEMO.clear()
        _MH_AGG_MEMO[key] = cols
    return cols


def _minhash_cols(df: DataFrame, id_out: str, num_hashes: int) -> DataFrame:
    """(id, m0..m{k-1}) from a df of (id, __h array): explode the base
    hashes and take k min-aggregates. The explode+hash-aggregate shape stays
    inside whole-stage codegen (a 64-wide nest of array_min(transform(...))
    does not — it blows the codegen budget and falls back to interpretation,
    ~10× slower measured). The budget binds in the vanilla session the
    registry is checked under (``tools/replica.py``); ``session.get_spark``
    evaluates interpreted anyway. Partial aggregation means the shuffle carries one
    64-long state per doc per partition. A vectorized-numpy pandas-UDF twin
    was measured 3-5× SLOWER end-to-end at sf0.1: the Arrow transfer of the
    per-doc hash arrays dominates, and a UDF column referenced k times in a
    projection is re-evaluated k times. All-JVM is the right call here."""
    exploded = df.select(F.col(id_out).alias(id_out), F.explode("__h").alias("h"))
    # SQL-text aggregates (r14): k Column-API min((h*a+b)%P) builds cost
    # ~45 ms of py4j each (2.2 s at k=48, per construction); the F.expr
    # form is one JVM-side parse per aggregate. `%` == pmod here: h ≥ 0.
    # r15: the parsed Columns are memoized per (context, k) — _mh_agg_cols.
    return exploded.groupBy(id_out).agg(*_mh_agg_cols(num_hashes))


def minhash_signatures(
    df: DataFrame,
    num_hashes: int = 64,
    shingle_n: int = 3,
) -> DataFrame:
    """(id, sig: array<bigint>) over (doc_id, text) — sig[i] = min over
    shingles of the i-th universal hash of the shingle. Docs with no
    shingles produce no row (explode of an empty array)."""
    from ..sources.readers import spread

    # The per-token hash roll is CPU-bound; a single-file scan upstream
    # (one row group = one task) would run it on one core regardless of
    # cluster width. spread() is a no-op when scan parallelism is adequate.
    based = spread(df.select(F.col("doc_id").alias("id"), F.col("text"))).select(
        "id",
        shingle_hashes("text", shingle_n).alias("__h"),
    )
    mins = _minhash_cols(based, "id", num_hashes)
    return mins.select(
        "id", F.array(*[F.col(f"m{i}") for i in range(num_hashes)]).alias("sig")
    )


def minhash_lsh_candidates(
    df: DataFrame,
    num_hashes: int = 48,
    bands: int = 12,
    shingle_n: int = 3,
) -> DataFrame:
    """Candidate pair stage of MinHash-LSH over (doc_id, text) (id_a < id_b,
    deduped, persisted).

    The banded-signature self-join WITHOUT the exact-Jaccard verify —
    exposed separately so the candidate set itself can be evaluated
    (precision/recall vs exact ground truth, registry
    ``doc_lsh_candidate_eval``) and reused by ``minhash_lsh_pairs``.
    """
    from ..sources.readers import spread

    rows_per_band = num_hashes // bands
    # fan a single-task upstream scan out before the CPU-bound hash roll
    # (no-op when scan parallelism is adequate — see readers.spread)
    based = spread(df.select(F.col("doc_id").alias("id"), F.col("text"))).select(
        "id",
        shingle_hashes("text", shingle_n).alias("__h"),
    )
    with_sig = _minhash_cols(based, "id", num_hashes)
    # one SQL parse for the whole band array (r14) — the Column build was
    # ~8 py4j calls per band per construction
    band_arr = F.expr(
        "array("
        + ", ".join(
            f"named_struct('band_idx', {b}, 'band_hash', {_sql_band_hash(b, rows_per_band)})"
            for b in range(bands)
        )
        + ")"
    )
    # skinny (id, band_idx, band_hash) — the self-join and the pair dedup
    # never carry shingle payloads; shingles are re-joined only for the
    # (small) candidate set. At scale this is the difference between
    # shuffling ids and shuffling whole documents. The self-join below
    # references this twice; persist() makes the tokenize+hash+signature
    # pipeline run ONCE (first side populates the cache, second side reads
    # it). A lazy persist beats eager localCheckpoint here ~1.5× end-to-end:
    # the checkpoint forced a separate synchronous job (plus its own codegen
    # pass) before the join could even be planned, while persist folds the
    # materialization into the join's own stages. Bytes are bands-per-doc ×
    # 3 longs — MEMORY_AND_DISK eviction is a non-issue at any corpus size.
    banded = (
        with_sig.select("id", F.explode(band_arr).alias("b"))
        .select("id", "b.band_idx", "b.band_hash")
        .transform(cached)
    )
    left = banded.alias("l")
    right = banded.alias("r")
    cand = (
        left.join(
            right,
            on=[
                F.col("l.band_idx") == F.col("r.band_idx"),
                F.col("l.band_hash") == F.col("r.band_hash"),
                F.col("l.id") < F.col("r.id"),
            ],
        )
        .select(F.col("l.id").alias("id_a"), F.col("r.id").alias("id_b"))
        .dropDuplicates(["id_a", "id_b"])
        # candidates are typically referenced several times downstream
        # (pair list + two id fetches in the verify stage); without
        # materialization, Spark recomputes the whole signature + band-join
        # pipeline per reference. persist() computes it once; the pair set
        # is tiny (output scale), so caching it is free at any corpus size.
        .transform(cached)
    )
    return cand


def minhash_lsh_pairs(
    df: DataFrame,
    num_hashes: int = 48,
    bands: int = 12,
    shingle_n: int = 3,
    threshold: float = 0.7,
) -> DataFrame:
    """Verified near-dup pairs over (doc_id, text) (id_a < id_b,
    jaccard >= threshold).

    bands×rows = num_hashes; candidate pairs come from any band collision,
    then exact shingle-set Jaccard verifies (no false positives; false
    negatives bounded by the (1-t^r)^b LSH curve). Defaults 48 hashes /
    12 bands × 4: P(candidate | j=0.7) = 1-(1-0.7⁴)¹² ≈ 0.96, measured
    identical output to 64/16 on the test corpus at ~25% less signature
    cost; recall vs exact Jaccard asserted in tests/test_minhash_ground_truth.py.
    Every stage through the verified pairs is DuckDB-replicable (registry
    ``doc_dedup_minhash_lsh`` and ``doc_minhash_portable_lsh_pairs``).
    """
    sh = word_shingles("text", shingle_n)
    cand = minhash_lsh_candidates(
        df, num_hashes=num_hashes, bands=bands, shingle_n=shingle_n
    )
    # verify: shingle sets are recomputed ONLY for candidate ids (semi-join
    # first, shingle expression after) — never a second full-corpus pass
    cand_ids = (
        cand.select(F.col("id_a").alias("id"))
        .unionByName(cand.select(F.col("id_b").alias("id")))
        .distinct()
    )
    sub = (
        df.join(F.broadcast(cand_ids), F.col("doc_id") == cand_ids["id"], "left_semi")
        .select(F.col("doc_id").alias("id"), sh.alias("shingles"))
    )
    sa = sub.select(F.col("id").alias("id_a"), F.col("shingles").alias("__sa"))
    sb = sub.select(F.col("id").alias("id_b"), F.col("shingles").alias("__sb"))
    verified = (
        cand.join(sa, "id_a")
        .join(sb, "id_b")
        .select("id_a", "id_b", jaccard(F.col("__sa"), F.col("__sb")).alias("jaccard"))
    )
    return verified.filter(F.col("jaccard") >= threshold)


def simhash(df: DataFrame, bits: int = 32) -> DataFrame:
    """(id, simhash) over (doc_id, text) — per-bit sign votes over md5-based
    token hashes,
    packed into a BIGINT. Pure map-side expressions (fold over the token
    hash array per bit); near-identical documents land on equal or
    near-equal values (Hamming distance ≈ edit distance)."""
    # Materialize the md5 token-hash array as a BOUND COLUMN before the
    # per-bit folds: each of the 32 vote aggregates references the array,
    # and if they capture the raw `transform(split(...), md5...)` EXPRESSION
    # the hashing subtree is duplicated 32× in the plan (md5 per token per
    # bit — measured ~3× slower at sf0.1). Folding over an attribute makes
    # the hashing run once per row. (Same gotcha as chunking.py; NOTES.md.)
    from ..sources.readers import spread

    # md5-per-token is CPU-bound: fan a single-task upstream scan out to
    # the cluster's cores first (no-op when parallelism is adequate).
    hashed = spread(df.select(F.col("doc_id").alias("id"), F.col("text"))).select(
        "id",
        F.expr(
            f"transform({_sql_tokens(_sql_quote('text'))}, "
            "t -> cast(conv(substring(md5(t), 1, 15), 16, 10) as bigint))"
        ).alias("__hashes"),
    )
    # bit i of (positive) h as modulo arithmetic — shiftright cannot take a
    # lambda-variable Column, and h < 2^60 is always positive, so
    # (h % 2^(i+1)) >= 2^i ⇔ (h >> i) & 1. One SQL parse for the whole
    # 32-vote pack (r14): the Column-API fold loop cost ~0.8 s of py4j per
    # construction, the SQL text parses in ~10 ms — identical tree.
    votes = " + ".join(
        f"if(aggregate(__hashes, 0L, (acc, h) -> acc + "
        f"if(pmod(h, {1 << (i + 1)}L) >= {1 << i}L, 1L, -1L)) > 0, "
        f"{1 << i}L, 0L)"
        for i in range(bits)
    )
    return hashed.select("id", F.expr(votes).alias("simhash"))


def simhash_near_dup_pairs(
    df: DataFrame,
    bits: int = 32,
    bands: int = 4,
    max_hamming: int = 3,
) -> DataFrame:
    """(id_a, id_b, hamming) — pairs of (doc_id, text) rows whose SimHash
    Hamming distance is ≤ ``max_hamming``, via banded LSH + exact verify.

    Pigeonhole guarantee: ``max_hamming < bands`` means any qualifying pair
    differs in fewer bits than there are bands, so at least one band is
    untouched and the pair collides there — **recall is exactly 1.0**, the
    output is bit-identical to the exact all-pairs result, and the operator
    is fully oracle-checkable (unlike probabilistic MinHash-LSH).

    Scale shape: the self-join carries only (id, simhash, band_idx,
    band_val) — the simhash rides along so verification needs no re-join
    with the corpus. Cost model: band values have ``2^(bits/bands)``
    distinct values, so candidate volume is ~N²·bands/2^(bits/bands); with
    32/4 that divisor is 256 — fine up to ~10⁶ docs per partition-able
    corpus slice. At 100 TB use ``bits=64, bands=8`` (16-bit bands → 65 536
    buckets) — same code path, same guarantee for hamming ≤ 7."""
    assert max_hamming < bands, "pigeonhole guarantee requires max_hamming < bands"
    band_bits = bits // bands
    mask = (1 << band_bits) - 1
    sh = simhash(df, bits)
    banded = sh.select(
        "id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("band_idx"),
                        F.shiftright("simhash", i * band_bits)
                        .bitwiseAND(F.lit(mask))
                        .alias("band_val"),
                    )
                    for i in range(bands)
                ]
            )
        ).alias("b"),
    ).select("id", "simhash", "b.band_idx", "b.band_val")
    left = banded.alias("l")
    right = banded.alias("r")
    cand = (
        left.join(
            right,
            (F.col("l.band_idx") == F.col("r.band_idx"))
            & (F.col("l.band_val") == F.col("r.band_val"))
            & (F.col("l.id") < F.col("r.id")),
        )
        .select(
            F.col("l.id").alias("id_a"),
            F.col("r.id").alias("id_b"),
            F.col("l.simhash").alias("__sa"),
            F.col("r.simhash").alias("__sb"),
        )
        .distinct()  # a pair may collide in several bands
    )
    hamming = F.bit_count(F.col("__sa").bitwiseXOR(F.col("__sb"))).cast("long")
    return (
        cand.withColumn("hamming", hamming)
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    shingle_n: int = 1,
    threshold: float = 0.5,
) -> DataFrame:
    """Exact all-pairs n-gram Jaccard over (doc_id, text) (id_a < id_b,
    jaccard >= t).

    O(N²) — for bounded candidate sets or small corpora; the scale path is
    minhash_lsh_pairs. Set ops (array_intersect/union) are distinct-element
    semantics in both Spark and DuckDB."""
    sh = word_shingles("text", shingle_n)
    base = df.select(F.col("doc_id").alias("id"), sh.alias("sh"))
    a = base.alias("a")
    b = base.alias("b")
    pairs = a.join(b, F.col("a.id") < F.col("b.id")).select(
        F.col("a.id").alias("id_a"),
        F.col("b.id").alias("id_b"),
        jaccard(F.col("a.sh"), F.col("b.sh")).alias("jaccard"),
    )
    return pairs.filter(F.col("jaccard") >= threshold)


def minhash_band_exprs(
    df: DataFrame,
    num_hashes: int = 16,
    bands: int = 4,
) -> DataFrame:
    """(doc_id, band_idx, band_hash) of the text's 3-word shingles via PURE
    MAP expressions — no explode+
    groupBy signature aggregation, so it works unchanged on a STREAMING
    frame (stateless stage ahead of a stateful band-bucket operator) as
    well as in batch. Same md5 token roll and polynomial band hash as
    ``minhash_lsh_candidates``. Each min-hash is array_min(transform(...))
    over a shingle-hash column bound ONCE — 16 traversals stays inside the codegen budget (64
    would not; see _minhash_cols for the batch explode+agg shape). The budget
    binds in the vanilla, whole-stage-codegen session of ``tools/replica.py``;
    ``session.get_spark`` evaluates interpreted.

    The factory for the per-hash lambda is required: pyspark counts lambda
    parameters, so default-arg capture breaks higher-order binding."""
    rpb = num_hashes // bands
    based = df.select(
        F.col("doc_id"),
        shingle_hashes("text", 3).alias("__sh"),
    ).filter(F.size("__sh") > 0)

    # SQL-text per-hash mins and band rolls (r14): the Column-API builds
    # (16 transform lambdas + 4 chained band rolls) cost ~0.5 s of py4j per
    # construction; each F.expr is one JVM-side parse. `%` == pmod: h ≥ 0.
    sig = based.select(
        "doc_id",
        *[
            F.expr(
                f"array_min(transform(__sh, h -> pmod(h * {a}L + {b}L, {_MH_P})))"
            ).alias(f"m{i}")
            for i, (a, b) in enumerate(_mh_coeffs(num_hashes))
        ],
    )

    band_arr = F.expr(
        "array("
        + ", ".join(
            f"named_struct('band_idx', {b}L, 'band_hash', {_sql_band_hash(b, rpb)})"
            for b in range(bands)
        )
        + ")"
    )
    return sig.select("doc_id", F.explode(band_arr).alias("e")).select(
        "doc_id", "e.band_idx", "e.band_hash"
    )
