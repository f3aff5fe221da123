"""Text-analysis expressions for large-scale training-data pipelines.

All pure Column expressions (JVM-side, codegen) — language ID, quality
scoring, token counting, fingerprinting. These extend the reference's surface
(it has no text functions, SURVEY.md §2.8) toward the LLM-data workload the
engine targets; they run over the shared ``documents`` table.

Determinism: every function is per-row arithmetic/regex (no aggregation), so
results are bit-identical across engines — each has an exact SQL oracle.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

#: Tiny per-language stopword marker lists for the n-gram/stopword heuristic.
#: Deliberately small + deterministic (no external model); real deployments
#: swap in fastText et al. via the multimodal UDF path.
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "to", "is"),
    "es": ("el", "la", "de", "que", "los"),
    "de": ("der", "die", "und", "das", "ist"),
    "fr": ("le", "la", "les", "et", "est"),
}


def _col(c: Column | str) -> Column:
    return F.col(c) if isinstance(c, str) else c


def token_count(c: Column | str) -> Column:
    """Whitespace token count; 0 for empty/blank text."""
    t = F.trim(_col(c))
    return F.when(t == "", F.lit(0)).otherwise(F.size(F.split(t, r"\s+"))).cast("long")


# SQL-text builders (r14): the Column-API versions of word_hits/lang_id/
# quality_score cost ~100+ py4j round trips per construction (the argmax
# fold references each language's 5-regex score three times per level);
# the same tree as ONE SQL string parses JVM-side in milliseconds, so these
# three take a column name and build SQL text.


def _sql_quote(name: str) -> str:
    return "`" + name.replace("`", "``") + "`"


def _sql_word_hits(col_sql: str, words: tuple[str, ...]) -> str:
    terms = " + ".join(
        f"if({col_sql} rlike '(^|\\\\s){w}(\\\\s|$)', 1, 0)" for w in words
    )
    return f"cast(({terms}) as int)"


def word_hits(c: str, words: tuple[str, ...]) -> Column:
    """How many of ``words`` occur as whole tokens in the text (0..len)."""
    return F.expr(_sql_word_hits(_sql_quote(c), words))


def lang_id(c: str) -> Column:
    """Heuristic language ID: argmax of per-language stopword hits, 'und' when
    nothing matches. Ties break by the fixed language order (en,es,de,fr)."""
    col_sql = _sql_quote(c)
    best_lang, best_score = "'und'", "0"
    # fixed fold order ⇒ deterministic tie-break: earlier lang wins ties
    for lang, ws in LANG_MARKERS.items():
        score = _sql_word_hits(col_sql, ws)
        take = f"({score}) > ({best_score})"
        best_lang = f"if({take}, '{lang}', {best_lang})"
        best_score = f"if({take}, {score}, {best_score})"
    return F.expr(best_lang)


def quality_score(c: str) -> Column:
    """Composite [0,1] quality score: length signal + alpha ratio + English
    stopword presence − punctuation excess. Deterministic per-row double
    arithmetic."""
    t = _sql_quote(c)
    n_tok = (
        f"cast(case when trim({t}) = '' then 0 "
        f"else size(split(trim({t}), '\\\\s+')) end as bigint)"
    )
    len_sig = f"least(cast({n_tok} as double) / 100.0D, 1.0D)"
    alpha = (
        f"case when length({t}) = 0 then 0.0D else "
        f"cast(length(regexp_replace({t}, '[^A-Za-z]', '')) as double)"
        f" / cast(length({t}) as double) end"
    )
    punct = (
        f"case when length({t}) = 0 then 0.0D else "
        f"cast(length(regexp_replace({t}, '[^.,;:!?\\'\"()\\\\[\\\\]-]', ''))"
        f" as double) / cast(length({t}) as double) end"
    )
    stop_sig = (
        f"least(cast({_sql_word_hits(t, LANG_MARKERS['en'])} as double) / 3.0D, 1.0D)"
    )
    return F.expr(
        f"greatest(0.0D, least(1.0D, 0.4D * ({len_sig}) + 0.4D * ({alpha})"
        f" + 0.2D * ({stop_sig}) - 0.2D * ({punct})))"
    )


def normalize_text(c: Column | str) -> Column:
    """Canonical form for fingerprinting: lowercase, collapse whitespace, trim."""
    return F.trim(F.regexp_replace(F.lower(_col(c)), r"\s+", " "))


def fingerprint(c: Column | str) -> Column:
    """Deterministic document fingerprint: md5 of the normalized text."""
    return F.md5(normalize_text(c))
