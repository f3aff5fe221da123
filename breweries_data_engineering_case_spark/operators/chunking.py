"""Document chunking — the fan-out step of a training-data pipeline (long
documents → fixed-size token windows with overlap, ready for tokenization /
embedding).

Scale shape: one narrow projection materializes the token array ONCE per
document, then a single ``transform`` over a generated chunk-index sequence
slices windows out of that bound column reference — the lambda captures an
attribute, not an expression, so the tokenizer does NOT re-run per chunk
(the O(n²) trap with higher-order functions; see NOTES.md). The explode is
the only row-multiplying step and everything stays in whole-stage codegen —
no UDF, no shuffle.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .fuzzy_dedup import tokens


def chunk_documents(
    df: DataFrame, chunk_tokens: int = 64, overlap: int = 16
) -> DataFrame:
    """(doc_id, chunk_idx, chunk_text, n_tokens) — overlapping token windows
    of each (doc_id, text) row.

    Window i covers tokens [i*step, i*step + chunk_tokens) with
    step = chunk_tokens - overlap; the last window may be short. Every
    document yields at least one chunk (empty docs produce one empty chunk —
    filter upstream if undesired).
    """
    assert overlap < chunk_tokens, "overlap must be smaller than chunk_tokens"
    step = chunk_tokens - overlap
    base = df.select("doc_id", tokens("text").alias("__toks"))
    n = F.size("__toks")
    # same double-ceil formula as the DuckDB oracle so chunk counts agree
    k = F.greatest(
        F.ceil((n - F.lit(overlap)).cast("double") / F.lit(float(step))).cast("long"),
        F.lit(1).cast("long"),
    )

    def _chunk(i: Column) -> Column:
        window = F.slice(F.col("__toks"), i * step + 1, chunk_tokens)
        return F.struct(
            i.cast("long").alias("chunk_idx"),
            F.array_join(window, " ").alias("chunk_text"),
            F.size(window).cast("long").alias("n_tokens"),
        )

    return base.select(
        "doc_id",
        F.explode(F.transform(F.sequence(F.lit(0).cast("long"), k - 1), _chunk)).alias(
            "c"
        ),
    ).select("doc_id", "c.chunk_idx", "c.chunk_text", "c.n_tokens")
