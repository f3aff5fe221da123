"""Driver-contract query registry.

One entry per implemented operator from SURVEY.md §2 (+ extension operators).
Each query is a ``(spark, sf_dir) -> DataFrame`` callable paired with an ANSI
SQL oracle that DuckDB runs over the same parquet tables; the driver compares
row count + schema + order-insensitive value hash at sf0.01.

Cross-engine determinism rules used throughout (see SURVEY.md §7 traps):

- **Float sums are never emitted raw.** IEEE double summation order differs
  between engines, so any SUM over doubles goes through
  ``CAST(x AS DECIMAL(18,s))`` per row (deterministic rounding of a
  deterministic per-row value), exact decimal accumulation, then a final cast
  back to DOUBLE. Both engines produce bit-identical doubles.
- **Raw event timestamps are never emitted.** The testdata carries true
  nanosecond timestamps; Spark truncates to micros. Queries emit
  ``date_trunc`` / DATE casts, which agree.
- **Every computed column is aliased identically** in the Spark plan and the
  oracle SQL (the driver sorts columns by name before hashing).
- **Ties are always broken deterministically** (explicit unique ORDER BY
  columns) wherever row_number/top-k is involved.

Every query is registered by ``@register`` (``qshared.register``) in its
domain module; importing the modules below is the whole registry. Listing
order is import order, except that ``_WINDOW_PRIORITY`` is seated first.
"""

from __future__ import annotations

# domain modules register their queries on import (side effect)
from . import (  # noqa: F401
    q_parity, q_tpch, q_orders, q_lineitem, q_events, q_events_stats,
    q_docs, q_corpus, q_embeddings, q_multimodal, q_graph,
)
from .qshared import ORACLES, QUERIES, QueryFn


# ---------------------------------------------------------------------------
# driver-window curation
# ---------------------------------------------------------------------------
# The driver correctness-checks the FIRST 50 registry entries per round
# (verified round 1: checked set == list(QUERIES)[:50]). Registration order
# is import order (domain module, then position in the module); this list
# overrides it so that every query accumulates a recorded driver row across
# rounds: queries with a green CORRECTNESS_r01 row rotate out, queries with
# no row yet (r01 tail), a failed/changed row, or new this round rotate in.
_WINDOW_PRIORITY: list[str] = [
    # --- round 15 window ---
    # VERDICT r14 #2: the round-14 optimization rewrote the execution
    # strategy of 13 queries (8 driver-side lattices + the fuzzy-dedup
    # four + the text.py SQL-text conversion behind llm_curation /
    # doc_lang_id / doc_quality_score), but the r14 driver window — the
    # oldest-evidence rotation the r13 verdict mandated — contained none
    # of them, so their oracle evidence is builder-run only
    # (REPLICA_r14.json + per-rewrite 3-SF replicas). Seat every
    # rewritten query at the head so CORRECTNESS_r15.json certifies them
    # driver-grade.
    "events_markov_removal_attribution",
    "events_markov_absorption_4step",
    "events_shapley_attribution",
    "model_isotonic_calibration",
    "embedding_kcenter_greedy_init",
    "kmeans_lloyd_converge_int",
    "orders_wagner_whitin_lotsize",
    "tpch_q1_pricing_summary",
    "doc_dedup_minhash_lsh",
    "dedup_cascade_funnel",
    "doc_neardup_incremental_snapshot",
    "doc_dedup_portable_pipeline",
    "llm_curation_pipeline_end_to_end",
    "doc_lang_id",
    "doc_quality_score",
    # Maintenance rotation (standing, VERDICT r13 #1): the 35 names whose
    # latest driver evidence is OLDEST per tools/evidence_ledger.py
    # --next-window at round-15 start (r04-vintage head; all 465 registry
    # queries hold green evidence, zero red, zero zero-evidence). The
    # r14 window rotated out; prior windows recoverable from git history
    # and the CORRECTNESS_r*.json records.
    "tpch_q22_dormant_customers",
    "range_join_value_bands",
    "window_rank_distribution",
    "csv_scan",
    "streaming_dedup_watermark",
    "doc_simhash_near_dup",
    "join_salted_skew",
    "doc_chunking",
    "dataset_split_hash",
    "doc_filter_pipeline",
    "doc_token_count_bpe",
    "doc_rolling_fingerprint",
    "tpch_q8_market_share",
    "sorted_scan_prune",
    "stratified_sample_hash",
    "events_time_rollup",
    "events_funnel_match",
    "events_running_total",
    "events_retention_cohorts",
    "events_value_mad_outliers",
    "market_basket_pairs",
    "doc_shared_span_flags",
    "lineitem_corr_qty_price",
    "events_scd2_intervals",
    "doc_dedup_incremental",
    "ann_cosine_topk_lsh",
    "multimodal_feature_extract",
    "rest_paginated_ingest",
    "multimodal_real_codec_extract",
    "multimodal_frame_sample",
    "multimodal_resize",
    "tpch_q15_top_supplier",
    "embedding_semantic_dedup",
    "doc_pack_sequences",
    "events_variant_extract",
]


def _apply_window_priority() -> None:
    missing = [n for n in _WINDOW_PRIORITY if n not in QUERIES]
    assert not missing, f"_WINDOW_PRIORITY names unknown queries: {missing}"
    ordered = _WINDOW_PRIORITY + [n for n in QUERIES if n not in _WINDOW_PRIORITY]
    q = {n: QUERIES[n] for n in ordered}
    QUERIES.clear()
    QUERIES.update(q)
    o = {n: ORACLES[n] for n in ordered if n in ORACLES}
    ORACLES.clear()
    ORACLES.update(o)


_apply_window_priority()


def queries() -> dict[str, QueryFn]:
    return dict(QUERIES)


def oracles() -> dict[str, str]:
    return dict(ORACLES)
