"""10× scale stress harness (~SF 1): build an offset-key union of the
sf0.1 tables in /tmp/bdec_sf1, then time representative heavy operators.

Usage: python tools/stress_sf1.py [query ...]
With no args runs the standard batch. A name the registry does not know
exits 2 before the build. Results are wall-clock + row counts
only (no oracle at this scale — correctness is the driver's sf0.01 gate;
this harness exists to catch plans that stop scaling, like the
embedding_near_dup wide-carry join it caught in round 6).

Builder notes: keys are offset by copy_index * 10_000_000 so FK structure
holds WITHIN each copy (customer/supplier/part are copied, not scaled, so
cross-copy FKs dangle — avoid stress queries that join them for copies >0).
The default 1 GiB local-mode heap GC-thrashes 6M-row shuffles; 24g is set.
"""

from __future__ import annotations

import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SRC = "/root/testdata/sf0.1"
DST = "/tmp/bdec_sf1"

STANDARD_BATCH = [
    "tpch_q1_pricing_summary",
    "events_ks_drift",
    "vocab_heavy_hitters_pigeonhole",
    "doc_dedup_minhash_lsh",
    "doc_dedup_portable_pipeline",
    "embedding_near_dup",
    "dataset_shuffle_deterministic",
    "graph_pagerank_salted",
    "doc_simhash_near_dup",
    "market_basket_rules",
    "orders_target_encoding",
    "window_dedup_rownum",
    "streaming_foreachbatch_rollup",
    "streaming_session_window",
    "streaming_dedup_watermark",
    # round-7 heavies
    "part_similarity_topk",
    "dedup_cascade_funnel",
    "orders_decile_lift",
    "udtf_analyze_kv_columns",
    "entity_resolution_fuzzy",
    # round-7 continuation heavies: token-stream fan-outs, per-order
    # collect+sort arrays, the wedge join, the char explode
    "vocab_pmi_collocations",
    "doc_bm25_topk",
    "lineitem_ordered_concat",
    "graph_link_prediction_jaccard",
    "vocab_char_coverage",
    "orders_cohort_ltv",
    # round-8 iterative heavies (VERDICT r8 #6): the Markov removal-effect
    # lattice solve and the multi-stage cascade (cascade already above);
    # events_markov_absorption_4step exercises the 4-step matrix unroll
    "events_markov_removal_attribution",
    "events_markov_absorption_4step",
    "events_growth_accounting_weekly",
    "events_topk_churn_drift",
    # round-9: DSIR broadcast scoring (new flagship) — at SF1 the scan has
    # 16 partitions, so readers.spread() must be a NO-OP here (the point)
    "doc_dsir_importance_select",
    "doc_boilerplate_line_strip",
    "events_watermark_lateness_profile",
    # round-9 later session: spectrum agg, window-pass pattern mining,
    # stateful-streaming LSH (stages its own single-file corpus copy)
    "vocab_good_turing_unseen_mass",
    "events_seq_pattern_support",
    "streaming_neardup_lsh",
]


def build(spark) -> None:
    from pyspark.sql import functions as F

    os.makedirs(DST, exist_ok=True)
    for t in ["region", "nation", "customer", "supplier", "part"]:
        if not os.path.exists(f"{DST}/{t}.parquet"):
            shutil.copy(f"{SRC}/{t}.parquet", f"{DST}/{t}.parquet")
    scaled = {
        "orders": ["o_orderkey", "o_custkey"],
        "lineitem": ["l_orderkey", "l_suppkey", "l_partkey"],
        "events": ["event_id", "user_id"],
        "documents": ["doc_id"],
        "embeddings": ["vec_id"],
    }
    for table, id_cols in scaled.items():
        out = f"{DST}/{table}.parquet"
        if os.path.exists(out):
            continue
        df = spark.read.parquet(f"{SRC}/{table}.parquet")
        u = None
        for i in range(10):
            d = df
            for c in id_cols:
                d = d.withColumn(c, F.col(c) + F.lit(i * 10_000_000))
            u = d if u is None else u.unionByName(d)
        u.repartition(16).write.mode("overwrite").parquet(out)
        print(f"built {table}: {spark.read.parquet(out).count()} rows")


def main() -> int:
    from pyspark.sql import SparkSession

    from breweries_data_engineering_case_spark.plans import registry

    # every name is checked before the (minutes-long) corpus build
    names = sys.argv[1:] or STANDARD_BATCH
    unknown = [n for n in names if n not in registry.QUERIES]
    if unknown:
        print(f"ERROR: not in registry: {unknown}", file=sys.stderr)
        return 2

    # r15: core count honors $SPARK_GRAFT_CPUS (default 16, the historical
    # value) so the SF1 heavy-tail scaling record (VERDICT r14 #6) can run
    # the same batch at 8 vs 32 cores; timing goes to the noop sink (guide
    # §1.4 — computes every column, no count-style column pruning),
    # best-of-N per query with per-query steal deltas recorded.
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "16")
    reps = int(os.environ.get("BDEC_SF1_REPS", "2"))
    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .config("spark.driver.memory", "24g")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.shuffle.partitions", "64")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    build(spark)

    def steal() -> int:
        try:
            with open("/proc/stat") as f:
                return int(f.readline().split()[8])
        except Exception:
            return 0

    for name in names:
        times, steals = [], []
        try:
            for _ in range(reps):
                spark.catalog.clearCache()
                s0 = steal()
                t0 = time.perf_counter()
                registry.QUERIES[name](spark, DST).write.format("noop").mode(
                    "overwrite"
                ).save()
                times.append(round(time.perf_counter() - t0, 1))
                steals.append(steal() - s0)
            print(
                f"{name}: best={min(times)}s cpus={cpus} "
                f"all={times} steal_deltas={steals}"
            )
        except Exception as ex:  # keep the batch going; report the failure
            print(f"{name}: ERROR {str(ex)[:200]}")
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
