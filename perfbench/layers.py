"""Which program names are wrapped, and how spans become per-layer metrics.

Every per-layer figure is a mean per operation of the timed loop, where an
operation is one ``plans.pipeline.run`` (medallion_daily) or one registry
query constructed and executed (lake_queries). Spark counters of a span
include the jobs of its descendants.
"""

from __future__ import annotations

import importlib
import statistics
from pathlib import Path

from spans import SPARK_COUNTERS, Span, Tracer

PKG = "breweries_data_engineering_case_spark"
Q_MODULES = ("q_corpus", "q_docs", "q_embeddings", "q_events", "q_events_stats", "q_graph",
             "q_lineitem", "q_multimodal", "q_orders", "q_parity", "q_tpch", "qshared")

# span name -> metric prefix for the Spark counters attributed to it
SPARK_FAMILIES = {
    "plans.pipeline.run": "plans.pipeline",
    "plans.silver.transform_silver": "plans.silver",
    "plans.gold.aggregate_gold": "plans.gold",
    "plans.quality.run_checks": "plans.quality",
    "sources.writers.write_partitioned_parquet": "sources.writers",
    "plans.registry.construct": "plans.registry.construct",
    "plans.registry.execute": "plans.registry.execute",
}
SPARK_METRICS = ("jobs", "tasks", "shuffle_write_bytes", "spill_bytes", "executor_run_s",
                 "busy_core_fraction")
WRITE_SPANS = ("sources.writers.write_partitioned_parquet", "sources.writers.idempotent_date_overwrite")


def _mod(name: str):
    return importlib.import_module(f"{PKG}.{name}")


def _files(root: Path) -> dict[str, tuple[int, int]]:
    if not root.exists():
        return {}
    out = {}
    for f in root.rglob("*.parquet"):
        st = f.stat()
        out[str(f)] = (st.st_size, st.st_mtime_ns)
    return out


def tree_bytes(root: Path) -> int:
    return sum(f.stat().st_size for f in root.rglob("*") if f.is_file()) if root.exists() else 0


def install(tr: Tracer) -> None:
    """Wrap the names each calling module binds."""
    session = _mod("session")
    pipeline = _mod("plans.pipeline")
    silver = _mod("plans.silver")
    gold = _mod("plans.gold")
    writers = _mod("sources.writers")

    tr.wrap(session, "get_spark", "session.get_spark")
    tr.wrap(pipeline, "run", "plans.pipeline.run")

    def bronze_before(s: Span, args, kwargs):
        s.attrs["bronze_before"] = tree_bytes(Path(args[1]) / f"ingestion_date={args[2]}")

    def bronze_after(s: Span, args, kwargs, out):
        s.attrs["pages"], s.attrs["records"] = out
        s.attrs["bronze_bytes"] = (tree_bytes(Path(args[1]) / f"ingestion_date={args[2]}")
                                   - s.attrs.pop("bronze_before"))

    tr.wrap(pipeline, "ingest_to_bronze", "sources.rest.ingest_to_bronze",
            before=bronze_before, after=bronze_after)
    tr.wrap(pipeline, "transform_silver", "plans.silver.transform_silver",
            after=lambda s, a, k, out: s.attrs.__setitem__("rows", out[0]))
    tr.wrap(pipeline, "aggregate_gold", "plans.gold.aggregate_gold")

    def checks_after(s: Span, args, kwargs, out):
        s.attrs["rows"] = next((r.observed for r in out if r.name == "row_count > 0"), 0)

    tr.wrap(pipeline, "run_checks", "plans.quality.run_checks", after=checks_after)

    def write_target(name: str, args) -> Path:
        if name == WRITE_SPANS[1]:
            return Path(args[1]) / f"ingestion_date={args[2]}"
        return Path(args[1])

    def write_hooks(name: str):
        def before(s: Span, args, kwargs):
            s.attrs["files_before"] = _files(write_target(name, args))

        def after(s: Span, args, kwargs, out):
            before_files = s.attrs.pop("files_before")
            new = {f: v for f, v in _files(write_target(name, args)).items()
                   if before_files.get(f) != v}
            s.attrs["files"] = len(new)
            s.attrs["bytes"] = sum(v[0] for v in new.values())
            s.attrs["dirs"] = len({str(Path(f).parent) for f in new})

        return before, after

    for mod, attr, name in (
        (silver, "write_partitioned_parquet", WRITE_SPANS[0]),
        (gold, "write_partitioned_parquet", WRITE_SPANS[0]),
        (gold, "idempotent_date_overwrite", WRITE_SPANS[1]),
        (writers, "write_partitioned_parquet", WRITE_SPANS[0]),
    ):
        b, a = write_hooks(name)
        tr.wrap(mod, attr, name, before=b, after=a)
    tr.wrap(silver, "json_array_scan", "sources.readers.json_array_scan")
    tr.wrap(gold, "parquet_scan", "sources.readers.parquet_scan")
    # imported at call time inside the staging callers, so the module binding is the one
    tr.wrap(writers, "stage_bucketed_table", "sources.writers.stage_bucketed_table")
    for q in Q_MODULES:
        m = _mod(f"plans.{q}")
        if hasattr(m, "table_scan"):
            tr.wrap(m, "table_scan", "sources.readers.table_scan")
        if hasattr(m, "cached"):
            tr.wrap(m, "cached", "caching.cached")


def _mean(xs: list[float]) -> float:
    return statistics.fmean(xs) if xs else 0.0


def derive(tr: Tracer, ops: list[Span], spark_groups: dict[str, dict[str, float]],
           cores: int, queries: list[str], storage: list[tuple[int, int]],
           lake_ratio: float = 0.0) -> dict[str, tuple[float, str]]:
    """Per-layer metrics from the spans of the timed operations ``ops``.

    Every name is always present (0 where a workload does not use the layer),
    so each traced run prints the same set."""
    kids = tr.children()
    incl = tr.inclusive_spark(spark_groups)
    op_ids = {o.id for o in ops}
    n_ops = max(1, len(ops))
    outer = {name: [s for s in tr.outermost(name) if s.op in op_ids]
             for name in {s.name for s in tr.spans if s.op in op_ids}}

    def spans(name: str) -> list[Span]:
        return outer.get(name, [])

    def per_op(values: list[float]) -> float:
        return sum(values) / n_ops

    m: dict[str, tuple[float, str]] = {}
    gs = tr.outermost("session.get_spark")
    m["session.get_spark_s"] = (gs[0].duration if gs else 0.0, "s")

    # medallion: pipeline and its stages
    runs = spans("plans.pipeline.run")
    new_ops = {s.id for s in runs if not s.attrs.get("rerun")}
    re_ops = {s.id for s in runs if s.attrs.get("rerun")}
    m["plans.pipeline.run_s"] = (_mean([s.duration for s in runs if s.id in new_ops]), "s")
    m["plans.pipeline.rerun_s"] = (_mean([s.duration for s in runs if s.id in re_ops]), "s")
    m["plans.pipeline.self_s"] = (_mean([tr.self_time(s, kids) for s in runs]), "s")
    m["plans.pipeline.retries"] = (float(sum(s.attrs.get("retries", 0) for s in runs)), "count")
    ing = spans("sources.rest.ingest_to_bronze")
    m["sources.rest.ingest_to_bronze_s"] = (per_op([s.duration for s in ing]), "s")
    m["sources.rest.pages"] = (per_op([s.attrs.get("pages", 0) for s in ing]), "count")
    m["sources.rest.bronze_bytes"] = (per_op([s.attrs.get("bronze_bytes", 0) for s in ing]), "B")
    sil = spans("plans.silver.transform_silver")
    m["plans.silver.transform_silver_s"] = (per_op([s.duration for s in sil]), "s")
    m["plans.silver.self_s"] = (per_op([tr.self_time(s, kids) for s in sil]), "s")
    m["plans.silver.jobs"] = (per_op([incl[s.id]["jobs"] for s in sil]), "count")
    # jobs launched by transform_silver itself, outside its child spans (the recount)
    m["plans.silver.self_jobs"] = (per_op([incl[s.id]["jobs"] - sum(incl[k.id]["jobs"] for k in kids.get(s.id, ()))
                                           for s in sil]), "count")
    m["plans.silver.scan_tasks"] = (_mean([incl[s.id]["scan_tasks"] for s in sil if s.op in new_ops]), "count")
    m["plans.silver.scan_tasks_rerun"] = (_mean([incl[s.id]["scan_tasks"] for s in sil if s.op in re_ops]), "count")
    m["plans.silver.scan_files"] = (_mean([incl[s.id]["scan_files"] for s in sil if s.op in new_ops]), "count")
    m["plans.silver.scan_files_rerun"] = (_mean([incl[s.id]["scan_files"] for s in sil if s.op in re_ops]), "count")
    records = sum(s.attrs.get("records", 0) for s in ing)
    m["plans.silver.rows_per_record"] = (sum(s.attrs.get("rows", 0) for s in sil) / records if records else 0.0, "ratio")
    by_id = {s.id: s for s in tr.spans}

    def under_writer(s: Span) -> bool:
        p = s.parent
        while p is not None:
            if by_id[p].name in WRITE_SPANS:
                return True
            p = by_id[p].parent
        return False

    writes = [s for name in WRITE_SPANS for s in spans(name) if not under_writer(s)]
    for name in WRITE_SPANS:
        m[f"{name}_s"] = (per_op([s.duration for s in spans(name)]), "s")
    m["sources.writers.files_written"] = (per_op([s.attrs.get("files", 0) for s in writes]), "count")
    m["sources.writers.bytes_written"] = (per_op([s.attrs.get("bytes", 0) for s in writes]), "B")
    m["sources.writers.partition_dirs"] = (per_op([s.attrs.get("dirs", 0) for s in writes]), "count")
    m["sources.writers.lake_bytes_per_bronze_byte"] = (lake_ratio, "ratio")
    # staging happens in set-up (warm-up) and when a staged generation is stale: all spans
    m["sources.writers.stage_bucketed_table_s"] = (
        sum((s.duration for s in tr.outermost("sources.writers.stage_bucketed_table")), 0.0), "s")
    gold = spans("plans.gold.aggregate_gold")
    m["plans.gold.aggregate_gold_s"] = (per_op([s.duration for s in gold]), "s")
    m["plans.gold.self_s"] = (per_op([tr.self_time(s, kids) for s in gold]), "s")
    m["plans.gold.jobs"] = (per_op([incl[s.id]["jobs"] for s in gold]), "count")
    chk = spans("plans.quality.run_checks")
    m["plans.quality.run_checks_s"] = (per_op([s.duration for s in chk]), "s")
    m["plans.quality.rows_scanned"] = (per_op([s.attrs.get("rows", 0) for s in chk]), "count")

    # lake_queries: registry construction/execution, scans, caches
    for phase in ("construct", "execute"):
        ph = spans(f"plans.registry.{phase}")
        m[f"plans.registry.{phase}_s"] = (per_op([s.duration for s in ph]), "s")
        for q in queries:
            m[f"{q}.{phase}_s"] = (_mean([s.duration for s in ph if s.attrs.get("query") == q]), "s")
    ts = spans("sources.readers.table_scan")
    m["sources.readers.table_scan_calls"] = (per_op([1.0 for _ in ts]), "count")
    m["sources.readers.table_scan_s"] = (per_op([s.duration for s in ts]), "s")
    m["caching.cached_calls"] = (per_op([1.0 for _ in spans("caching.cached")]), "count")
    m["caching.persisted_frames"] = (float(max((f for f, _ in storage), default=0)), "count")
    m["caching.cached_bytes"] = (float(max((b for _, b in storage), default=0)), "B")

    for span_name, prefix in SPARK_FAMILIES.items():
        fam = spans(span_name)
        tot = {k: sum(incl[s.id][k] for s in fam) for k in SPARK_COUNTERS}
        wall = sum(s.duration for s in fam)
        for k in SPARK_METRICS[:-1]:
            unit = "s" if k.endswith("_s") else "B" if k.endswith("bytes") else "count"
            m[f"{prefix}.spark.{k}"] = (tot[k] / n_ops, unit)
        m[f"{prefix}.spark.busy_core_fraction"] = (
            tot["executor_run_s"] / (wall * cores) if wall else 0.0, "fraction")
    timed = sum(o.duration for o in ops)
    m["trace.overhead_fraction"] = (tr.overhead_s / timed if timed else 0.0, "fraction")
    return m


def per_layer_names(queries: list[str]) -> list[tuple[str, str]]:
    """Every per-layer metric name with its unit (for BENCHMARK.json); the
    traced run adds its own cycle time, ``trace.cycle_s``, and the CPU time
    of the JVM's JIT compiler and GC threads per cycle."""
    names = [(k, u) for k, (_, u) in derive(Tracer(), [], {}, 4, queries, []).items()]
    return names + [("trace.cycle_s", "s"), ("jvm.jit_cpu_s", "s"), ("jvm.gc_cpu_s", "s")]
