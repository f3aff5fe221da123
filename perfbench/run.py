"""Repository benchmark: medallion ETL runs and lake queries on ``local[4]``.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1 [--smoke]

Run from the repository root. One driver process drives ``local[4]`` as a
closed loop with one client: the next operation starts when the previous one
has finished. Inputs are generated from ``--seed`` inside a fresh run
directory (TMPDIR, Spark local dirs, warehouse and lake root all live there)
that is removed at exit. Set-up (session, inputs, a warm-up that also stages
tables and collects the results checked for correctness) is timed as
``setup_s``; then whole cycles run until ``--seconds`` have passed. The last
stdout line is one JSON object: ``{"correct", "attempted", "failed",
"metrics"}`` with the end-to-end metrics (``--trace 0``) or the per-layer
metrics of the spans (``--trace 1``). The line before it carries the host
context.
"""

from __future__ import annotations

import argparse
import datetime as dt
import json
import logging
import os
import random
import shutil
import statistics
import sys
import tempfile
import time
import traceback
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
PKG = "breweries_data_engineering_case_spark"
CORES = 4

# relational registry queries: scans, joins, aggregates, dedup, cleaning, windows
RELATIONAL = [
    "tpch_q1_pricing_summary", "tpch_q3_top_orders", "tpch_q5_local_supplier_volume",
    "join_broadcast_dim", "window_dedup_rownum", "silver_clean_contract",
    "gold_counts_hierarchy", "events_session_window",
]
# one corpus query per curation layer: simhash + connected components + bucketed
# staging + cached frames; cosine top-k; MinHash bands + staged state
CORPUS = ["dedup_cascade_funnel", "ann_cosine_topk", "doc_neardup_incremental_snapshot"]
MIX = RELATIONAL + CORPUS

# input sizes; --smoke selects the tiny ones used by the benchmark's own test.
# A full date is the Open Brewery DB dump the paper ingests daily: about 8.9k
# records, 45 pages at the program's own page size (per_page None keeps
# ``Settings().per_page``, 200), the last page half full.
SIZES = {
    False: {"pages": 45, "per_page": None, "prior_dates": 15, "sf": 0.01},
    True: {"pages": 3, "per_page": 20, "prior_dates": 3, "sf": 0.001},
}
FIRST_RUN_DATE = dt.date(2024, 3, 1)
PASSING = ("MATCH", "ROWS_ONLY")


class Failures(logging.Handler):
    """Counts retry warnings of the pipeline's ``with_retries``."""

    def __init__(self) -> None:
        super().__init__(logging.WARNING)
        self.count = 0

    def emit(self, record: logging.LogRecord) -> None:
        self.count += 1


class Run:
    """One benchmark process: isolated directories, session, counters."""

    def __init__(self, args: argparse.Namespace) -> None:
        self.args = args
        self.size = SIZES[args.smoke]
        self.dir = ROOT / ".perfbench" / f"{args.workload}-{os.getpid()}"
        self.spark = None
        self.tracer = None
        self.attempted = 0
        self.failed = 0
        self.checks: dict[str, str] = {}
        self.ops = []  # root spans of timed operations (traced runs)
        self.storage: list[tuple[int, int]] = []
        self.context: dict = {}
        self.lake_ratio = 0.0  # bytes under silver, gold and warehouse per bronze byte

    def isolate(self) -> None:
        for sub in ("tmp", "spark-local", "warehouse", "lake", "inputs"):
            (self.dir / sub).mkdir(parents=True, exist_ok=True)
        os.environ["TMPDIR"] = str(self.dir / "tmp")
        os.environ["SPARK_LOCAL_DIRS"] = str(self.dir / "spark-local")
        os.environ["SPARK_WAREHOUSE_DIR"] = str(self.dir / "warehouse")
        os.environ["SPARK_GRAFT_CPUS"] = str(CORES)
        # no hsperfdata files under /tmp from the launcher or driver JVM
        os.environ["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData"
        os.environ.pop("SPARK_TESTING", None)  # it would disable the status endpoint
        tempfile.tempdir = None

    def session(self):
        from breweries_data_engineering_case_spark import session as session_mod

        self.spark = session_mod.get_spark(
            master=f"local[{CORES}]",
            extra_conf={
                "spark.ui.showConsoleProgress": "false",
                "spark.ui.retainedJobs": "100000",
                "spark.ui.retainedStages": "100000",
                # compiler threads live as long as the JVM, so the JIT's CPU
                # time stays readable from /proc and can be told apart
                "spark.driver.extraJavaOptions":
                    f"-Djava.io.tmpdir={self.dir / 'tmp'} -XX:-UseDynamicNumberOfCompilerThreads",
            },
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        if self.tracer is not None:
            self.tracer.sc = self.spark.sparkContext
        return self.spark

    def attempt(self, fn, *args) -> tuple[bool, float, dict[str, float]]:
        """Run one operation: (ok, wall seconds, CPU seconds of the process
        tree by kind, see ``host.tree_cpu_s``). An exception is a failed
        operation, not a crash."""
        from host import tree_cpu_s

        self.attempted += 1
        c, t = tree_cpu_s(), time.perf_counter()
        try:
            fn(*args)
            ok = True
        except Exception:  # noqa: BLE001 — counted and reported, the loop goes on
            traceback.print_exc(file=sys.stderr)
            self.failed += 1
            ok = False
        wall, after = time.perf_counter() - t, tree_cpu_s()
        return ok, wall, {k: after[k] - c[k] for k in c}

    def record_checks(self, checks: dict[str, str]) -> None:
        """Each correctness check is an attempted operation; a mismatch fails it."""
        self.checks.update(checks)
        self.attempted += len(checks)
        self.failed += sum(1 for v in checks.values() if v not in PASSING)

    def mark(self, step: str) -> None:
        """Process age at the end of one set-up step, for the context line."""
        from host import process_age_s

        self.context.setdefault("setup_steps_s", {})[step] = process_age_s()

    def last_root(self, name: str):
        return next(s for s in reversed(self.tracer.spans) if s.parent is None and s.name == name)

    def stop(self) -> None:
        if self.spark is not None:
            from pyspark import SparkContext

            self.spark.stop()
            gw = SparkContext._gateway
            proc = getattr(gw, "proc", None)
            if gw is not None:
                gw.shutdown()
            if proc is not None:  # the JVM exits on EOF of its stdin
                proc.stdin.close()
                try:
                    proc.wait(timeout=60)
                except Exception:  # noqa: BLE001
                    proc.kill()
                    proc.wait()
            SparkContext._gateway = None
            SparkContext._jvm = None
        shutil.rmtree(self.dir, ignore_errors=True)


def timed_cycles(run: Run, cycle) -> dict:
    """Set-up ends here; whole cycles run until ``--seconds`` have passed.
    ``cycle()`` returns its operations' (wall seconds, CPU seconds by kind).
    A full-size cycle is longer than the benchmark's ``run_seconds``, so a
    run times exactly one.

    ``cycle_s`` is the cycle's wall time less the time the hypervisor stole
    from one CPU meanwhile: on a shared host steal moved raw wall time by up
    to 2x between runs of the same code. ``cycle_cpu_s`` is the CPU time of
    the process tree, JIT compiler and GC threads included; a change that
    spreads work over idle cores reads in ``cycle_s``, not here."""
    from host import process_age_s, steal_s_per_cpu

    setup_s = process_age_s()
    walls, cpus, unstolen = [], [], []
    t0 = time.perf_counter()
    while not walls or time.perf_counter() - t0 < run.args.seconds:
        stolen = steal_s_per_cpu()
        ops = cycle()
        walls.append(sum(w for w, _ in ops))
        cpus.append({k: sum(c[k] for _, c in ops) for k in ops[0][1]})
        unstolen.append(walls[-1] - (steal_s_per_cpu() - stolen))
    run.context.update(cycles=len(walls), cycle_wall_s=statistics.median(walls), cycle_walls_s=walls,
                       cycle_cpus_s=cpus, cycle_unstolen_s=statistics.median(unstolen))
    return {"setup_s": (setup_s, "s"), "cycle_s": (statistics.median(unstolen), "s"),
            "cycle_cpu_s": (statistics.median(c["total"] for c in cpus), "s")}


# -- medallion_daily ----------------------------------------------------------


def write_history(run: Run, warehouse: Path, feed) -> dict:
    """Prior history dates of the gold warehouse, written directly as Parquet
    in the layout the pipeline writes (one ``ingestion_date=`` dir per date)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    history = {}
    for k in range(run.size["prior_dates"], 0, -1):
        d = (FIRST_RUN_DATE - dt.timedelta(days=k)).isoformat()
        counts = feed.history_counts(d)
        rows = sorted(counts.items())
        table = pa.table({
            "country": [r[0][0] for r in rows], "state": [r[0][1] for r in rows],
            "brewery_type": [r[0][2] for r in rows],
            "brewery_count": pa.array([r[1] for r in rows], pa.int64()),
        })
        out = warehouse / f"ingestion_date={d}"
        out.mkdir(parents=True)
        pq.write_table(table, out / "part-00000-history.snappy.parquet", compression="snappy")
        history[d] = counts
    return history


def medallion_daily(run: Run) -> dict:
    """Cycle: ``pipeline.run`` for a new date, then a re-run of an earlier one."""
    from breweries_data_engineering_case_spark.config import Settings
    from breweries_data_engineering_case_spark.plans import pipeline

    from brewery_feed import BreweryFeed
    from layers import tree_bytes
    from oracle import check_lake

    seed, size = run.args.seed, run.size
    lake = run.dir / "lake"
    page_size = {"per_page": size["per_page"]} if size["per_page"] else {}
    cfg = Settings(lake_root=str(lake), warehouse_dir=str(lake / "warehouse"), **page_size)
    feed = BreweryFeed(seed, cfg.per_page, size["pages"])
    history = write_history(run, Path(cfg.warehouse_dir), feed)
    run.mark("inputs")
    spark = run.session()
    run.mark("session")
    retries = Failures()
    logging.getLogger("breweries_spark.pipeline").addHandler(retries)
    rng = random.Random(seed)
    run_dates: list[str] = []
    new_s, rerun_s = [], []

    def one(rerun: bool) -> tuple[float, float]:
        if rerun:
            d = rng.choice(run_dates)
        else:
            d = (FIRST_RUN_DATE + dt.timedelta(days=len(run_dates))).isoformat()
            run_dates.append(d)
        before = retries.count
        ok, secs, cpu = run.attempt(pipeline.run, spark, d, cfg, feed.fetcher(d))
        if ok and retries.count > before:  # it succeeded, but only on a retry
            run.failed += 1
        if run.tracer is not None:
            root = run.last_root("plans.pipeline.run")
            root.attrs.update(rerun=rerun, retries=retries.count - before)
            run.ops.append(root)
        (rerun_s if rerun else new_s).append(secs)
        return secs, cpu

    def cycle() -> list[tuple[float, float]]:
        return [one(False), one(True)]

    # warm-up: one whole cycle on a fresh lake; the JIT compiles most of the
    # hot paths in it
    cycle()
    run.ops.clear()
    new_s.clear()
    rerun_s.clear()
    e2e = timed_cycles(run, cycle)

    run.record_checks(check_lake(feed, Path(cfg.silver_breweries), Path(cfg.warehouse_dir),
                                 run_dates, history))
    bronze = sum(tree_bytes(Path(cfg.bronze_breweries) / f"ingestion_date={d}") for d in run_dates)
    written = sum(tree_bytes(Path(root) / f"ingestion_date={d}") for d in run_dates
                  for root in (cfg.silver_breweries, cfg.gold_counts, cfg.warehouse_dir))
    run.lake_ratio = written / bronze if bronze else 0.0
    run.context.update(
        records_per_date=[feed.records(d) for d in run_dates],
        etl_run_p50_s=statistics.median(new_s), etl_rerun_p50_s=statistics.median(rerun_s),
        lake_bytes_per_bronze_byte=run.lake_ratio)
    return e2e


# -- lake_queries -------------------------------------------------------------


def lake_queries(run: Run) -> dict:
    """Cycle: every query of the mix, constructed and executed into the
    ``noop`` sink, in a seeded order."""
    import lake_tables
    from oracle import compare_queries

    table_dir = run.dir / "inputs"
    rows = lake_tables.write(run.args.seed, run.size["sf"], table_dir)
    run.mark("inputs")
    spark = run.session()
    run.mark("session")
    from breweries_data_engineering_case_spark.plans import registry

    sf_dir = str(table_dir)
    # warm-up pass, in mix order: stages tables and collects the results that
    # are checked against the oracles once the timed cycles are done
    results: dict[str, tuple[list[str], list[tuple]]] = {}

    def collect(q: str) -> None:
        df = registry.QUERIES[q](spark, sf_dir)
        results[q] = (df.columns, [tuple(r) for r in df.collect()])

    warm = {q: run.attempt(collect, q)[1] for q in MIX}
    rng = random.Random(run.args.seed)
    by_query: dict[str, list[float]] = {q: [] for q in MIX}
    sc = spark.sparkContext

    def construct_execute(q: str) -> None:
        tr = run.tracer
        if tr is None:
            registry.QUERIES[q](spark, sf_dir).write.format("noop").mode("overwrite").save()
            return
        with tr.span("plans.registry.query", query=q) as root:
            with tr.span("plans.registry.construct", query=q):
                df = registry.QUERIES[q](spark, sf_dir)
            with tr.span("plans.registry.execute", query=q):
                df.write.format("noop").mode("overwrite").save()
            run.ops.append(root)
        infos = sc._jsc.sc().getRDDStorageInfo()
        run.storage.append((len(infos), sum(i.memSize() + i.diskSize() for i in infos)))

    def one_pass() -> list[tuple[float, float]]:
        out = []
        for q in rng.sample(MIX, len(MIX)):
            _, secs, cpu = run.attempt(construct_execute, q)
            by_query[q].append(secs)
            out.append((secs, cpu))
        return out

    e2e = timed_cycles(run, one_pass)

    t = time.perf_counter()
    checks = compare_queries(results, registry.oracles(), table_dir, lake_tables.TABLES)
    checks.update({q: "SPARK_ERROR" for q in MIX if q not in results})
    run.record_checks(checks)
    run.context.update(warmup_s=warm, oracle_s=time.perf_counter() - t, sf=run.size["sf"],
                       input_rows=rows,
                       query_p50_s={q: statistics.median(v) for q, v in by_query.items()})
    return e2e


WORKLOADS = {"medallion_daily": medallion_daily, "lake_queries": lake_queries}


def parse_args(argv: list[str] | None = None) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true", help="tiny inputs, for the benchmark's test")
    return ap.parse_args(argv)


def main(argv: list[str] | None = None) -> int:
    args = parse_args(argv)
    if not (ROOT / PKG / "__init__.py").is_file():
        print(f"perfbench: package {PKG} not found under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))
    import host

    run = Run(args)
    run.isolate()
    before = host.sample()
    try:
        if args.trace:
            from layers import install
            from spans import Tracer

            run.tracer = Tracer()
            install(run.tracer)
        e2e = WORKLOADS[args.workload](run)
        spark = run.spark
        run.context.update(host.static_context(ROOT, ROOT / PKG, spark))
        if args.trace:
            from layers import derive
            from spans import spark_by_group

            tr = run.tracer
            tr.unwrap_all()
            metrics = derive(tr, run.ops, spark_by_group(spark), CORES, MIX, run.storage,
                             run.lake_ratio)
            metrics["trace.cycle_s"] = (run.context["cycle_unstolen_s"], "s")
            for kind in ("jit", "gc"):
                metrics[f"jvm.{kind}_cpu_s"] = (
                    statistics.median(c[kind] for c in run.context["cycle_cpus_s"]), "s")
            out_dir = ROOT / ".perfbench_out"
            out_dir.mkdir(exist_ok=True)
            (out_dir / f"spans-{args.workload}-{args.seed}.json").write_text(json.dumps(tr.dump()))
        else:
            metrics = e2e
            jvm = spark.sparkContext._jvm
            pools = host.jvm_pool_peaks_mb(jvm)
            live = host.jvm_live_heap_mb(jvm)
            non_heap = sum(v for k, v in pools.items() if k.startswith("NON_HEAP"))
            metrics["mem_mb"] = (host.peak_rss_mb() + non_heap + live, "MB")
            run.context.update(jvm_pool_peaks_mb=pools, jvm_live_heap_mb=live,
                               driver_rss_mb=host.peak_rss_mb(),
                               jvm_rss_mb=host.peak_rss_mb(jvm.java.lang.ProcessHandle.current().pid()))
            metrics["ok_ops_ratio"] = ((run.attempted - run.failed) / run.attempted, "fraction")
    finally:
        run.context["host"] = host.delta(before, host.sample())
        run.stop()
    run.context["checks"] = run.checks
    print(json.dumps({"context": run.context}, default=str))
    print(json.dumps({
        "correct": bool(run.checks) and all(v in PASSING for v in run.checks.values()),
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
