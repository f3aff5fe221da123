"""SparkSession factory: the settings that differ from Spark 4.1.2's defaults.

Replaces the reference's DuckDB connection setup (``app/io/duck.py:6-26``).
- **UTC session time**: timestamp semantics independent of the host.
- **Dynamic partition overwrite**: a date re-run replaces only its own
  partition, as the reference's ``DELETE WHERE ingestion_date = …; INSERT``
  (``app/tasks/gold.py:101-113``) and ``OVERWRITE_OR_IGNORE`` COPY do.
- **Shuffle partitions = cores**, not 200: a daily date is ~8.9k records and
  the registry tables sf0.01, so a task holds kilobytes. **Broadcast joins to
  64 MB**, not 10 MB: dimension sides at these scales broadcast, not shuffle.
- **Interpreted expressions** (``codegen.wholeStage=false`` plus
  ``codegen.factoryMode=NO_CODEGEN``): at this size a Janino compile costs
  more than the stage it serves. Whole-stage off alone still compiles each
  projection, predicate and ordering; ``NO_CODEGEN`` sends those to the
  interpreted fallbacks: a filter + group-by collect compiles once, not 7
  times. ``factoryMode`` is internal, but ``CodeGeneratorWithInterpretedFallback.
  createObject`` (spark-catalyst_2.13-4.1.2) honours ``NO_CODEGEN`` with no
  test-mode guard; ``tests/test_session.py`` fails if an upgrade drops it.
  Interpreted, ``catalog.listTables()`` fails to decode ``Table`` (argument
  type mismatch); list tables with ``SHOW TABLES``.
- **Arrow on**: ``toPandas`` and pandas ``createDataFrame`` move batches.
- **No per-call Python call site** (``spark.python.sql.dataFrameDebugging.
  enabled=false``): on, every wrapped ``functions``/``Column`` call made 4-5
  extra py4j round trips to record its caller, and the first one imported
  ``IPython`` (26 MB of driver RSS). The cost: Spark's ``DataFrame`` error
  messages lose their Python file:line context; the Spark plan context stays.
- **C2 only for code that is really hot**: the driver JVM starts with HotSpot's
  tier-4 compile thresholds 4x their defaults (``Tier4InvocationThreshold``
  20000, ``Tier4MinInvocationThreshold`` 2400, ``Tier4CompileThreshold`` 60000,
  ``Tier4BackEdgeThreshold`` 160000); tiers 0-3 keep theirs. A daily run is a
  fresh, short process: thousands of analyzer, optimizer, AQE and
  interpreted-expression methods cross the default C2 thresholds but never run
  long enough after to repay the compile, so they stay in C1 code. Hot loops
  still reach C2; C1-only (``TieredStopAtLevel=1``) lost wall time on both
  workloads. Set as ``spark.driver.defaultJavaOptions``, which Spark puts
  before any ``spark.driver.extraJavaOptions``, so both apply. It takes effect
  only where this process starts the driver JVM (PySpark local mode, tests,
  perfbench), not under ``spark-submit --deploy-mode cluster``."""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

from .config import Settings, settings as default_settings


def get_spark(
    app_name: str = "breweries-data-engineering-case-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    cfg: Settings | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession.

    ``master`` defaults to ``$SPARK_GRAFT_MASTER`` or ``local[N]`` with
    N=``$SPARK_GRAFT_CPUS`` (or all cores). On a real cluster, pass no master
    and let spark-submit decide — nothing else changes.
    """
    cfg = cfg or default_settings
    cpus = os.environ.get("SPARK_GRAFT_CPUS") or str(os.cpu_count() or 4)
    master = master or os.environ.get("SPARK_GRAFT_MASTER") or f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = int(os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", cpus))

    b = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # -- correctness-critical semantics --------------------------------
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.sources.partitionOverwriteMode", "dynamic")
        # testdata parquet carries TIMESTAMP(NANOS); read as timestamp_ntz
        # (micros) instead of erroring (readers.py sets this per-session too)
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # -- small-data execution -------------------------------------------
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.autoBroadcastJoinThreshold", "64MB")
        .config("spark.sql.codegen.wholeStage", "false")
        .config("spark.sql.codegen.factoryMode", "NO_CODEGEN")
        # -- python/arrow path ----------------------------------------------
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        # -- driver JVM ------------------------------------------------------
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        # tier-4 (C2) thresholds 4x the JDK 17 defaults 5000/600/15000/40000
        .config(
            "spark.driver.defaultJavaOptions",
            "-XX:Tier4InvocationThreshold=20000 -XX:Tier4MinInvocationThreshold=2400 "
            "-XX:Tier4CompileThreshold=60000 -XX:Tier4BackEdgeThreshold=160000",
        )
        # managed-table root (bucketed tables); never the process CWD
        .config(
            "spark.sql.warehouse.dir",
            os.environ.get("SPARK_WAREHOUSE_DIR", "/tmp/bdec-spark-warehouse"),
        )
    )

    if cfg.lake_root.startswith("s3a://") and cfg.s3_endpoint:
        # ≈ reference app/io/duck.py:12-25 (endpoint, path-style, ssl, keys)
        b = (
            b.config("spark.hadoop.fs.s3a.endpoint", cfg.s3_endpoint)
            .config("spark.hadoop.fs.s3a.access.key", cfg.s3_access_key)
            .config("spark.hadoop.fs.s3a.secret.key", cfg.s3_secret_key)
            .config("spark.hadoop.fs.s3a.path.style.access", str(cfg.s3_path_style).lower())
            .config("spark.hadoop.fs.s3a.connection.ssl.enabled", str(cfg.s3_ssl).lower())
        )

    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)

    return b.getOrCreate()
