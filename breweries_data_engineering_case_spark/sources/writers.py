"""Sink operators: partitioned Parquet + idempotent by-date overwrite.

≈ reference S5/S6 (SURVEY.md §2.1):

- S5: ``COPY … TO 's3://dir' (FORMAT PARQUET, PARTITION_BY (…),
  COMPRESSION 'snappy', OVERWRITE_OR_IGNORE TRUE)``
  (app/tasks/silver.py:61-71, app/tasks/gold.py:12-32).
- S6: ``CREATE TABLE IF NOT EXISTS …; DELETE WHERE ingestion_date = d;
  INSERT INTO … SELECT`` — per-run replace on an append-by-date history table
  (app/tasks/gold.py:89-113).

Spark-first mapping: immutable Parquet has no DELETE, so S6's
delete-then-insert becomes **dynamic partition overwrite** — with
``spark.sql.sources.partitionOverwriteMode=dynamic`` (set by session.py),
``mode("overwrite").partitionBy("ingestion_date")`` replaces exactly the
partitions present in the written data and leaves every other date alone.
Same idempotency contract, and it scales: the overwrite is a metadata swap of
one date directory, never a table rewrite.

A ``pyarrow.Table`` is written on the driver instead, in the Spark write's
layout. The daily stages collect their outputs to Arrow (silver's cleaned
date, gold's base counts) because a small write through Spark costs far more
than the data: each write is a Spark job plus the Hadoop commit protocol, and
on a local lake without libhadoop, Hadoop forks a ``chmod`` process for every
file, ``.crc`` file and directory it creates. Measured on a 4-vCPU Linux host
(Spark 4.1.2, ``local[4]``): a Spark write of a small frame costs about
220 ms and 28 forked processes, plus about 11 ms and 6 forks per partition
directory; the same write from an Arrow table costs about 1 ms plus 0.2 ms
per directory and forks nothing.

The module ends with the session staging helpers (``session_workspace``,
``staged_dir``, ``stage_bucketed_table``): derived tables and files live in
one temp directory per SparkContext and are built once per session.
"""

from __future__ import annotations

import atexit
import datetime as _dt
import hashlib
import os
import shutil
import tempfile
import threading
import uuid
from collections.abc import Callable, Sequence
from pathlib import Path
from urllib.parse import urlsplit
from urllib.request import url2pathname

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def local_path(uri: str) -> str:
    """The local filesystem path of ``uri``, a plain path or a ``file:`` URI.

    Driver-side writers use the local filesystem directly. Any other scheme
    (``s3a://``, ``hdfs://``) raises a ``ValueError`` naming the URI; a plain
    ``pathlib`` write would put ``s3a://bucket/k`` under a relative local
    directory ``s3a:/bucket/k`` without any error.
    """
    parts = urlsplit(uri)
    if not parts.scheme:
        return uri
    if parts.scheme == "file" and parts.netloc in ("", "localhost"):
        return url2pathname(parts.path)
    raise ValueError(f"driver-side writers take local paths only, not {uri!r}")


# Spark's ExternalCatalogUtils.escapePathName escape set (non-Windows): each
# of these becomes %XX (uppercase hex) in a partition directory name.
_PATH_ESCAPES = frozenset(
    [chr(c) for c in range(0x01, 0x20)] + list('"#%\'*/:=?\\\x7f{[]^')
)
_DEFAULT_PARTITION = "__HIVE_DEFAULT_PARTITION__"


def _escape_path_name(s: str) -> str:
    return "".join(f"%{ord(c):02X}" if c in _PATH_ESCAPES else c for c in s)


def _partition_dir(cols: Sequence[str], values: Sequence[str | None]) -> str:
    """``c1=v1/c2=v2`` as Spark names it: escaped names and values, a null or
    empty value as ``__HIVE_DEFAULT_PARTITION__``."""
    return "/".join(
        f"{_escape_path_name(c)}={_escape_path_name(v) if v else _DEFAULT_PARTITION}"
        for c, v in zip(cols, values)
    )


def _leaf_rows(table: pa.Table, partition_cols: Sequence[str]) -> dict[str, pa.Array]:
    """The row indices of each leaf directory of ``table``.

    Arrow groups the rows by their partition key, so :func:`_partition_dir`
    runs once per distinct key, not once per row. Keys naming the same
    directory (a null and ``""`` are both the default partition) share one
    leaf.
    """
    names = [f"k{i}" for i in range(len(partition_cols))]
    keys = pa.table(
        [table.column(c).cast(pa.string()) for c in partition_cols]
        + [pa.array(range(table.num_rows), pa.int64())],
        names=[*names, "row"],
    )
    groups = keys.group_by(names, use_threads=False).aggregate([("row", "list")])
    by_leaf: dict[str, list[pa.Array]] = {}
    values = zip(*(groups.column(n).to_pylist() for n in names))
    for key, rows in zip(values, groups.column("row_list")):
        by_leaf.setdefault(_partition_dir(partition_cols, key), []).append(rows.values)
    return {leaf: pa.concat_arrays(rows) for leaf, rows in by_leaf.items()}


def _write_arrow_partitioned(table: pa.Table, path: str, partition_cols: Sequence[str]) -> None:
    """The driver-side twin of the Spark write for a ``pyarrow.Table``.

    One file per leaf directory, the directories named as Spark names them
    (:func:`_partition_dir`). Every leaf is written
    whole in a hidden staging directory next to ``path`` and then renamed
    into place over the leaf it replaces (dynamic overwrite); with no
    partition columns the whole of ``path`` is replaced. pyarrow.dataset's
    hive partitioning is not used: it URI-encodes directory names (space as
    ``%20``, ``%`` as ``%25``), which is not Spark's escape set.
    """
    root = Path(local_path(path))
    token = uuid.uuid4().hex
    staging = root.parent / f".{root.name}-{token}.staging"
    data = table.drop_columns(list(partition_cols))
    if partition_cols:
        leaves = {leaf: data.take(rows) for leaf, rows in _leaf_rows(table, partition_cols).items()}
    else:
        leaves = {"": data}
    try:
        for leaf, part in leaves.items():
            d = staging / leaf
            d.mkdir(parents=True)
            pq.write_table(part, d / f"part-00000-{token}.snappy.parquet", compression="snappy")
        for leaf in leaves:
            target = root / leaf
            if target.exists():
                shutil.rmtree(target)
            target.parent.mkdir(parents=True, exist_ok=True)
            os.replace(staging / leaf, target)
    finally:
        shutil.rmtree(staging, ignore_errors=True)


def write_partitioned_parquet(
    df: DataFrame | pa.Table,
    path: str,
    partition_cols: Sequence[str],
) -> None:
    """Hive-partitioned snappy Parquet write with dynamic overwrite (≈ S5).

    The input picks the engine; the lake layout is the same either way.

    - A ``DataFrame`` is written by Spark. ``partitionOverwriteMode=dynamic``
      is a per-write option (NOT the session conf — an externally-created
      session defaults to static, which silently wipes every other
      partition): ``overwrite`` then replaces only the partitions this
      DataFrame contains — the semantic twin of DuckDB's
      ``OVERWRITE_OR_IGNORE`` (app/tasks/silver.py:69).
    - A ``pyarrow.Table`` is already on the driver and is written there, to a
      local path (see :func:`_write_arrow_partitioned`), with no Spark job
      and no Hadoop commit protocol.
    """
    if isinstance(df, pa.Table):
        _write_arrow_partitioned(df, path, partition_cols)
        return
    (
        df.write.option("compression", "snappy")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(*partition_cols)
        .mode("overwrite")
        .parquet(path)
    )


def idempotent_date_overwrite(df: DataFrame | pa.Table, path: str, date_value: str) -> None:
    """Replace exactly one date's slice of an ``ingestion_date``-partitioned
    dataset (≈ S6).

    Stamps ``ingestion_date`` with the run date (``YYYY-MM-DD``), then
    dynamic-partition-overwrites through :func:`write_partitioned_parquet`
    (a ``pyarrow.Table`` stays on the driver). Re-running the same date
    yields identical table contents — the "Idempotency for this run"
    contract of app/tasks/gold.py:100-113.
    """
    if isinstance(df, pa.Table):
        day = pa.scalar(_dt.date.fromisoformat(date_value), pa.date32())
        stamped = df.append_column("ingestion_date", pa.repeat(day, df.num_rows))
    else:
        stamped = df.withColumn("ingestion_date", F.to_date(F.lit(date_value)))
    write_partitioned_parquet(stamped, path, ["ingestion_date"])


# Staging: one temp workspace per SparkContext. Queries derive tables and
# files from a corpus (bucketed edge lists, CSV/ORC/XML landings, streaming
# inputs) and reuse them for the rest of the session. The workspace is a
# ``tempfile.mkdtemp`` directory under ``tempfile.gettempdir()`` (so TMPDIR
# decides where it goes), made on first use and removed at interpreter exit,
# the same lifetime as the in-memory catalog that registers its bucketed
# tables. Nothing is shared between processes, so there is nothing to lock
# across them, reap or migrate. Callers put the content of what they read
# into every key (``readers.source_fingerprint``): a corpus rewritten at the
# same path mid-session gets a fresh stage. One reentrant lock serializes
# staging within the process (a build may itself stage).
_STAGE_LOCK = threading.RLock()


def session_workspace(spark: SparkSession) -> Path:
    """The staging workspace of ``spark``'s SparkContext, made on first use."""
    sc = spark.sparkContext
    with _STAGE_LOCK:
        ws = getattr(sc, "_bdec_workspace", None)
        if ws is None:
            ws = Path(tempfile.mkdtemp(prefix="bdec-"))
            atexit.register(shutil.rmtree, ws, True)
            sc._bdec_workspace, sc._bdec_staged = ws, set()
    return ws


def staged_dir(spark: SparkSession, key: str, build: Callable[[Path], object]) -> Path:
    """The workspace directory staged for ``key``: ``build(path)`` runs once
    per session per key and must create ``path``. A build that raises
    leaves nothing behind, and the next call builds again."""
    ws = session_workspace(spark)
    path = ws / hashlib.md5(key.encode()).hexdigest()
    staged = spark.sparkContext._bdec_staged
    with _STAGE_LOCK:
        if key not in staged:
            shutil.rmtree(path, ignore_errors=True)
            try:
                build(path)
            except BaseException:
                shutil.rmtree(path, ignore_errors=True)
                raise
            staged.add(key)
    return path


def stage_bucketed_table(
    spark: SparkSession,
    name: str,
    bucket_cols: Sequence[str],
    num_buckets: int,
    builder: Callable[[], DataFrame],
    sort_cols: Sequence[str] | None = None,
) -> DataFrame:
    """Bucketed table ``name`` staged once per session from ``builder()``.

    Two tables bucketed on the same key with the same bucket count join with
    ZERO shuffle (both sides arrive pre-partitioned; with ``sort_cols``, even
    the sort is pre-done): the shuffle is paid once, at write time. This is
    the iterative-graph staging pattern (PageRank, connected components):
    every later scan reports HashPartitioning on the bucket columns, so an
    in-loop join on them never re-exchanges. A catalog hit returns
    ``spark.table(name)`` without calling ``builder``; ``name`` must
    therefore carry the content key of what the builder reads.

    The frame is repartitioned by the bucket columns into ``num_buckets``
    tasks before the write. Repartition's HashPartitioning and the writer's
    bucket id use the same murmur3-pmod function, so each task holds one
    bucket and writes ONE file. Written as-is, an N-task builder produced
    up to N x num_buckets tiny files (470 files for 32 buckets on the sf0.1
    PageRank edge table), and every file open clones a Hadoop Configuration
    whose constructor is synchronized on the shared parent conf: thread
    dumps of the PageRank stages showed 25 of 32 task threads blocked
    there, a lock convoy that left the CPUs 76% idle.

    The returned frame records its directory as ``_bdec_stage_path``, so a
    size question can be answered from Parquet footers without a job (see
    ``operators.components._staged_rows``).
    """
    path = session_workspace(spark) / name
    with _STAGE_LOCK:
        if not spark.catalog.tableExists(name):
            df = builder().repartition(int(num_buckets), *[F.col(c) for c in bucket_cols])
            w = df.write.format("parquet").bucketBy(num_buckets, *bucket_cols)
            if sort_cols:
                w = w.sortBy(*sort_cols)
            # An EXTERNAL table at ``path``: its catalog entry lives in the
            # session's in-memory metastore, but a directory left there would
            # fail the write with LOCATION_ALREADY_EXISTS, so it goes first.
            shutil.rmtree(path, ignore_errors=True)
            w.option("path", str(path)).mode("overwrite").saveAsTable(name)
    frame = spark.table(name)
    frame._bdec_stage_path = str(path)
    return frame
