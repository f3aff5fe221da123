"""S3-compatible object-store connector — boto3-backed Spark Python DataSource.

The reference runs its whole pipeline against MinIO: bronze JSON pages are
put to S3 (`/root/reference/app/io/storage.py:22-30`), silver/gold parquet
read and written through s3 globs (`/root/reference/app/io/duck.py:12-25`,
`docker-compose.yml:19-41`). The JVM path for that in Spark is s3a://, which
needs the hadoop-aws + aws-sdk jars — not bundled with PyPI pyspark, so
`session.py`'s s3a config can only be smoke-tested where those jars exist
(tests/test_s3a_smoke.py documents the env).

This module is the JAR-FREE Spark-native path: the S3 wire protocol is
spoken by boto3 INSIDE executor tasks through the Spark 4 Python DataSource
API. It works against MinIO, moto, or real S3 via ``endpoint_url``:

- ``s3_json_scan``  — batch reader; the driver lists the prefix once at
  planning time, each object key becomes one InputPartition, and executors
  GET their objects in parallel (the property that matters when "bronze" is
  a million page objects: listing is one cheap metadata pass, payload I/O
  is cluster-wide).
- ``s3_jsonl_sink`` — writer with the same two-phase commit protocol as the
  local JsonlSinkWriter, executed against a REAL object store: tasks PUT
  uuid-named staged keys, the driver commit copies them to final
  ``part-N.jsonl`` keys and writes the ``_SUCCESS`` manifest LAST, abort
  deletes the staged keys. Readers that require the manifest never observe
  a partial write — the staged-multipart + manifest-flip dance the local
  sink simulates, performed against the S3 API itself.

Credentials/endpoint travel in DataSource options (each executor task
builds its own boto3 client — clients are not picklable, options are).
"""

from __future__ import annotations

import json
import uuid
from dataclasses import dataclass
from typing import Any, Iterator, Sequence

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceWriter,
    InputPartition,
    WriterCommitMessage,
)
from pyspark.sql.types import StringType, StructField, StructType

from .rest import Fetcher, bronze_key, iter_pages


def s3_client(options: dict):
    """boto3 client from connector options (lazy import — boto3 is only
    needed when an object store is actually in play)."""
    import boto3

    return boto3.client(
        "s3",
        endpoint_url=options.get("endpoint_url") or None,
        aws_access_key_id=options.get("access_key", "testing"),
        aws_secret_access_key=options.get("secret_key", "testing"),
        region_name=options.get("region", "us-east-1"),
    )


def list_keys(client, bucket: str, prefix: str) -> list[str]:
    """All object keys under a prefix, paginated (S3 caps LIST at 1000)."""
    keys: list[str] = []
    token: str | None = None
    while True:
        kw = {"Bucket": bucket, "Prefix": prefix}
        if token:
            kw["ContinuationToken"] = token
        resp = client.list_objects_v2(**kw)
        keys.extend(o["Key"] for o in resp.get("Contents", []))
        if not resp.get("IsTruncated"):
            return keys
        token = resp.get("NextContinuationToken")


def put_json_page(client, bucket: str, key: str, records: list[dict]) -> None:
    """Bronze page put: the whole page list as ONE JSON-array object
    (reference ``put_json``, app/io/storage.py:22-30)."""
    client.put_object(
        Bucket=bucket,
        Key=key,
        Body=json.dumps(records, ensure_ascii=False).encode("utf-8"),
        ContentType="application/json",
    )


def ingest_to_bronze_s3(
    fetch: Fetcher,
    options: dict,
    bucket: str,
    prefix: str,
    ingestion_date: str,
    per_page: int,
) -> tuple[int, int]:
    """Paginated REST → S3 bronze: the object-store twin of
    ``rest.ingest_to_bronze`` (same page loop, same uuid-suffixed key
    layout ``prefix/ingestion_date=D/page_N_uid.json`` —
    app/tasks/extract.py:29-77 + app/io/storage.py:14-30), with the file
    write swapped for an object put. Returns (pages, records). A page is
    written on one line, as ``rest.ingest_to_bronze`` writes it; the silver
    scan (``readers.json_array_scan``) reads pages as JSON lines and relies
    on it."""
    client = s3_client(options)
    pages = records = 0
    for page, page_records in iter_pages(fetch, per_page):
        put_json_page(
            client, bucket, bronze_key(prefix, ingestion_date, page), page_records
        )
        pages += 1
        records += len(page_records)
    return pages, records


S3_SCAN_SCHEMA = StructType(
    [
        StructField("key", StringType(), nullable=False),
        StructField("content", StringType(), nullable=False),
    ]
)


class _KeyPartition(InputPartition):
    def __init__(self, key: str):
        self.key = key


class S3JsonReader(DataSourceReader):
    """One InputPartition per object key; the GET happens on executors."""

    def __init__(self, options: dict):
        self.options = options
        self.bucket = options["bucket"]
        self.prefix = options.get("prefix", "")

    def partitions(self) -> Sequence[InputPartition]:
        # the LIST is one driver-side metadata pass at planning time — the
        # payload bytes never touch the driver
        client = s3_client(self.options)
        return [_KeyPartition(k) for k in list_keys(client, self.bucket, self.prefix)]

    def read(self, partition: _KeyPartition) -> Iterator[tuple]:
        client = s3_client(self.options)
        body = client.get_object(Bucket=self.bucket, Key=partition.key)["Body"].read()
        yield (partition.key, body.decode("utf-8"))


class S3JsonScanDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "s3_json_scan"

    def schema(self) -> StructType:
        return S3_SCAN_SCHEMA

    def reader(self, schema: StructType) -> S3JsonReader:
        return S3JsonReader(self.options)


@dataclass
class S3CommitMessage(WriterCommitMessage):
    staged_key: str
    n_rows: int


class S3JsonlSinkWriter(DataSourceWriter):
    """Two-phase commit against the S3 API (the real-object-store twin of
    the local JsonlSinkWriter): tasks stage uuid keys under
    ``<prefix>/_staged/``; driver commit copies staged → final part keys,
    deletes the staged objects, and writes ``_SUCCESS`` LAST."""

    def __init__(self, options: dict, overwrite: bool):
        self.options = options
        self.bucket = options["bucket"]
        self.prefix = options.get("prefix", "out").rstrip("/")
        self.overwrite = overwrite

    def write(self, iterator) -> S3CommitMessage:
        client = s3_client(self.options)
        lines = []
        n = 0
        for row in iterator:
            lines.append(json.dumps(row.asDict(), sort_keys=True))
            n += 1
        staged = f"{self.prefix}/_staged/task-{uuid.uuid4().hex}.jsonl"
        client.put_object(
            Bucket=self.bucket,
            Key=staged,
            Body=("\n".join(lines) + ("\n" if lines else "")).encode("utf-8"),
        )
        return S3CommitMessage(staged_key=staged, n_rows=n)

    def commit(self, messages) -> None:
        client = s3_client(self.options)
        prev_files = 0
        prev_rows = 0
        success_key = f"{self.prefix}/_SUCCESS"
        existing = [
            k
            for k in list_keys(client, self.bucket, self.prefix + "/")
            if k.rsplit("/", 1)[-1].startswith("part-") and k.endswith(".jsonl")
        ]
        if self.overwrite:
            for k in existing:
                client.delete_object(Bucket=self.bucket, Key=k)
            client.delete_object(Bucket=self.bucket, Key=success_key)
        else:
            # append never reuses a published part index, and _SUCCESS stays
            # cumulative (same contract as the local sink)
            prev_files = len(existing)
            try:
                body = client.get_object(Bucket=self.bucket, Key=success_key)[
                    "Body"
                ].read()
                prev_rows = int(json.loads(body).get("rows", 0))
            except Exception:  # noqa: BLE001 — missing/garbled manifest
                prev_rows = 0
        total = 0
        published = 0
        for m in messages:
            if m is None:
                continue
            final = f"{self.prefix}/part-{prev_files + published:05d}.jsonl"
            client.copy_object(
                Bucket=self.bucket,
                Key=final,
                CopySource={"Bucket": self.bucket, "Key": m.staged_key},
            )
            client.delete_object(Bucket=self.bucket, Key=m.staged_key)
            published += 1
            total += m.n_rows
        manifest = {"files": prev_files + published, "rows": prev_rows + total}
        client.put_object(
            Bucket=self.bucket, Key=success_key, Body=json.dumps(manifest).encode()
        )

    def abort(self, messages) -> None:
        client = s3_client(self.options)
        for m in messages:
            if m is not None:
                client.delete_object(Bucket=self.bucket, Key=m.staged_key)


class S3JsonlSinkDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "s3_jsonl_sink"

    def writer(self, schema: StructType, overwrite: bool) -> S3JsonlSinkWriter:
        return S3JsonlSinkWriter(self.options, overwrite)


def register_object_store_sources(spark) -> None:
    """Idempotently register both S3 connectors on a session."""
    spark.dataSource.register(S3JsonScanDataSource)
    spark.dataSource.register(S3JsonlSinkDataSource)


_MOTO_SERVER: Any = None
_MOTO_ENDPOINT: str | None = None


def ensure_local_object_store() -> str:
    """Start (once per process) an in-process moto S3 server and return its
    endpoint URL. This is the sandbox stand-in for the reference's MinIO
    container (docker-compose.yml:19-41) — a real HTTP S3 API that executor
    tasks hit over localhost, so the connector's LIST/GET/PUT/COPY path
    executes for real instead of being skip-gated on docker."""
    global _MOTO_SERVER, _MOTO_ENDPOINT
    if _MOTO_ENDPOINT is None:
        from moto.server import ThreadedMotoServer

        _MOTO_SERVER = ThreadedMotoServer(port=0, verbose=False)
        _MOTO_SERVER.start()
        host, port = _MOTO_SERVER.get_host_and_port()
        _MOTO_ENDPOINT = f"http://{host}:{port}"
    return _MOTO_ENDPOINT


# ---------------------------------------------------------------------------
# Parquet on the object store: hive-partitioned sink + pruning scan
# ---------------------------------------------------------------------------
#
# The reference's silver/gold layers are hive-partitioned parquet ON MinIO
# (app/tasks/silver.py:61-71 COPY TO s3://... PARTITION_BY (country, state);
# app/tasks/gold.py:12-32). These two sources complete that story jar-free:
# tasks serialize parquet with pyarrow and PUT the bytes; the reader prunes
# partition DIRECTORIES at planning time from pushed filters — the
# custom-source analogue of parquet partition pruning. Like the reference
# (DuckDB PARTITION_BY keeps partition columns in the COPY input — SURVEY
# §2.1 S4), partition columns stay IN the file, so read-back needs no
# dir-value recovery.


def _key_partition_values(key: str, cols: list[str]) -> dict[str, str]:
    """Parse hive-style `col=value` segments out of an object key."""
    out: dict[str, str] = {}
    for seg in key.split("/"):
        if "=" in seg:
            k, _, v = seg.partition("=")
            if k in cols:
                out[k] = v
    return out


@dataclass
class S3ParquetCommitMessage(WriterCommitMessage):
    staged: list[str]  # staged keys
    final: list[str]  # their final names (same order)
    n_rows: int


class S3ParquetSinkWriter(DataSourceWriter):
    """Hive-partitioned parquet writer against the S3 API with the staged →
    copy → manifest-LAST two-phase commit. Each task groups its rows by the
    partition columns and PUTs one parquet object per partition value under
    ``_staged/``; the driver publishes them to their hive paths."""

    def __init__(self, options: dict, overwrite: bool):
        self.options = options
        self.bucket = options["bucket"]
        self.prefix = options.get("prefix", "out").rstrip("/")
        self.partition_by = [
            c for c in options.get("partition_by", "").split(",") if c
        ]
        self.overwrite = overwrite

    def write(self, iterator) -> S3ParquetCommitMessage:
        import io as _io

        import pyarrow as pa
        import pyarrow.parquet as pq

        client = s3_client(self.options)
        rows_by_part: dict[tuple, list[dict]] = {}
        n = 0
        for row in iterator:
            d = row.asDict()
            pv = tuple(str(d[c]) for c in self.partition_by)
            rows_by_part.setdefault(pv, []).append(d)
            n += 1
        staged_keys: list[str] = []
        final_keys: list[str] = []
        for pv, rows in rows_by_part.items():
            uid = uuid.uuid4().hex
            dirs = "/".join(
                f"{c}={v}" for c, v in zip(self.partition_by, pv)
            )
            rel = (dirs + "/" if dirs else "") + f"part-{uid}.parquet"
            staged = f"{self.prefix}/_staged/{uid}.parquet"
            buf = _io.BytesIO()
            pq.write_table(
                pa.Table.from_pylist(rows), buf, compression="snappy"
            )
            client.put_object(Bucket=self.bucket, Key=staged, Body=buf.getvalue())
            staged_keys.append(staged)
            final_keys.append(f"{self.prefix}/{rel}")
        return S3ParquetCommitMessage(
            staged=staged_keys, final=final_keys, n_rows=n
        )

    def commit(self, messages) -> None:
        client = s3_client(self.options)
        success_key = f"{self.prefix}/_SUCCESS"
        if self.overwrite:
            for k in list_keys(client, self.bucket, self.prefix + "/"):
                if "/_staged/" not in f"/{k}":
                    client.delete_object(Bucket=self.bucket, Key=k)
        total = 0
        files = 0
        for m in messages:
            if m is None:
                continue
            for staged, final in zip(m.staged, m.final):
                client.copy_object(
                    Bucket=self.bucket,
                    Key=final,
                    CopySource={"Bucket": self.bucket, "Key": staged},
                )
                client.delete_object(Bucket=self.bucket, Key=staged)
                files += 1
            total += m.n_rows
        client.put_object(
            Bucket=self.bucket,
            Key=success_key,
            Body=json.dumps({"files": files, "rows": total}).encode(),
        )

    def abort(self, messages) -> None:
        client = s3_client(self.options)
        for m in messages:
            if m is None:
                continue
            for staged in m.staged:
                client.delete_object(Bucket=self.bucket, Key=staged)


class S3ParquetSinkDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "s3_parquet_sink"

    def writer(self, schema: StructType, overwrite: bool) -> S3ParquetSinkWriter:
        return S3ParquetSinkWriter(self.options, overwrite)


class S3ParquetReader(DataSourceReader):
    """One InputPartition per parquet object; hive partition-directory
    PRUNING happens at planning time from pushed EqualTo filters on the
    declared partition columns — pruned objects never schedule a task and
    their bytes never move (the LIST is the only driver-side I/O)."""

    def __init__(self, options: dict, schema: StructType):
        self.options = options
        self.bucket = options["bucket"]
        self.prefix = options.get("prefix", "").rstrip("/") + "/"
        self.partition_by = [
            c for c in options.get("partition_by", "").split(",") if c
        ]
        self._schema = schema
        self._eq: dict[str, str] = {}

    def pushFilters(self, filters):
        from pyspark.sql.datasource import EqualTo

        for f in filters:
            col = f.attribute[0] if f.attribute else None
            if isinstance(f, EqualTo) and col in self.partition_by:
                self._eq[col] = str(f.value)
                # consumed only for PRUNING; yield it back so Spark still
                # re-applies it row-level (partition cols live in-file too,
                # so double-filtering is free and keeps semantics obvious)
            yield f

    def partitions(self) -> Sequence[InputPartition]:
        client = s3_client(self.options)
        keys = [
            k
            for k in list_keys(client, self.bucket, self.prefix)
            if k.endswith(".parquet")
        ]
        if self._eq:
            keys = [
                k
                for k in keys
                if all(
                    _key_partition_values(k, self.partition_by).get(c) == v
                    for c, v in self._eq.items()
                )
            ]
        return [_KeyPartition(k) for k in keys]

    def read(self, partition: _KeyPartition):
        import io as _io

        import pyarrow.parquet as pq

        client = s3_client(self.options)
        body = client.get_object(Bucket=self.bucket, Key=partition.key)[
            "Body"
        ].read()
        table = pq.read_table(_io.BytesIO(body))
        cols = [f.name for f in self._schema.fields]
        for batch in table.select(cols).to_batches():
            yield from zip(*(batch.column(c).to_pylist() for c in cols))


class S3ParquetScanDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "s3_parquet_scan"

    def schema(self) -> StructType:
        # explicit schema required (options carry no sample): callers pass
        # .schema(...) — at 100 TB you never want inference-by-read anyway
        raise NotImplementedError(
            "s3_parquet_scan requires an explicit .schema(...)"
        )

    def reader(self, schema: StructType) -> S3ParquetReader:
        return S3ParquetReader(self.options, schema)


def register_parquet_object_store_sources(spark) -> None:
    """Idempotently register the parquet S3 connectors (+ filter pushdown,
    which partition pruning rides on)."""
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    spark.dataSource.register(S3ParquetSinkDataSource)
    spark.dataSource.register(S3ParquetScanDataSource)
