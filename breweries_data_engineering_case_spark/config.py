"""Env-driven settings (≈ reference ``app/config.py:4-22``).

The reference reads 11 env vars via a Pydantic ``Settings`` object (S3/MinIO
creds + endpoint, lake bucket, layer prefixes, API url + page size). We keep
the same surface as a plain dataclass so the engine is orchestrator-agnostic
and testable offline; S3A wiring happens in :mod:`.session`.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field


def _env(name: str, default: str) -> str:
    return os.environ.get(name, default)


@dataclass(frozen=True)
class Settings:
    """Lake + API configuration.

    Defaults mirror the reference (``app/config.py:5-20``) but point at local
    filesystem paths so everything runs without MinIO. The daily run
    (``plans.pipeline.run``) writes every layer on the driver, so it takes
    local paths or ``file:`` URIs only and rejects any other ``LAKE_ROOT`` or
    ``WAREHOUSE_DIR`` before the first fetch. An ``s3a://bucket`` ``LAKE_ROOT``
    plus the S3 fields configures Spark's s3a filesystem
    (:mod:`.session`) for Spark reads and writes of object storage, as in
    ``tests/test_s3a_smoke.py``.
    """

    # storage
    lake_root: str = field(default_factory=lambda: _env("LAKE_ROOT", "/tmp/brewlake"))
    bronze_prefix: str = field(default_factory=lambda: _env("BRONZE_PREFIX", "bronze-layer"))
    silver_prefix: str = field(default_factory=lambda: _env("SILVER_PREFIX", "silver-layer"))
    gold_prefix: str = field(default_factory=lambda: _env("GOLD_PREFIX", "gold-layer"))
    warehouse_dir: str = field(default_factory=lambda: _env("WAREHOUSE_DIR", "/tmp/brewlake/warehouse"))

    # S3/MinIO (Spark's s3a conf when lake_root is s3a://; ≈ app/io/duck.py:12-25)
    s3_endpoint: str = field(default_factory=lambda: _env("S3_ENDPOINT", ""))
    s3_access_key: str = field(default_factory=lambda: _env("S3_ACCESS_KEY", ""))
    s3_secret_key: str = field(default_factory=lambda: _env("S3_SECRET_KEY", ""))
    s3_path_style: bool = field(default_factory=lambda: _env("S3_PATH_STYLE", "true") == "true")
    s3_ssl: bool = field(default_factory=lambda: _env("S3_SSL", "false") == "true")

    # REST source (≈ app/config.py:19-20)
    api_url: str = field(
        default_factory=lambda: _env("BREWERY_API_URL", "https://api.openbrewerydb.org/v1/breweries")
    )
    per_page: int = field(default_factory=lambda: int(_env("BREWERY_PER_PAGE", "200")))
    max_pages: int = field(default_factory=lambda: int(_env("BREWERY_MAX_PAGES", "10000")))
    http_timeout_s: int = field(default_factory=lambda: int(_env("BREWERY_HTTP_TIMEOUT", "30")))

    def layer_path(self, layer_prefix: str, dataset: str) -> str:
        return f"{self.lake_root.rstrip('/')}/{layer_prefix}/{dataset}"

    @property
    def bronze_breweries(self) -> str:
        return self.layer_path(self.bronze_prefix, "breweries")

    @property
    def silver_breweries(self) -> str:
        return self.layer_path(self.silver_prefix, "breweries")

    @property
    def gold_counts(self) -> str:
        return self.layer_path(self.gold_prefix, "breweries_counts")


settings = Settings()
