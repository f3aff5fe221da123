"""Explicit StructType contracts.

The reference declares its canonical record shape twice: as a never-invoked
Pydantic model (``app/utils/models.py:4-13``) and implicitly via the silver
projection's CAST list (``app/tasks/silver.py:22-35``) plus the gold DDL
(``app/tasks/gold.py:91-98``). Here the contracts are first-class StructTypes,
used as *read schemas* so the JSON/Parquet scanners skip inference and prune
columns at the source — at 100 TB, schema inference is a full extra pass and
is never acceptable.
"""

from __future__ import annotations

from pyspark.sql.types import DoubleType, StringType, StructField, StructType


def _s(name: str) -> StructField:
    return StructField(name, StringType(), nullable=True)


#: Raw bronze record shape — the Open Brewery DB page fields the pipeline may
#: see. Everything is read as STRING (the reference normalizes any inferred
#: type back to VARCHAR before cleaning, app/tasks/silver.py:23-34 — we get
#: the same effect, minus an inference pass, by declaring strings up front).
#: Extra API fields are listed so the bronze JSON scan is schema-stable;
#: Catalyst prunes the unprojected ones.
BREWERY_RAW_SCHEMA = StructType(
    [
        _s("id"),
        _s("name"),
        _s("brewery_type"),
        _s("address_1"),
        _s("address_2"),
        _s("address_3"),
        _s("city"),
        _s("state_province"),
        _s("state"),
        _s("postal_code"),
        _s("country"),
        _s("longitude"),
        _s("latitude"),
        _s("phone"),
        _s("website_url"),
        _s("street"),
    ]
)

#: Canonical silver contract — 9 columns (app/tasks/silver.py:22-35; column
#: set asserted by the reference's own unit test,
#: tests/unit/test_transform_silver.py:18-20). NOT NULL columns are enforced
#: by the constraint filter (operators.enforce), not by the writer.
SILVER_SCHEMA = StructType(
    [
        StructField("id", StringType(), nullable=False),
        StructField("name", StringType(), nullable=False),
        StructField("brewery_type", StringType(), nullable=True),
        StructField("country", StringType(), nullable=False),
        StructField("state", StringType(), nullable=False),
        StructField("city", StringType(), nullable=True),
        StructField("postal_code", StringType(), nullable=True),
        StructField("latitude", DoubleType(), nullable=True),
        StructField("longitude", DoubleType(), nullable=True),
    ]
)

#: Silver partition columns (app/tasks/silver.py:66).
SILVER_PARTITION_COLS = ("country", "state")

#: The four gold granularities, finest → coarsest
#: (app/tasks/gold.py:115-178: by_country_state_type, by_country_type,
#: by_state_type, by_type).
GOLD_GRANULARITIES: dict[str, tuple[str, ...]] = {
    "by_country_state_type": ("country", "state", "brewery_type"),
    "by_country_type": ("country", "brewery_type"),
    "by_state_type": ("state", "brewery_type"),
    "by_type": ("brewery_type",),
}
