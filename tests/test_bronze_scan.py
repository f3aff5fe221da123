"""Silver's bronze scan: each bronze page is one line of JSON, read once.

``sources.readers.json_array_scan`` reads the page files as JSON lines. These
tests pin the two facts that make it safe and cheap: ``rest.ingest_to_bronze``
writes each page without a line break, and over such files the line read
gives exactly the rows of a ``multiLine`` read while reading each byte once.
"""

from __future__ import annotations

from breweries_data_engineering_case_spark.plans.silver import transform_silver
from breweries_data_engineering_case_spark.schemas import BREWERY_RAW_SCHEMA
from breweries_data_engineering_case_spark.sources.readers import json_array_scan
from breweries_data_engineering_case_spark.sources.rest import ingest_to_bronze


def _fetcher(pages: list[list[dict]]):
    """Link regime: every page in ``1..len(pages)`` is landed, even ``[]``."""
    link = f'<https://api.example/breweries?page={len(pages)}>; rel="last"'

    def fetch(page: int):
        return (pages[page - 1] if page <= len(pages) else []), link

    return fetch


def _file_bytes_read(spark) -> int:
    """Bytes read through Hadoop's ``file`` scheme in this JVM; on
    ``local[N]`` the executors share the driver's JVM and its statistics."""
    stats = spark._jvm.org.apache.hadoop.fs.FileSystem.getAllStatistics()
    return sum(s.getBytesRead() for s in stats if s.getScheme() == "file")


def test_silver_scan_reads_each_bronze_byte_once(spark, tmp_path):
    """Half the coordinates are JSON numbers in string columns, as the feed
    sends them; a ``multiLine`` read fetches each one's exact text with a
    positioned read of the file and reads a page about 10 times over."""
    d = "2024-06-10"
    pages = [
        [
            {"id": f"{p}-{i}", "name": f"Brewery {p}-{i}", "brewery_type": "micro",
             "address_1": f"{i} Main St", "city": f"City {i % 7}", "state": f"S{p}",
             "postal_code": f"{10000 + i}", "country": "United States",
             "phone": f"{5550000000 + i}",
             "latitude": round(-80 + 0.731 * i, 6), "longitude": str(round(100 - 1.37 * i, 6))}
            for i in range(200)
        ]
        for p in range(5)
    ]
    bronze = tmp_path / "bronze"
    assert ingest_to_bronze(_fetcher(pages), str(bronze), d, per_page=200) == (5, 1000)
    bronze_bytes = sum(f.stat().st_size for f in (bronze / f"ingestion_date={d}").glob("*.json"))
    before = _file_bytes_read(spark)
    rows, _ = transform_silver(spark, str(bronze), str(tmp_path / "silver"), d)
    read = _file_bytes_read(spark) - before
    assert rows == 1000
    assert read <= 1.2 * bronze_bytes, f"read {read} B of {bronze_bytes} B bronze"


def test_bronze_pages_are_single_lines_and_read_as_multiline_would(spark, tmp_path):
    """Adversarial values survive the one-line page: control and Unicode
    line separators in strings, a nested object in a string column, number
    text, an empty page. ``json.dumps`` cannot write the number text
    ``12.3000``, so one hand-written single-line page carries it, and a
    zero-byte file sits beside it."""
    d = "2024-06-11"
    pages = [
        [
            {"id": "s1", "name": "line\nfeed", "city": "carriage\rreturn"},
            {"id": "s2", "name": "sep\u2028arator", "city": "next\u0085line"},
            {"id": "o1", "name": "Nested", "address_1": {"street": "Main", "n": [1, 2]}},
        ],
        [],
        [
            {"id": "n1", "latitude": -0.0, "longitude": 1e-07},
            {"id": "n2", "latitude": 45, "longitude": "45"},
        ],
    ]
    bronze = tmp_path / "bronze"
    date_dir = bronze / f"ingestion_date={d}"
    assert ingest_to_bronze(_fetcher(pages), str(bronze), d, per_page=3) == (3, 5)
    for f in date_dir.glob("*.json"):
        data = f.read_bytes()
        assert b"\n" not in data and b"\r" not in data, f.name
    (date_dir / "page_9_hand.json").write_text('[{"id": "n3", "latitude": 12.3000}]')
    (date_dir / "page_10_empty.json").write_bytes(b"")

    got = json_array_scan(spark, str(date_dir), BREWERY_RAW_SCHEMA, glob_filter="*.json")
    ref = (spark.read.option("multiLine", True).schema(BREWERY_RAW_SCHEMA)
           .option("pathGlobFilter", "*.json").json(str(date_dir)))
    assert got.schema == ref.schema
    got_rows, ref_rows = sorted(got.collect(), key=str), sorted(ref.collect(), key=str)
    assert got_rows == ref_rows
    by_id = {r.id: r for r in got_rows}
    assert len(got_rows) == 6 and set(by_id) == {"s1", "s2", "o1", "n1", "n2", "n3"}
    assert (by_id["s1"].name, by_id["s1"].city) == ("line\nfeed", "carriage\rreturn")
    assert (by_id["s2"].name, by_id["s2"].city) == ("sep\u2028arator", "next\u0085line")
    assert by_id["o1"].address_1 == '{"street": "Main", "n": [1, 2]}'  # exact text
    assert (by_id["n1"].latitude, by_id["n1"].longitude) == ("-0.0", "1e-07")
    assert (by_id["n2"].latitude, by_id["n2"].longitude) == ("45", "45")
    assert by_id["n3"].latitude == "12.3000"
