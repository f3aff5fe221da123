"""End-to-end medallion pipeline on synthetic dirty brewery pages, plus
idempotency of the date-overwrite sink — executed assertions, exceeding the
reference's schema-only unit test (SURVEY.md §5).
"""

from __future__ import annotations

import collections
import json
import threading
import uuid
from pathlib import Path

import pyarrow as pa
import pyarrow.dataset as ds
import pytest
from pyspark.sql import functions as F

from breweries_data_engineering_case_spark.config import Settings
from breweries_data_engineering_case_spark.plans.gold import aggregate_gold, base_counts
from breweries_data_engineering_case_spark.plans import silver as silver_stage
from breweries_data_engineering_case_spark.plans.pipeline import run, with_retries
from breweries_data_engineering_case_spark.plans.quality import (
    GOLD_CHECKS,
    QualityError,
    check_aggs,
    run_checks,
)
from breweries_data_engineering_case_spark.plans.silver import clean_breweries
from breweries_data_engineering_case_spark.schemas import (
    BREWERY_RAW_SCHEMA,
    GOLD_GRANULARITIES,
    SILVER_PARTITION_COLS,
    SILVER_SCHEMA,
)
from breweries_data_engineering_case_spark.sources.readers import json_array_scan
from breweries_data_engineering_case_spark.sources.rest import ingest_to_bronze
from breweries_data_engineering_case_spark.sources.writers import (
    idempotent_date_overwrite,
    write_partitioned_parquet,
)

# Dirty fixture: exercises trim, blank→NULL, state fallback, try_cast NULL,
# range drop, dedup, not-null drops (FIXTURES.md §1).
PAGE_1 = [
    {"id": "1", "name": "  Alpha  ", "brewery_type": "micro", "country": "US",
     "state": "CA", "city": "LA", "postal_code": "90001", "latitude": "34.0", "longitude": "-118.2"},
    {"id": "1", "name": "  Alpha  ", "brewery_type": "micro", "country": "US",
     "state": "CA", "city": "LA", "postal_code": "90001", "latitude": "34.0", "longitude": "-118.2"},
    {"id": "2", "name": "Beta", "brewery_type": "", "country": "US",
     "state": "", "state_province": "WA", "city": "", "latitude": "abc", "longitude": None},
]
PAGE_2 = [
    {"id": "3", "name": "", "country": "US", "state": "OR"},                       # name blank → drop
    {"id": "4", "name": "Delta", "country": "US", "state": "NV",
     "latitude": "95.0", "longitude": "0"},                                        # lat out of range → drop
    {"id": "5", "name": "Echo", "country": None, "state": "TX"},                   # country null → drop
    {"id": "6", "name": "Foxtrot", "brewery_type": "brewpub", "country": "US",
     "state": "CA", "latitude": "-89.9", "longitude": "179.9"},
]

# Partition values with spaces and a character Spark escapes (' → %27), and a
# blank state that falls back to state_province.
PAGE_3 = [
    {"id": "m1", "name": "Kona", "brewery_type": "large", "country": "United States",
     "state": "Hawai'i", "latitude": "19.6", "longitude": "-155.9"},
    {"id": "m2", "name": "Okells", "brewery_type": "", "country": "Isle of Man",
     "state": "", "state_province": "Douglas"},
    {"id": "m3", "name": "Zeta", "brewery_type": "micro", "country": "United States",
     "state": "Hawai'i"},
]


@pytest.fixture()
def lake(tmp_path):
    return Settings(
        lake_root=str(tmp_path / "lake"),
        warehouse_dir=str(tmp_path / "lake" / "warehouse"),
        per_page=3,  # matches PAGE_1 size so the no-Link fallback loop continues
    )


def _page_fetcher(page_lists):
    def fetch(page: int):
        recs = page_lists[page - 1] if page <= len(page_lists) else []
        return recs, None

    return fetch


def test_clean_breweries_semantics(spark):
    raw = spark.createDataFrame(
        [json.loads(json.dumps(r)) for r in PAGE_1 + PAGE_2],
        schema="id string, name string, brewery_type string, country string, state string, "
        "state_province string, city string, postal_code string, latitude string, longitude string",
    )
    out = {r["id"]: r.asDict() for r in clean_breweries(raw).collect()}
    assert set(out) == {"1", "2", "6"}            # 3,4,5 dropped; dup 1 collapsed
    assert out["1"]["name"] == "Alpha"            # trimmed
    assert out["2"]["state"] == "WA"              # state_province fallback
    assert out["2"]["brewery_type"] is None       # blank → NULL, kept
    assert out["2"]["latitude"] is None           # try_cast garbage → NULL
    assert out["6"]["latitude"] == pytest.approx(-89.9)


def test_pipeline_end_to_end(spark, lake):
    result = run(spark, "2024-06-01", cfg=lake, fetcher=_page_fetcher([PAGE_1, PAGE_2, []]))
    assert result["silver_rows"] == 3

    silver = spark.read.parquet(result["silver_path"])
    assert silver.count() == result["silver_rows"]  # the observed count is the written one
    assert set(silver.columns) == set(SILVER_SCHEMA.fieldNames())
    # partition columns recovered from hive dirs
    assert {r["state"] for r in silver.select("state").distinct().collect()} == {"CA", "WA"}

    history = spark.read.parquet(lake.warehouse_dir)
    assert history.filter(F.col("brewery_type") == "").count() > 0  # NULL dim → ''
    total = history.agg(F.sum("brewery_count")).collect()[0][0]
    assert total == 3


def test_gold_rerun_is_idempotent(spark, lake):
    for _ in range(2):  # same date twice → identical history contents
        run(spark, "2024-06-02", cfg=lake, fetcher=_page_fetcher([PAGE_1, PAGE_2, []]))
    history = spark.read.parquet(lake.warehouse_dir)
    assert history.count() == history.dropDuplicates().count()
    assert history.select("ingestion_date").distinct().count() == 1
    assert history.agg(F.sum("brewery_count")).collect()[0][0] == 3


@pytest.mark.parametrize("engine", ["spark", "arrow"])
def test_date_overwrite_touches_only_its_partition(spark, tmp_path, engine):
    path = str(tmp_path / "hist")

    def frame(k: str, v: int):
        if engine == "arrow":
            return pa.table({"k": [k], "v": pa.array([v], pa.int64())})
        return spark.createDataFrame([(k, v)], "k string, v long")

    idempotent_date_overwrite(frame("a", 1), path, "2024-01-01")
    idempotent_date_overwrite(frame("b", 2), path, "2024-01-02")
    # re-write day 2 with different contents; day 1 must be untouched
    idempotent_date_overwrite(frame("c", 3), path, "2024-01-02")
    rows = {(r.k, r.v) for r in spark.read.parquet(path).select("k", "v").collect()}
    assert rows == {("a", 1), ("c", 3)}
    assert {r.ingestion_date.isoformat() for r in spark.read.parquet(path).collect()} == {
        "2024-01-01", "2024-01-02"}


def test_arrow_and_spark_writes_share_the_partition_layout(spark, tmp_path):
    """The pyarrow.Table branch of write_partitioned_parquet names its
    directories the way Spark does (escapes, empty value → default
    partition), writes one file per leaf, and leaves no staging behind. A
    null and an empty value of one column share the default-partition leaf."""
    odd = ["plain", "with space", "a/b", "c:d", "e=f", "50%", "#tag", ""]
    rows = [(a, b, i) for i, (a, b) in enumerate(zip(odd, reversed(odd)))]
    rows.append(("plain", "", 99))  # a second row in the first leaf
    rows.append(("plain", None, 98))  # a null beside the empty value: the same leaf
    cols = ["p1", "p2"]
    spark_dir, arrow_dir = str(tmp_path / "spark"), str(tmp_path / "arrow")
    write_partitioned_parquet(spark.createDataFrame(rows, "p1 string, p2 string, n long"),
                              spark_dir, cols)
    table = pa.table({"p1": [r[0] for r in rows], "p2": [r[1] for r in rows],
                      "n": pa.array([r[2] for r in rows], pa.int64())})
    write_partitioned_parquet(table, arrow_dir, cols)

    def read(path: str) -> set[tuple]:
        return {tuple(r) for r in spark.read.parquet(path).select("p1", "p2", "n").collect()}

    assert _leaf_dirs(arrow_dir) == _leaf_dirs(spark_dir)
    assert len(_leaf_dirs(spark_dir)) == len(rows) - 2
    for leaf in _leaf_dirs(arrow_dir):
        assert len(list((Path(arrow_dir) / leaf).glob("*.parquet"))) == 1
    want = read(spark_dir)
    # the empty value and the null both read back as NULL from one leaf
    assert {r for r in want if r[:2] == ("plain", None)} == {
        ("plain", None, 0), ("plain", None, 99), ("plain", None, 98)}
    assert read(arrow_dir) == want

    # a second write replaces only its own leaf, all three of its rows
    write_partitioned_parquet(table.slice(0, 1).set_column(2, "n", pa.array([7], pa.int64())),
                              arrow_dir, cols)
    assert _leaf_dirs(arrow_dir) == _leaf_dirs(spark_dir)
    assert read(arrow_dir) == {r for r in want if r[:2] != ("plain", None)} | {("plain", None, 7)}
    assert not [p for p in tmp_path.rglob(".*") if "staging" in p.name]


def test_arrow_write_replaces_an_unpartitioned_path(spark, tmp_path):
    out = tmp_path / "flat"
    write_partitioned_parquet(pa.table({"n": [1, 2]}), str(out), [])
    write_partitioned_parquet(pa.table({"n": [3]}), f"file://{out}", [])
    assert [r.n for r in spark.read.parquet(str(out)).collect()] == [3]
    assert len(list(out.glob("*.parquet"))) == 1
    assert sorted(p.name for p in tmp_path.iterdir()) == ["flat"]


def test_bronze_ingest_takes_local_paths_only(tmp_path, monkeypatch):
    """A non-file URI raises naming it, instead of landing pages under a
    relative ``s3a:/bucket`` directory; a ``file://`` URI is a local path."""
    monkeypatch.chdir(tmp_path)
    with pytest.raises(ValueError, match="s3a://bucket/bronze"):
        ingest_to_bronze(_page_fetcher([PAGE_1, []]), "s3a://bucket/bronze", "2024-06-09", 3)
    assert list(tmp_path.iterdir()) == []
    assert ingest_to_bronze(_page_fetcher([PAGE_1, []]), f"file://{tmp_path}/bronze",
                            "2024-06-09", 3) == (1, 3)
    assert len(list((tmp_path / "bronze" / "ingestion_date=2024-06-09").glob("*.json"))) == 1


def test_arrow_write_takes_local_paths_only(tmp_path, monkeypatch):
    monkeypatch.chdir(tmp_path)
    with pytest.raises(ValueError, match="s3a://bucket/gold"):
        write_partitioned_parquet(pa.table({"n": [1]}), "s3a://bucket/gold", [])
    assert list(tmp_path.iterdir()) == []


def test_corrupt_bronze_page_does_not_poison_run(spark, tmp_path):
    """A malformed JSON page yields an all-NULL row under the explicit read
    schema (PERMISSIVE mode); the contract filters drop it — the run
    continues, matching the blank-as-missing philosophy rather than failing
    the whole date like read_json_auto would."""
    from breweries_data_engineering_case_spark.plans.silver import clean_breweries
    from breweries_data_engineering_case_spark.schemas import BREWERY_RAW_SCHEMA
    from breweries_data_engineering_case_spark.sources.readers import json_array_scan

    d = tmp_path / "ingestion_date=2024-01-01"
    d.mkdir(parents=True)
    (d / "page_1_ok.json").write_text(
        json.dumps([{"id": "1", "name": "A", "country": "US", "state": "CA"}])
    )
    (d / "page_2_corrupt.json").write_text('{"id": "2", "name": "B", truncated...')
    raw = json_array_scan(spark, str(tmp_path / "*" / "*.json"), BREWERY_RAW_SCHEMA)
    out = clean_breweries(raw).collect()
    assert {r.id for r in out} == {"1"}


def test_quality_checks_fail_hard(spark):
    def checked(df):
        return run_checks(df.agg(*check_aggs(**GOLD_CHECKS)).first().asDict(), **GOLD_CHECKS)

    with pytest.raises(QualityError):
        checked(spark.createDataFrame([], "brewery_count long"))
    with pytest.raises(QualityError):
        checked(spark.createDataFrame([(0,)], "brewery_count long"))
    results = checked(spark.createDataFrame([(5,)], "brewery_count long"))
    assert [r.name for r in results] == ["row_count > 0", "max(brewery_count) > 0"]
    assert all(r.passed for r in results)


def test_base_counts_blank_fill(spark):
    silver = spark.createDataFrame(
        [("1", "x", None, "US", "CA"), ("2", "y", "micro", "US", "CA")],
        "id string, name string, brewery_type string, country string, state string",
    )
    got = {(r.country, r.state, r.brewery_type): r.brewery_count
           for r in base_counts(silver).collect()}
    assert got == {("US", "CA", ""): 1, ("US", "CA", "micro"): 1}


def _leaf_dirs(root: str) -> set[str]:
    return {str(p.parent.relative_to(root)) for p in Path(root).rglob("*.parquet")}


def test_gold_exports_regroup_the_warehouse_date(spark, lake):
    """Each export of a date, read back, is the plain-Python regroup of that
    date's warehouse rows, partitioned by all its dims but the last."""
    d = "2024-06-03"
    result = run(spark, d, cfg=lake, fetcher=_page_fetcher([PAGE_1, PAGE_2, []]))
    warehouse = [r.asDict() for r in
                 spark.read.parquet(f"{lake.warehouse_dir}/ingestion_date={d}").collect()]
    assert sum(r["brewery_count"] for r in warehouse) == 3

    assert set(result["gold_exports"]) == set(GOLD_GRANULARITIES)
    for gran, dims in GOLD_GRANULARITIES.items():
        path = result["gold_exports"][gran]
        assert path == f"{lake.gold_counts}/ingestion_date={d}/{gran}"
        want: collections.Counter = collections.Counter()
        for r in warehouse:
            want[tuple(r[c] for c in dims)] += r["brewery_count"]
        export = spark.read.parquet(path)
        assert sorted(export.columns) == sorted([*dims, "brewery_count"])
        got = [(tuple(r[c] for c in dims), r["brewery_count"]) for r in export.collect()]
        assert sorted(got) == sorted(want.items())
        part_cols = dims[:-1]
        want_dirs = {"/".join(f"{c}={v}" for c, v in zip(part_cols, key)) or "."
                     for key in want}
        assert _leaf_dirs(path) == want_dirs


def test_all_rejected_date_fails_the_silver_check(spark, lake):
    """A date whose every record breaks the contract writes an empty silver
    slice; its observed row count fails the check at once (no hang on the
    observation, no gold for the date)."""
    rejected = [
        {"id": "7", "name": "", "country": "US", "state": "CA"},
        {"id": None, "name": "Golf", "country": "US", "state": "CA"},
        {"id": "8", "name": "Hotel", "country": "US", "state": "CA", "latitude": "91"},
    ]
    d = "2024-06-04"
    outcome: dict = {}

    def go() -> None:
        try:
            outcome["result"] = run(spark, d, cfg=lake, fetcher=_page_fetcher([rejected, []]))
        except BaseException as e:  # noqa: BLE001 — inspected below
            outcome["error"] = e

    t = threading.Thread(target=go, daemon=True)
    t.start()
    t.join(180)
    assert not t.is_alive(), "the run did not finish"
    assert isinstance(outcome.get("error"), QualityError), outcome
    assert "row_count > 0" in str(outcome["error"])
    assert not (Path(lake.warehouse_dir) / f"ingestion_date={d}").exists()


def test_empty_feed_fails_before_silver(spark, lake, monkeypatch):
    """A feed whose first page is empty fails the ``row_count > 0`` check
    at once: no retry, no Spark job, nothing written past bronze."""
    from breweries_data_engineering_case_spark.plans import pipeline

    sleeps = []
    monkeypatch.setattr(pipeline.time, "sleep", sleeps.append)
    group = f"empty-feed-{uuid.uuid4().hex}"
    sc = spark.sparkContext
    sc.setJobGroup(group, "empty feed")
    try:
        with pytest.raises(QualityError, match=r"row_count > 0"):
            run(spark, "2024-06-05", cfg=lake, fetcher=_page_fetcher([[]]))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert sleeps == []
    sc._jsc.sc().listenerBus().waitUntilEmpty(30_000)  # let job events reach the tracker
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
    for path in (lake.silver_breweries, lake.gold_counts, lake.warehouse_dir):
        assert not Path(path).exists(), path


def test_empty_feed_rerun_rebuilds_from_earlier_pages(spark, lake):
    """Bronze keeps every page captured for a date, so a rerun whose feed
    comes back empty still builds silver and gold from the earlier pages."""
    first = run(spark, "2024-06-07", cfg=lake, fetcher=_page_fetcher([PAGE_1, PAGE_2, []]))
    again = run(spark, "2024-06-07", cfg=lake, fetcher=_page_fetcher([[]]))
    assert again["bronze_records"] == 0
    assert again["silver_rows"] == first["silver_rows"] == 3
    history = spark.read.parquet(lake.warehouse_dir)
    assert history.agg(F.sum("brewery_count")).collect()[0][0] == 3


@pytest.mark.parametrize("field", ["lake_root", "warehouse_dir"])
def test_non_local_lake_is_rejected_before_the_first_fetch(tmp_path, monkeypatch, field):
    """The daily run writes every layer on the driver, so an object-store
    lake root or warehouse fails at once, before any page is fetched."""
    from breweries_data_engineering_case_spark.plans import pipeline

    sleeps, pages = [], []
    monkeypatch.setattr(pipeline.time, "sleep", sleeps.append)
    uri = "s3a://bucket/lake"
    cfg = Settings(**{"lake_root": str(tmp_path / "lake"),
                      "warehouse_dir": str(tmp_path / "warehouse"), field: uri})

    def fetch(page: int):
        pages.append(page)
        return [], None

    with pytest.raises(ValueError, match=uri):
        run(None, "2024-06-06", cfg=cfg, fetcher=fetch)
    assert pages == [] and sleeps == []


def _land(bronze: Path, d: str, pages: list[list[dict]]) -> None:
    day = bronze / f"ingestion_date={d}"
    day.mkdir(parents=True)
    for i, page in enumerate(pages, 1):
        (day / f"page_{i}.json").write_text(json.dumps(page))


def test_silver_retry_uses_a_fresh_observation(spark, tmp_path, monkeypatch):
    """An attempt that fails after its write still consumed its Observation;
    the retry observes through a new one and reports the written count."""
    d = "2024-06-06"
    bronze = tmp_path / "bronze"
    _land(bronze, d, [PAGE_1, PAGE_2])
    real_write = silver_stage.write_partitioned_parquet
    writes: list[str] = []

    def write_then_fail_once(df, path, cols):
        real_write(df, path, cols)
        writes.append(path)
        if len(writes) == 1:
            raise OSError("lost the commit acknowledgement")

    made = []
    real_observation = silver_stage.Observation

    def observation():
        made.append(real_observation())
        return made[-1]

    monkeypatch.setattr(silver_stage, "write_partitioned_parquet", write_then_fail_once)
    monkeypatch.setattr(silver_stage, "Observation", observation)
    metrics: dict = {}
    rows, out = with_retries(retries=1, delay_s=0)(silver_stage.transform_silver)(
        spark, str(bronze), str(tmp_path / "silver"), d, metrics
    )
    assert len(writes) == 2
    assert len(made) == 2 and made[0] is not made[1]
    assert rows == metrics["__rows"] == spark.read.parquet(out).count() == 3


def test_silver_reads_only_json_pages(spark, tmp_path):
    """Only ``*.json`` files of the date directory are bronze pages, as with
    the reference's ``ingestion_date=d/*.json`` glob."""
    d = "2024-06-07"
    bronze = tmp_path / "bronze"
    _land(bronze, d, [PAGE_1])
    stray = [{"id": "99", "name": "Stray", "country": "US", "state": "CA"}]
    (bronze / f"ingestion_date={d}" / "notes.txt").write_text(json.dumps(stray))
    (bronze / f"ingestion_date={d}" / "page_2.json.partial").write_text(json.dumps(stray))
    rows, out = silver_stage.transform_silver(spark, str(bronze), str(tmp_path / "silver"), d)
    assert rows == 2
    assert {r.id for r in spark.read.parquet(out).collect()} == {"1", "2"}


def test_mixed_engine_silver_lake_reads_as_one(spark, tmp_path):
    """A silver lake holding one date landed by a Spark write (the layout of
    lakes written before silver was collected to Arrow) and one written by
    transform_silver, from the same bronze pages, reads back as one table:
    the same leaves, the same rows through Spark and pyarrow.dataset, and
    the same gold counts. Re-running the Spark-written date replaces its
    leaves whole, checksum files included."""
    old_d, new_d = "2024-06-10", "2024-06-11"
    bronze, silver = tmp_path / "bronze", tmp_path / "silver"
    for d in (old_d, new_d):
        _land(bronze, d, [PAGE_1, PAGE_2, PAGE_3])
    old_out = str(silver / f"ingestion_date={old_d}")
    raw = json_array_scan(spark, str(bronze / f"ingestion_date={old_d}"),
                          schema=BREWERY_RAW_SCHEMA, glob_filter="*.json")
    write_partitioned_parquet(clean_breweries(raw), old_out, SILVER_PARTITION_COLS)
    rows, new_out = silver_stage.transform_silver(spark, str(bronze), str(silver), new_d)
    assert rows == 6

    assert _leaf_dirs(old_out) == _leaf_dirs(new_out) == {
        "country=US/state=CA", "country=US/state=WA", "country=United States/state=Hawai%27i",
        "country=Isle of Man/state=Douglas"}
    # the Spark write leaves a checksum file beside each data file, the Arrow write none
    assert {p.suffix for p in Path(old_out).rglob(".*")} == {".crc"}
    assert not list(Path(new_out).rglob(".*"))

    cols = SILVER_SCHEMA.fieldNames()
    spark_rows: dict[str, set] = collections.defaultdict(set)
    for r in spark.read.parquet(str(silver)).collect():
        spark_rows[str(r["ingestion_date"])].add(tuple(r[c] for c in cols))
    arrow_rows: dict[str, set] = collections.defaultdict(set)
    for r in ds.dataset(str(silver), format="parquet", partitioning="hive").to_table().to_pylist():
        arrow_rows[str(r["ingestion_date"])].add(tuple(r[c] for c in cols))
    assert set(spark_rows) == {old_d, new_d}
    assert spark_rows[old_d] == spark_rows[new_d] and len(spark_rows[new_d]) == rows
    assert arrow_rows == spark_rows

    warehouse = tmp_path / "warehouse"
    for d in (old_d, new_d):
        aggregate_gold(spark, str(silver / f"ingestion_date={d}"), str(tmp_path / "gold"),
                       str(warehouse), d)
    counts: dict[str, set] = collections.defaultdict(set)
    for r in spark.read.parquet(str(warehouse)).collect():
        counts[str(r.ingestion_date)].add((r.country, r.state, r.brewery_type, r.brewery_count))
    assert counts[old_d] == counts[new_d]
    assert sum(c[-1] for c in counts[new_d]) == rows

    assert silver_stage.transform_silver(spark, str(bronze), str(silver), old_d) == (rows, old_out)
    for leaf in _leaf_dirs(old_out):
        assert [p.suffix for p in (Path(old_out) / leaf).iterdir()] == [".parquet"]
    assert {tuple(r[c] for c in cols) for r in spark.read.parquet(old_out).collect()} == \
        spark_rows[old_d]


@pytest.mark.parametrize("interrupt", [KeyboardInterrupt, SystemExit])
def test_retries_let_an_interrupt_through(interrupt):
    """An interrupt inside a stage propagates at once; the stage is not run again."""
    calls = []

    def stage():
        calls.append(1)
        raise interrupt()

    with pytest.raises(interrupt):
        with_retries(retries=2, delay_s=0)(stage)()
    assert calls == [1]


def test_daily_run_job_budget(spark, tmp_path):
    """One date's run takes 5 Spark jobs: silver's dedup map stage and
    collect, Spark's parallel discovery of the 37 ``state=`` directories under
    one ``country=`` (more than its 32-path threshold) when gold reads
    silver, and gold's aggregate map stage and collect. No silver recount,
    no schema inference, no warehouse re-read or whole-history check, no
    sort-sampling job, no Spark write of silver or gold and no parallel
    listing of the 40 bronze pages."""
    pages = [[{"id": f"{p}-{i}", "name": f"N{p}", "brewery_type": "micro", "country": "US",
               "state": f"S{p % 37}"} for i in range(2)] for p in range(40)]
    cfg = Settings(lake_root=str(tmp_path / "lake"),
                   warehouse_dir=str(tmp_path / "lake" / "warehouse"), per_page=2)
    sc = spark.sparkContext
    group = f"job-budget-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "one daily run")
    try:
        result = run(spark, "2024-06-08", cfg=cfg, fetcher=_page_fetcher([*pages, []]))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert result["bronze_pages"] == 40 and result["silver_rows"] == 80
    sc._jsc.sc().listenerBus().waitUntilEmpty(30_000)  # let job events reach the tracker
    jobs = sc.statusTracker().getJobIdsForGroup(group)
    assert 0 < len(jobs) <= 5, f"{len(jobs)} jobs"
