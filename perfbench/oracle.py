"""Query results against their DuckDB oracles, and the lake against the
plain-Python expectation of the brewery feed."""

from __future__ import annotations

import sys
from collections import Counter
from pathlib import Path

import pyarrow.dataset as ds
import pyarrow.parquet as pq

from brewery_feed import BreweryFeed, expected_gold, expected_silver


def _replica_norm():
    """The value normalisation of the repository's correctness gate."""
    root = str(Path(__file__).resolve().parent.parent / "tools")
    sys.path.insert(0, root)
    try:
        from replica import norm
    finally:
        sys.path.remove(root)
    return norm


def compare_queries(results: dict[str, tuple[list[str], list[tuple]]], oracles: dict[str, str],
                    table_dir: Path, tables: tuple[str, ...]) -> dict[str, str]:
    """name -> "MATCH" | "ROWS_ONLY" | "MISMATCH ..." | "ORACLE_ERROR ...".

    Oracle-less entries pass on a non-empty result (their rows-only check)."""
    import duckdb

    norm = _replica_norm()
    con = duckdb.connect()
    try:
        con.sql("SET threads = 4")
        for t in tables:
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{table_dir / f'{t}.parquet'}'")
        out: dict[str, str] = {}
        for name, (scols, srows) in results.items():
            sql = oracles.get(name)
            if sql is None:
                out[name] = "ROWS_ONLY" if srows else "MISMATCH (no rows)"
                continue
            try:
                rel = con.sql(sql)
                dcols = [d[0] for d in rel.description]
                drows = rel.fetchall()
            except Exception as ex:  # noqa: BLE001 — recorded as a failed check
                out[name] = f"ORACLE_ERROR {type(ex).__name__}: {ex}"[:300]
                continue
            if len(srows) != len(drows) or sorted(scols) != sorted(dcols):
                out[name] = f"MISMATCH (rows {len(srows)} vs {len(drows)})"
                continue
            si = sorted(range(len(scols)), key=lambda i: scols[i])
            di = sorted(range(len(dcols)), key=lambda i: dcols[i])
            same = sorted(tuple(norm(r[i]) for i in si) for r in srows) == sorted(
                tuple(norm(r[i]) for i in di) for r in drows)
            out[name] = "MATCH" if same else "MISMATCH (values)"
        return out
    finally:
        con.close()


def _silver_rows(silver_dir: Path) -> dict[str, tuple]:
    t = ds.dataset(silver_dir, format="parquet", partitioning="hive").to_table(
        columns=["id", "name", "brewery_type", "country", "state"]).to_pylist()
    return {r["id"]: (r["name"], r["brewery_type"], r["country"], r["state"]) for r in t}


def warehouse_counts(date_dir: Path) -> Counter:
    t = pq.read_table(date_dir, columns=["country", "state", "brewery_type", "brewery_count"])
    return Counter({(r["country"], r["state"], r["brewery_type"]): r["brewery_count"]
                    for r in t.to_pylist()})


def check_lake(feed: BreweryFeed, silver_root: Path, warehouse: Path, run_dates: list[str],
               history: dict[str, Counter]) -> dict[str, str]:
    """Every run date's silver rows and gold counts equal the expectation,
    and every prior history date is untouched."""
    out: dict[str, str] = {}

    def check(key: str, read, want, mismatch: str) -> None:
        # a date a failed run left missing or half written is a mismatch
        try:
            got = read()
        except (OSError, ValueError) as ex:  # pyarrow's errors derive from these
            out[key] = f"MISMATCH ({type(ex).__name__})"
            return
        out[key] = "MATCH" if got == want else mismatch

    for d in run_dates:
        exp = expected_silver(feed.pages_for(d))
        check(f"silver {d}", lambda: _silver_rows(silver_root / f"ingestion_date={d}"), exp,
              f"MISMATCH (rows differ from the {len(exp)} expected)")
        check(f"gold {d}", lambda: warehouse_counts(warehouse / f"ingestion_date={d}"),
              expected_gold(exp), "MISMATCH (counts)")
    for d, counts in history.items():
        check(f"history {d}", lambda: warehouse_counts(warehouse / f"ingestion_date={d}"), counts,
              "MISMATCH (history changed)")
    return out
