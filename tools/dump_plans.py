"""Dump .explain("formatted") of named registry queries, one file each.

Usage: python tools/dump_plans.py OUT_DIR NAME [NAME ...]

Writes OUT_DIR/<name>.txt for each query over the tables in
$SPARK_GRAFT_SF_DIR. Plans are captured fresh (cache cleared first) so the
dump reflects what a run executes. An empty selection or a name the
registry does not know exits 2 before any Spark session starts. Expression
ids (``#123``) differ between processes: strip them before comparing two
dumps.
"""

from __future__ import annotations

import io
import os
import sys
from contextlib import redirect_stdout
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))


def main() -> int:
    if len(sys.argv) < 3:
        print("ERROR: selection is empty — usage: python tools/dump_plans.py "
              "OUT_DIR NAME [NAME ...]", file=sys.stderr)
        return 2
    out_dir = Path(sys.argv[1])
    names = sys.argv[2:]

    from breweries_data_engineering_case_spark.plans import registry

    unknown = [n for n in names if n not in registry.QUERIES]
    if unknown:
        print(f"ERROR: not in registry: {unknown}", file=sys.stderr)
        return 2

    from breweries_data_engineering_case_spark.session import get_spark

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    out_dir.mkdir(parents=True, exist_ok=True)

    spark = get_spark(app_name="bdec-plan-dump")
    spark.sparkContext.setLogLevel("ERROR")
    for name in names:
        spark.catalog.clearCache()
        try:
            df = registry.QUERIES[name](spark, sf_dir)
            buf = io.StringIO()
            with redirect_stdout(buf):
                df.explain("formatted")
            (out_dir / f"{name}.txt").write_text(buf.getvalue())
            print(f"wrote {out_dir / name}.txt")
        except Exception as exc:  # noqa: BLE001 - record the failure, keep going
            (out_dir / f"{name}.txt").write_text(f"ERROR: {exc}\n")
            print(f"ERROR {name}: {exc}", file=sys.stderr)
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
