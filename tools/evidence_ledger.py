"""Driver-evidence ledger: which registry query has which round's latest
driver row, and what the next window rotation should lead with.

Usage:
    python tools/evidence_ledger.py                 # full ledger report
    python tools/evidence_ledger.py --next-window   # the exact ordered
        50-name list the NEXT round's `_WINDOW_PRIORITY` should contain
        (red-at-latest first, then zero-evidence in registration order,
        then green oldest-evidence-first) — paste-ready Python literal.
    python tools/evidence_ledger.py --age-dist      # one-line JSON of
        the evidence-age distribution (names per evidence round, oldest
        round, max age in rounds) — the maintenance-rotation health check
        VERDICT r13 #7 asked for; paste the line into NOTES.md.

Pure metadata: reads CORRECTNESS_r*.json and imports the registry for its
names (no Spark session). Run `--next-window` at session end and record
the output in NOTES.md so no name waits more than two windows
(VERDICT r7 ask #3).
"""

from __future__ import annotations

import json
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))


def registry_names() -> list[str]:
    """All registry names in listing order (no Spark session is started)."""
    from breweries_data_engineering_case_spark.plans import registry

    return list(registry.queries())


def latest_evidence() -> dict[str, tuple[str, bool]]:
    """name -> (round, green) using the newest round that mentions it."""
    out: dict[str, tuple[str, bool]] = {}
    for f in sorted(ROOT.glob("CORRECTNESS_r*.json")):
        rnd = f.stem.split("_r")[1]
        for name, row in json.loads(f.read_text()).items():
            green = bool(row.get("hash_match")) or (
                row.get("err") == "no_oracle" and row.get("spark_rows", 0) >= 0
            )
            out[name] = (rnd, green)
    return out


def next_window(size: int = 50) -> list[str]:
    """The ordered window the next round should seat: red-at-latest first
    (a failure must be re-proven fixed), then zero-evidence names in
    registration order (newest code is likeliest to have moved), then
    green names oldest-evidence-first (stalest rows refresh first)."""
    names = registry_names()
    ev = latest_evidence()
    red = [n for n in names if n in ev and not ev[n][1]]
    zero = [n for n in names if n not in ev]
    green = sorted(
        (n for n in names if n in ev and ev[n][1]),
        key=lambda n: (ev[n][0], names.index(n)),
    )
    ordered = red + zero + green
    return ordered[:size]


def age_dist() -> dict:
    """Evidence-age distribution across the registry: how many names have
    their LATEST green driver row in each round, plus zero/red counts and
    the max age in rounds (newest CORRECTNESS round minus oldest evidence
    round). The window rotation is healthy when max_age_rounds stays small
    (~4) and zero_evidence is 0."""
    names = registry_names()
    ev = latest_evidence()
    rounds = sorted({int(r) for r, _ in ev.values()})
    newest = rounds[-1] if rounds else 0
    per_round: dict[str, int] = {}
    for n in names:
        if n in ev and ev[n][1]:
            per_round[f"r{ev[n][0]}"] = per_round.get(f"r{ev[n][0]}", 0) + 1
    oldest = min((int(r[1:]) for r in per_round), default=0)
    return {
        "registry": len(names),
        "green_per_round": dict(sorted(per_round.items())),
        "zero_evidence": sum(1 for n in names if n not in ev),
        "red_at_latest": sum(1 for n in names if n in ev and not ev[n][1]),
        "newest_round": newest,
        "oldest_evidence_round": oldest,
        "max_age_rounds": (newest - oldest) if per_round else 0,
    }


def main() -> None:
    if "--age-dist" in sys.argv:
        print(json.dumps(age_dist()))
        return
    if "--next-window" in sys.argv:
        win = next_window()
        print(f"# next-round window ({len(win)} names) — paste into _WINDOW_PRIORITY:")
        for n in win:
            print(f'    "{n}",')
        return
    names = registry_names()
    ev = latest_evidence()
    zero = [n for n in names if n not in ev]
    red = [n for n in names if n in ev and not ev[n][1]]
    by_round: dict[str, list[str]] = {}
    for n in names:
        if n in ev and ev[n][1]:
            by_round.setdefault(ev[n][0], []).append(n)
    print(f"registry: {len(names)} queries; evidence rows for {len(ev)}")
    print(f"\nZERO EVIDENCE ({len(zero)}):")
    for n in zero:
        print(f"  {n}")
    print(f"\nRED AT LATEST CHECK ({len(red)}):")
    for n in red:
        print(f"  {n} (r{ev[n][0]})")
    print("\nGREEN, oldest evidence first:")
    for rnd in sorted(by_round):
        print(f"  r{rnd}: {len(by_round[rnd])} queries")
        for n in by_round[rnd]:
            print(f"    {n}")


if __name__ == "__main__":
    main()
