"""Seeded, network-free Open-Brewery-shaped page feed.

``BreweryFeed(seed, per_page, pages).fetcher(date)`` returns a callable with the
``sources.rest.Fetcher`` signature: ``fetch(page) -> (records, link_header)``.
The same (seed, date) always yields the same pages, so a re-run of a date
lands identical content under new uuid-suffixed bronze keys.

Dirty-data rates (fractions of the records of one date) are stated in
``RATES`` and drive every branch of the silver contract: cross-page duplicate
ids, blank strings, the ``state`` -> ``state_province`` fallback, unparsable
and out-of-range coordinates, null country. The rates are assumed, not
measured: neither the paper nor the Open Brewery DB publishes them; they are
set so that every branch sees tens to hundreds of records per full-size date. Half of the dates (chosen by
seed) serve ``Link rel="last"`` on page 1; the others serve no ``Link`` and
end on a short page, so both ``iter_pages`` regimes run.

``expected_silver`` and ``expected_gold`` compute, in plain Python, what the
pipeline must produce for one date.
"""

from __future__ import annotations

import hashlib
import random
from collections import Counter

# assumed rates (no published source), see the module docstring
RATES = {
    "duplicate_id": 0.06,  # record repeats an id (and payload) of an earlier page
    "blank_name": 0.02,  # "" or spaces -> NULL -> row dropped
    "blank_type": 0.08,  # brewery_type blank -> NULL, kept
    "blank_city": 0.05,
    "state_fallback": 0.10,  # state blank, state_province set -> fallback
    "no_state": 0.02,  # both blank -> row dropped
    "null_country": 0.02,  # -> row dropped
    "bad_coord": 0.04,  # unparsable lat/long -> NULL, kept
    "out_of_range": 0.02,  # |lat| > 90 or |long| > 180 -> row dropped
    "null_coord": 0.10,
    "blank_id": 0.01,  # whitespace-only id -> dropped
    "padded": 0.15,  # leading/trailing spaces that TRIM removes
}

# (country, weight, number of states); state names are "<country> S<k>"
COUNTRIES = [
    ("United States", 60, 12),
    ("England", 8, 4),
    ("Germany", 7, 4),
    ("Ireland", 5, 2),
    ("Scotland", 4, 2),
    ("Australia", 4, 3),
    ("Canada", 3, 3),
    ("Poland", 3, 2),
    ("France", 2, 2),
    ("Portugal", 2, 1),
    ("South Korea", 1, 1),
    ("Isle of Man", 1, 1),
]
#: every (country, state) partition; each date's first records cover them all,
#: so the partition count of a date does not depend on the seed
PARTITIONS = [(c, f"{c} S{k}") for c, _, n in COUNTRIES for k in range(1, n + 1)]
TYPES = ["micro", "nano", "regional", "brewpub", "large", "planning", "contract", "proprietor", "closed"]
_TYPE_W = [40, 8, 10, 25, 3, 4, 4, 3, 3]


def _rng(*parts: object) -> random.Random:
    h = hashlib.sha256("|".join(map(str, parts)).encode()).digest()
    return random.Random(int.from_bytes(h[:8], "big"))


def _pad(rng: random.Random, s: str) -> str:
    return f"  {s} " if rng.random() < RATES["padded"] else s


def _blank(rng: random.Random) -> str:
    return rng.choice(["", " ", "   "])


def _coord(rng: random.Random, lo: float, hi: float, bad: str):
    if bad == "null":
        return None
    if bad == "garbage":
        return rng.choice(["abc", "N/A", "12.3.4", "--"])
    if bad == "range":
        return rng.choice([hi + 1.5, lo - 3.25])
    v = round(rng.uniform(lo, hi), 6)
    return str(v) if rng.random() < 0.5 else v  # strings and JSON numbers


class BreweryFeed:
    """Seeded source of brewery pages; one instance per benchmark run."""

    def __init__(self, seed: int, per_page: int, pages: int) -> None:
        if pages < 2 or per_page < 4:
            raise ValueError("need at least 2 pages of 4 records")
        self.seed = seed
        self.per_page = per_page
        self.pages = pages
        self._cache: dict[str, list[list[dict]]] = {}

    def _partition(self, rng: random.Random) -> tuple[str, str]:
        country, _, n_states = rng.choices(COUNTRIES, weights=[c[1] for c in COUNTRIES])[0]
        k = min(int(rng.paretovariate(1.2)), n_states)  # skewed state sizes
        return country, f"{country} S{k}"

    def _record(self, rng: random.Random, date: str, serial: int) -> dict:
        if serial < len(PARTITIONS):  # clean record that pins the partition set
            country, state = PARTITIONS[serial]
        else:
            country, state = self._partition(rng)
        r = {
            "id": f"{date}-{serial:06d}",
            "name": _pad(rng, f"Brewery {serial}"),
            "brewery_type": rng.choices(TYPES, weights=_TYPE_W)[0],
            "address_1": f"{rng.randint(1, 9999)} Main St",
            "address_2": None,
            "address_3": None,
            "city": _pad(rng, f"City {rng.randint(1, 400)}"),
            "state_province": state,
            "state": state,
            "postal_code": f"{rng.randint(10000, 99999)}",
            "country": _pad(rng, country),
            "phone": f"{rng.randint(10**9, 10**10 - 1)}",
            "website_url": None,
            "street": f"{rng.randint(1, 9999)} Main St",
        }
        if serial < len(PARTITIONS):
            r["latitude"], r["longitude"] = str(round(rng.uniform(-90, 90), 6)), None
            return r
        u = rng.random()
        if u < RATES["state_fallback"]:
            r["state"] = rng.choice([None, _blank(rng)])
        elif u < RATES["state_fallback"] + RATES["no_state"]:
            r["state"] = _blank(rng)
            r["state_province"] = rng.choice([None, _blank(rng)])
        if rng.random() < RATES["blank_name"]:
            r["name"] = _blank(rng)
        if rng.random() < RATES["blank_type"]:
            r["brewery_type"] = _blank(rng)
        if rng.random() < RATES["blank_city"]:
            r["city"] = _blank(rng)
        if rng.random() < RATES["null_country"]:
            r["country"] = rng.choice([None, _blank(rng)])
        if rng.random() < RATES["blank_id"]:
            r["id"] = _blank(rng)
        u = rng.random()
        bad = ("garbage" if u < RATES["bad_coord"]
               else "range" if u < RATES["bad_coord"] + RATES["out_of_range"]
               else "null" if u < RATES["bad_coord"] + RATES["out_of_range"] + RATES["null_coord"]
               else "")
        which = rng.random() < 0.5
        r["latitude"] = _coord(rng, -90.0, 90.0, bad if which else "")
        r["longitude"] = _coord(rng, -180.0, 180.0, "" if which else bad)
        return r

    def pages_for(self, date: str) -> list[list[dict]]:
        """All pages of one date; the last page is short."""
        if date not in self._cache:
            rng = _rng("brewery", self.seed, date)
            out: list[list[dict]] = []
            seen: list[dict] = []
            serial = 0
            for p in range(self.pages):
                n = self.per_page if p < self.pages - 1 else self.per_page // 2
                page = []
                for _ in range(n):
                    if seen and rng.random() < RATES["duplicate_id"]:
                        page.append(dict(rng.choice(seen)))  # payload-identical
                    else:
                        rec = self._record(rng, date, serial)
                        serial += 1
                        page.append(rec)
                out.append(page)
                seen.extend(page)
            self._cache[date] = out
        return self._cache[date]

    def serves_link(self, date: str) -> bool:
        return _rng("link", self.seed, date).random() < 0.5

    def fetcher(self, date: str):
        pages = self.pages_for(date)
        link = self.serves_link(date)

        def fetch(page: int):
            records = [dict(r) for r in pages[page - 1]] if 1 <= page <= len(pages) else []
            header = None
            if link and page == 1:
                base = "https://feed.invalid/v1/breweries"
                header = (f'<{base}?per_page={self.per_page}&page=2>; rel="next", '
                          f'<{base}?per_page={self.per_page}&page={len(pages)}>; rel="last"')
            return records, header

        return fetch

    def records(self, date: str) -> int:
        return sum(len(p) for p in self.pages_for(date))

    def history_counts(self, date: str) -> Counter:
        """Gold counts of a prior history date, as a warehouse partition the
        benchmark writes before the first run: (country, state, type) -> count."""
        rng = _rng("history", self.seed, date)
        return Counter((*self._partition(rng), rng.choice(TYPES))
                       for _ in range(self.pages * self.per_page))


def _clean(v) -> str | None:
    if v is None:
        return None
    s = str(v).strip(" ")
    return s or None


def _double(v) -> float | None:
    s = _clean(v)
    if s is None:
        return None
    try:
        return float(s)
    except ValueError:
        return None


def expected_silver(pages: list[list[dict]]) -> dict[str, tuple]:
    """id -> (name, brewery_type, country, state) after clean/dedup/enforce."""
    out: dict[str, tuple] = {}
    for page in pages:
        for r in page:
            rid = _clean(r["id"])
            state = _clean(r["state"]) or _clean(r["state_province"])
            row = (_clean(r["name"]), _clean(r["brewery_type"]), _clean(r["country"]), state)
            lat, lon = _double(r["latitude"]), _double(r["longitude"])
            if rid is None or row[0] is None or row[2] is None or state is None:
                continue
            if lat is not None and not -90.0 <= lat <= 90.0:
                continue
            if lon is not None and not -180.0 <= lon <= 180.0:
                continue
            out[rid] = row
    return out


def expected_gold(silver: dict[str, tuple]) -> Counter:
    """(country, state, brewery_type or '') -> brewery_count."""
    return Counter((c, s, t or "") for _, t, c, s in silver.values())
