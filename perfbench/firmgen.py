"""Seeded firmographic generator: RAW landings of both sources plus truth.

Each night lands two parquet files shaped like the RAW tables
(``id, source, ingested_at, payload``): Wikipedia S&P rows as a JSON array
per document, Fortune items as ``{"items": [...]}`` per document, with
``chunk`` elements per document, so one night is many RAW rows.

Two night shapes:

- ``full``: every company is re-landed in both sources (the reference DAG's
  nightly behaviour), with drifting values and a few headquarters moves.
- ``delta``: only ~1 % of the companies change, plus a few new ones.

Every parsing edge case of FIXTURES.md §1-§2 appears: parenthetical
security names, duplicate CIKs (share classes), the whole-field ``none``
HQ sentinel beside a city named ``none``, empty dates, ``$``/comma/decimal
/negative money strings, empty employee and percent fields, empty rank
changes, and missing flag keys. The generator also respects the pipeline's
own gates (profits <= revenues, ranges of the staging tests).

The truth is computed here, apart from the program, by simulating the
reference semantics on the generator's own records; ``Truth`` holds what
the output checks compare against after each night.
"""

from __future__ import annotations

import hashlib
import json
import os
import random
from dataclasses import dataclass, field
from datetime import datetime, timedelta

import pyarrow as pa
import pyarrow.parquet as pq

T0 = datetime(2025, 1, 1)
RAW_SCHEMA = pa.schema(
    [
        ("id", pa.int64()),
        ("source", pa.string()),
        ("ingested_at", pa.timestamp("us", tz="UTC")),
        ("payload", pa.string()),
    ]
)
WIKI_SOURCE = "wikipedia_sp500"
FORTUNE_SOURCE = "fortune500"

_WORDS_A = ["Acme", "Summit", "Harbor", "Granite", "Northwind", "Bluebird", "Pioneer",
            "Crescent", "Orchard", "Meridian", "Keystone", "Lighthouse", "Redwood", "Atlas"]
_WORDS_B = ["Holdings", "Systems", "Foods", "Energy", "Capital", "Labs", "Logistics",
            "Health", "Motors", "Retail", "Media", "Materials", "Networks", "Brands"]
_SECTORS = ["Industrials", "Health Care", "Financials", "Energy", "Utilities",
            "Information Technology", "Consumer Staples", "Materials"]
_PLACES = [("Bentonville", "Arkansas", "AR"), ("Saint Paul", "Minnesota", "MN"),
           ("Mountain View", "California", "CA"), ("Austin", "Texas", "TX"),
           ("Boston", "Massachusetts", "MA"), ("Seattle", "Washington", "WA"),
           ("Chicago", "Illinois", "IL"), ("Denver", "Colorado", "CO"),
           ("Atlanta", "Georgia", "GA"), ("none", "Alaska", "AK")]
_FLAGS = ["Best Companies", "Change the World", "Dropped in Rank", "Future 50",
          "Global 500", "Profitable", "Newcomer to the Fortune 500", "Female CEO",
          "Founder is CEO", "Fastest Growing Companies", "World's Most Admired Companies"]


def _symbol(i: int) -> str:
    s = ""
    i += 26 * 26  # at least three letters
    while i:
        i, r = divmod(i, 26)
        s = chr(65 + r) + s
    return s


def _money(rng: random.Random, v: float) -> str:
    """One of the reference's money spellings for value ``v``."""
    body = f"{abs(v):,.1f}" if v != int(v) else f"{abs(int(v)):,}"
    form = rng.randrange(4)
    if v < 0:
        return "$-" + body if form < 2 else "-$" + body
    if form == 0:
        return body  # no currency sign
    if form == 1 and v == int(v):
        return f"${abs(int(v)):,}.0"  # trailing .0
    return "$" + body


@dataclass
class Company:
    name: str
    symbol: str
    cik: int
    in_wiki: bool
    in_fortune: bool
    share_class: bool  # a second wiki row with the same CIK
    city: str
    state: str
    wiki_hq: str
    date_added: str
    date_added_2: str  # the second share class's date
    founded: str
    sector: str
    rank: int
    revenues: float = 0.0
    profits: float = 0.0
    assets: float | None = 0.0
    market_value: float | None = 0.0
    employees: int | None = 0
    rev_pct: float | None = 0.0
    prof_pct: float | None = 0.0
    chg500: int | None = 0
    chg1000: int | None = 0
    flags: dict = field(default_factory=dict)
    past_places: set = field(default_factory=set)

    @property
    def slug(self) -> str:
        return self.name.lower().replace(" & ", "-").replace(" ", "-")

    def _first_class_wins(self) -> bool:
        """dedup_first per CIK: earliest date_added wins, empty dates last."""
        return not self.share_class or (self.date_added or "9999") < (self.date_added_2 or "9999")

    def winner_symbol(self) -> str:
        return self.symbol if self._first_class_wins() else self.symbol + ".B"

    def winner_date(self) -> str:
        return self.date_added if self._first_class_wins() else self.date_added_2


def _new_company(rng: random.Random, i: int) -> Company:
    city, state_long, state = _PLACES[rng.randrange(len(_PLACES) - 1)]
    r = rng.random()
    if 0.01 <= r < 0.02:
        city, state_long, state = _PLACES[-1]  # a city literally named "none"
    # the whole-field sentinel nulls both staged HQ parts
    wiki_hq = "none" if r < 0.01 else f"{city}, {state_long}"
    share_class = rng.random() < 0.02
    d1 = "" if rng.random() < 0.04 else (T0 - timedelta(days=rng.randrange(200, 20000))).strftime("%Y-%m-%d")
    d2 = ""
    if share_class:
        # distinct dates (one may be empty, never both): dedup has no ties
        d2 = (T0 - timedelta(days=rng.randrange(200, 20000))).strftime("%Y-%m-%d")
        while d2 == d1:
            d2 = (T0 - timedelta(days=rng.randrange(200, 20000))).strftime("%Y-%m-%d")
    year = rng.randrange(1850, 2020)
    founded = f"{year} (as {rng.choice(_WORDS_A)} Works)" if rng.random() < 0.3 else str(year)
    member = rng.random()
    c = Company(
        name=f"{_WORDS_A[i % 14]} {_WORDS_B[(i // 14) % 14]} {i:06d}"
        + (" & Co" if i % 17 == 0 else ""),
        symbol=_symbol(i),
        cik=100000 + 7 * i,
        in_wiki=member >= 0.04,  # ~4 % fortune-only
        in_fortune=member < 0.04 or member >= 0.08,  # ~4 % wiki-only
        share_class=share_class,
        city=city,
        state=state,
        wiki_hq=wiki_hq,
        date_added=d1,
        date_added_2=d2,
        founded=founded,
        sector=rng.choice(_SECTORS),
        rank=i + 1,
    )
    _drift(rng, c)
    return c


def _drift(rng: random.Random, c: Company) -> None:
    """New measures for a company (every field the staging parser reads)."""
    # round(.., 1) is the double nearest the one-decimal string Spark parses
    c.revenues = round(rng.randrange(5000, 7000000) / 10, 1) if rng.random() < 0.3 else float(rng.randrange(500, 700000))
    c.profits = round(rng.uniform(-0.2, 0.3) * c.revenues, rng.choice([0, 1]))
    c.profits = min(c.profits, c.revenues)  # stg gate: profits <= revenues
    c.assets = None if rng.random() < 0.02 else float(rng.randrange(0, 2000000))
    c.market_value = None if rng.random() < 0.02 else float(rng.randrange(0, 3000000))
    c.employees = None if rng.random() < 0.03 else rng.randrange(0, 2500000)
    c.rev_pct = None if rng.random() < 0.05 else round(rng.uniform(-60, 120), 1)
    c.prof_pct = None if rng.random() < 0.05 else round(rng.uniform(-300, 500), 1)
    c.chg500 = None if rng.random() < 0.3 else rng.randrange(-500, 501)
    c.chg1000 = None if rng.random() < 0.3 else rng.randrange(-1000, 1001)
    c.flags = {}
    for f in _FLAGS:
        r = rng.random()
        if r < 0.9:  # else: key missing -> false
            c.flags[f] = "yes" if r < 0.3 else "no"


def _move(rng: random.Random, c: Company) -> None:
    """Move the Fortune HQ to a place the company never had, so a location
    key, once closed, never reopens (each key's versions stay contiguous)."""
    c.past_places.add((c.city, c.state))
    fresh = [(city, st) for city, _, st in _PLACES[:-1] if (city, st) not in c.past_places]
    if fresh:
        c.city, c.state = rng.choice(fresh)


def _wiki_rows(rng: random.Random, c: Company) -> list[dict]:
    paren = rng.random() < 0.25
    base = {
        "Symbol": c.symbol,
        "Security": c.name + (" (Class A)" if paren or c.share_class else ""),
        "GICS Sector": c.sector,
        "GICS Sub-Industry": c.sector + " Misc",
        "Headquarters Location": c.wiki_hq,
        "Date added": c.date_added,
        "CIK": c.cik,
        "Founded": c.founded,
    }
    rows = [base]
    if c.share_class:
        rows.append(dict(base, **{"Symbol": c.symbol + ".B", "Security": c.name + " (Class B)",
                                  "Date added": c.date_added_2}))
    return rows


def _fortune_item(rng: random.Random, c: Company) -> dict:
    def opt(v, fmt):
        return "" if v is None else fmt(v)

    data = {
        "Assets ($M)": opt(c.assets, lambda v: _money(rng, v)),
        "Revenues ($M)": _money(rng, c.revenues),
        "Profits ($M)": _money(rng, c.profits),
        "Market Value ($M)": opt(c.market_value, lambda v: _money(rng, v)),
        "Employees": opt(c.employees, lambda v: f"{v:,}" if rng.random() < 0.8 else str(v)),
        "Revenue Percent Change": opt(c.rev_pct, lambda v: f"{v}%"),
        "Profits Percent Change": opt(c.prof_pct, lambda v: f"{v}%"),
        "Headquarters City": c.city,
        "State": c.state,
        "Industry": c.sector + " Misc",
        "Sector": c.sector,
        "Change in Rank (500 only)": opt(c.chg500, str),
        "Change in Rank (Full 1000)": opt(c.chg1000, str),
        **c.flags,
    }
    return {"name": c.name, "order": c.rank, "rank": c.rank, "slug": c.slug, "data": data}


def _chunks(xs: list, n: int) -> list[list]:
    return [xs[k : k + n] for k in range(0, len(xs), n)]


def _write_raw(path: str, night: int, source: str, ts: datetime, payloads: list[str]) -> None:
    ids = [night * 1_000_000 + k for k in range(len(payloads))]
    table = pa.table(
        {
            "id": ids,
            "source": [source] * len(payloads),
            "ingested_at": pa.array([ts] * len(payloads), pa.timestamp("us", tz="UTC")),
            "payload": payloads,
        },
        schema=RAW_SCHEMA,
    )
    pq.write_table(table, path)


def expected_core_row(c: Company, ts: datetime) -> dict:
    """The parsed values the core row of ``c`` must hold after night ``ts``."""
    return {
        "company_name": c.name,
        "cik": c.cik,
        "symbol": c.winner_symbol(),
        "date_added": c.winner_date() or None,
        "founded_year": int(c.founded[:4]),
        "revenues_m": c.revenues,
        "profits_m": c.profits,
        "assets_m": c.assets,
        "market_value_m": c.market_value,
        "employees": c.employees,
        "revenue_pct_change": c.rev_pct if c.rev_pct is not None else 0.0,
        "profit_pct_change": c.prof_pct if c.prof_pct is not None else 0.0,
        "change_rank_500": float(c.chg500 or 0),
        "change_rank_1000": float(c.chg1000 or 0),
        "headquarters_city": c.city,
        "headquarters_state": c.state,
        "slug": c.slug,
        "is_best_company": c.flags.get("Best Companies") == "yes",
        "last_updated": ts,
    }


class _Scd2Sim:
    """Reference snapshot semantics (timestamp strategy, hard deletes
    invalidated), tracked as counts: open key -> updated_at."""

    def __init__(self) -> None:
        self.open: dict[str, datetime] = {}
        self.rows = 0

    def apply(self, source: dict[str, datetime]) -> None:
        for k, ts in source.items():
            if k not in self.open or ts > self.open[k]:
                self.rows += 1
        self.open = dict(source)


@dataclass
class Truth:
    """What the warehouse must hold after the latest generated night."""

    core: dict[int, dict]  # cik -> expected core row
    location_rows: int
    metrics_rows: int
    wiki_hq: dict[int, tuple]  # cik -> (city, country) staged from wiki
    dup_ciks: dict[int, tuple]  # CIK of two share classes -> (winner, loser) symbol
    night_ts: datetime


class FirmGen:
    """Generates nights for one company universe; keeps the truth current."""

    def __init__(self, seed: int, n_companies: int, chunk: int = 250) -> None:
        self.rng = random.Random(seed)
        self.chunk = chunk
        self.companies = [_new_company(self.rng, i) for i in range(n_companies)]
        self.night = 0
        # staged state as the reference would hold it
        self._landed_wiki: dict[int, Company] = {}
        self._fortune_ts: dict[str, datetime] = {}
        self._core: dict[int, dict] = {}
        self._loc = _Scd2Sim()
        self._met = _Scd2Sim()

    def _land(self, out_dir: str, wiki: list[Company], fortune: list[Company]) -> dict:
        ts = T0 + timedelta(days=self.night)
        os.makedirs(out_dir, exist_ok=True)
        rng = self.rng
        wiki_rows = [r for c in wiki for r in _wiki_rows(rng, c)]
        rng.shuffle(wiki_rows)
        items = [_fortune_item(rng, c) for c in fortune]
        rng.shuffle(items)
        paths = {}
        for src, docs in (
            (WIKI_SOURCE, [json.dumps(ch) for ch in _chunks(wiki_rows, self.chunk)]),
            (FORTUNE_SOURCE, [json.dumps({"items": ch}) for ch in _chunks(items, self.chunk)]),
        ):
            p = os.path.join(out_dir, f"{src}-night{self.night:03d}.parquet")
            _write_raw(p, self.night, src, ts, docs)
            paths[src] = p
        self._advance_truth(ts, wiki, fortune)
        self.night += 1
        return paths

    def _advance_truth(self, ts: datetime, wiki: list[Company], fortune: list[Company]) -> None:
        for c in fortune:
            self._fortune_ts[c.name] = ts
        new_wiki = {c.cik: c for c in wiki}
        self._landed_wiki.update(new_wiki)
        # core: the night's wiki rows inner-joined to every staged fortune
        # row on the name; fortune's ingested_at becomes last_updated
        for cik, c in new_wiki.items():
            if c.name in self._fortune_ts:
                self._core[cik] = expected_core_row(c, self._fortune_ts[c.name])

        def key(*parts):
            return hashlib.md5("-".join(str(p) for p in parts).encode()).hexdigest()

        self._loc.apply({key(r["company_name"], r["headquarters_city"], r["headquarters_state"]): r["last_updated"]
                         for r in self._core.values()})
        self._met.apply({key(r["company_name"], r["slug"]): r["last_updated"] for r in self._core.values()})

    def truth(self) -> Truth:
        wiki_hq = {}
        for cik, c in self._landed_wiki.items():
            if c.wiki_hq == "none":
                wiki_hq[cik] = (None, None)
            else:
                city, country = c.wiki_hq.split(", ")
                wiki_hq[cik] = (city, country)
        return Truth(
            core={k: dict(v) for k, v in self._core.items()},
            location_rows=self._loc.rows,
            metrics_rows=self._met.rows,
            wiki_hq=wiki_hq,
            dup_ciks={
                cik: (c.winner_symbol(), ({c.symbol, c.symbol + ".B"} - {c.winner_symbol()}).pop())
                for cik, c in self._landed_wiki.items() if c.share_class
            },
            night_ts=T0 + timedelta(days=self.night - 1),
        )

    # -- night shapes -------------------------------------------------------
    def initial(self, out_dir: str) -> dict:
        return self._land(
            out_dir,
            [c for c in self.companies if c.in_wiki],
            [c for c in self.companies if c.in_fortune],
        )

    def full_night(self, out_dir: str) -> dict:
        """Re-land every company in both sources; values drift, ~1 % move."""
        for c in self.companies:
            _drift(self.rng, c)
            if self.rng.random() < 0.01:
                _move(self.rng, c)
        return self.initial(out_dir)

    def delta_night(self, out_dir: str, changed_share: float = 0.01, n_new: int = 5) -> dict:
        """Land ~``changed_share`` of the companies with new values, plus
        ``n_new`` brand-new companies, in both of the sources each is in."""
        k = max(1, int(len(self.companies) * changed_share))
        changed = self.rng.sample(self.companies, k)
        for c in changed:
            _drift(self.rng, c)
            if self.rng.random() < 0.1:
                _move(self.rng, c)
        start = len(self.companies)
        new = [_new_company(self.rng, i) for i in range(start, start + n_new)]
        self.companies.extend(new)
        batch = changed + new
        return self._land(out_dir, [c for c in batch if c.in_wiki], [c for c in batch if c.in_fortune])
