"""Output checks, each computed apart from the program under test.

Pipeline checks read the warehouse's parquet files with pyarrow (not Spark)
and compare them with the generator's truth (``firmgen.Truth``), with
surrogate keys recomputed by ``hashlib``, and with properties SCD2 history
must have. Query checks compare a query's rows with its DuckDB oracle's.

Every check returns a list of failure messages; empty means it passed.
"""

from __future__ import annotations

import hashlib
import math
import os
from collections import defaultdict
from datetime import date, datetime

import pandas as pd
import pyarrow.parquet as pq

NULL_KEY = "_dbt_utils_surrogate_key_null_"
#: Float tolerance of the query checks (relative, absolute).
REL_TOL, ABS_TOL = 1e-9, 1e-12

PIPELINE_TABLES = {
    "stg_wiki": ("staging", "stg_wiki_sp500"),
    "core": ("core", "cr_company_complete"),
    "loc_snap": ("snapshots", "company_location_snapshot"),
    "met_snap": ("snapshots", "fortune_metrics_snapshot"),
    "dim_company": ("analytics", "dim_company"),
    "dim_location": ("analytics", "dim_location"),
    "fact": ("analytics", "fact_company_performance"),
}


def dbt_key(*parts) -> str:
    """dbt_utils.generate_surrogate_key, recomputed with hashlib."""
    return hashlib.md5(
        "-".join(NULL_KEY if p is None else str(p) for p in parts).encode()
    ).hexdigest()


def _ts(v) -> datetime | None:
    if v is None or (isinstance(v, float) and math.isnan(v)) or v is pd.NaT:
        return None
    t = pd.Timestamp(v)
    if t.tzinfo is not None:
        t = t.tz_convert("UTC").tz_localize(None)
    return t.to_pydatetime()


def _none(v):
    return None if v is None or (isinstance(v, float) and math.isnan(v)) or v is pd.NaT else v


def load_warehouse(root: str) -> dict[str, pd.DataFrame]:
    out = {}
    for name, (schema, table) in PIPELINE_TABLES.items():
        out[name] = pq.read_table(os.path.join(root, schema, table)).to_pandas()
    return out


def _records(df: pd.DataFrame) -> list[dict]:
    return [{k: _none(v) for k, v in r.items()} for r in df.to_dict("records")]


# -- pipeline checks ---------------------------------------------------------


def check_core_membership(t, truth) -> list[str]:
    ciks = [int(c) for c in t["core"]["cik"]]
    errs = []
    if len(ciks) != len(set(ciks)):
        errs.append("core holds a CIK twice")
    want = set(truth.core)
    if set(ciks) != want:
        errs.append(f"core CIKs differ: {len(set(ciks) - want)} extra, {len(want - set(ciks))} missing")
    return errs


def check_duplicate_cik_winners(t, truth) -> list[str]:
    """A CIK landed with two share classes keeps the earlier-added one."""
    staged = {int(r["cik"]): r["symbol"] for r in _records(t["stg_wiki"])}
    core = {int(r["cik"]): r["symbol"] for r in _records(t["core"])}
    bad = [cik for cik, (win, _) in truth.dup_ciks.items()
           if staged.get(cik) != win or core.get(cik, win) != win]
    if not truth.dup_ciks:
        return ["the inputs hold no duplicate CIK"]
    return [f"{len(bad)} duplicate CIKs keep the wrong share class, e.g. CIK {bad[0]}"] if bad else []


_PARSED = ("company_name", "symbol", "founded_year", "revenues_m", "profits_m", "assets_m",
           "market_value_m", "employees", "revenue_pct_change", "profit_pct_change",
           "change_rank_500", "change_rank_1000", "headquarters_city", "headquarters_state",
           "slug", "is_best_company")


def check_parsed_values(t, truth) -> list[str]:
    errs = []
    for r in _records(t["core"]):
        want = truth.core.get(int(r["cik"]))
        if want is None:
            continue
        for col in _PARSED:
            if r[col] != want[col]:
                errs.append(f"core CIK {r['cik']} {col}: {r[col]!r} != {want[col]!r}")
        d = r["date_added"]
        d = d.isoformat() if isinstance(d, (date, datetime)) else d
        if d != want["date_added"]:
            errs.append(f"core CIK {r['cik']} date_added: {d!r} != {want['date_added']!r}")
        if _ts(r["last_updated"]) != want["last_updated"]:
            errs.append(f"core CIK {r['cik']} last_updated: {r['last_updated']!r}")
    for r in _records(t["stg_wiki"]):
        got = (r["headquarters_location_city"], r["headquarters_location_country"])
        if got != truth.wiki_hq.get(int(r["cik"])):
            errs.append(f"staged wiki CIK {r['cik']} HQ {got!r} != {truth.wiki_hq.get(int(r['cik']))!r}")
    return errs[:5] + ([f"... {len(errs) - 5} more"] if len(errs) > 5 else [])


def check_history_counts(t, truth) -> list[str]:
    errs = []
    if len(t["loc_snap"]) != truth.location_rows:
        errs.append(f"location snapshot rows {len(t['loc_snap'])} != {truth.location_rows}")
    if len(t["met_snap"]) != truth.metrics_rows:
        errs.append(f"metrics snapshot rows {len(t['met_snap'])} != {truth.metrics_rows}")
    return errs


def check_surrogate_keys(t, truth) -> list[str]:
    errs = []
    core = _records(t["core"])
    want_company = {dbt_key(r["company_name"], r["symbol"]): r for r in core}
    dim = {r["company_key"]: r for r in _records(t["dim_company"])}
    if set(dim) != set(want_company):
        errs.append("dim_company keys differ from md5(company_name, symbol) over core")
    for k, r in dim.items():
        if k in want_company and r["company_name"] != want_company[k]["company_name"]:
            errs.append(f"dim_company key {k} names {r['company_name']!r}")
    fact = {r["company_key"]: r for r in _records(t["fact"])}
    for k, c in want_company.items():
        f = fact.get(k)
        if f is None:
            errs.append(f"fact misses company_key of {c['company_name']!r}")
            continue
        if f["location_key"] != dbt_key(c["company_name"], c["headquarters_city"], c["headquarters_state"]):
            errs.append(f"fact location_key wrong for {c['company_name']!r}")
        if f["fortune_metrics_key"] != dbt_key(c["company_name"], c["slug"]):
            errs.append(f"fact fortune_metrics_key wrong for {c['company_name']!r}")
    for snap, key in (("loc_snap", "location_key"), ("met_snap", "fortune_metrics_key")):
        for r in _records(t[snap]):
            ts = _ts(r["dbt_updated_at"]).strftime("%Y-%m-%d %H:%M:%S")
            if r["dbt_scd_id"] != dbt_key(r[key], ts):
                errs.append(f"{snap} dbt_scd_id wrong for {r[key]}")
                break
    return errs[:5]


def check_scd2_properties(t, truth) -> list[str]:
    errs = []
    live = {
        "loc_snap": {dbt_key(r["company_name"], r["headquarters_city"], r["headquarters_state"])
                     for r in truth.core.values()},
        "met_snap": {dbt_key(r["company_name"], r["slug"]) for r in truth.core.values()},
    }
    for snap, key in (("loc_snap", "location_key"), ("met_snap", "fortune_metrics_key")):
        versions = defaultdict(list)
        for r in _records(t[snap]):
            versions[r[key]].append((_ts(r["dbt_valid_from"]), _ts(r["dbt_valid_to"])))
        for k, vs in versions.items():
            vs.sort(key=lambda v: v[0])
            n_open = sum(v[1] is None for v in vs)
            if n_open != (1 if k in live[snap] else 0):
                errs.append(f"{snap} key {k} has {n_open} open rows")
            for (f0, t0), (f1, _) in zip(vs, vs[1:]):
                if t0 != f1:
                    errs.append(f"{snap} key {k}: valid_to {t0} != successor valid_from {f1}")
            if vs[-1][1] is not None and vs[-1][1] < vs[-1][0]:
                errs.append(f"{snap} key {k} closes before it opens")
        if not live[snap] <= set(versions):
            errs.append(f"{snap} misses live keys")
    return errs[:5]


def check_conserved_totals(t, truth) -> list[str]:
    errs = []
    want = math.fsum(r["revenues_m"] for r in truth.core.values())
    got = math.fsum(float(v) for v in t["fact"]["revenues_m"])
    if not math.isclose(got, want, rel_tol=1e-12):
        errs.append(f"sum(fact.revenues_m) {got!r} != generator sum {want!r}")
    n_open = int(t["loc_snap"]["dbt_valid_to"].isna().sum())
    counts = {"core": len(t["core"]), "fact": len(t["fact"]), "dim_company": len(t["dim_company"]),
              "open location rows": n_open, "dim_location": len(t["dim_location"])}
    if len(set(counts.values())) != 1:
        errs.append(f"row counts disagree: {counts}")
    return errs


PIPELINE_CHECKS = {
    "core_membership": check_core_membership,
    "duplicate_cik_winners": check_duplicate_cik_winners,
    "parsed_values": check_parsed_values,
    "history_counts": check_history_counts,
    "surrogate_keys": check_surrogate_keys,
    "scd2_properties": check_scd2_properties,
    "conserved_totals": check_conserved_totals,
}


def run_pipeline_checks(warehouse: str, truth) -> dict[str, list[str]]:
    t = load_warehouse(warehouse)
    return {name: fn(t, truth) for name, fn in PIPELINE_CHECKS.items()}


# -- query checks ------------------------------------------------------------


def _norm(v):
    """One comparable Python value per cell, whichever engine produced it."""
    v = _none(v)
    if v is None:
        return None
    if hasattr(v, "tolist") and not isinstance(v, (str, bytes)):
        v = v.tolist()
    if isinstance(v, (list, tuple)):
        return tuple(_norm(x) for x in v)
    if isinstance(v, (pd.Timestamp, datetime)):
        return _ts(v).strftime("%Y-%m-%d %H:%M:%S.%f")
    if isinstance(v, date):
        return v.isoformat()
    if isinstance(v, bool):
        return v
    if isinstance(v, int):
        return int(v)
    if isinstance(v, float):
        return float(v)
    if hasattr(v, "__float__") and not isinstance(v, str):
        return float(v)
    return v


def normalize_rows(df: pd.DataFrame) -> list[tuple]:
    rows = [tuple(_norm(v) for v in r) for r in df.itertuples(index=False, name=None)]
    return sorted(rows, key=_sort_key)


def _sort_key(row):
    def k(v):
        if v is None:
            return (0, "")
        if isinstance(v, float):
            return (1, float(f"{v:.9g}"))
        if isinstance(v, (bool, int)):
            return (1, float(v))
        return (2, repr(v))

    return tuple(k(v) for v in row)


def _same(a, b) -> bool:
    if isinstance(a, tuple) and isinstance(b, tuple):
        return len(a) == len(b) and all(_same(x, y) for x, y in zip(a, b))
    if isinstance(a, float) or isinstance(b, float):
        if a is None or b is None or isinstance(a, (str, tuple)) or isinstance(b, (str, tuple)):
            return False
        return math.isclose(float(a), float(b), rel_tol=REL_TOL, abs_tol=ABS_TOL)
    return a == b


def compare_rows(got: list[tuple], want: list[tuple]) -> list[str]:
    if len(got) != len(want):
        return [f"{len(got)} rows != oracle's {len(want)}"]
    for i, (g, w) in enumerate(zip(got, want)):
        if len(g) != len(w):
            return [f"{len(g)} columns != oracle's {len(w)}"]
        if not all(_same(x, y) for x, y in zip(g, w)):
            return [f"row {i}: {g!r} != oracle {w!r}"]
    return []
