"""Self-test of the output checks: each must pass on a real output and fail
on a deliberately corrupted copy of it.

    python3 perfbench/run.py --self-test

The pipeline part runs a small universe through the real pipeline (initial
load plus two full nights); the query part corrupts each cached oracle
result and compares it with the original.
"""

from __future__ import annotations

import os
import shutil
import uuid

import pandas as pd

from checks import PIPELINE_CHECKS, compare_rows, load_warehouse


def _corruptions(truth) -> dict:
    """check name -> function returning a corrupted copy of the tables."""

    def edit(t, table, fn):
        t = {k: v.copy() for k, v in t.items()}
        t[table] = fn(t[table])
        return t

    def set_cell(df, row, col, value):
        df = df.copy()
        df.loc[df.index[row], col] = value
        return df

    cik, (win, lose) = next(iter(truth.dup_ciks.items()))

    def wrong_share_class(df):
        df = df.copy()
        df.loc[df["cik"] == cik, "symbol"] = lose
        return df

    def reopen_closed(df):
        df = df.copy()
        closed = df.index[df["dbt_valid_to"].notna()]
        df.loc[closed[0], "dbt_valid_to"] = pd.NaT
        return df

    return {
        "core_membership": lambda t: edit(t, "core", lambda d: d.iloc[1:]),
        "duplicate_cik_winners": lambda t: edit(t, "stg_wiki", wrong_share_class),
        "parsed_values": lambda t: edit(
            t, "core", lambda d: set_cell(d, 0, "revenues_m", d["revenues_m"].iloc[0] + 1.0)),
        "history_counts": lambda t: edit(
            t, "loc_snap", lambda d: d.drop(d.index[d["dbt_valid_to"].notna()][:1])),
        "surrogate_keys": lambda t: edit(
            t, "dim_company", lambda d: set_cell(d, 0, "company_key", "0" * 32)),
        "scd2_properties": lambda t: edit(t, "loc_snap", reopen_closed),
        "conserved_totals": lambda t: edit(
            t, "fact", lambda d: set_cell(d, 0, "revenues_m", d["revenues_m"].iloc[0] * 2 + 1)),
    }


def _corrupt_rows(rows: list[tuple]) -> list[list[tuple]]:
    """A dropped row, and the first numeric (else text) cell changed."""
    out = [rows[1:]] if rows else [[(0,)]]
    for i, r in enumerate(rows):
        for j, v in enumerate(r):
            if isinstance(v, bool) or v is None:
                continue
            if isinstance(v, (int, float)):
                nv = v * 1.001 + 1
            elif isinstance(v, str):
                nv = v + "x"
            else:
                continue
            bad = list(rows)
            bad[i] = r[:j] + (nv,) + r[j + 1:]
            out.append(bad)
            return out
    return out


def self_test() -> int:
    import run as bench
    from firmgen import FirmGen

    ok = True
    run_dir = os.path.join(bench.WORK, f"selftest-{uuid.uuid4().hex[:8]}")
    os.makedirs(run_dir)
    spark = bench.start_session(run_dir)
    try:
        p = bench.Pipeline(spark, run_dir, {"shape": "full", "companies": 600, "nights": 2}, 7)
        for op in p.ops():
            op()
        truth = p.truth
        tables = load_warehouse(p.wh)
        bad_versions = _corruptions(truth)
        for name, check in PIPELINE_CHECKS.items():
            real = check(tables, truth)
            corrupted = check(bad_versions[name](tables), truth)
            good = not real and bool(corrupted)
            ok &= good
            print(f"{'ok  ' if good else 'FAIL'} {name}: real output -> {real or 'pass'}; "
                  f"corrupted -> {corrupted[:1] or 'pass'}")
        data, digests = bench.query_tables(run_dir)
        for q in bench.QUERY_MIX:
            rows = bench.oracle_rows(q, data, digests)
            real = compare_rows(list(rows), rows)
            caught = [bool(compare_rows(b, rows)) for b in _corrupt_rows(rows)]
            good = not real and all(caught) and len(caught) >= 2
            ok &= good
            print(f"{'ok  ' if good else 'FAIL'} oracle.{q}: identical rows pass, "
                  f"{sum(caught)}/{len(caught)} corruptions caught")
    finally:
        bench.stop_session(spark)
        shutil.rmtree(run_dir, ignore_errors=True)
    print("self-test", "passed" if ok else "FAILED")
    return 0 if ok else 1
