#!/usr/bin/env python3
"""Regenerate ``perfbench/expected.json``: the row count and digest of
every op output the benchmark checks, taken from the current checkout.

    python3 perfbench/make_expected.py

Each output that has a DuckDB oracle in the catalog (the pipeline's
gold tables use the matching ``gold_*`` entries) is also compared, row
multiset against row multiset, with the oracle's result over the same
input tables; the verdict is stored beside the digests. Regenerate only
when a change is meant to alter what an op computes.
"""

from __future__ import annotations

import datetime as dt
import decimal
import json
import os
import shutil
import sys
from collections import Counter

import run as R
import workloads as W

#: pipeline gold table -> catalog entry that computes the same model
GOLD_ENTRY = {
    "summary_by_season": "gold_summary_by_season",
    "home_vs_away": "gold_home_vs_away",
    "team_weaknesses_unpivoted": "gold_team_weaknesses_unpivoted",
    "spurs_player_contributions_unpivoted": "gold_spurs_player_contributions",
    "streaks_and_rivals": "gold_streaks_and_rivals",
    "players_recommendations": "gold_players_recommendations",
}


def _norm(v):
    if isinstance(v, (float, decimal.Decimal)):
        f = float(v)
        return "NaN" if f != f else float(f"{f:.9g}") + 0.0
    if isinstance(v, dt.datetime):
        return v.isoformat(sep=" ")
    if isinstance(v, dt.date):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return tuple(_norm(x) for x in v)
    return v


def _multiset(names, rows) -> Counter:
    order = sorted(range(len(names)), key=lambda i: names[i])
    return Counter(tuple(_norm(r[i]) for i in order) for r in rows)


def oracle_verdict(df, oracle_sql: str) -> str:
    import duckdb

    con = duckdb.connect()
    try:
        from nba_spurs_etl_spark.sources.catalog import TESTDATA_TABLES

        for t in TESTDATA_TABLES:
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{R.DATA}/{t}.parquet')")
        rel = con.sql(oracle_sql)
        d_names, d_rows = list(rel.columns), rel.fetchall()
    finally:
        con.close()
    s_names, s_rows = df.columns, [tuple(r) for r in df.collect()]
    if sorted(s_names) != sorted(d_names):
        return f"column mismatch: {sorted(s_names)} vs {sorted(d_names)}"
    if _multiset(s_names, s_rows) != _multiset(d_names, d_rows):
        return f"value mismatch ({len(s_rows)} vs {len(d_rows)} rows)"
    return "match"


def main() -> int:
    cpus = os.cpu_count() or 1
    run_dir = os.path.join(R.RUNS, f"expected-{os.getpid()}")
    R.isolate(run_dir, cpus)
    from nba_spurs_etl_spark.plans.catalog import oracles

    spark = R.start_session()
    out: dict = {}
    verdicts: dict = {}
    try:
        ctx = W.Ctx(spark, R.repack(spark, cpus), os.path.join(run_dir, "work"))
        osql = oracles()
        for wl in W.WORKLOADS:
            out[wl] = {}
            for name, op in W.ops_for(wl).items():
                for key, df in op(ctx).items():
                    df = df() if callable(df) else df
                    out[wl][key] = W.digest(df)
                    entry = GOLD_ENTRY.get(key.removeprefix("gold."), key)
                    verdict = oracle_verdict(df, osql[entry]) if entry in osql else "no oracle"
                    verdicts[key] = verdict
                    print(f"{wl} {key}: {out[wl][key]} oracle: {verdict}", file=sys.stderr)
    finally:
        R.shutdown(spark)
        os.chdir(R.ROOT)
        shutil.rmtree(run_dir, ignore_errors=True)
    out["oracle_check"] = verdicts
    with open(R.EXPECTED, "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
        f.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
