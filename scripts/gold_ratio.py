#!/usr/bin/env python
"""Same-session control-relative timing of the six gold models.

VERDICT r05 item 3: this VM's absolute timings drift ±40-70%/hr, so
round-over-round claims about individual gold models ("weaknesses got
faster") are only meaningful as RATIOS to a control measured in the
SAME session. This script runs all six dbt-matched gold models
interleaved (control, model, control, model, ...) N times warm in one
session and prints medians + ratios vs the two control models
(summary_by_season and home_vs_away — the two that have tracked the
Postgres baseline at ~1x and ~0.5x every round).

Output: a markdown table for docs/SCALE.md plus one JSON line.
Usage: python scripts/gold_ratio.py  (~2 min at sf0.1, local[32])
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import bench  # noqa: E402
from nba_spurs_etl_spark.plans.catalog import queries  # noqa: E402
from nba_spurs_etl_spark.session import default_parallelism, get_spark  # noqa: E402
from nba_spurs_etl_spark.sources.repack import ensure_repacked  # noqa: E402

GOLD = [
    "gold_summary_by_season",
    "gold_home_vs_away",
    "gold_spurs_player_contributions",
    "gold_streaks_and_rivals",
    "gold_team_weaknesses_unpivoted",
    "gold_team_weaknesses_wide",
    "gold_players_recommendations",
]
CONTROLS = ["gold_summary_by_season", "gold_home_vs_away"]
N_ROUNDS = 7  # interleaved warm rounds; median over the last 5

# BASELINE.md per-model dbt timings (Postgres, seconds; the wide
# weaknesses model is the orphaned reference model — no dbt row, so it
# borrows its unpivoted sibling's for the vs-baseline column)
BASELINE = {
    "gold_summary_by_season": 0.136,
    "gold_home_vs_away": 0.266,
    "gold_spurs_player_contributions": 0.170,
    "gold_streaks_and_rivals": 0.140,
    "gold_team_weaknesses_unpivoted": 0.247,
    "gold_team_weaknesses_wide": 0.247,
    "gold_players_recommendations": 0.316,
}


def main() -> int:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark("gold-ratio")
    sf_dir = ensure_repacked(sf_dir, default_parallelism())
    # bench.py's untimed warm-up, incl. its dbt accounting: silver
    # fixtures + the upstream ref() materialized before anything is timed
    bench.warm_up(spark, sf_dir)
    qs = queries()

    times: dict[str, list[float]] = {g: [] for g in GOLD}
    for rnd in range(N_ROUNDS):
        for g in GOLD:
            t0 = time.perf_counter()
            bench.drain(qs[g](spark, sf_dir))
            times[g].append(time.perf_counter() - t0)

    med = {g: statistics.median(ts[2:]) for g, ts in times.items()}
    ctrl = statistics.median([med[c] for c in CONTROLS])
    print("\n| model | median s | /control | baseline s | vs baseline |")
    print("|---|---|---|---|---|")
    for g in GOLD:
        print(
            f"| {g} | {med[g]:.3f} | {med[g] / ctrl:.2f}x "
            f"| {BASELINE[g]:.3f} | {med[g] / BASELINE[g]:.2f}x |"
        )
    six = [g for g in GOLD if g != "gold_team_weaknesses_wide"]
    total = sum(med[g] for g in six)
    print(
        f"\nsix-model total (dbt-comparable set): {total:.3f}s "
        f"vs dbt 1.508s -> {total / 1.508:.2f}x"
    )
    print(json.dumps({
        "metric": "gold_ratio",
        "control_median_s": round(ctrl, 4),
        "medians": {g: round(v, 4) for g, v in med.items()},
        "ratios": {g: round(med[g] / ctrl, 3) for g in GOLD},
        "six_model_total_s": round(total, 4),
        "vs_dbt_1508ms": round(total / 1.508, 3),
    }, separators=(",", ":")))
    return 0


if __name__ == "__main__":
    sys.exit(main())
