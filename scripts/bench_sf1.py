#!/usr/bin/env python
"""Full-catalog benchmark at sf1 (10x the per-round bench scale).

Upgrades the per-operator 10x probes (rows in docs/SCALE.md) to
whole-suite scaling evidence: every catalog query
runs at the replicated-10x scale through bench.py's own warm-up and
timing loop (``bench.warm_up``, ``bench.time_entries``: two runs,
second reported; noop sink), and the per-query table is written to
``BENCH_SF1.json`` at the repo root together with the sf0.1 warm
timings from the committed BENCH_DETAIL.json so slopes are reviewable
in one artifact.

The 10x corpus is the same deliberately adversarial replication the
probes used (``build``): key-offset facts, dims unchanged — every
document/vector exists 10x, so near-dup/similarity operators see their
posting-list worst case, not an easy uniform scale-up.

Usage: python scripts/bench_sf1.py  (approx 15-30 min at local[32])
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import bench  # noqa: E402
from nba_spurs_etl_spark.plans.catalog import queries  # noqa: E402
from nba_spurs_etl_spark.session import get_spark  # noqa: E402
from nba_spurs_etl_spark.sources.catalog import DEFAULT_SF_DIR as SRC  # noqa: E402

K = 10
DST = f"/tmp/sfx{K}"
REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def build(spark, dst: str, k: int) -> None:
    """Replicate SRC k times into dst: fact keys offset per copy, dim
    tables copied unchanged."""

    def rep(name: str, offsets: dict[str, int]) -> None:
        df = spark.read.parquet(f"{SRC}/{name}.parquet")
        reps = []
        for i in range(k):
            d = df
            for c, stride in offsets.items():
                d = d.withColumn(c, F.col(c) + i * stride)
            reps.append(d)
        out = reps[0]
        for d in reps[1:]:
            out = out.unionByName(d)
        # plain part-file directories everywhere (round 5): the
        # streaming readers are layout-aware, and a single-file
        # documents/events replica capped batch scans at
        # size/maxPartitionBytes tasks — measured 3-6x wall on the
        # text/dedup family at 10x
        out.write.mode("overwrite").parquet(f"{dst}/{name}.parquet")

    rep("lineitem", {"l_orderkey": 10_000_000})
    rep("orders", {"o_orderkey": 10_000_000, "o_custkey": 1_000_000})
    rep("customer", {"c_custkey": 1_000_000})
    rep("events", {"event_id": 100_000_000, "user_id": 1_000_000})
    rep("documents", {"doc_id": 10_000_000})
    rep("embeddings", {"vec_id": 10_000_000})
    for dim in ["region", "nation", "supplier", "part"]:
        spark.read.parquet(f"{SRC}/{dim}.parquet").write.mode(
            "overwrite"
        ).parquet(f"{dst}/{dim}.parquet")


def main() -> int:
    argparse.ArgumentParser(description=__doc__.split("\n\n")[0]).parse_args()
    spark = get_spark("bench-sf1")
    if not os.path.isdir(DST):
        t0 = time.perf_counter()
        build(spark, DST, K)
        print(f"built {DST} in {time.perf_counter()-t0:.1f}s", file=sys.stderr)

    bench.warm_up(spark, DST)
    suite_t0 = time.perf_counter()
    timings, cold = bench.time_entries(spark, DST, queries())
    real_wall = round(time.perf_counter() - suite_t0, 1)

    sf01: dict[str, float] = {}
    try:
        with open(os.path.join(REPO, "BENCH_DETAIL.json")) as f:
            prev = json.load(f)
        if prev.get("sf") == 0.1:
            sf01 = prev.get("queries", {})
    except (OSError, ValueError):
        pass

    total = round(sum(t for t in timings.values() if t >= 0), 4)
    out = {
        "metric": "catalog_suite_wall_seconds",
        "value": total,
        "unit": "sec",
        "sf": 1.0,
        "scale_note": f"sf0.1 replicated {K}x with key offsets "
        "(build); dims unchanged",
        "queries": timings,
        "cold_queries": cold,
        "sf01_warm_basis": sf01,
        "n_queries": len(timings),
        "n_failed": sum(1 for t in timings.values() if t < 0),
        "real_suite_wall_sec": real_wall,
    }
    path = os.path.join(REPO, "BENCH_SF1.json")
    with open(path, "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
    print(json.dumps({k: out[k] for k in
                      ("metric", "value", "sf", "n_queries", "n_failed")}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
