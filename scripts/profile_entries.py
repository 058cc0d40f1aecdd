#!/usr/bin/env python
"""Per-entry profiling harness for the optimization rounds.

Usage:  python scripts/profile_entries.py [--plans-out DIR] [--runs N] name...

Runs bench.py's session warm-up (repacked layout, ``bench.warm_up``:
silver caches, JIT/py-worker warm-up), then for each named catalog
entry: runs the query to the noop sink ``--runs`` times (cold first,
then warm), reporting wall seconds plus job/stage/task counts from the
status tracker (scheduling overhead shows up as job count x fixed
cost), and optionally dumps ``explain("formatted")`` to
``<plans-out>/<name>.txt`` for the before/after evidence the round
deliverables require.
"""

from __future__ import annotations

import argparse
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("names", nargs="+")
    ap.add_argument("--plans-out", default=None)
    ap.add_argument("--runs", type=int, default=3)
    ap.add_argument("--sf-dir", default=os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    args = ap.parse_args()

    import bench
    from nba_spurs_etl_spark.plans.catalog import queries
    from nba_spurs_etl_spark.session import default_parallelism, get_spark
    from nba_spurs_etl_spark.sources.repack import ensure_repacked

    qs = queries()
    unknown = [n for n in args.names if n not in qs]
    if unknown:
        print(f"unknown entries: {unknown}", file=sys.stderr)
        return 2

    spark = get_spark("profile-entries")
    sc = spark.sparkContext
    sf_dir = ensure_repacked(args.sf_dir, default_parallelism())
    bench.warm_up(spark, sf_dir)

    st = sc.statusTracker()

    def probe() -> float:
        """Fixed CPU probe (bench.py's cpu_hash shape, 1/8 size): its
        time calibrates this VM window so per-entry numbers taken
        minutes apart stay comparable on a noisy host."""
        t0 = time.perf_counter()
        spark.range(0, 32_000_000, 1, default_parallelism()).selectExpr(
            "count(xxhash64(id, id+1, id+2)) AS c").collect()
        return time.perf_counter() - t0

    probe()  # JIT
    for name in args.names:
        fn = qs[name]
        times = []
        jobs = stages = tasks = 0
        for i in range(args.runs):
            group = f"prof_{name}_{i}"
            sc.setJobGroup(group, name)
            t0 = time.perf_counter()
            bench.drain(fn(spark, sf_dir))
            times.append(time.perf_counter() - t0)
            sc.setJobGroup(None, None)
            if i == args.runs - 1:  # warm-run shape
                jids = st.getJobIdsForGroup(group)
                jobs = len(jids)
                for jid in jids:
                    ji = st.getJobInfo(jid)
                    if ji is None:
                        continue
                    stages += len(ji.stageIds)
                    for sid in ji.stageIds:
                        si = st.getStageInfo(sid)
                        if si is not None:
                            tasks += si.numTasks
        print(
            f"{name}: " + " ".join(f"{t:.3f}" for t in times)
            + f"  min={min(times):.3f} probe={probe():.3f}"
            + f"  [warm run: {jobs} jobs, {stages} stages, {tasks} tasks]",
            flush=True,
        )
        if args.plans_out:
            os.makedirs(args.plans_out, exist_ok=True)
            mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "formatted")
            with open(os.path.join(args.plans_out, f"{name}.txt"), "w") as f:
                f.write(fn(spark, sf_dir)._jdf.queryExecution()
                        .explainString(mode))
    return 0


if __name__ == "__main__":
    sys.exit(main())
