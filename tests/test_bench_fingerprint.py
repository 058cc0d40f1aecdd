"""Pins for bench.py: the per-entry cold/warm loop, the VM speed
factor, and that the committed bench of record covers the registry."""

from __future__ import annotations

import time

import bench


def test_time_entries_reports_second_drain_and_failures():
    """Each entry is built and drained twice and the SECOND drain is
    reported; an entry that raises reads -1.0 in both maps, even when
    its cold run succeeded."""
    builds: list[str] = []
    # jit's cold drain pays, its warm drain does not
    naps = {"jit": [0.3, 0.0], "flaky": [0.0]}

    class Frame:  # the noop-drain surface of a DataFrame
        def __init__(self, name):
            self.name = name
            self.write = self

        def format(self, fmt):
            assert fmt == "noop"
            return self

        def mode(self, _):
            return self

        def save(self):
            time.sleep(naps[self.name].pop(0))

    def entry(name, fail_on_build=None):
        def build(spark, sf_dir):
            builds.append(name)
            if builds.count(name) == fail_on_build:
                raise RuntimeError("boom")
            return Frame(name)

        return build

    warm, cold = bench.time_entries(
        None, "/nowhere",
        {"jit": entry("jit"), "flaky": entry("flaky", fail_on_build=2)},
    )
    assert builds == ["jit", "jit", "flaky", "flaky"]
    assert cold["jit"] >= 0.3 > warm["jit"] >= 0
    assert warm["flaky"] == cold["flaky"] == -1.0


def test_vm_speed_factor_geomean():
    """Geometric mean of per-probe ratios to the reference, unclamped;
    probes missing on either side drop out, none shared reads 1.0."""
    ref = {"scan_agg": 0.4, "shuffle_agg": 0.8, "cpu_hash": 0.3}
    assert bench._vm_speed_factor({k: v * 2 for k, v in ref.items()},
                                  ref) == 2.0
    assert bench._vm_speed_factor({k: v / 2 for k, v in ref.items()},
                                  ref) == 0.5
    # one probe 8x slow, two flat: geomean 8^(1/3) = 2
    assert bench._vm_speed_factor(dict(ref, scan_agg=3.2), ref) == 2.0
    assert bench._vm_speed_factor({"scan_agg": 0.8}, ref) == 2.0
    assert bench._vm_speed_factor({}, ref) == 1.0
    assert bench._vm_speed_factor({"new_probe": 1.0}, {}) == 1.0


def test_vm_speed_factor_takes_probe_minimum_of_both_windows():
    """The factor reads the per-probe minimum of the suite-start and
    suite-end windows: a start window slowed by JVM warm-up must not
    inflate it, and a probe measured in one window only still counts."""
    ref = {"scan_agg": 0.4, "shuffle_agg": 0.8, "cpu_hash": 0.3}
    start = {"scan_agg": 0.8, "shuffle_agg": 1.6, "cpu_hash": 0.3}
    end = {"scan_agg": 0.4, "shuffle_agg": 0.8, "cpu_hash": 0.6}
    assert bench._probe_min(start, end) == ref
    assert bench._vm_speed_factor(bench._probe_min(start, end), ref) == 1.0
    assert bench._probe_min({"scan_agg": 0.5}, {"cpu_hash": 0.2}) == {
        "scan_agg": 0.5, "cpu_hash": 0.2,
    }
    assert bench._probe_min({}, {}) == {}


def test_bench_records_are_fresh_for_every_registered_entry():
    """VERDICT r09 item 6: the bench of record must track the registry
    the way COVERAGE.md does — BENCH_DETAIL.json is rewritten
    wholesale by every bench run, so a registered entry with no row
    means the bench has not run since the entry was added (stale bench
    of record). Fail loudly here instead of surfacing as an
    unexplained hole in the round's BENCH_r{N}.json."""
    import json
    import os

    from nba_spurs_etl_spark.plans.registry import queries

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    detail = json.load(open(os.path.join(root, "BENCH_DETAIL.json")))
    qs = set(queries())
    detail_q = set(detail["queries"])
    assert not qs - detail_q, (
        "registered entries missing from BENCH_DETAIL (run bench.py): "
        f"{sorted(qs - detail_q)[:10]}"
    )
    assert not detail_q - qs, (
        "BENCH_DETAIL rows for entries no longer registered (stale "
        f"bench of record; run bench.py): {sorted(detail_q - qs)[:10]}"
    )
    assert set(detail["cold_queries"]) == detail_q
