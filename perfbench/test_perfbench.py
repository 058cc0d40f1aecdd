"""The benchmark's own checks. Slow (each case starts Spark); run with

    python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import run as R  # noqa: E402


def _bench(*args: str, root: str = ROOT) -> dict:
    out = subprocess.run(
        [sys.executable, os.path.join(root, "perfbench", "run.py"), *args],
        cwd=root,
        capture_output=True,
        text=True,
        timeout=600,
        check=True,
    ).stdout
    return json.loads(out.strip().splitlines()[-1])


def test_metric_names_and_units_match_benchmark_json():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == R.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == R.per_layer_units()
    assert [w["name"] for w in spec["workloads"]] == ["ingest", "query"]


def test_wrong_expected_digest_counts_as_failure(tmp_path):
    """A checkout whose expected.json carries one wrong digest: that op
    must count as failed."""
    os.symlink(os.path.join(ROOT, "nba_spurs_etl_spark"), tmp_path / "nba_spurs_etl_spark")
    bench = tmp_path / "perfbench"
    bench.mkdir()
    for name in os.listdir(HERE):
        if name != "expected.json":
            os.symlink(os.path.join(HERE, name), bench / name)
    with open(R.EXPECTED) as f:
        expected = json.load(f)
    expected["query"]["q5_local_supplier_volume"]["hash"] = "0" * 16
    (bench / "expected.json").write_text(json.dumps(expected))
    res = _bench(
        "--workload", "query", "--seed", "3", "--seconds", "1", "--trace", "0",
        root=str(tmp_path),
    )
    assert res["failed"] == 1 and not res["correct"]
    assert res["metrics"]["ok_frac"]["value"] == pytest.approx(1 - 1 / res["attempted"])


@pytest.mark.parametrize("workload", ["ingest", "query"])
def test_traced_counts_repeat_exactly(workload):
    """Job, trigger, row and memo counts repeat exactly. Bytes left in the
    pipeline's work dir repeat to within a few bytes: which rows land in
    which part file depends on task scheduling, and the encoded sizes
    follow (1 B apart over 2.9 MB in the runs that set this tolerance)."""
    runs = [
        _bench("--workload", workload, "--seed", str(seed), "--seconds", "1", "--trace", "1")
        for seed in (5, 6)
    ]
    for res in runs:
        assert res["correct"], res
        assert set(res["metrics"]) == set(R.per_layer_units())
    a, b = ({k: v["value"] for k, v in res["metrics"].items()} for res in runs)
    units = R.per_layer_units()
    counts = [k for k, u in units.items() if u == "count"]
    assert {k: a[k] for k in counts} == {k: b[k] for k in counts}
    for k in (k for k, u in units.items() if u == "MB"):
        assert a[k] == pytest.approx(b[k], abs=64 / 2**20), k
    if workload == "ingest":
        assert a["ingest.stream_cdc_apply.triggers"] > 0
        assert a["ingest.pipeline.work_dir_mb"] > 0
