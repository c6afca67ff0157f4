"""Tests of the benchmark itself: ``python3 -m pytest perfbench -q``.

The census and event-log tests are pure Python. The smoke tests run each
workload at its smoke size through the real command line, as the
benchmark is driven, and take about a minute each.
"""

import json
import os
import shutil
import subprocess
import sys

import pytest

import census
import layers
from workloads import WORKLOADS

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
END_TO_END = {
    "setup_s",
    "run_s",
    "rows_per_s",
    "peak_rss_mb",
    "output_bytes_per_row",
    "success_rate",
}


def test_clips_census_matches_the_engine_fixture_figures():
    # 2040 rows at the default index spacing: the figures the spark-submit
    # drive of the engine reports for the same fixture
    c = census.clips_census(2040, 0, 101, 97, audio=True)
    assert (c["rows"], c["violations"], c["failed_rows"]) == (2020, 250, 141)


def test_clips_census_keep_from_drops_only_clean_ids():
    full = census.clips_census(1000, 0, 101, 97, audio=True)
    half = census.clips_census(1000, 500, 101, 97, audio=True)
    assert half["rows"] == full["rows"] - 500
    # ids below 500 are clean apart from the referential holes
    lost = {k: full["rules"][k] - half["rules"].get(k, 0) for k in full["rules"]}
    assert {k for k, v in lost.items() if v} == {
        "transcript.referential.missing_ref",
        "transcript.referential.incorrect",
    }


def test_benchmark_json_lists_every_layer_metric():
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as fh:
        spec = json.load(fh)
    assert [m["name"] for m in spec["per_layer"]] == list(layers.LAYER_METRICS)
    assert {m["name"] for m in spec["end_to_end"]} == END_TO_END
    # clips_catalog, the decode control, is run by hand: it does not fit the run budget
    assert [w["name"] for w in spec["workloads"]] == ["clips_decode", "state_incremental"]


@pytest.mark.parametrize(
    "scopes, name, phase",
    [
        ({"Exchange", "WriteFiles"}, "parquet at x", "run.write_s"),
        ({"Scan parquet", "Exchange"}, "collect at run.py:222", "run.metrics_fold_s"),
        ({"SortAggregate", "AQEShuffleRead"}, "parquet at x", "engine.verdicts_s"),
        ({"BroadcastExchange", "Scan parquet"}, "run at x", "operators.referential_s"),
        ({"ArrowEvalPython", "Generate", "Scan parquet"}, "parquet at x", "engine.scan_rules_s"),
        ({"Exchange", "Scan parquet"}, "run at x", "operators.uniqueness_s"),
        ({"mapPartitions", "parallelize"}, "parquet at x", "engine.other_s"),
    ],
)
def test_stage_phase_rules(scopes, name, phase):
    assert layers._phase({"scopes": scopes, "name": name}) == phase


@pytest.mark.parametrize("workload", list(WORKLOADS))
def test_smoke_run_is_correct_and_reports_every_end_to_end_metric(workload, tmp_path):
    # launched from another directory: the executors must still import the engine
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload, "--seed", "7",
         "--seconds", "0", "--trace", "0", "--smoke"],
        cwd=tmp_path, capture_output=True, text=True, timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    assert set(result["metrics"]) == END_TO_END
    assert all(m["value"] > 0 for m in result["metrics"].values())


def test_traced_smoke_run_reports_every_layer_metric(tmp_path):
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", "state_incremental",
         "--seed", "7", "--seconds", "0", "--trace", "1", "--smoke"],
        cwd=tmp_path, capture_output=True, text=True, timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert result["correct"]
    m = result["metrics"]
    assert set(m) == set(layers.LAYER_METRICS)
    assert m["dedup.candidates"]["value"] > 0 and m["store.live_dirs"]["value"] == 2
    assert m["stream.jobs_per_epoch"]["value"] > 0


def test_without_the_engine_the_benchmark_fails_without_a_result(tmp_path):
    shutil.copytree(HERE, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "clips_decode", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=180,
    )
    assert proc.returncode != 0
    assert '"metrics"' not in proc.stdout
