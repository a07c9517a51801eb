"""Tests of the benchmark's own logic, plus a tiny-input smoke run.

    python3 -m pytest perfbench/tests -q -p no:cacheprovider
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH_DIR = os.path.dirname(HERE)
REPO = os.path.dirname(BENCH_DIR)
sys.path.insert(0, BENCH_DIR)

import run  # noqa: E402
from tracing import Span, self_times  # noqa: E402

with open(os.path.join(REPO, "BENCHMARK.json")) as fh:
    SPEC = json.load(fh)


def test_self_time_subtracts_children_and_bookkeeping():
    spans = [Span(0, "root", None, 0.0, 10.0),
             Span(1, "a", 0, 1.0, 4.0, excluded=0.5),
             Span(2, "b", 1, 2.0, 3.0),
             Span(3, "c", 0, 6.0, 9.0)]
    assert self_times(spans) == pytest.approx(
        {0: 10 - 3 - 3, 1: 3 - 1 - 0.5, 2: 1.0, 3: 3.0})
    assert sum(self_times(spans).values()) == pytest.approx(10 - 0.5)


def test_self_time_counts_overlapping_children_once():
    spans = [Span(0, "p", None, 0.0, 10.0),
             Span(1, "x", 0, 1.0, 5.0),
             Span(2, "y", 0, 3.0, 7.0),     # overlaps x by 2 s
             Span(3, "z", 0, 9.0, 12.0)]    # runs past the parent's end
    assert self_times(spans)[0] == pytest.approx(10 - 6 - 1)


def test_percentile_needs_ten_samples_beyond_it():
    few = run.summarize([float(i) for i in range(1, 20)])
    assert few["n"] == 19 and few["p50"] == 10.0 and few["tail"] is None
    many = run.summarize([float(i) for i in range(1, 101)])
    q, value = many["tail"]["q"], many["tail"]["value"]
    assert q == 90 and sum(s > value for s in range(1, 101)) >= 10
    assert run.summarize([])["p50"] is None


def test_metric_names_and_units_match_benchmark_json():
    assert {m["name"]: m["unit"] for m in SPEC["end_to_end"]} == run.E2E
    assert {m["name"]: m["unit"] for m in SPEC["per_layer"]} == run.PER_LAYER
    assert [w["name"] for w in SPEC["workloads"]] == list(run.WORKLOADS)


def _bench(args, cwd):
    return subprocess.run(
        [sys.executable, os.path.join(cwd, "perfbench", "run.py"), *args],
        cwd=cwd, capture_output=True, text=True, timeout=600)


@pytest.mark.parametrize("workload,trace", [("replay_6h", 1),
                                            ("curate_batches", 0)])
def test_tiny_run_checks_outputs_and_prints_every_metric(workload, trace):
    p = _bench(["--workload", workload, "--seed", "3", "--seconds", "1",
                "--trace", str(trace), "--fixtures",
                os.path.join(BENCH_DIR, "data", "sf0.001")], REPO)
    assert p.returncode == 0, p.stderr[-3000:]
    out = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["correct"] and out["failed"] == 0 and out["attempted"] >= 1
    spec = SPEC["per_layer" if trace else "end_to_end"]
    assert {k: v["unit"] for k, v in out["metrics"].items()} == \
        {m["name"]: m["unit"] for m in spec}
    assert not os.path.exists(os.path.join(REPO, ".perfbench_work"))


def test_fails_without_result_when_engine_is_absent(tmp_path):
    shutil.copytree(BENCH_DIR, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(REPO, "BENCHMARK.json"), tmp_path)
    p = _bench(["--workload", "replay_6h", "--seed", "1", "--seconds", "1"],
               str(tmp_path))
    assert p.returncode != 0
    assert '"metrics"' not in p.stdout
