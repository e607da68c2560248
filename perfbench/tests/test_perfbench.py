"""Tests of the benchmark itself.

    python3 -m pytest perfbench/tests -q

The last tests run the launcher end to end (about a minute each).
"""

from __future__ import annotations

import copy
import filecmp
import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH_DIR = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH_DIR)
sys.path.insert(0, BENCH_DIR)

import gen  # noqa: E402
import run  # noqa: E402
import worker  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    BENCHMARK = json.load(_f)


def _tree(root):
    return sorted(
        os.path.relpath(os.path.join(d, f), root)
        for d, _, files in os.walk(root) for f in files)


def _generate_all(base, seed):
    return {
        "topics": gen.gen_topics(os.path.join(base, "topics"), seed, 3, 200),
        "stream": gen.gen_stream_files(os.path.join(base, "stream"), seed, 2, 500),
        "feed": gen.gen_stream_files(os.path.join(base, "feed"), seed + 1, 3, 50,
                                     stamp_step_ms=250),
    }


def _strip_dirs(truth):
    out = copy.deepcopy(truth)
    out["stream"].pop("dir")
    out["feed"].pop("dir")
    for t in out["topics"]:
        t.pop("dir")
    return out


def test_same_seed_gives_byte_identical_inputs(tmp_path):
    a = _generate_all(str(tmp_path / "a"), 11)
    b = _generate_all(str(tmp_path / "b"), 11)
    c = _generate_all(str(tmp_path / "c"), 12)
    files = _tree(tmp_path / "a")
    assert files and files == _tree(tmp_path / "b")
    for f in files:
        assert filecmp.cmp(tmp_path / "a" / f, tmp_path / "b" / f, shallow=False), f
    assert _strip_dirs(a) == _strip_dirs(b)
    assert _strip_dirs(a) != _strip_dirs(c)


def test_metric_names_and_units_match_benchmark_json():
    assert {m["name"]: m["unit"] for m in BENCHMARK["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in BENCHMARK["per_layer"]} == run.PER_LAYER
    assert {w["name"] for w in BENCHMARK["workloads"]} == set(run.WORKLOADS)
    report = {"setup_s": 1.0, "records_per_s": 2.0, "job_s": 3.0,
              "latency_p50_ms": 4.0, "latency_p99_ms": 5.0, "layers": {}}
    assert set(run.end_to_end(report, 10.0)) == set(run.END_TO_END)
    assert set(run.per_layer(report)) == set(run.PER_LAYER)


def test_timings_scale_to_the_reference_host_speed():
    probe = worker.HostProbe.__new__(worker.HostProbe)
    # a machine at half the reference speed: the median probe takes twice
    # as long, and a unit that took 4 s reads 2 s
    probe.probes = [worker.PROBE_REF_S * 2, worker.PROBE_REF_S * 1.5, worker.PROBE_REF_S * 3]
    assert probe.speed() == 0.5
    assert probe.at_ref(4.0) == 2.0


def _truthful_report(inputs):
    """What a correct system would report for ``inputs``."""
    observed = []
    for t in inputs["fleets"][0]:
        observed.append({"check": "topic", "unit": f"0/{t['index']}",
                         "schema": t["schema"], "aggs": dict(t["expected"])})
        observed.append({"check": "replan", "unit": f"0/{t['index']}",
                         "schema": t["schema"]})
    b = inputs["stream"]["backlog"]
    observed.append({"check": "malformed", "unit": "backlog", "malformed": b["malformed"]})
    observed.append({"check": "drain", "unit": 0, "schema": gen.STREAM_SCHEMA,
                     "good": b["good"], "dlq": b["dlq"],
                     "sum_amount": float(b["sum_amount"]),
                     "sum_offset": b["sum_offset"], "bad_keys": 0, "bad_dlq": 0})
    # the feed placed its first two files
    f = gen.merge_truth(inputs["stream"]["feed"]["files"][:2])
    observed.append({"check": "open", "unit": 0, "files": [0, 1],
                     "schema": gen.STREAM_SCHEMA,
                     "good": f["good"], "dlq": f["dlq"],
                     "sum_amount": float(f["sum_amount"]),
                     "sum_offset": f["sum_offset"], "bad_keys": 0, "bad_dlq": 0})
    return {"observed": observed}


def test_wrong_expected_value_counts_as_mismatch(tmp_path):
    t = _generate_all(str(tmp_path), 5)
    inputs = {"fleets": [t["topics"]],
              "stream": {"backlog": t["stream"], "feed": t["feed"]}}
    report = _truthful_report(inputs)
    assert run.gate(inputs, report) == []

    wrong = copy.deepcopy(inputs)
    agg = next(iter(wrong["fleets"][0][0]["expected"]))
    wrong["fleets"][0][0]["expected"][agg] += 1
    assert len(run.gate(wrong, report)) == 1

    wrong = copy.deepcopy(inputs)
    wrong["fleets"][0][1]["schema"] = wrong["fleets"][0][1]["schema"].replace(
        ":int", ":bigint", 1).replace(":double", ":string", 1)
    assert len(run.gate(wrong, report)) == 2  # the cold run and the replan

    wrong = copy.deepcopy(inputs)
    wrong["stream"]["backlog"]["dlq"] += 1
    assert len(run.gate(wrong, report)) == 1

    wrong = copy.deepcopy(inputs)
    wrong["stream"]["backlog"]["malformed"] += 1
    assert len(run.gate(wrong, report)) == 1

    # the open loop is checked against the files the feed placed
    wrong = copy.deepcopy(inputs)
    wrong["stream"]["feed"]["files"][1]["good"] += 1
    assert len(run.gate(wrong, report)) == 1
    wrong = copy.deepcopy(inputs)
    wrong["stream"]["feed"]["files"][2]["good"] += 1
    assert run.gate(wrong, report) == []


def test_fails_without_the_package(tmp_path):
    shutil.copytree(BENCH_DIR, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    proc = subprocess.run(
        [*BENCHMARK["command"], "--workload", "many_topics", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=180)
    assert proc.returncode != 0
    assert "correct" not in proc.stdout


@pytest.mark.parametrize("workload,trace", [
    ("stream_pipeline", 0), ("stream_pipeline", 1), ("many_topics", 0), ("many_topics", 1),
])
def test_run_prints_every_metric(workload, trace):
    proc = subprocess.run(
        [*BENCHMARK["command"], "--workload", workload, "--seed", "3",
         "--seconds", "2", "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=180)
    assert proc.returncode == 0, proc.stderr[-2000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True and result["failed"] == 0
    kind = "per_layer" if trace else "end_to_end"
    expected = {m["name"]: m["unit"] for m in BENCHMARK[kind]}
    assert {n: m["unit"] for n, m in result["metrics"].items()} == expected
    for line in ("output_mismatches", "failed_share"):
        assert line in proc.stdout
