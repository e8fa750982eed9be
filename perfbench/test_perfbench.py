"""Self-tests of the benchmark: ``python3 -m pytest perfbench -q`` from the
repository root.

The partition and sampling tests are pure Python. The run tests start Spark
on sf 0.001 tables (about two minutes in all): every workload runs, every
metric named in ``BENCHMARK.json`` prints with its unit, a traced run
attributes the jobs of eager builders to their build phase, and a wrong
expected row count is reported as a failed query.
"""

from __future__ import annotations

import json
import os
import random
import shutil
import statistics
import subprocess
import sys

import pytest

import run as bench
import workloads

ROOT = os.path.dirname(bench.HERE)
SF = 0.001

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)
with open(bench.EXPECTED) as f:
    EXPECTED = json.load(f)


def test_workloads_partition_registry():
    import rvi_big_data_api_spark as engine

    groups = workloads.members()
    assert sorted(groups) == sorted(w["name"] for w in SPEC["workloads"])
    flat = [q for names in groups.values() for q in names]
    assert len(flat) == len(set(flat)), "a query is in two workloads"
    assert set(flat) == set(engine.queries()), "a query is in no workload"
    for workload, mods in workloads.MODULES.items():
        assert {workloads.module_of(q) for q in groups[workload]} == set(mods)


def test_expected_covers_registry():
    import rvi_big_data_api_spark as engine

    names = set(engine.queries())
    for sf in (bench.SF, SF):
        assert set(EXPECTED["rows"][str(sf)]) == names


def test_per_layer_names_match_layers():
    declared = {m["name"] for m in SPEC["per_layer"]}
    layered = {f"{metric}.{layer}" for metric in bench.LAYER_METRICS for layer in bench.LAYERS}
    assert layered <= declared
    assert len(bench.LAYERS) == len(set(bench.LAYERS)) == 18


def test_pinned_subsets_span_every_module():
    groups = workloads.members()
    pins = workloads.pinned()
    assert sorted(pins) == sorted(groups)
    for workload, names in pins.items():
        assert names == sorted(set(names))
        assert set(names) <= set(groups[workload])
        assert {workloads.module_of(q) for q in names} == set(workloads.MODULES[workload])


def test_warmup_query_is_not_pinned():
    import worker

    assert not any(worker.WARMUP_QUERY in names for names in workloads.pinned().values())


def test_pick_depends_only_on_the_pinned_subsets(monkeypatch):
    # Neither the registry nor recorded costs may change what a run times:
    # adding a query or re-recording expected.json leaves every run alone.
    def forbidden(*_):
        raise AssertionError("pick consulted the registry or the costs")

    monkeypatch.setattr(workloads, "members", forbidden)
    monkeypatch.setattr(workloads, "subset", forbidden)
    monkeypatch.setattr(workloads, "module_of", forbidden)
    for workload, names in workloads.pinned().items():
        assert workloads.pick(workload, workloads.SIZED_FOR_S) == names
        short = workloads.pick(workload, 1)
        assert short == sorted(short)
        assert len(short) == workloads.MIN_SAMPLE and set(short) <= set(names)


def test_subset_spreads_over_modules_and_costs(monkeypatch):
    monkeypatch.setattr(workloads, "module_of", lambda q: q[0])
    names = [f"a{i}" for i in range(6)] + [f"b{i}" for i in range(3)]
    cost = {q: float(q[1:]) for q in names}
    # a gets two of three picks, the middle of its cheap and its dear half
    assert workloads.subset(names, cost, 3) == ["a1", "a4", "b1"]


def test_hd_quantile_matches_plain_quantiles():
    assert bench.hd_quantile([1, 2, 3, 4, 5], 0.5) == pytest.approx(3.0)
    rng = random.Random(1)
    x = [rng.expovariate(1.0) for _ in range(5001)]
    assert bench.hd_quantile(x, 0.5) == pytest.approx(statistics.median(x), rel=0.01)
    assert bench.hd_quantile(x, 0.8) == pytest.approx(statistics.quantiles(x, n=5)[3], rel=0.01)


def test_fails_without_the_package(tmp_path):
    shutil.copytree(bench.HERE, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    cmd = [sys.executable, "perfbench/run.py", "--workload", "sql_telemetry", "--seed", "1", "--seconds", "1", "--trace", "0"]
    proc = subprocess.run(cmd, cwd=tmp_path, capture_output=True, text=True, timeout=60)
    assert proc.returncode != 0
    assert proc.stdout == ""


def _check_metrics(result: dict, declared: list[dict]) -> None:
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["attempted"] >= 1
    for m in declared:
        got = result["metrics"][m["name"]]
        assert got["unit"] == m["unit"], m["name"]
        assert isinstance(got["value"], (int, float)), m["name"]
    assert len(result["metrics"]) == len(declared)


@pytest.mark.parametrize("workload", sorted(workloads.MODULES))
def test_workload_runs_and_reports_every_metric(workload):
    result = bench.run(ROOT, workload, seconds=1, trace=False, sf=SF)
    _check_metrics(result, SPEC["end_to_end"])
    assert result["correct"] and result["failed"] == 0
    assert result["metrics"]["ok_frac"]["value"] == 1.0


def test_eventlog_attribution(tmp_path):
    records = [
        {"name": "q1", "windows_ms": [["build", 100, 200], ["plan", 200, 210], ["exec", 210, 300]]},
        {"name": "q2", "windows_ms": [["build", 400, 500], ["plan", 500, 510], ["exec", 510, 600]]},
    ]
    task = {"Event": "SparkListenerTaskEnd", "Task End Reason": {"Reason": "Success"}}
    task["Task Metrics"] = {"Executor CPU Time": 2e9, "Disk Bytes Spilled": 5, "Shuffle Write Metrics": {"Shuffle Bytes Written": 7}}
    events = [
        # a tagged job belongs to its group, whatever its time
        {"Event": "SparkListenerJobStart", "Submission Time": 50, "Stage IDs": [1], "Properties": {"spark.jobGroup.id": "q1:build"}},
        # an untagged job (a streaming micro-batch) belongs to the window it starts in
        {"Event": "SparkListenerJobStart", "Submission Time": 450, "Stage IDs": [2], "Properties": {"spark.jobGroup.id": "stream-x"}},
        {"Event": "SparkListenerJobStart", "Submission Time": 550, "Stage IDs": [3]},
        # set-up and warmup jobs fall outside every window
        {"Event": "SparkListenerJobStart", "Submission Time": 10, "Stage IDs": [4]},
        dict(task, **{"Stage ID": 1}),
        dict(task, **{"Stage ID": 2}),
        dict(task, **{"Stage ID": 2, "Task End Reason": {"Reason": "ExceptionFailure"}}),
        dict(task, **{"Stage ID": 4}),
    ]
    log = tmp_path / "eventlog"
    log.write_text("".join(json.dumps(ev) + "\n" for ev in events))
    import worker

    worker.attribute_eventlog(str(log), records)
    q1, q2 = records
    assert (q1["build_jobs"], q1["plan_jobs"], q1["exec_jobs"]) == (1, 0, 0)
    assert (q2["build_jobs"], q2["plan_jobs"], q2["exec_jobs"]) == (1, 0, 1)
    assert (q1["tasks"], q2["tasks"]) == (1, 2)
    assert q2["failed_tasks"] == 1 and q1["failed_tasks"] == 0
    assert q2["task_cpu_s"] == pytest.approx(4.0)
    assert (q2["shuffle_write_bytes"], q2["disk_spill_bytes"]) == (14, 10)


def test_traced_run_reports_eager_builders():
    result = bench.run(ROOT, "llm_pipeline", seconds=1, trace=True, sf=SF)
    _check_metrics(result, SPEC["per_layer"])
    assert result["correct"]
    metrics = {name: m["value"] for name, m in result["metrics"].items()}
    assert metrics["eager_builders"] > 0
    assert sum(metrics[f"build_jobs.{layer}"] for layer in bench.LAYERS) > 0
    assert sum(metrics[f"tasks.{layer}"] for layer in bench.LAYERS) > 0


def test_wrong_row_count_is_a_failure(tmp_path):
    first = workloads.pick("sql_telemetry", 1)[0]
    broken = json.loads(json.dumps(EXPECTED))
    broken["rows"][str(SF)][first] += 1
    path = tmp_path / "expected.json"
    path.write_text(json.dumps(broken))
    result = bench.run(ROOT, "sql_telemetry", seconds=1, trace=False, sf=SF, expected_path=str(path))
    assert not result["correct"]
    assert result["failed"] == 1
    assert result["metrics"]["ok_frac"]["value"] == pytest.approx(1 - 1 / result["attempted"])
