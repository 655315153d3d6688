"""Tests of the benchmark itself.

    python3 -m pytest perfbench/tests -q

The end-to-end tests start Spark sessions and take a few minutes.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)
sys.path.insert(0, ROOT)

import harness  # noqa: E402
import run  # noqa: E402
import workloads  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    SPEC = json.load(_f)


# Runs the command in argv[1:] as the reaper of its orphans, then prints
# on stderr the processes it left running: those reparented to this
# wrapper that have not ended. They are killed afterwards.
LEFTOVER_WRAPPER = """
import ctypes, os, signal, subprocess, sys
ctypes.CDLL(None).prctl(36, 1, 0, 0, 0)
code = subprocess.run(sys.argv[1:]).returncode
left = []
for name in os.listdir("/proc"):
    try:
        with open(f"/proc/{name}/stat") as f:
            fields = f.read().rsplit(")", 1)[1].split()
    except (OSError, IndexError):
        continue
    if fields[1] == str(os.getpid()) and fields[0] != "Z":
        left.append(int(name))
        os.kill(int(name), signal.SIGKILL)
print("leftover", left, file=sys.stderr)
sys.exit(code)
"""


def bench(*args: str, cwd: str = ROOT) -> tuple[int, list[str]]:
    """Run the benchmark; it must leave no process running."""
    proc = subprocess.run(
        [sys.executable, "-c", LEFTOVER_WRAPPER,
         sys.executable, os.path.join(cwd, "perfbench", "run.py"), *args],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )
    assert proc.stderr.strip().splitlines()[-1] == "leftover []", proc.stderr[-2000:]
    return proc.returncode, proc.stdout.strip().splitlines()


def result(lines: list[str]) -> dict:
    out = json.loads(lines[-1])
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    return out


def units(metrics: list[dict]) -> dict:
    return {m["name"]: m["unit"] for m in metrics}


# ------------------------------------------------------------ no Spark
def test_spec_matches_the_harness():
    assert units(SPEC["end_to_end"]) == run.END_TO_END
    names = run.per_layer_names()
    assert [m["name"] for m in SPEC["per_layer"]] == names
    declared = {**run.SPARK_METRICS, **run.TRACE_METRICS}
    for m in SPEC["per_layer"]:
        if m["name"] in declared:
            assert m["unit"] == declared[m["name"]]
    assert {w["name"] for w in SPEC["workloads"]} <= set(workloads.WORKLOADS)
    assert SPEC["command"] == ["python3", "perfbench/run.py"]


def test_inputs_are_a_function_of_the_seed():
    a = workloads.synth_corpus(200, seed=5)
    assert a.equals(workloads.synth_corpus(200, seed=5))
    assert not a.equals(workloads.synth_corpus(200, seed=6))
    skew = [d for d in a.to_pylist() if len(d["spans"]) == workloads.MAX_SPANS]
    assert len(skew) == 2  # exactly 1%
    t = workloads.gen_text_table(300, seed=5)
    assert t.equals(workloads.gen_text_table(300, seed=5))


def test_cache_key_carries_fixture_version(tmp_path):
    wl = workloads.ExtractMixed(3, str(tmp_path))
    assert f"fx{workloads.synth.FIXTURE_VERSION}" in wl.key
    assert wl.key != workloads.ExtractText(3, str(tmp_path)).key
    assert wl.key != workloads.ExtractMixed(4, str(tmp_path)).key


def test_count_failed_and_plant():
    expected = {"a": [["text", "x", None, 0]], "b": []}
    actual = {"a": [["text", "x", None, 0]], "b": []}
    assert workloads.count_failed(expected, actual) == 0
    workloads.plant_mismatch(actual, expected)
    assert workloads.count_failed(expected, actual) == 1
    assert workloads.count_failed(expected, {"a": expected["a"]}) == 1  # missing


def test_tracer_nests_spans():
    t = harness.Tracer("t")
    with t.span("outer"):
        with t.span("inner"):
            pass
    outer, inner = t.spans
    assert inner["parent"] == outer["id"] and outer["parent"] is None
    assert outer["start_s"] <= inner["start_s"] <= inner["end_s"] <= outer["end_s"]
    assert {s["trace_id"] for s in t.spans} == {"t"}


def test_spark_call_metrics_from_events():
    def task(stage, ms, reason="Success"):
        return {
            "Event": "SparkListenerTaskEnd", "Stage ID": stage, "Stage Attempt ID": 0,
            "Task End Reason": {"Reason": reason},
            "Task Info": {"Launch Time": 0, "Finish Time": ms},
            "Task Metrics": {
                "Executor Run Time": ms, "Executor CPU Time": ms * 10**6,
                "JVM GC Time": 1,
                "Shuffle Write Metrics": {"Shuffle Bytes Written": 100},
                "Shuffle Read Metrics": {"Remote Bytes Read": 0, "Local Bytes Read": 50},
                "Memory Bytes Spilled": 0, "Disk Bytes Spilled": 0,
            },
        }

    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 1000,
         "Stage IDs": [0, 1], "Properties": {"perfbench.call": "call0"}},
        task(0, 100), task(0, 300), task(1, 50, reason="ExceptionFailure"),
        {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 1500},
        # a job of no timed call is ignored
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": 1600,
         "Stage IDs": [2], "Properties": {}},
        task(2, 999),
    ]
    m = harness.spark_call_metrics(events, [{"label": "call0", "wall_s": 0.75}])
    assert harness.jobs_labelled(events, "call0") == 1
    assert m["spark.jobs"] == 1 and m["spark.stages"] == 2 and m["spark.tasks"] == 3
    assert m["spark.task_failures"] == 1
    assert m["spark.executor_run_s"] == pytest.approx(0.45)
    assert m["spark.shuffle_write_bytes"] == 300
    assert m["spark.shuffle_read_bytes"] == 150
    assert m["spark.task_skew"] == pytest.approx(300 / 200)
    assert m["spark.driver_gap_s"] == pytest.approx(0.25)


def test_without_the_package_it_fails_without_a_result(tmp_path):
    shutil.copytree(BENCH, tmp_path / "perfbench", ignore=shutil.ignore_patterns("_work"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    code, lines = bench("--workload", "extract_mixed", "--seed", "1",
                        "--seconds", "1", "--trace", "0", cwd=str(tmp_path))
    assert code != 0
    assert not any(line.startswith("{") for line in lines)


# ---------------------------------------------------------- with Spark
# one seed throughout, so later runs reuse the cached input and oracle
SEED = "7"


@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_untraced_run_prints_every_end_to_end_metric(workload):
    code, lines = bench("--workload", workload, "--seed", SEED,
                        "--seconds", "1", "--trace", "0")
    out = result(lines)
    assert code == 0 and out["correct"] and out["failed"] == 0
    assert out["attempted"] == workloads.WORKLOADS[workload].n_docs
    assert {k: v["unit"] for k, v in out["metrics"].items()} == units(SPEC["end_to_end"])
    assert all(v["value"] > 0 for v in out["metrics"].values())
    printed = {line.split()[1] for line in lines if line.startswith("metric ")}
    assert set(run.END_TO_END) | {"docs_failed_frac"} <= printed


def test_planted_span_mismatch_fails_the_run():
    code, lines = bench("--workload", "extract_mixed", "--seed", SEED,
                        "--seconds", "1", "--trace", "0", "--plant-mismatch")
    out = result(lines)
    assert code == 1
    assert not out["correct"] and out["failed"] >= 1


def test_traced_run_prints_every_layer_metric():
    code, lines = bench("--workload", "extract_mixed", "--seed", SEED,
                        "--seconds", "1", "--trace", "1")
    out = result(lines)
    assert code == 0 and out["correct"]
    assert {k: v["unit"] for k, v in out["metrics"].items()} == units(SPEC["per_layer"])
    printed = {line.split()[1] for line in lines if line.startswith("layer ")}
    assert {
        "pipeline.plan_build_ms", "pipeline.span_stage_s", "pipeline.strip_s",
        "rezip.s", "checkpoint.commit_groups", "checkpoint.resume_s",
    } <= printed
    trace_file = next(
        line.split()[-1] for line in lines if line.startswith("perfbench trace_file")
    )
    with open(os.path.join(ROOT, trace_file)) as f:
        trace = json.load(f)
    assert {"setup", "call", "check", "kernel"} <= {s["name"] for s in trace["spans"]}
