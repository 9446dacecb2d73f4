"""Self-test of the benchmark: each workload at tiny size, in a scratch
working directory.

    python -m pytest perfbench/tests -q

Checks that the printed metric names and units are the ones BENCHMARK.json
declares, that clean runs are correct, that a deliberately perturbed result
is counted as a failed operation (error_rate above zero), that one seed
stages the same inputs twice, and that Spark stages and tasks are counted
from what ran.
"""

from __future__ import annotations

import glob
import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH_DIR = os.path.dirname(HERE)
REPO = os.path.dirname(BENCH_DIR)
sys.path.insert(0, BENCH_DIR)

import harness  # noqa: E402

WORKLOADS = ("dashboard_refresh", "live_votes", "registry_sample")


def _declared():
    with open(os.path.join(REPO, "BENCHMARK.json")) as f:
        bench = json.load(f)
    return bench


def _run(cwd, workload, *extra, trace=0):
    # one timed operation, except live_votes, which publishes all 3 batches
    seconds = "60" if workload == "live_votes" else "0"
    cmd = [sys.executable, os.path.join(BENCH_DIR, "run.py"), "--workload", workload,
           "--seed", "5", "--seconds", seconds, "--trace", str(trace), "--smoke", *extra]
    out = subprocess.run(cmd, cwd=cwd, stdout=subprocess.PIPE, stderr=subprocess.PIPE,
                         text=True, timeout=300)
    assert out.returncode == 0, out.stderr[-3000:]
    result = json.loads(out.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    arts = sorted(glob.glob(os.path.join(cwd, ".perfbench_work", "artifacts", f"{workload}-*")))
    with open(arts[-1]) as f:
        return result, json.load(f)


def _assert_declared(metrics, declared):
    assert {k: v["unit"] for k, v in metrics.items()} == {m["name"]: m["unit"] for m in declared}
    for v in metrics.values():
        assert isinstance(v["value"], (int, float))


@pytest.mark.parametrize("workload", WORKLOADS)
def test_clean_traced_run(tmp_path, workload):
    result, art = _run(str(tmp_path), workload, trace=1)
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    _assert_declared(result["metrics"], _declared()["per_layer"])
    assert art["error_rate"] == 0
    assert art["env"]["cores_used"] <= art["env"]["nproc"]
    assert len(art["input_digest"]) == 64
    if workload == "live_votes":
        assert result["attempted"] == 3  # every staged batch after the warm-up
        assert result["metrics"]["stream.batches_per_op"]["value"] == 1


@pytest.mark.parametrize("workload", WORKLOADS)
def test_perturbed_result_is_a_failure(tmp_path, workload):
    result, art = _run(str(tmp_path), workload, "--perturb")
    _assert_declared(result["metrics"], _declared()["end_to_end"])
    assert not result["correct"]
    assert result["failed"] >= 1
    assert art["error_rate"] > 0


def test_same_seed_stages_same_digest(tmp_path):
    _, first = _run(str(tmp_path), "dashboard_refresh")
    result, second = _run(str(tmp_path), "dashboard_refresh")
    assert result["correct"]  # a differing digest for the same key would fail the run
    assert first["input_digest"] == second["input_digest"]


def test_digest_book_flags_changed_inputs(tmp_path):
    book = harness.DigestBook(str(tmp_path / "digests.json"))
    assert book.check("k", "a") is None
    assert book.check("k", "a") is None
    assert book.check("k", "b") == "a"


def test_eventlog_counts_only_what_ran(tmp_path):
    """A job that reuses a shuffle lists the stage that wrote it but skips
    it: its stages and tasks must not be counted again."""
    from pyspark.sql import SparkSession

    log_dir = tmp_path / "eventlog"
    log_dir.mkdir()
    builder = SparkSession.builder.master("local[2]").appName("perfbench-eventlog-test")
    for k, v in {**harness.EVENTLOG_CONF, "spark.eventLog.dir": str(log_dir),
                 "spark.ui.enabled": "false"}.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    try:
        sc = spark.sparkContext
        rdd = sc.parallelize(range(100), 4).map(lambda x: (x % 3, 1)).reduceByKey(
            lambda a, b: a + b, 2)
        sc.setJobGroup(f"{harness.OP_GROUP}0", "map and reduce stages")
        assert rdd.count() == 3
        sc.setJobGroup(f"{harness.OP_GROUP}1", "reduce stage only")
        assert rdd.count() == 3
    finally:
        harness.stop_jvm()

    events = [json.loads(line) for f in log_dir.iterdir() for line in f.open()]
    listed = [len(e["Stage IDs"]) for e in events if e["Event"] == "SparkListenerJobStart"]
    assert listed == [2, 2]  # the second job lists the stage it skips
    task_ends = sum(e["Event"] == "SparkListenerTaskEnd" for e in events)

    per_op = harness.per_op_totals(harness.eventlog_records(str(log_dir)), [(0, 0), (0, 0)])
    assert [(p["jobs"], p["stages"], p["tasks"]) for p in per_op] == [(1, 2, 6), (1, 1, 2)]
    assert sum(p["tasks"] for p in per_op) == task_ends


def test_latency_tail():
    small = harness.latency_summary([3.0, 1.0, 2.0])
    assert small["tail_s"] == 3.0 and small["tail_percentile"] == 100.0
    big = harness.latency_summary([float(i) for i in range(100)])
    assert big["tail_s"] == 89.0  # ten samples above it
    assert big["p50_s"] == 49.5
