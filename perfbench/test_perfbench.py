"""Self-tests of the benchmark harness (not part of the package's suite).

    python3 -m pytest perfbench -q

The smoke tests run every workload end to end on tiny inputs, three runs
each, and take a few minutes.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from perfbench import run as bench  # noqa: E402
from perfbench.measure import digest, tree_cpu_s  # noqa: E402
from perfbench.sparkstats import STAGE_FIELDS, SparkAccounting  # noqa: E402

COUNTS = ("jobs", "stages")  # metric-name suffixes that must repeat exactly


@pytest.fixture(scope="module")
def spark():
    from edgy_spark.session import get_spark

    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    return get_spark("perfbench-tests", cpus=2)


def test_status_store_accessors_exist(spark):
    """Fails loudly when a Spark upgrade moves the status store, the
    listener bus or a StageData field the benchmark reads."""
    acct = SparkAccounting(spark.sparkContext)
    group = acct.new_group("canary")
    spark.range(10_000).selectExpr("id % 3 AS k").groupBy("k").count().collect()
    acct.set_group(None)
    acct.settle()
    n_jobs, stages = acct.stage_rows(group)
    assert n_jobs >= 1 and stages
    for data in stages:
        for name in STAGE_FIELDS:
            getattr(data, name)()  # py4j raises when the accessor is gone
    stats = acct.read(group)
    assert stats.jobs == n_jobs and stats.stages == len(stages)
    assert stats.tasks >= 1 and stats.shuffle_write_b > 0
    assert stats.shuffle_read_b > 0 and stats.exec_s >= 0
    assert 0 < stats.stage_busy_s < 60
    assert acct.live_heap_mb() > 0 and acct.jvm_pid() > 0


def test_digest_ignores_row_order_but_not_values(spark):
    schema = "k int, x double, s string"
    rows = spark.createDataFrame([(1, 0.5, "a"), (2, None, "b")], schema).collect()
    assert digest(rows) == digest(list(reversed(rows)))
    other = spark.createDataFrame([(1, 0.5, "a"), (2, 1.0, "b")], schema).collect()
    assert digest(rows) != digest(other)


def test_tree_cpu_counts_this_process():
    before = tree_cpu_s()
    sum(i * i for i in range(2_000_000))
    assert tree_cpu_s() > before


def test_benchmark_json_matches_the_metric_lists():
    with open(os.path.join(REPO, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert [w["name"] for w in spec["workloads"]] == list(bench.WORKLOADS)
    assert [(m["name"], m["unit"]) for m in spec["end_to_end"]] == list(bench.END_TO_END)
    assert [(m["name"], m["unit"]) for m in spec["per_layer"]] == list(bench.PER_LAYER)
    assert spec["command"] == ["python3", "perfbench/run.py"]


def test_fails_without_the_package(tmp_path):
    """In a directory holding only the benchmark, it exits non-zero and
    prints no result."""
    shutil.copytree(os.path.join(REPO, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(REPO, "BENCHMARK.json"), tmp_path)
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "graph_iter",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=180,
    )
    assert proc.returncode != 0
    assert "correct" not in proc.stdout


def _run(workload: str, trace: int) -> dict:
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "3",
         "--seconds", "1", "--trace", str(trace), "--smoke"],
        cwd=REPO, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True, proc.stdout.strip().splitlines()[-2]
    assert result["failed"] == 0 and result["attempted"] >= 1
    return result["metrics"]


@pytest.mark.parametrize("workload", bench.WORKLOADS)
def test_smoke_prints_every_metric_and_repeats_counts(workload):
    plain = _run(workload, 0)
    assert list(plain) == [name for name, _ in bench.END_TO_END]
    for name, unit in bench.END_TO_END:
        assert plain[name]["unit"] == unit and plain[name]["value"] > 0, name

    first, second = _run(workload, 1), _run(workload, 1)
    assert list(first) == [name for name, _ in bench.PER_LAYER]
    for name, unit in bench.PER_LAYER:
        assert first[name]["unit"] == unit, name
    counts = [n for n in first if n.endswith(COUNTS)]
    assert any(first[n]["value"] > 0 for n in counts)
    for name in counts:
        assert first[name]["value"] == second[name]["value"], name
