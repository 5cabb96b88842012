"""bench.py's per-query layers: a synthetic Spark event log folded with
perfbench's ``fold_event_log`` and split by query window. Spark-free."""

from __future__ import annotations

import json

import pytest

from bench import query_layers
from perfbench.spans import fold_event_log


def _job_start(jid: int, ms: int, stages: list[int]) -> dict:
    return {
        "Event": "SparkListenerJobStart",
        "Job ID": jid,
        "Submission Time": ms,
        "Stage IDs": stages,
        "Properties": {},
    }


def _job_end(jid: int, ms: int) -> dict:
    return {"Event": "SparkListenerJobEnd", "Job ID": jid, "Completion Time": ms}


def _task(stage: int, **metrics) -> dict:
    return {"Event": "SparkListenerTaskEnd", "Stage ID": stage, "Task Metrics": metrics}


EVENTS = [
    {"Event": "SparkListenerApplicationStart", "Timestamp": 999_000},
    # window "a" is (1000.0004, 1001.0): job 0 is logged at the window's
    # own millisecond, job 1 inside it
    _job_start(0, 1_000_000, [0, 1]),
    _task(0, **{"Executor Run Time": 100, "Executor CPU Time": 50_000_000,
                "JVM GC Time": 10, "Input Metrics": {"Bytes Read": 1000},
                "Shuffle Write Metrics": {"Shuffle Bytes Written": 200}}),
    _task(0, **{"Executor Run Time": 300, "Executor CPU Time": 150_000_000,
                "Input Metrics": {"Bytes Read": 3000},
                "Shuffle Write Metrics": {"Shuffle Bytes Written": 400}}),
    _task(1, **{"Executor Run Time": 50,
                "Shuffle Read Metrics": {"Remote Bytes Read": 0, "Local Bytes Read": 600},
                "Memory Bytes Spilled": 70, "Disk Bytes Spilled": 5}),
    _job_end(0, 1_000_400),
    _job_start(1, 1_000_600, [2]),
    _task(2, **{"Executor Run Time": 20, "Output Metrics": {"Bytes Written": 900},
                "Result Size": 33}),
    _job_end(1, 1_000_900),
    # between the windows: counts for no query
    _job_start(2, 1_001_500, [3]),
    _task(3, **{"Executor Run Time": 999}),
    _job_end(2, 1_001_600),
    # window "b" is (1002.0, 1003.0): one job that ends after the window,
    # and one zero-partition job (logged with no stages, start and end
    # at once)
    _job_start(3, 1_002_200, [4]),
    _task(4, **{"Executor Run Time": 40}),
    _job_end(3, 1_003_400),
    _job_start(4, 1_002_700, []),
    _job_end(4, 1_002_700),
]

WINDOWS = {"a": (1000.0004, 1001.0), "b": (1002.0, 1003.0)}


@pytest.fixture()
def layers(tmp_path):
    (tmp_path / "app-1").write_text("\n".join(json.dumps(e) for e in EVENTS) + "\n")
    return query_layers(fold_event_log(str(tmp_path)), WINDOWS)


def test_each_job_counts_for_the_window_it_was_submitted_in(layers):
    assert set(layers) == {"a", "b"}
    assert layers["a"]["spark.jobs"] == 2
    assert layers["b"]["spark.jobs"] == 2
    # job 2's 999 ms task lands in neither window
    assert layers["a"]["spark.executor_run_s"] == pytest.approx(0.47)
    assert layers["b"]["spark.executor_run_s"] == pytest.approx(0.04)


def test_stage_task_and_metric_sums(layers):
    a, b = layers["a"], layers["b"]
    assert (a["spark.stages"], a["spark.tasks"]) == (3, 4)
    assert (b["spark.stages"], b["spark.tasks"]) == (1, 1)
    assert a["spark.executor_cpu_s"] == pytest.approx(0.2)
    assert a["spark.gc_s"] == pytest.approx(0.01)
    assert a["spark.input_bytes"] == 4000
    assert a["spark.shuffle_write_bytes"] == 600
    assert a["spark.shuffle_read_bytes"] == 600
    assert a["spark.spill_bytes"] == 75
    assert a["spark.output_bytes"] == 900
    assert a["spark.result_bytes"] == 33


def test_busy_plus_driver_gap_is_the_window(layers):
    a, b = layers["a"], layers["b"]
    # job 0 is clipped to the window start: 0.3996 s + job 1's 0.3 s
    assert a["spark.busy_s"] == pytest.approx(0.7)
    # job 3 is clipped to the window end
    assert b["spark.busy_s"] == pytest.approx(0.8)
    for rec, (t0, t1) in zip((a, b), WINDOWS.values()):
        assert rec["window_s"] == pytest.approx(t1 - t0, abs=1e-3)
        assert rec["spark.busy_s"] + rec["spark.driver_gap_s"] == pytest.approx(
            rec["window_s"], abs=1e-3
        )
