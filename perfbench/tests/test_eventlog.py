"""The event-log folder on a small recorded Spark 4.1 log.

The log (data/small_eventlog.jsonl, trimmed to the events the folder reads)
was recorded at local[2] from three job groups: "udf" (a pandas UDF summed,
2 jobs), "shuffle" (a groupBy count, 2 jobs) and no group (a count, 2 jobs).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os

import pytest

from perfbench import eventlog

LOG = os.path.join(os.path.dirname(__file__), "data", "small_eventlog.jsonl")


@pytest.fixture(scope="module")
def events():
    with open(LOG) as f:
        return [json.loads(line) for line in f if line.strip()]


@pytest.fixture(scope="module")
def folded():
    return eventlog.fold_file(LOG)


def test_groups_and_counts(folded):
    assert set(folded.groups) == {"udf", "shuffle", ""}
    for name in folded.groups:
        b = folded.group(name)
        assert (b.jobs, b.stages, b.tasks) == (2, 2, 3), name
    assert folded.group("no-such-group").jobs == 0


def test_task_metrics_sum_to_the_log(folded, events):
    ends = [e for e in events if e["Event"] == "SparkListenerTaskEnd"]
    total = eventlog.Bucket()
    for b in folded.groups.values():
        total.add(b)
    assert total.tasks == len(ends) == 9
    run_ms = sum(e["Task Metrics"]["Executor Run Time"] for e in ends)
    cpu_ns = sum(e["Task Metrics"]["Executor CPU Time"] for e in ends)
    wrote = sum(e["Task Metrics"]["Shuffle Write Metrics"]["Shuffle Bytes Written"] for e in ends)
    assert total.executor_run_s == pytest.approx(run_ms / 1e3)
    assert total.executor_cpu_s == pytest.approx(cpu_ns / 1e9)
    assert total.shuffle_write_mb == pytest.approx(wrote / 2**20)
    assert folded.group("udf").executor_run_s == pytest.approx(5.939)
    assert folded.group("shuffle").shuffle_write_mb > 0
    assert total.spill_mb == 0
    assert all(b.task_wait_s >= 0 for b in folded.groups.values())


def test_python_udf_metrics_only_where_a_udf_ran(folded):
    py = folded.group("udf").python
    assert py["time to run Python workers"] == pytest.approx(4.951)
    assert py["time to start Python workers"] == pytest.approx(3.142)
    assert py["data sent to Python workers"] == pytest.approx(16544 / 2**20)
    assert not folded.group("shuffle").python
    assert not folded.group("").python


def test_time_windows_bucket_jobs_by_submission(folded):
    submits = sorted(t for _, t in folded.jobs.values())
    assert len(submits) == 6
    everything = folded.window(submits[0], submits[-1] + 1)
    assert everything.jobs == 6 and everything.tasks == 9
    # the two udf jobs were submitted first
    first_two = folded.window(submits[0], submits[2])
    assert first_two.jobs == 2
    assert first_two.executor_run_s == pytest.approx(folded.group("udf").executor_run_s)
    assert folded.window(0, submits[0]).jobs == 0


def test_blank_lines_and_unknown_events_are_ignored():
    lines = ["", '{"Event": "SparkListenerLogStart", "Spark Version": "4.1.2"}', "  "]
    f = eventlog.fold(lines)
    assert not f.groups and not f.jobs
