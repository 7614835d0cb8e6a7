"""The event-log parser against a small hand-written rolling log.

Run from the repository root: ``python3 -m pytest perfbench/tests -q``."""

import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import eventlog  # noqa: E402

LOG = os.path.join(HERE, "fixtures", "eventlog_v2_local-1")


@pytest.fixture(scope="module")
def groups():
    return eventlog.aggregate_by_group(eventlog.read_events(LOG))


def test_reads_rolling_files_in_index_order():
    names = [os.path.basename(p) for p in eventlog.log_files(LOG)]
    assert names == ["events_1_local-1", "events_2_local-1"]


def test_jobs_without_a_group_are_left_out(groups):
    assert sorted(groups) == ["pass-0", "pass-1"]


def test_sums_task_metrics_of_the_group(groups):
    g = groups["pass-0"]
    assert (g.jobs, g.stages, g.tasks) == (2, 3, 5)
    assert g.task_run_s == pytest.approx(1.95)
    assert g.jvm_cpu_s == pytest.approx(0.65)
    assert g.python_s == pytest.approx(1.30)
    assert g.gc_s == pytest.approx(0.01)
    assert g.shuffle_write_bytes == 500


def test_skew_is_taken_on_the_heaviest_stage(groups):
    # stage 1 holds tasks of 1000, 200 and 200 ms
    assert groups["pass-0"].task_skew == pytest.approx(5.0)
    assert groups["pass-1"].task_skew == pytest.approx(1.0)


def test_sched_gap_is_span_minus_time_with_a_task_running(groups):
    g = groups["pass-0"]
    # jobs span 1000..3000 ms; tasks cover 1000-1400, 1500-2500, 2750-2900
    assert g.span_s == pytest.approx(2.0)
    assert g.sched_gap_s == pytest.approx(0.45)
    g = groups["pass-1"]
    assert (g.span_s, g.sched_gap_s) == (pytest.approx(0.4), pytest.approx(0.2))


def test_groups_by_another_job_property():
    # a streaming query's jobs carry their micro-batch id
    by_batch = eventlog.aggregate_by_group(
        eventlog.read_events(LOG), prop="streaming.sql.batchId"
    )
    assert sorted(by_batch) == ["7"]
    g = by_batch["7"]
    assert (g.jobs, g.stages, g.tasks) == (1, 1, 1)
    assert g.task_run_s == pytest.approx(0.1)
