"""The receipt reader against a small event log whose totals are
counted by hand (eventlog_fixture/: two grouped jobs, one ungrouped)."""

import os

import pytest

from receipts import covered_seconds, read_receipts

FIXTURE = os.path.join(os.path.dirname(os.path.abspath(__file__)), "eventlog_fixture")


@pytest.fixture(scope="module")
def receipts():
    return read_receipts(FIXTURE)


def test_ungrouped_jobs_are_ignored(receipts):
    assert sorted(receipts) == ["p0|q|build", "p0|q|sink"]


def test_map_stage_group(receipts):
    r = receipts["p0|q|build"]
    assert (r.jobs, r.stages, r.tasks, r.failed_tasks) == (1, 1, 2, 0)
    assert r.shuffle_write_bytes == 300
    assert r.shuffle_read_bytes == 0
    assert r.input_bytes == 800
    assert r.spill_bytes == 1024
    # map tasks return no rows to the driver
    assert r.result_bytes == 0
    assert r.executor_cpu_ns == 12_000_000
    assert (r.shuffle_read_tasks, r.zero_read_tasks) == (0, 0)
    assert r.job_spans == [(1.0, 1.1)]
    assert r.stage_skews == [30 / 20]


def test_result_stage_group(receipts):
    r = receipts["p0|q|sink"]
    # stage 1 was skipped: listed by the job, never completed
    assert (r.jobs, r.stages, r.tasks, r.failed_tasks) == (1, 1, 3, 1)
    assert r.shuffle_read_bytes == 300
    assert (r.shuffle_read_tasks, r.zero_read_tasks) == (3, 1)
    assert r.result_bytes == 800
    assert r.output_bytes == 64
    assert r.executor_cpu_ns == 4_000_000
    assert r.job_spans == [(1.2, 1.3)]
    assert r.stage_skews == [40 / 10]


def test_covered_seconds_is_a_clipped_union():
    spans = [(1.5, 3.0), (1.0, 2.0), (4.0, 5.0), (1.2, 1.4)]
    assert covered_seconds(spans, 0.0, 4.5) == pytest.approx(2.5)
    assert covered_seconds(spans, 2.5, 2.6) == pytest.approx(0.1)
    assert covered_seconds([], 0.0, 1.0) == 0.0
