"""Tests of the event-log reducer on a small checked-in log fragment.

Run from the root of the repository: ``python3 -m pytest perfbench``.
"""

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import eventlog  # noqa: E402

FRAGMENT = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                        "fixtures", "eventlog_fragment.jsonl")
LOOP = "w:pagerank:r0:0"
ONE_PASS = "w:triangle_count:r0:1"


@pytest.fixture(scope="module")
def reduced():
    return eventlog.reduce_events(eventlog.read_events(FRAGMENT),
                                  {LOOP: 3.0, ONE_PASS: 1.0})


def test_attribution_by_job_group(reduced):
    # the fragment's bench.reset job is not a timed call and is dropped
    assert set(reduced) == {LOOP, ONE_PASS}
    assert reduced[LOOP]["jobs"] == 3
    assert reduced[ONE_PASS]["jobs"] == 2
    loop = reduced[LOOP]
    assert loop["executor_run_s"] == pytest.approx(1.8)
    assert loop["executor_cpu_s"] == pytest.approx(1.04)
    assert loop["gc_s"] == pytest.approx(0.01)
    assert loop["shuffle_write_mb"] == pytest.approx(2.0)
    assert loop["shuffle_read_mb"] == pytest.approx(2.0)
    assert loop["spill_mb"] == pytest.approx(3.0)


def test_in_job_seconds_is_an_interval_union(reduced):
    # pin [1.0, 2.0] and check [1.5, 2.5] overlap; save [3.0, 3.5] does not
    assert reduced[LOOP]["in_job_s"] == pytest.approx(2.0)
    assert reduced[LOOP]["driver_s"] == pytest.approx(1.0)
    # [4.0, 4.6] contains [4.3, 4.4]
    assert reduced[ONE_PASS]["in_job_s"] == pytest.approx(0.6)
    assert reduced[ONE_PASS]["driver_s"] == pytest.approx(0.4)
    assert eventlog.interval_union([]) == 0.0
    assert eventlog.interval_union([(0, 1), (2, 3), (0.5, 2.5)]) == 3.0


def test_pin_check_save_classification(reduced):
    loop = reduced[LOOP]
    assert (loop["pin_jobs"], loop["check_jobs"], loop["save_jobs"]) == (1, 1, 1)
    assert loop["pin_s"] == pytest.approx(1.0)
    assert loop["check_s"] == pytest.approx(1.0)
    assert loop["save_s"] == pytest.approx(0.5)
    # a call that neither pins nor saves has no convergence checks: its
    # result action, and the adaptive job that inherits its call site, are
    # "other"
    one = reduced[ONE_PASS]
    assert (one["pin_jobs"], one["check_jobs"], one["save_jobs"]) == (0, 0, 0)
    assert one["other_jobs"] == 2


def test_classify_call_sites():
    pkg = "/x/graph_python_spark"
    assert eventlog.classify(f"localCheckpoint at {pkg}/plans/iterate.py:29") == "pin"
    assert eventlog.classify(f"parquet at {pkg}/plans/iterate.py:124") == "save"
    assert eventlog.classify(f"collect at {pkg}/algorithms/kcore.py:114") == "check"
    assert eventlog.classify("count at NativeMethodAccessorImpl.java:0") == "other"
    assert eventlog.classify(f"toPandas at {pkg}/algorithms/x.py:1") == "other"


def test_task_skew_in_longest_stage(reduced):
    # ONE_PASS's longest stage runs tasks of 0.1, 0.2 and 0.6 s
    assert reduced[ONE_PASS]["task_skew"] == pytest.approx(3.0)
    assert reduced[LOOP]["task_skew"] == pytest.approx(1.0)


def test_event_files_in_rolling_order(tmp_path):
    log = tmp_path / "eventlog_v2_local-1"
    log.mkdir()
    for n in (10, 2, 1):
        (log / f"events_{n}_local-1").write_text("")
    (log / "appstatus_local-1").write_text("")
    assert [os.path.basename(p) for p in eventlog.event_files(str(tmp_path))] == [
        "events_1_local-1", "events_2_local-1", "events_10_local-1"]
    assert eventlog.event_files(str(tmp_path / "missing")) == []
