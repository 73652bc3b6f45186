"""The event-log fold against a tiny hand-written log.

    python3 -m pytest perfbench/tests
"""

import os
import shutil

import pytest

from perfbench.eventlog import count_plans, fold, read_events

LOG = os.path.join(os.path.dirname(__file__), "data", "tiny_eventlog.jsonl")
SPANS = [
    {"id": "a@0", "start": 1000.0, "end": 1004.0},
    {"id": "b@1", "start": 1005.0, "end": 1006.0},
    {"id": "c@2", "start": 1006.5, "end": 1006.8},
]


def test_fold_two_jobs_with_overlap():
    a = fold(read_events(LOG), SPANS)["a@0"]
    assert a["s"] == pytest.approx(4.0)
    assert a["jobs"] == 2
    # jobs cover [1000.5, 1002.0]: 1.5 s of the 4 s span
    assert a["driver_s"] == pytest.approx(2.5)
    assert a["executor_run_s"] == pytest.approx(0.51)
    assert a["gc_s"] == pytest.approx(0.015)
    assert a["shuffle_mb"] == pytest.approx(6.0)
    assert a["aqe_replans"] == 3
    # stage 2 runs 10/10/40 ms: max 40 over median 10
    assert a["task_skew"] == pytest.approx(4.0)


def test_fold_single_task_and_empty_span():
    out = fold(read_events(LOG), SPANS)
    b, c = out["b@1"], out["c@2"]
    assert (b["jobs"], b["aqe_replans"], b["task_skew"]) == (1, 1, 1.0)
    assert b["driver_s"] == pytest.approx(0.5)
    assert b["executor_run_s"] == pytest.approx(0.4)
    assert b["gc_s"] == pytest.approx(0.1)
    assert (c["jobs"], c["executor_run_s"], c["task_skew"]) == (0, 0.0, 0.0)
    assert c["driver_s"] == pytest.approx(c["s"])


def test_jobs_outside_spans_are_ignored():
    out = fold(read_events(LOG), SPANS)
    assert sum(v["jobs"] for v in out.values()) == 3
    assert sum(v["gc_s"] for v in out.values()) == pytest.approx(0.115)


def test_count_plans_by_job_group():
    assert count_plans(read_events(LOG), "xxhash64(") == {"a@0": 1}
    assert count_plans(read_events(LOG), "HashAggregate") == {"a@0": 1, "b@1": 1}


def test_reads_rolling_log_directories(tmp_path):
    app = tmp_path / "eventlog_v2_local-1"
    app.mkdir()
    lines = open(LOG).readlines()
    half = len(lines) // 2
    (app / "events_2_local-1").write_text("".join(lines[half:]))
    (app / "events_1_local-1").write_text("".join(lines[:half]))
    (app / "appstatus_local-1").write_text("")
    shutil.copy(LOG, tmp_path / "plain_log")
    assert len(list(read_events(str(app)))) == len(lines)
    assert len(list(read_events(str(tmp_path)))) == 2 * len(lines)
