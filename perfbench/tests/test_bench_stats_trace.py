"""Spread arithmetic, span self-time arithmetic and event-log parsing."""

import json
import statistics

import pytest

from steady import iqr_share
from trace import Span, Tracer, parse_event_log, self_times


def test_iqr_share_uses_statistics_quantiles():
    vals = [10.0, 11.0, 9.0, 10.5, 12.0, 8.0, 10.0, 9.5, 11.5, 10.0]
    q1, _, q3 = statistics.quantiles(vals, n=4)
    assert iqr_share(vals) == pytest.approx((q3 - q1) / statistics.median(vals))
    assert iqr_share([3.0] * 5) == 0.0


def span(name, start, end, parent=None):
    return Span(name, start, end, parent, "op")


def test_self_time_subtracts_children():
    spans = [span("op", 0.0, 10.0), span("a", 1.0, 4.0, 0), span("b", 5.0, 6.0, 0)]
    assert self_times(spans) == pytest.approx([6.0, 3.0, 1.0])


def test_self_time_counts_overlapping_children_once_and_clips_to_parent():
    spans = [
        span("op", 0.0, 10.0),
        span("a", 1.0, 5.0, 0),
        span("b", 3.0, 7.0, 0),  # overlaps a: union 1..7
        span("c", 9.0, 12.0, 0),  # runs past the parent: only 9..10 counts
    ]
    assert self_times(spans)[0] == pytest.approx(10.0 - 6.0 - 1.0)


def test_self_time_only_direct_children():
    spans = [span("op", 0.0, 10.0), span("a", 2.0, 8.0, 0), span("aa", 3.0, 5.0, 1)]
    assert self_times(spans) == pytest.approx([4.0, 4.0, 2.0])


def test_tracer_records_nesting_and_nothing_when_off():
    tr = Tracer(True)
    tr.op = "op-1"
    with tr.span("outer"):
        with tr.span("inner"):
            pass
    assert [(s.name, s.parent, s.op) for s in tr.spans] == [("outer", None, "op-1"), ("inner", 0, "op-1")]
    assert tr.spans[0].start <= tr.spans[1].start <= tr.spans[1].end <= tr.spans[0].end
    off = Tracer(False)
    with off.span("x"):
        pass
    assert off.spans == []


def test_parse_event_log_groups_task_metrics_by_job_group(tmp_path):
    log = tmp_path / "eventlog_v2_local-1"
    log.mkdir()
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Stage IDs": [0, 1],
         "Properties": {"spark.jobGroup.id": "w:0:read"}},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Stage IDs": [2], "Properties": {}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 0,
         "Task Info": {"Accumulables": [{"Name": "time to run Python workers", "Update": "7"}]},
         "Task Metrics": {"Executor Run Time": 30, "Memory Bytes Spilled": 5, "Disk Bytes Spilled": 1,
                          "Shuffle Write Metrics": {"Shuffle Bytes Written": 100}}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 1, "Task Info": {},
         "Task Metrics": {"Executor Run Time": 12}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 2, "Task Info": {},
         "Task Metrics": {"Executor Run Time": 99}},
    ]
    (log / "events_1_local-1").write_text("\n".join(json.dumps(e) for e in events) + "\n")
    out = parse_event_log(str(tmp_path))
    assert out == {
        "w:0:read": {"run_ms": 42.0, "shuffle_write_bytes": 100.0, "spill_bytes": 6.0, "pyworker_ms": 7.0}
    }
