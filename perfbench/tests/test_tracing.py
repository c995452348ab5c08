"""Event-log parser on a recorded sample, and span self times.

``data/eventlog_export.jsonl`` is the event log of one
``features_df`` → ``export_to_duckdb`` job (6 days × 300 bars, local[4],
job group ``job-0``) recorded with Spark 4.1, cut down to the events and
fields the parser reads.
"""

import os

import pytest
from tracing import Tracer, parse_event_log

SAMPLE = os.path.join(os.path.dirname(__file__), "data", "eventlog_export.jsonl")


def test_parser_on_recorded_export_job():
    with open(SAMPLE) as f:
        groups = parse_event_log(f)
    assert set(groups) == {"job-0"}
    g = groups["job-0"]
    assert g["operators.stages"] == 4
    assert g["operators.tasks"] == 4
    assert g["operators.exchanges"] == 2
    assert g["sources.rows_read"] == 1944  # scan node output rows
    assert g["sources.bytes_read"] == 45238  # driver-side "size of files read"
    assert g["sources.scan_s"] == pytest.approx(0.656)  # "scan time" is in ms
    assert g["operators.sort_s"] == pytest.approx(0.014)
    assert g["operators.python_s"] == pytest.approx(2.489)
    assert g["operators.python_bytes"] == 239136  # sent + returned
    assert g["operators.shuffle_bytes"] == 224927
    assert g["operators.agg_build_s"] == 0  # the export has no aggregation
    assert g["operators.spill_bytes"] == 0


def test_self_time_subtracts_children(monkeypatch):
    clock = iter([0.0, 1.0, 3.0, 4.0, 6.0, 10.0])
    monkeypatch.setattr("tracing.time.perf_counter", lambda: next(clock))
    t = Tracer()
    with t.span("bench.job", "j"):  # 0 .. 10
        with t.span("operators.build", "j"):  # 1 .. 3
            pass
        with t.span("sinks.parquet_write", "j"):  # 4 .. 6
            pass
    assert t.self_times() == {"j": {"bench": 6.0, "operators": 2.0, "sinks": 2.0}}
    assert [s.parent for s in t.spans] == [None, 0, 0]
