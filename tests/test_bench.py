"""bench.py's contract: row names resolve, each row is a median of three
runs with per-row failure isolation, and the final record keeps the
compact shape the round driver parses. No Spark session is needed."""

from __future__ import annotations

import json

import pytest

import bench


def test_bench_and_probe_names_resolve():
    """Every name in bench.py's BENCH_QUERIES and scale_probe's PROBES
    must exist in the registry — a typo voids the driver's whole bench
    record (BENCH_r02 died to a single broken query)."""
    from streamsurfer_spark.queries import registry
    from tools.scale_probe import PROBES

    reg = registry()
    missing = [n for n in (*bench.BENCH_QUERIES, *PROBES) if n not in reg]
    assert not missing, f"unknown query names: {missing}"


def test_record_healthy_run_is_compact():
    """A healthy record at every bench row, with worst realistic widths
    (4-digit seconds, 3 decimals), has exactly the driver-parsed keys and
    stays under the 2,000-byte size the driver demonstrably parses."""
    times = {name: 999.999 for name in bench.BENCH_QUERIES}
    out = bench.record(times, "/data/sf0.1/", {}, {})
    assert set(out) == {"metric", "value", "unit", "queries", "sf"}
    assert out["queries"] == times and out["sf"] == 0.1
    size = len(json.dumps(out))
    assert size < 2000, f"{size} B at {len(times)} rows"


def test_record_broken_run_names_its_errors():
    out = bench.record({"a": 1.0}, "/data/custom", {"b": "E"}, {"a": "R"})
    assert out["errors"] == {"b": "E"} and out["rerun_errors"] == {"a": "R"}
    assert out["value"] == 1.0 and out["sf"] == "custom"


@pytest.fixture
def fake_row(monkeypatch):
    """A ``run_once`` whose n-th call takes ``durations[n]`` seconds on a
    fake clock, or raises when that entry is an exception."""
    clock = [0.0]
    monkeypatch.setattr(bench, "perf_counter", lambda: clock[0])

    def make(durations):
        calls = []

        def run_once():
            step = durations[len(calls)]
            calls.append(step)
            if isinstance(step, Exception):
                raise step
            clock[0] += step

        return run_once, calls

    return make


def test_time_row_records_median_of_three(fake_row):
    run_once, calls = fake_row([5.0, 1.0, 2.0])
    assert bench.time_row(run_once) == (2.0, None, None)
    assert len(calls) == 3


def test_time_row_first_error_voids_row(fake_row):
    run_once, calls = fake_row([ValueError("bad fixture"), 1.0, 1.0])
    sec, error, rerun_error = bench.time_row(run_once)
    assert sec is None and rerun_error is None
    assert error == "ValueError: bad fixture"
    assert len(calls) == 1


def test_time_row_rerun_error_keeps_first_reading(fake_row):
    run_once, calls = fake_row([4.0, RuntimeError("blip"), 1.0])
    assert bench.time_row(run_once) == (4.0, None, "RuntimeError: blip")
    assert len(calls) == 2
