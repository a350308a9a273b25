"""Unit tests of the harness's own accounting. No Spark session needed:

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))))

from perfbench import stats  # noqa: E402


# --- percentiles and the sample-count rule -------------------------------------


def test_percentile_is_nearest_rank():
    xs = list(range(1, 101))  # 1..100
    assert stats.percentile(xs, 0.5) == 50
    assert stats.percentile(xs, 0.9) == 90
    assert stats.percentile(xs, 1.0) == 100
    assert stats.percentile([7.0], 0.5) == 7.0
    assert stats.percentile([3, 1, 2], 0.5) == 2  # order of input is irrelevant
    # four query times, as the curation workload reports them
    assert stats.percentile([9.5, 6.3, 7.7, 7.0], 0.5) == 7.0
    assert stats.percentile([9.5, 6.3, 7.7, 7.0], 0.9) == 9.5


def test_samples_beyond_counts_strictly_above_the_rank():
    assert stats.samples_beyond(100, 0.9) == 10
    assert stats.samples_beyond(99, 0.9) == 9
    assert stats.samples_beyond(10, 0.5) == 5
    assert stats.samples_beyond(1, 0.5) == 0


def test_p90_needs_ten_samples_beyond_it():
    stats.percentile(range(100), 0.9, stats.MIN_SAMPLES_BEYOND)
    with pytest.raises(stats.InsufficientSamples):
        stats.percentile(range(99), 0.9, stats.MIN_SAMPLES_BEYOND)
    with pytest.raises(stats.InsufficientSamples):
        stats.percentile([], 0.5)


# --- error accounting ----------------------------------------------------------


def test_error_rate():
    assert stats.error_rate(10, 0) == 0.0
    assert stats.error_rate(8, 2) == 0.25
    with pytest.raises(ValueError):
        stats.error_rate(0, 0)
    with pytest.raises(ValueError):
        stats.error_rate(3, 4)


def test_outcome_counts_a_failed_check_as_a_failed_operation():
    o = stats.Outcome()
    o.ops(100)
    assert o.check("ok", True)
    assert o.correct and o.error_rate == 0.0
    assert not o.check("wrong answer", False, "hash differs")
    assert (o.attempted, o.failed) == (102, 1)
    assert not o.correct
    assert o.error_rate == pytest.approx(1 / 102)


def test_outcome_counts_dead_records():
    o = stats.Outcome()
    o.ops(attempted=50, failed=5)
    assert o.error_rate == 0.1 and not o.correct


# --- spans and self time ---------------------------------------------------------


def _span(sid, name, start, end, parent=None):
    return stats.Span(sid, name, start, end, parent, "r")


def test_self_time_subtracts_children():
    spans = [
        _span(0, "pass", 0.0, 10.0),
        _span(1, "write", 1.0, 4.0, parent=0),
        _span(2, "read", 5.0, 9.0, parent=0),
        _span(3, "encode", 1.5, 2.5, parent=1),
    ]
    st = stats.self_times(spans)
    assert st["pass"] == pytest.approx(3.0)
    assert st["write"] == pytest.approx(2.0)
    assert st["read"] == pytest.approx(4.0)
    assert st["encode"] == pytest.approx(1.0)
    assert sum(st.values()) == pytest.approx(10.0)  # self times partition the root


def test_self_time_counts_overlapping_children_once():
    spans = [
        _span(0, "batch", 0.0, 10.0),
        _span(1, "task", 1.0, 6.0, parent=0),
        _span(2, "task", 4.0, 8.0, parent=0),
        _span(3, "task", 9.0, 12.0, parent=0),  # overruns its parent: clipped
    ]
    st = stats.self_times(spans)
    assert st["batch"] == pytest.approx(10.0 - 7.0 - 1.0)
    assert st["task"] == pytest.approx(5.0 + 4.0 + 3.0)


def test_tracer_records_parents_and_costs_nothing_when_off():
    on = stats.Tracer("run", enabled=True)
    with on.span("outer"):
        with on.span("inner"):
            pass
    inner, outer = on.spans
    assert (inner.name, outer.name) == ("inner", "outer")
    assert inner.parent == outer.sid and outer.parent is None
    assert inner.run_id == outer.run_id == "run"
    assert outer.start <= inner.start <= inner.end <= outer.end

    off = stats.Tracer("run", enabled=False)
    with off.span("outer"):
        pass
    assert off.spans == [] and off.cost_s == 0.0


# --- arrived files → batches → latency ----------------------------------------------


def test_file_latencies_map_files_through_batches():
    due = {"f0": 100.0, "f1": 100.5, "f2": 101.0}
    last_ack = {"f0": 100.8, "f1": 101.9, "f2": 101.9}
    batch_of = {"f0": 3, "f1": 4, "f2": 4}
    trigger_ms = {3: 600.0, 4: 700.0}
    lats, undelivered = stats.file_latencies(due, last_ack, batch_of, trigger_ms)
    assert undelivered == []
    got = {x.file: (x.batch, round(x.latency_ms, 6), round(x.wait_ms, 6)) for x in lats}
    assert got == {
        "f0": (3, 800.0, 200.0),
        "f1": (4, 1400.0, 700.0),
        "f2": (4, 900.0, 200.0),
    }
    assert [x.file for x in lats] == ["f0", "f1", "f2"]  # in order of arrival


def test_batch_of_files_reads_the_source_log(tmp_path):
    log = tmp_path / "sources" / "0"
    log.mkdir(parents=True)
    entry = '{{"path":"file:///land/{}","timestamp":1,"batchId":{}}}'
    (log / "0").write_text("v1\n" + entry.format("a.parquet", 0) + "\n")
    (log / "1").write_text("v1\n" + entry.format("b.parquet", 1) + "\n" + entry.format("c.parquet", 1) + "\n")
    # a compacted log repeats earlier entries; the mapping must not change
    (log / "2.compact").write_text(
        "v1\n" + "\n".join(entry.format(f, b) for f, b in (("a.parquet", 0), ("b.parquet", 1), ("d.parquet", 2)))
    )
    (log / ".1.crc").write_text("ignored")
    assert stats.batch_of_files(str(tmp_path)) == {
        "a.parquet": 0, "b.parquet": 1, "c.parquet": 1, "d.parquet": 2
    }


def test_unacknowledged_or_unclaimed_files_are_undelivered():
    due = {"f0": 1.0, "f1": 2.0, "f2": 3.0}
    lats, undelivered = stats.file_latencies(
        due, last_ack={"f0": 1.5, "f2": 3.5}, batch_of={"f0": 0, "f1": 0}, trigger_ms={0: 100.0}
    )
    assert [x.file for x in lats] == ["f0"]
    assert undelivered == ["f1", "f2"]
    o = stats.Outcome()
    o.ops(len(due), len(undelivered))
    assert o.error_rate == pytest.approx(2 / 3)
