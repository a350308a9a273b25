"""Unit tests of the sink output checks, against records built by the
engine's own chunker (no Spark session needed)."""

from __future__ import annotations

import json
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))))

from perfbench import checks  # noqa: E402
from streamsurfer_spark.sink.chunker import greedy_chunks  # noqa: E402


def _item(eid: int, pad: int = 0) -> str:
    return json.dumps(
        {"event_id": eid, "event_type": "click", "origin": "o", "props": "x" * pad,
         "server_timestamp": "2024-01-01T00:00:00Z"},
        separators=(",", ":"), sort_keys=True,
    )


def _records(items: list[str], max_size: int, partition: int = 0):
    sized = [(len(p.encode("utf-8")), p) for p in items]
    return [
        (partition, seq, ("[" + ",".join(chunk) + "]").encode("utf-8"))
        for seq, chunk in enumerate(greedy_chunks(sized, max_size))
    ]


def test_split_items_recovers_exact_item_bytes():
    items = [_item(1), _item(2, pad=5), '{"event_id":3,"s":"a,]b \\",{\\"event_id\\":"}']
    body = ("[" + ",".join(items) + "]").encode()
    got = checks.split_items(body)
    assert [size for _, size in got] == [len(i) for i in items]
    assert [obj["event_id"] for obj, _ in got] == [1, 2, 3]
    with pytest.raises(ValueError):
        checks.split_items(b'[{"a":1},{"b":2}]')


def test_engine_chunks_satisfy_the_contract():
    items = [_item(i, pad=(1500 if i % 17 == 0 else i % 40)) for i in range(300)]
    recs = _records(items, 1024) + _records([_item(1000 + i) for i in range(50)], 1024, partition=1)
    valid = set(range(300)) | {1000 + i for i in range(50)}
    v = checks.verify_delivery(recs, 1024, valid, "o")
    assert v["problems"] == [] and v["n_problems"] == 0
    assert v["items"] == 350
    assert v["oversize_share"] > 0  # the padded items are over the threshold


def test_contract_violations_are_found():
    # a chunk holding >= threshold in several items (no flush-before-insert)
    assert checks.chunk_violations([[600, 500]], 1024)
    # a chunk flushed although the next item still fit (flush too early)
    assert checks.chunk_violations([[300], [300]], 1024)
    # exactly reaching the threshold must flush (>= trigger)
    assert checks.chunk_violations([[512], [512]], 1024) == []
    assert checks.chunk_violations([[512, 512]], 1024)
    # an oversized item alone is fine
    assert checks.chunk_violations([[2000], [100]], 1024) == []


def test_lost_duplicated_and_unstamped_events_are_problems():
    recs = _records([_item(i) for i in range(10)], 1024)
    assert checks.verify_delivery(recs, 1024, set(range(11)), "o")["n_problems"] == 1
    dup = recs + [(1, 0, recs[0][2])]
    assert "duplicated" in " ".join(checks.verify_delivery(dup, 1024, set(range(10)), "o")["problems"])
    assert checks.verify_delivery(recs, 1024, set(range(10)), "other-origin")["n_problems"] == 10
    recs = _records([_item(i) for i in range(40)], 1024)
    gap = [r for r in recs if r[1] != 1]
    assert any("sequence" in p for p in checks.verify_delivery(gap, 1024, set(range(40)), "o")["problems"])
