"""Chunker + sink queue tests — the reference's batching fine print
(SURVEY §2.1) as unit and hypothesis property tests."""

from __future__ import annotations

import json

from hypothesis import given, settings
from hypothesis import strategies as st

from streamsurfer_spark.envelope import serialize_event
from streamsurfer_spark.sink.chunker import BatchingEventQueue, greedy_chunks
from streamsurfer_spark.sink.config import KinesisSinkConfig
from streamsurfer_spark.sink.kinesis import MockKinesisClient


def chunks_of(sizes: list[int], max_bytes: int) -> list[list[int]]:
    # payload = its own size, for easy assertion
    return list(greedy_chunks(((s, s) for s in sizes), max_bytes))


class TestGreedyChunks:
    def test_flush_before_insert(self):
        # 3rd item trips: batch holds the first two only (main.go:207-224)
        assert chunks_of([400, 400, 400], 1024) == [[400, 400], [400]]

    def test_ge_trigger_exact_threshold(self):
        # an item exactly reaching max triggers flush of PRIOR items
        assert chunks_of([512, 512], 1024) == [[512], [512]]

    def test_oversized_item_accepted_alone(self):
        assert chunks_of([200, 5000, 200], 1024) == [[200], [5000], [200]]

    def test_oversized_first_item(self):
        # current=0: 0+5000>=1024 but nothing to flush; item enters queue
        assert chunks_of([5000, 10], 1024) == [[5000], [10]]

    def test_final_partial_batch_flushes(self):
        assert chunks_of([10, 10], 1024) == [[10, 10]]

    def test_empty(self):
        assert chunks_of([], 1024) == []

    @given(st.lists(st.integers(min_value=1, max_value=2000), max_size=50),
           st.integers(min_value=1, max_value=1500))
    @settings(max_examples=200)
    def test_invariants(self, sizes, max_bytes):
        chunks = chunks_of(sizes, max_bytes)
        # order-preserving, loss-free
        assert [s for c in chunks for s in c] == sizes
        for c in chunks:
            assert c  # never empty
            # a multi-item chunk's summed size stays under max: the item
            # that would reach it starts the next chunk (>= trigger)
            if len(c) > 1:
                assert sum(c[:-1]) + c[-1] < max_bytes or sum(c[:-1]) < max_bytes
        # tighter form: every proper prefix sum is < max
        for c in chunks:
            running = 0
            for s in c[:-1]:
                running += s
                assert running < max_bytes


class TestBatchingEventQueue:
    def make(self, max_size=200, origin="", fail=False):
        cfg = KinesisSinkConfig("stream", max_size_bytes=max_size, origin=origin)
        client = MockKinesisClient(fail=fail)
        return BatchingEventQueue(cfg, client), client

    def test_enqueue_batches_and_flushes(self):
        q, client = self.make(max_size=200)
        for i in range(10):
            assert q.enqueue({"event": f"e{i}", "n": i}) == []
        q.flush()
        assert len(client.records) >= 2
        # every record is one JSON array; concatenation preserves all events
        all_events = []
        for rec in client.records:
            batch = json.loads(rec["Data"])
            assert isinstance(batch, list)
            all_events.extend(batch)
        assert [e["event"] for e in all_events] == [f"e{i}" for i in range(10)]

    def test_tripping_item_not_in_flushed_batch(self):
        q, client = self.make(max_size=150)
        q.enqueue({"event": "first"})
        q.enqueue({"event": "second-trips-the-threshold-with-a-long-payload" + "x" * 80})
        assert len(client.records) == 1
        batch = json.loads(client.records[0]["Data"])
        assert [e["event"] for e in batch] == ["first"]

    def test_per_record_size_bound(self):
        q, client = self.make(max_size=300)
        for i in range(30):
            q.enqueue({"event": f"event-{i:04d}"})
        q.flush()
        for rec in client.records:
            batch = json.loads(rec["Data"])
            if len(batch) > 1:
                item_sizes = [len(serialize_event(dict(e))) for e in batch]
                assert sum(item_sizes) < 300 + item_sizes[-1]

    def test_partition_key_is_uuid_and_unique(self):
        import uuid as uuid_mod

        q, client = self.make(max_size=100)
        for i in range(20):
            q.enqueue({"event": f"e{i}"})
        q.flush()
        keys = [rec["PartitionKey"] for rec in client.records]
        assert len(set(keys)) == len(keys)
        for k in keys:
            uuid_mod.UUID(k)  # parses as UUID

    def test_send_bypasses_queue(self):
        q, client = self.make()
        q.enqueue({"event": "queued"})
        assert q.send({"event": "direct"}) == []
        assert len(client.records) == 1
        batch = json.loads(client.records[0]["Data"])
        assert [e["event"] for e in batch] == ["direct"]

    def test_flush_empty_returns_empty(self):
        q, client = self.make()
        assert q.flush() == []
        assert client.records == []

    def test_failed_send_returns_undelivered_items(self):
        # code semantics, not the docstring: items come back on FAILURE
        # (main.go:266-289; SURVEY §2.1)
        q, _ = self.make(fail=True)
        q.enqueue({"event": "a"})
        failed = q.flush()
        assert [e["event"] for e in failed] == ["a"]

    def test_stream_arn_attached_when_configured(self):
        cfg = KinesisSinkConfig.with_stream_arn("arn:aws:kinesis:r:1:stream/st", "app")
        client = MockKinesisClient()
        q = BatchingEventQueue(cfg, client)
        q.send({"event": "e"})
        assert client.records[0]["StreamARN"] == "arn:aws:kinesis:r:1:stream/st"
        assert client.records[0]["StreamName"] == "st"

    def test_origin_stamped_on_events(self):
        q, client = self.make(origin="my-app")
        q.send({"event": "e"})
        batch = json.loads(client.records[0]["Data"])
        assert batch[0]["origin"] == "my-app"

    def test_non_ascii_sized_as_raw_utf8(self, monkeypatch):
        """Counted size is the raw UTF-8 length, so two events of 2-byte
        chars share a record that 6-byte escape sizing would have split,
        and the third trips the threshold (main.go:202-208)."""
        import streamsurfer_spark.envelope as envelope

        ts = "2026-01-01T00:00:00Z"
        monkeypatch.setattr(envelope, "render_timestamp_py", lambda _ts: ts)
        val = "é" * 10
        raw = '{"event":"%s","n":0,"server_timestamp":"%s"}' % (val, ts)
        size = len(serialize_event({"event": val, "n": 0, "server_timestamp": ts}))
        assert size == len(raw.encode("utf-8"))
        # 2*size < max, so two items fit (escaped sizing, +4 bytes per
        # "é", would trip on the second); 3*size >= max trips on the third
        q, client = self.make(max_size=2 * size + 1)
        for i in range(3):
            assert q.enqueue({"event": val, "n": i}) == []
        assert len(client.records) == 1
        data = client.records[0]["Data"]
        assert [e["n"] for e in json.loads(data)] == [0, 1]
        assert val.encode("utf-8") in data  # wire bytes unescaped too
        q.flush()
        assert [e["n"] for e in json.loads(client.records[1]["Data"])] == [2]

    def test_validation_error_propagates(self):
        import pytest

        q, client = self.make()
        with pytest.raises(ValueError, match="event field is required"):
            q.enqueue({"not_event": 1})
        assert client.records == []


class TestPutRecordsScalePath:
    def test_put_records_groups_chunks(self):
        from streamsurfer_spark.sink.config import KinesisSinkConfig
        from streamsurfer_spark.sink.kinesis import MockKinesisClient, write_partition

        config = KinesisSinkConfig(stream_name="s", max_size_bytes=64)
        client = MockKinesisClient()
        rows = [{"payload": '{"event":"e","n":%d}' % i} for i in range(40)]
        n = write_partition(iter(rows), config, lambda c: client, use_put_records=True)
        assert n > 1
        # batch API receives the same chunk payloads as the PutRecord path
        client2 = MockKinesisClient()
        write_partition(iter(rows), config, lambda c: client2, use_put_records=False)
        data_batch = [r["Data"] for r in client.records]
        data_single = [r["Data"] for r in client2.records]
        assert data_batch == data_single
        assert all("StreamName" in r for r in client.records)
