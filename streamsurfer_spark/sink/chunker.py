"""Greedy byte-bounded batching with the reference's exact semantics.

Behavioral contract (SURVEY §2.1 fine print, /root/reference/main.go:197-231):

- size accounting is per-item JSON byte length, summed (array brackets and
  commas are NOT counted — main.go:203 vs main.go:267);
- **flush-before-insert**: the item that trips the threshold is not part of
  the flushed batch; it starts the next one (main.go:207-224);
- **>= trigger**: an item whose size makes ``current + item >= max`` trips
  the flush of the *prior* items (main.go:208);
- an item larger than the threshold is still accepted and sits alone until
  something else trips or a flush drains it (no per-item cap).

In the Spark sink this runs per executor partition — single-threaded, so the
reference's mutex dissolves (SURVEY §4).
"""

from __future__ import annotations

from collections.abc import Iterable, Iterator


def greedy_chunks(item_sizes_and_payloads: Iterable[tuple[int, object]], max_size_bytes: int) -> Iterator[list[object]]:
    """Yield batches of payloads obeying the reference chunking contract.

    ``item_sizes_and_payloads`` yields (json_byte_size, payload). The final
    partial batch is yielded last (the sink's end-of-partition Flush).
    """
    current: list[object] = []
    current_size = 0
    for item_size, payload in item_sizes_and_payloads:
        if current_size + item_size >= max_size_bytes and current:
            yield current
            current = []
            current_size = 0
        current.append(payload)
        current_size += item_size
    if current:
        yield current


class BatchingEventQueue:
    """Driver/executor-side twin of the reference's kinesisQueue.

    Same API shape as the reference interface (main.go:20-24):
    ``enqueue`` / ``send`` / ``flush``; events are validated/enriched on the
    way in, accumulated by summed JSON size, and shipped as ONE JSON-array
    record per batch through a pluggable client (so tests mock it, mirroring
    mocks/KinesisQueue.go).

    Return contract adopts the *code* semantics, not the docstring
    (SURVEY §2.1): ``flush``/``enqueue`` return the list of items that
    FAILED to send (empty on success) so callers can recover them.
    """

    def __init__(self, config, client) -> None:
        self.config = config
        self.client = client
        self._items: list[dict] = []
        self._current_size = 0

    def enqueue(self, data: dict) -> list:
        """main.go:197-231. Returns items that failed to send (usually [])."""
        from streamsurfer_spark.envelope import enrich_and_validate, serialize_event

        enrich_and_validate(data, self.config.origin)
        item_size = len(serialize_event(data))

        to_flush: list[dict] = []
        if self._current_size + item_size >= self.config.max_size_bytes:
            to_flush = self._drain()
        self._items.append(data)
        self._current_size += item_size

        if to_flush:
            return self._send_to_kinesis(to_flush)
        return []

    def send(self, data: dict) -> list:
        """Immediate single-element batch, bypassing the queue (main.go:235-242)."""
        from streamsurfer_spark.envelope import enrich_and_validate

        enrich_and_validate(data, self.config.origin)
        return self._send_to_kinesis([data])

    def flush(self) -> list:
        """Drain and ship everything; [] when queue empty (main.go:254-264)."""
        items = self._drain()
        if items:
            return self._send_to_kinesis(items)
        return []

    def _drain(self) -> list[dict]:
        items = self._items
        self._items = []
        self._current_size = 0
        return items

    def _send_to_kinesis(self, items: list[dict]) -> list:
        """One PutRecord per batch: whole batch as a single JSON array with a
        random-UUID partition key (main.go:266-289). On failure returns the
        undelivered items."""
        import uuid

        from streamsurfer_spark.envelope import serialize_event

        record = {
            "Data": serialize_event(items),
            "StreamName": self.config.stream_name,
            "PartitionKey": str(uuid.uuid4()),
        }
        if self.config.stream_arn != "":
            record["StreamARN"] = self.config.stream_arn
        try:
            self.client.put_record(**record)
        except Exception:
            return items
        return []
