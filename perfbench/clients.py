"""Kinesis client doubles the benchmark injects through the sink's
``client_factory`` seam. They run inside Spark's Python workers, so this
module must stay importable there (no Spark session, no harness state).

Every client reports through Spark accumulators, which carry values from
the workers back to the driver when each task ends:

- ``CountingClient``: acknowledges every ``put_record`` and records when;
- ``StreamAckClient``: as above, plus the event ids in each record, so the
  stream workload can map acknowledgements back to the file they came in;
- ``VerifyingClient``: keeps every record with its partition and order,
  for the untimed exactly-once and chunk-contract check;
- ``ThrottlingFileClient``: throttles a seeded share of records on their
  first PutRecords attempt and spools the rest through the engine's own
  ``FileKinesisClient``.
"""

from __future__ import annotations

import re
import time
import zlib

from pyspark.accumulators import AccumulatorParam

from perfbench.checks import ITEM_START

_EVENT_ID = re.compile(rb'"event_id":(\d+)')
_ACK = {"SequenceNumber": "0", "ShardId": "shardId-0"}


class ListParam(AccumulatorParam):
    """Accumulator over lists: ``add`` takes a list (or tuple) to append."""

    def zero(self, value):
        return []

    def addInPlace(self, value1, value2):
        value1.extend(value2)
        return value1


def list_accumulator(sc):
    return sc.accumulator([], ListParam())


class CountingClient:
    def __init__(self, acks, nbytes, items) -> None:
        self.acks = acks
        self.nbytes = nbytes
        self.items = items

    def put_record(self, **record) -> dict:
        data = record["Data"]
        self.nbytes.add(len(data))
        self.items.add(data.count(ITEM_START))
        self.acks.add((time.time(),))
        return _ACK


class StreamAckClient:
    def __init__(self, acks, nbytes) -> None:
        self.acks = acks
        self.nbytes = nbytes

    def put_record(self, **record) -> dict:
        data = record["Data"]
        self.nbytes.add(len(data))
        ids = tuple(int(m) for m in _EVENT_ID.findall(data))
        self.acks.add(((time.time(), ids),))
        return _ACK


class VerifyingClient:
    def __init__(self, records) -> None:
        from pyspark import TaskContext

        ctx = TaskContext.get()
        self.partition = ctx.partitionId() if ctx else -1
        self.records = records
        self.seq = 0

    def put_record(self, **record) -> dict:
        self.records.add(((self.partition, self.seq, record["Data"]),))
        self.seq += 1
        return _ACK


class ThrottlingFileClient:
    """A record is throttled on its first attempt when its CRC, salted by
    the seed, falls in the throttled share; its retry then succeeds. The
    client instance lives for one partition, which is exactly the scope of
    ``flush_put_records``'s retry loop."""

    def __init__(self, spool_dir, salt, share, acks, calls, attempts, throttled) -> None:
        from streamsurfer_spark.sink.kinesis import FileKinesisClient

        self.inner = FileKinesisClient(spool_dir)
        self.salt = salt
        self.cut = int(share * 10_000)
        self.acks = acks
        self.calls = calls
        self.attempts = attempts
        self.throttled = throttled
        self.seen: set[int] = set()

    def put_records(self, Records, **stream) -> dict:
        out = []
        failed = 0
        for r in Records:
            key = zlib.crc32(r["Data"])
            if key not in self.seen and (key ^ self.salt) % 10_000 < self.cut:
                self.seen.add(key)
                failed += 1
                out.append(
                    {
                        "ErrorCode": "ProvisionedThroughputExceededException",
                        "ErrorMessage": "throttled on first attempt",
                    }
                )
            else:
                out.append(self.inner.put_record(**r, **stream))
                self.acks.add((time.time(),))
        self.calls.add(1)
        self.attempts.add(len(Records))
        self.throttled.add(failed)
        return {"FailedRecordCount": failed, "Records": out}


class Factory:
    """Picklable ``client_factory``: builds ``cls(*args)`` per partition,
    ignoring the sink config (the doubles need no stream name)."""

    def __init__(self, cls, *args) -> None:
        self.cls = cls
        self.args = args

    def __call__(self, config):
        return self.cls(*self.args)
