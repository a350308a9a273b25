"""Streaming tests (SURVEY §5.3): stream-batch parity, watermark late-data
drop, stateful dedup, and the streaming Kinesis sink.

The oracle suite covers the batch twins' values; these tests cover what only
a real streaming run can show — micro-batch replay order, watermark state
eviction, and append-mode finalization.
"""

from __future__ import annotations

import json
import time

import pyarrow as pa
import pyarrow.parquet as pq
import pyspark.sql.functions as F

from streamsurfer_spark.sink.config import KinesisSinkConfig
from streamsurfer_spark.sink.kinesis import (
    FileKinesisClient,
    envelope_payload,
    kinesis_stream_writer,
)
from streamsurfer_spark.streaming import transforms
from streamsurfer_spark.streaming.ingest import read_events_stream, run_to_memory

NS = 1_000_000_000


def _ts(hour: float) -> int:
    """ns timestamp at 2024-01-01 <hour>:00 UTC (fixture epoch area)."""
    base = 1_704_067_200  # 2024-01-01T00:00:00Z
    return int((base + hour * 3600) * NS)


def _write_events(path, rows):
    """One parquet file in the raw events layout (ts = int64 nanoseconds)."""
    tbl = pa.table(
        {
            "event_id": pa.array([r[0] for r in rows], pa.int64()),
            "ts": pa.array([r[1] for r in rows], pa.int64()),
            "user_id": pa.array([r[2] for r in rows], pa.int64()),
            "event_type": pa.array([r[3] for r in rows], pa.string()),
            "value": pa.array([r[4] for r in rows], pa.float64()),
            "props": pa.array(["{}"] * len(rows), pa.string()),
        }
    )
    pq.write_table(tbl, path)


def test_stream_batch_parity_tumbling(spark, tmp_path):
    """The same transform on readStream and read produces identical rows —
    the core Structured Streaming invariant (SURVEY §5.3)."""
    src = "/root/testdata/sf0.001/events.parquet"
    stream_out = run_to_memory(
        transforms.tumbling_counts(read_events_stream(spark, src)), "complete"
    )
    from streamsurfer_spark.session import table

    batch_out = transforms.tumbling_counts(table(spark, "/root/testdata/sf0.001", "events"))
    assert sorted(map(tuple, stream_out.collect())) == sorted(
        map(tuple, batch_out.collect())
    )


def test_stream_batch_parity_session(spark):
    src = "/root/testdata/sf0.001/events.parquet"
    stream_out = run_to_memory(
        transforms.session_counts(read_events_stream(spark, src)), "complete"
    )
    from streamsurfer_spark.session import table

    batch_out = transforms.session_counts(table(spark, "/root/testdata/sf0.001", "events"))
    assert sorted(map(tuple, stream_out.collect())) == sorted(
        map(tuple, batch_out.collect())
    )


def test_watermark_drops_late_rows(spark, tmp_path):
    """A row arriving behind the watermark for an already-finalized window is
    dropped, and the window is never re-emitted (append-mode exactly-once).

    Spark's one-directional guarantee: the input filter uses the previous
    batch's watermark, so the drop is guaranteed once the window finalized a
    full batch before the late arrival (probed empirically on 4.1.2).
    """
    d = tmp_path / "late_events"
    d.mkdir()
    # batch 0: window 09:00 gets state; 12:00 pushes max event time
    _write_events(d / "f1.parquet", [(1, _ts(9.5), 1, "click", 1.0), (2, _ts(12), 1, "click", 1.0)])
    time.sleep(1.05)  # file-source batches follow mtime order
    # batch 1: watermark -> 11:00; evicts + emits ('09:00', 1)
    _write_events(d / "f2.parquet", [(3, _ts(12.5), 1, "click", 1.0)])
    time.sleep(1.05)
    # batch 2: 09:45 is behind the watermark AND its window already emitted
    # -> dropped; 14:00 is on time (stays unfinalized: end > final watermark)
    _write_events(d / "f3.parquet", [(4, _ts(9.75), 1, "click", 1.0), (5, _ts(14), 1, "click", 1.0)])

    stream = read_events_stream(spark, str(d), max_files_per_trigger=1)
    out = run_to_memory(
        transforms.watermarked_tumbling(stream, window="1 hour", watermark="1 hour"),
        "append",
    )
    rows = sorted((r.w_start, r.n_events) for r in out.collect())
    # 09:00 exactly once with the on-time count only; 12:00 window holds
    # both 12:00 and 12:30 events (finalized by the final 13:00 watermark)
    assert rows == [("2024-01-01 09:00:00", 1), ("2024-01-01 12:00:00", 2)]


def test_dedup_within_watermark(spark, tmp_path):
    d = tmp_path / "dup_events"
    d.mkdir()
    _write_events(d / "f1.parquet", [(1, _ts(10), 1, "click", 1.0)])
    time.sleep(1.05)
    # same event_id again (within watermark) + one new event
    _write_events(d / "f2.parquet", [(1, _ts(10.1), 1, "click", 1.0), (2, _ts(11), 2, "view", 2.0)])

    stream = read_events_stream(spark, str(d), max_files_per_trigger=1)
    deduped = transforms.streaming_dedup(stream, keys=("event_id",), watermark="1 day")
    out = run_to_memory(deduped.select("event_id"), "append")
    ids = sorted(r.event_id for r in out.collect())
    assert ids == [1, 2]


def test_streaming_kinesis_sink(spark, tmp_path):
    """readStream → envelope → foreachBatch chunker → (file-mock) Kinesis:
    every record is a JSON array, chunk sizes respect the byte bound."""
    spool = str(tmp_path / "spool")
    config = KinesisSinkConfig(stream_name="s", max_size_bytes=4096, origin="tests")
    stream = read_events_stream(spark, "/root/testdata/sf0.001/events.parquet")
    payloads = envelope_payload(stream, ts_col="ts", origin="tests")
    q = kinesis_stream_writer(
        payloads,
        config,
        client_factory=lambda cfg: FileKinesisClient(spool),
        checkpoint_dir=str(tmp_path / "ckpt"),
    ).trigger(availableNow=True).start()
    q.awaitTermination()

    import glob

    total = 0
    for f in glob.glob(f"{spool}/*.json"):
        rec = json.load(open(f))
        events = json.loads(rec["Data"])
        assert isinstance(events, list) and events
        assert all(e["origin"] == "tests" for e in events)
        # per-item sizes sum below the bound unless a single item exceeds it
        sizes = [len(json.dumps(e, separators=(",", ":")).encode()) for e in events]
        assert sum(sizes) < config.max_size_bytes or len(events) == 1
        total += len(events)
    assert total == 1000


def test_streaming_kinesis_sink_at_least_once_on_replay(spark, tmp_path):
    """kinesis_stream_writer ignores epoch_id, so a micro-batch whose client
    fails after some acks is replayed whole when the query restarts from
    its checkpoint: every valid event arrives at least once, and the only
    duplicates are the acks from before the failure."""
    import glob
    import os
    from collections import Counter

    import pytest

    src = tmp_path / "events"
    src.mkdir()
    batch0 = list(range(1, 21))
    batch1 = list(range(101, 121))
    _write_events(src / "f1.parquet", [(i, _ts(1), 1, "click", 1.0) for i in batch0])
    _write_events(
        src / "f2.parquet",
        [(i, _ts(2), 2, "view", 2.0) for i in batch1]
        + [(199, _ts(2), 2, None, 2.0)],  # invalid: no event_type
    )
    # file-source batches follow mtime order: f1 is batch 0, f2 batch 1
    os.utime(src / "f1.parquet", (1_700_000_000, 1_700_000_000))
    os.utime(src / "f2.parquet", (1_700_000_100, 1_700_000_100))
    config = KinesisSinkConfig(
        "s", max_size_bytes=400, origin="t", retry_max_attempts=1
    )

    class DiesMidBatch(FileKinesisClient):
        """Acks the first 3 records of batch 1, then fails every put."""

        acked = 0

        def put_record(self, **record):
            if any(e["event_id"] > 100 for e in json.loads(record["Data"])):
                if self.acked == 3:
                    raise RuntimeError("injected put_record failure")
                self.acked += 1
            return super().put_record(**record)

    def run(client_factory):
        stream = read_events_stream(spark, str(src), max_files_per_trigger=1)
        q = kinesis_stream_writer(
            envelope_payload(stream, ts_col="ts", origin="t"),
            config,
            client_factory=client_factory,
            checkpoint_dir=str(tmp_path / "ckpt"),
        ).trigger(availableNow=True).start()
        q.awaitTermination()

    def delivered(spool):
        return Counter(
            e["event_id"]
            for f in glob.glob(f"{spool}/*.json")
            for e in json.loads(json.load(open(f))["Data"])
        )

    spool1, spool2 = str(tmp_path / "spool1"), str(tmp_path / "spool2")
    with pytest.raises(Exception):
        run(lambda cfg: DiesMidBatch(spool1))
    run(lambda cfg: FileKinesisClient(spool2))  # restart, same checkpoint

    before, after = delivered(spool1), delivered(spool2)
    acked_early = set(before) - set(batch0)
    assert acked_early and acked_early < set(batch1)  # failed mid-batch
    assert before == Counter(batch0) + Counter(acked_early)
    assert after == Counter(batch1)  # batch 1 replayed whole, batch 0 not
    total = before + after
    assert set(total) == set(batch0) | set(batch1)
    assert {i for i, n in total.items() if n > 1} == acked_early
    assert max(total.values()) == 2


def test_stateful_tracker_accumulates_across_batches(spark, tmp_path):
    """applyInPandasWithState: per-user state persists across micro-batches;
    the final update equals the batch aggregate."""
    from streamsurfer_spark.streaming.stateful import user_activity_tracker

    d = tmp_path / "tracker_events"
    d.mkdir()
    _write_events(d / "f1.parquet", [(1, _ts(1), 7, "click", 1.5), (2, _ts(2), 7, "view", 2.0)])
    time.sleep(1.05)
    _write_events(d / "f2.parquet", [(3, _ts(3), 7, "click", 3.0), (4, _ts(4), 8, "view", 4.0)])

    stream = read_events_stream(spark, str(d), max_files_per_trigger=1)
    out = run_to_memory(user_activity_tracker(stream), "update")
    # update mode emits one row per key per batch; the row with the highest
    # n_events per user is the final state
    rows = out.collect()
    final = {}
    for r in rows:
        if r.user_id not in final or r.n_events > final[r.user_id].n_events:
            final[r.user_id] = r
    assert final[7].n_events == 3
    assert final[7].sum_value == 6.5
    assert final[7].last_event_id == 3
    assert final[8].n_events == 1
    assert final[8].last_event_id == 4
    # state accumulated across batches: an intermediate emission for user 7
    # exists with n_events == 2 (batch 1's running total)
    assert any(r.user_id == 7 and r.n_events == 2 for r in rows)


def test_checkpoint_recovery_exactly_once(spark, tmp_path):
    """Restarting a checkpointed query processes only NEW files — no
    re-emission of already-committed batches (file-sink exactly-once)."""
    src = tmp_path / "ckpt_events"
    src.mkdir()
    out = str(tmp_path / "out_parquet")
    ckpt = str(tmp_path / "ckpt_dir")

    def run_once():
        stream = read_events_stream(spark, str(src))
        q = (
            stream.select("event_id", "user_id", "value")
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    _write_events(src / "f1.parquet", [(1, _ts(1), 1, "click", 1.0), (2, _ts(2), 1, "view", 2.0)])
    run_once()
    first = spark.read.parquet(out).count()
    assert first == 2

    _write_events(src / "f2.parquet", [(3, _ts(3), 2, "click", 3.0)])
    run_once()
    rows = spark.read.parquet(out).collect()
    assert sorted(r.event_id for r in rows) == [1, 2, 3]  # f1 not re-emitted


def test_stream_stream_interval_join_parity(spark):
    """Stream-stream interval join (watermarked both sides) produces the
    same pairs as the batch bucketed range_join — Q-T2's streaming twin."""
    import pyspark.sql.functions as F
    from streamsurfer_spark.operators.asof import range_join
    from streamsurfer_spark.session import table

    src = "/root/testdata/sf0.001/events.parquet"

    def split_streams(df):
        purchases = df.where(F.col("event_type") == "purchase").select(
            F.col("event_id").alias("purchase_id"), "user_id", "ts"
        )
        errors = df.where(F.col("event_type") == "error").select(
            F.col("user_id").alias("e_user"),
            F.col("event_id").alias("error_id"),
            F.col("ts").alias("error_ts"),
        )
        return purchases, errors

    sp, se = split_streams(read_events_stream(spark, src))
    se = se.withColumnRenamed("e_user", "user_id")
    joined = transforms.interval_join(
        sp, se, key="user_id", left_time="ts", right_time="error_ts",
        lower_seconds=-6 * 3600, upper_seconds=6 * 3600,
    ).select("purchase_id", "error_id")
    stream_pairs = sorted(map(tuple, run_to_memory(joined, "append").collect()))

    ev = table(spark, "/root/testdata/sf0.001", "events")
    bp = ev.where(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"), "user_id", "ts"
    )
    be = ev.where(F.col("event_type") == "error").select(
        "user_id", F.col("event_id").alias("error_id"), F.col("ts").alias("error_ts")
    )
    batch_pairs = sorted(
        map(
            tuple,
            range_join(bp, be, "user_id", "ts", "error_ts", -6 * 3600, 6 * 3600)
            .select("purchase_id", "error_id")
            .collect(),
        )
    )
    assert stream_pairs == batch_pairs and len(stream_pairs) > 0


def test_stream_stream_left_outer_interval_join(spark, tmp_path):
    """leftOuter interval join: the matched purchase pairs normally; the
    unmatched one emits with a NULL right side once the watermark (driven
    by a later batch) proves no error can still arrive."""
    dp = tmp_path / "outer_purchases"
    de = tmp_path / "outer_errors"
    dp.mkdir()
    de.mkdir()
    # user 1: purchase at 10h with an error at 11h (match, ±6h window)
    # user 2: purchase at 10h, no error ever (outer row)
    _write_events(
        dp / "f1.parquet",
        [(1, _ts(10), 1, "purchase", 5.0), (3, _ts(10), 2, "purchase", 7.0)],
    )
    _write_events(de / "f1.parquet", [(2, _ts(11), 1, "error", 0.0)])
    time.sleep(1.05)
    # far-future rows on BOTH sides: watermarks (1 day) pass 10h + 6h
    _write_events(dp / "f2.parquet", [(8, _ts(90), 9, "purchase", 0.0)])
    _write_events(de / "f2.parquet", [(9, _ts(90), 8, "error", 0.0)])
    time.sleep(1.05)
    # one more batch: outer-row eviction runs under the batch-2 watermark
    _write_events(dp / "f3.parquet", [(10, _ts(91), 9, "purchase", 0.0)])
    _write_events(de / "f3.parquet", [(11, _ts(91), 8, "error", 0.0)])

    purchases = read_events_stream(spark, str(dp), max_files_per_trigger=1).select(
        F.col("event_id").alias("purchase_id"), "user_id", "ts"
    )
    errors = read_events_stream(spark, str(de), max_files_per_trigger=1).select(
        F.col("user_id").alias("e_user"),
        F.col("event_id").alias("error_id"),
        F.col("ts").alias("error_ts"),
    )
    joined = transforms.interval_join(
        purchases,
        errors.withColumnRenamed("e_user", "user_id"),
        key="user_id",
        left_time="ts",
        right_time="error_ts",
        lower_seconds=-6 * 3600,
        upper_seconds=6 * 3600,
        how="leftOuter",
    ).select("purchase_id", "error_id")
    out = run_to_memory(joined, "append")
    got = {(r.purchase_id, r.error_id) for r in out.collect()}
    assert got == {(1, 2), (3, None)}
