"""Consume-side round trip: sink spool → spool_items / kinesis_replay.

The sink ships one JSON-array record per greedy chunk (the reference's
wire format, main.go:266-276); the source must unbatch every record back
into the exact envelope items — the batch scan (spool_items) AND the
micro-batch stream reader (kinesis_replay).
"""

from __future__ import annotations

import json

from streamsurfer_spark.session import table
from streamsurfer_spark.sink.config import KinesisSinkConfig
from streamsurfer_spark.sink.kinesis import (
    FileKinesisClient,
    envelope_payload,
    write_batch_to_kinesis,
)
from tests.conftest import SF_DIR


def _fill_spool(spark, spool: str, n: int = 120) -> list[str]:
    """Write n enveloped events through the real sink; return the expected
    item payloads (sorted-key JSON, as the envelope render emits)."""
    cfg = KinesisSinkConfig("rt-stream", max_size_bytes=2048, origin="rt")
    ev = table(spark, SF_DIR, "events").limit(n)
    payloads = envelope_payload(ev, event_col="event_type", ts_col="ts", origin="rt")
    expected = sorted(r.payload for r in payloads.collect())
    write_batch_to_kinesis(payloads, cfg, lambda _cfg: FileKinesisClient(spool))
    return expected


def test_spool_batch_round_trip(spark, tmp_path):
    spool = str(tmp_path / "spool")
    expected = _fill_spool(spark, spool)

    from streamsurfer_spark.sources.kinesis_source import spool_items

    rows = spool_items(spark, spool).collect()

    # item is JSON-equal to the envelope render (variant normalizes
    # integral doubles — see spool_items), so compare with every number
    # parsed as float
    def canon(item: str) -> str:
        return json.dumps(json.loads(item, parse_int=float), sort_keys=True)

    assert sorted(canon(r.item) for r in rows) == sorted(map(canon, expected))
    # every item is the sink's envelope: origin stamped, parseable JSON
    assert all(json.loads(r.item)["origin"] == "rt" for r in rows)
    # metadata columns land in the RIGHT columns (a round-6 review found
    # the readers passing them to _unbatch in rotated order): stream is
    # the configured stream name, shard_id the provider's shard, and
    # partition_key the sink's per-record UUID (hex-dashed, not a name)
    assert {r.stream for r in rows} == {"rt-stream"}
    assert all(r.shard_id == "shardId-0" for r in rows)
    assert all(len(r.partition_key) >= 32 and "-" in r.partition_key for r in rows)
    assert not any(r.partition_key == "rt-stream" for r in rows)
    # item_index enumerates within each record; multi-item records exist
    # (2048-byte chunks hold several envelopes)
    per_record = {}
    for r in rows:
        per_record.setdefault((r.record_seq, r.partition_key), []).append(r.item_index)
    assert any(len(v) > 1 for v in per_record.values())
    assert all(sorted(v) == list(range(len(v))) for v in per_record.values())


def test_spool_stream_round_trip(spark, tmp_path):
    spool = str(tmp_path / "spool")
    expected = _fill_spool(spark, spool)

    import time
    import uuid

    from streamsurfer_spark.sources.kinesis_source import register

    register(spark)
    stream = (
        spark.readStream.format("kinesis_replay")
        .option("spool_dir", spool)
        .option("batch_files", "2")  # force multiple micro-batches
        .load()
    )
    # a simple stream reader surfaces one read() per trigger (availableNow
    # falls back to a single batch) — drive with a fast processing-time
    # trigger until the spool is drained, as the synthetic-source test does
    name = f"krt_{uuid.uuid4().hex[:8]}"
    q = (
        stream.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(processingTime="50 milliseconds")
        .start()
    )
    deadline = time.time() + 60
    while spark.table(name).count() < len(expected) and time.time() < deadline:
        time.sleep(0.2)
    q.stop()
    q.awaitTermination()
    assert sorted(r.item for r in spark.table(name).collect()) == expected


def test_boto3_gated_and_option_validation(spark):
    import pytest

    from streamsurfer_spark.sources.kinesis_source import (
        KinesisReplaySource,
        _Boto3Reader,
    )

    reader = _Boto3Reader({"stream_name": "s", "region": "us-east-1"})
    try:
        import boto3  # noqa: F401 — probe only

        # boto3 present (real cluster / this container): client constructs
        # without any network call
        assert reader._client() is not None
    except ImportError:
        with pytest.raises(NotImplementedError, match="spool_dir replay"):
            reader._client()
    with pytest.raises(ValueError, match="spool_dir or stream_name"):
        KinesisReplaySource({}).reader(None)
    with pytest.raises(ValueError, match="landing zone"):
        KinesisReplaySource({"stream_name": "s"}).simpleStreamReader(None)


def test_batch_spool_read_points_to_spool_items(spark, tmp_path):
    """A batch kinesis_replay read of a spool_dir fails at planning and
    names the one batch scan of a spool, spool_items."""
    import pytest
    from pyspark.errors import AnalysisException

    from streamsurfer_spark.sources.kinesis_source import (
        KinesisReplaySource,
        register,
    )

    spool = str(tmp_path)
    with pytest.raises(ValueError, match="spool_items"):
        KinesisReplaySource({"spool_dir": spool}).reader(None)
    register(spark)
    with pytest.raises(AnalysisException, match="spool_items"):
        spark.read.format("kinesis_replay").option("spool_dir", spool).load().collect()


def test_spool_items_matches_datasource(spark, tmp_path):
    """The JVM scan path (spool_items: read.json → from_json array<variant>
    → posexplode → to_json) must agree with the pure-Python unbatch
    (_read_spool_file over the sorted spool listing, the stream reader's
    body) on a real sink-produced spool. Metadata columns are byte-exact;
    the item payloads are JSON-equal (variant normalizes integral
    doubles, "11.0" → "11" — invisible to the from_json consumers
    downstream, and the only render difference on the envelope wire
    domain)."""
    from streamsurfer_spark.sources.kinesis_source import (
        SCHEMA,
        _read_spool_file,
        _spool_files,
        spool_items,
    )

    spool = str(tmp_path / "spool")
    _fill_spool(spark, spool)

    py_rows = [
        row
        for seq, fname in enumerate(_spool_files(spool))
        for row in _read_spool_file(spool, fname, seq)
    ]
    jvm = spool_items(spark, spool)

    assert jvm.columns == [c.split()[0] for c in SCHEMA.split(",")]

    def canon(rows):
        return sorted((tuple(r[:5]), json.loads(r[5])) for r in rows)

    py_canon, jvm_canon = canon(py_rows), canon(jvm.collect())
    assert len(py_canon) == len(jvm_canon) > 0
    # python dict equality compares 11.0 == 11 numerically — exactly the
    # normalization tolerance we want
    assert py_canon == jvm_canon


def test_spool_items_failure_parity(spark, tmp_path):
    """The JVM scan must not silently drop what the Python path surfaces
    (r7 review): malformed/missing Data fails LOUDLY naming the file
    (PERMISSIVE from_json + non-outer explode would drop the record with
    zero rows), and a bare-object Data unbatches as a one-item array,
    matching _unbatch's bare-object tolerance."""
    import json as _json
    import os

    import pytest
    from pyspark.errors import SparkRuntimeException

    from streamsurfer_spark.sources.kinesis_source import spool_items

    spool = str(tmp_path / "spool")
    os.makedirs(spool)
    with open(os.path.join(spool, "a_bare.json"), "w") as f:
        _json.dump({"Data": '{"event": "x", "k": 1}', "PartitionKey": "p",
                    "StreamName": "s"}, f)

    rows = spool_items(spark, spool).collect()
    assert len(rows) == 1 and rows[0].item_index == 0
    assert _json.loads(rows[0].item) == {"event": "x", "k": 1}

    with open(os.path.join(spool, "b_malformed.json"), "w") as f:
        _json.dump({"Data": '[{"event": tru', "PartitionKey": "p",
                    "StreamName": "s"}, f)
    with pytest.raises(SparkRuntimeException, match="b_malformed"):
        spool_items(spark, spool).collect()


def test_flush_put_records_parks_on_raising_call():
    """A put_records CALL that raises (socket error — not a per-record
    ErrorCode) must cost one attempt and park the batch, not abort the
    partition mid-flight (r7 review): the reference Flush contract
    (main.go:269-288) returns failed items, never raising away the
    survivors."""
    from streamsurfer_spark.sink.config import KinesisSinkConfig
    from streamsurfer_spark.sink.kinesis import flush_put_records

    class AlwaysRaises:
        calls = 0

        def put_records(self, **kwargs):
            type(self).calls += 1
            raise ConnectionError("reset")

    cfg = KinesisSinkConfig("s")
    records = [{"Data": b"[]", "PartitionKey": "k"}] * 3
    failed = flush_put_records(
        AlwaysRaises(), cfg, records, max_attempts=4, backoff_s=0
    )
    assert failed == records
    assert AlwaysRaises.calls == 4

    class RaisesOnceThenAcks(AlwaysRaises):
        calls = 0

        def put_records(self, **kwargs):
            type(self).calls += 1
            if type(self).calls == 1:
                raise ConnectionError("reset")
            return {"FailedRecordCount": 0,
                    "Records": [{} for _ in kwargs["Records"]]}

    assert flush_put_records(
        RaisesOnceThenAcks(), cfg, records, max_attempts=4, backoff_s=0
    ) == []
    assert RaisesOnceThenAcks.calls == 2


def test_empty_spool_both_paths_return_zero_rows(spark, tmp_path):
    """An EMPTY spool (producer saw zero rows) must read back as an empty
    frame on BOTH consume paths, not error. The round-7 empty-fixture
    sweep caught the JVM scan's *.json glob raising PATH_NOT_FOUND when
    the directory has no spool files; the stream reader must drain an
    empty listing without emitting a row."""
    import os
    import time
    import uuid

    from streamsurfer_spark.sources.kinesis_source import (
        SCHEMA,
        register,
        spool_items,
    )

    spool = str(tmp_path / "empty_spool")
    os.makedirs(spool)

    jvm = spool_items(spark, spool)
    assert jvm.count() == 0
    # same shape as the populated path — downstream from_json/aggregate
    # plans bind by name either way
    expected = spark.createDataFrame([], SCHEMA).schema
    assert jvm.schema == expected

    register(spark)
    stream = spark.readStream.format("kinesis_replay").option("spool_dir", spool).load()
    assert stream.schema == expected
    name = f"kempty_{uuid.uuid4().hex[:8]}"
    q = (
        stream.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(processingTime="50 milliseconds")
        .start()
    )
    deadline = time.time() + 60
    while q.lastProgress is None and time.time() < deadline:
        time.sleep(0.2)
    q.stop()
    q.awaitTermination()
    assert q.exception() is None
    assert spark.table(name).count() == 0
