"""Kinesis writers: the executor-side sink and the pluggable client.

OSS PySpark has no first-party Kinesis sink, so the scale path is
``df.writeStream.foreachBatch(...)`` → per-partition batching →
``put_record`` (SURVEY §1.3). Each partition runs the same greedy chunker as
the reference queue; one JSON-array record per chunk, random-UUID partition
key (uniform shard spread, no ordering — main.go:275).

The client is injected (``client_factory``) so tests substitute a mock —
the same seam the reference proves consumers need (mocks/KinesisQueue.go).
boto3 is gated behind an import-try: absent in this container, present on a
real cluster.
"""

from __future__ import annotations

import json
import uuid
from collections.abc import Callable, Iterator

from pyspark.sql import DataFrame
import pyspark.sql.functions as F

from streamsurfer_spark.sink.chunker import greedy_chunks
from streamsurfer_spark.sink.config import KinesisSinkConfig


def boto3_client_factory(config: KinesisSinkConfig):
    """Real AWS client with the reference's retry budget (main.go:165)."""
    try:
        import boto3
        from botocore.config import Config as BotoConfig
    except ImportError as exc:  # pragma: no cover - boto3 not in this container
        raise NotImplementedError(
            "boto3 is not installed; inject a client_factory (tests use MockKinesisClient)"
        ) from exc
    return boto3.client(
        "kinesis",
        region_name=config.region,
        config=BotoConfig(retries={"max_attempts": config.retry_max_attempts}),
    )


class MockKinesisClient:
    """In-memory put_record recorder (test double for the sink seam).

    ``partial_failures`` programs the PutRecords batch API's per-record
    failure mode (the real service can reject any subset of a batch with
    ``ErrorCode`` while accepting the rest): element k is the set of
    batch INDICES that fail on the k-th put_records call; calls beyond
    the list succeed fully. Indices are into the submitted Records list
    of that call, exactly like the AWS response array.
    """

    def __init__(
        self, fail: bool = False, partial_failures: list[set[int]] | None = None
    ) -> None:
        self.records: list[dict] = []
        self.fail = fail
        self.partial_failures = list(partial_failures or [])
        self.put_records_calls: list[list[dict]] = []

    def put_record(self, **record) -> dict:
        if self.fail:
            raise RuntimeError("failed to put record to kinesis: mock failure")
        self.records.append(record)
        return {"SequenceNumber": str(len(self.records)), "ShardId": "shardId-0"}

    def put_records(self, Records: list[dict], **stream) -> dict:
        if self.fail:
            raise RuntimeError("failed to put records to kinesis: mock failure")
        call_idx = len(self.put_records_calls)
        self.put_records_calls.append(list(Records))
        failing = (
            self.partial_failures[call_idx]
            if call_idx < len(self.partial_failures)
            else set()
        )
        out = []
        for i, r in enumerate(Records):
            if i in failing:
                out.append(
                    {
                        "ErrorCode": "ProvisionedThroughputExceededException",
                        "ErrorMessage": "mock per-record failure",
                    }
                )
            else:
                self.records.append({**r, **stream})
                out.append(
                    {"SequenceNumber": str(len(self.records)), "ShardId": "shardId-0"}
                )
        return {"FailedRecordCount": len(failing & set(range(len(Records)))), "Records": out}


class FileKinesisClient:
    """File-backed client for end-to-end local-mode tests: each put_record
    appends one JSON line to a spool file (executors share the local FS).
    ``put_records`` spools each batch record the same way, so the batch
    API's wire output is round-trippable through ``kinesis_replay`` too
    (qv10 hash-gates that loop)."""

    def __init__(self, spool_dir: str) -> None:
        self.spool_dir = spool_dir

    def put_record(self, **record) -> dict:
        import os

        os.makedirs(self.spool_dir, exist_ok=True)
        path = f"{self.spool_dir}/{uuid.uuid4().hex}.json"
        with open(path, "w", encoding="utf-8") as f:
            json.dump(
                {**record, "Data": record["Data"].decode("utf-8")}, f, sort_keys=True
            )
        return {"SequenceNumber": "0", "ShardId": "shardId-0"}

    def put_records(self, Records: list[dict], **stream) -> dict:
        out = []
        for r in Records:
            out.append(self.put_record(**r, **stream))
        return {"FailedRecordCount": 0, "Records": out}


def _rows_to_sized_payloads(rows: Iterator) -> Iterator[tuple[int, str]]:
    """Each row must carry a pre-serialized ``payload`` string column; size
    accounting is that string's UTF-8 byte length (per-item, like
    main.go:202-203)."""
    for row in rows:
        payload = row["payload"]
        yield len(payload.encode("utf-8")), payload


PUT_RECORDS_MAX = 500  # Kinesis PutRecords per-call record cap


PUT_RECORDS_BACKOFF_S = 0.1  # doubles per pass; ~1.5s total at 5 attempts


def flush_put_records(
    client,
    config: KinesisSinkConfig,
    records: list[dict],
    max_attempts: int | None = None,
    backoff_s: float = PUT_RECORDS_BACKOFF_S,
) -> list[dict]:
    """One PutRecords flush with per-record retry; returns the records
    that STILL failed — the reference Flush's failed-items contract
    (main.go:269-288 returns the items that could not be shipped, never
    raising away the survivors).

    The batch API can reject any SUBSET of a call (per-record
    ``ErrorCode`` with ``FailedRecordCount`` > 0, typically throughput
    throttling) while accepting the rest; treating that response as
    success silently drops data. Each retry pass resubmits ONLY the
    failed records, up to ``max_attempts`` passes (default: the
    config's retry budget, mirroring the connectToKinesis retry=5 of
    main.go:165), with exponential backoff between passes — per-record
    failures are overwhelmingly throughput throttling, and an immediate
    resubmit lands on a shard still over its per-second quota (the SDK
    retry path the reference relies on also backs off). Tests pass
    ``backoff_s=0``.
    """
    import time

    if max_attempts is None:
        max_attempts = max(config.retry_max_attempts, 1)
    stream = (
        {"StreamARN": config.stream_arn}
        if config.stream_arn
        else {"StreamName": config.stream_name}
    )
    pending = list(records)
    for attempt in range(max_attempts):
        if not pending:
            break
        if attempt and backoff_s:
            time.sleep(backoff_s * (2 ** (attempt - 1)))
        try:
            resp = client.put_records(Records=list(pending), **stream)
        except Exception:
            # a raising CALL (connection reset, throttling surfaced as an
            # exception rather than per-record ErrorCode) costs one attempt
            # with the whole batch still pending — the park-and-continue
            # contract must hold at call level too, or one socket error
            # aborts the partition mid-flight and strands every later
            # chunk (r7 review finding)
            continue
        if not resp.get("FailedRecordCount"):
            return []
        pending = [
            rec
            for rec, status in zip(pending, resp["Records"])
            if "ErrorCode" in status
        ]
    return pending


def write_partition(
    rows: Iterator,
    config: KinesisSinkConfig,
    client_factory: Callable[[KinesisSinkConfig], object],
    use_put_records: bool = False,
    on_failed: Callable[[list[dict]], None] | None = None,
    backoff_s: float = PUT_RECORDS_BACKOFF_S,
) -> int:
    """Ship one partition: greedy-chunk the serialized events, one record
    per chunk. Runs on the executor; returns records ACKNOWLEDGED.

    Default is the reference's PutRecord-per-chunk (main.go:266-289:
    exactly one record per flush, never the batch API). With
    ``use_put_records`` the scale path groups up to 500 chunks per
    PutRecords call — same chunk payloads and partition-key semantics,
    ~500x fewer network round-trips at full throughput — with per-record
    partial-failure retry (see ``flush_put_records``).

    BOTH paths honor the reference Flush's failed-items contract
    (main.go:269-288 returns the items that could not be shipped instead
    of raising away the survivors): a chunk whose put_record raises is
    retried up to the config retry budget with the same backoff schedule
    as the batch path (the SDK-level retries the reference relies on via
    connectToKinesis's budget, main.go:165), then parked — the REST of
    the partition still ships. Records failing every retry go to
    ``on_failed``; with no handler the partition errors LOUDLY at the
    end — a sink that silently drops throttled records corrupts the
    stream at exactly the moment it is busiest.
    """
    import time

    client = client_factory(config)
    n = 0
    pending: list[dict] = []
    dead: list[dict] = []
    attempts = max(config.retry_max_attempts, 1)

    def flush_pending() -> int:
        if not pending:
            return 0
        failed = flush_put_records(client, config, pending, backoff_s=backoff_s)
        acked = len(pending) - len(failed)
        dead.extend(failed)
        pending.clear()
        return acked

    for chunk in greedy_chunks(_rows_to_sized_payloads(rows), config.max_size_bytes):
        data = ("[" + ",".join(chunk) + "]").encode("utf-8")
        if use_put_records:
            pending.append({"Data": data, "PartitionKey": str(uuid.uuid4())})
            if len(pending) >= PUT_RECORDS_MAX:
                n += flush_pending()
        else:
            record = {
                "Data": data,
                "StreamName": config.stream_name,
                "PartitionKey": str(uuid.uuid4()),
            }
            if config.stream_arn != "":
                record["StreamARN"] = config.stream_arn
            for attempt in range(attempts):
                if attempt and backoff_s:
                    time.sleep(backoff_s * (2 ** (attempt - 1)))
                try:
                    client.put_record(**record)
                    n += 1
                    break
                except Exception:
                    if attempt == attempts - 1:
                        dead.append(record)
    n += flush_pending()
    if dead:
        if on_failed is None:
            raise RuntimeError(
                f"failed to put {len(dead)} record(s) to kinesis after "
                f"{max(config.retry_max_attempts, 1)} attempts"
            )
        on_failed(dead)
    return n


def envelope_payload(
    df: DataFrame,
    event_col: str = "event_type",
    ts_col: str | None = None,
    origin: str = "",
) -> DataFrame:
    """Validate + enrich + serialize a DataFrame of events into a single
    ``payload`` JSON-string column ready for the sink.

    Pure built-ins: the JSON render (sorted keys via alphabetical struct
    field order) happens JVM-side in codegen, not in Python.
    """
    from streamsurfer_spark.envelope import (
        stamp_origin,
        stamp_server_timestamp,
        validate_events,
    )

    valid = validate_events(df, event_col)
    stamped = stamp_origin(stamp_server_timestamp(valid, ts_col), origin)
    ordered = stamped.select(*sorted(stamped.columns))
    return ordered.select(F.to_json(F.struct(*ordered.columns)).alias("payload"))


def write_batch_to_kinesis(
    df: DataFrame,
    config: KinesisSinkConfig,
    client_factory: Callable[[KinesisSinkConfig], object] = boto3_client_factory,
    use_put_records: bool = False,
) -> None:
    """Batch (or foreachBatch micro-batch) sink entry point.

    At 100 TB the partition count bounds parallel PutRecord calls; callers
    should coalesce/repartition to match shard throughput (1 MiB/s/shard)
    upstream. No collect(): data flows executor→Kinesis directly.
    ``use_put_records`` selects the batched scale path (see
    ``write_partition``).
    """
    payloads = df if df.columns == ["payload"] else envelope_payload(df, origin=config.origin)
    payloads.foreachPartition(
        lambda rows: write_partition(
            rows, config, client_factory, use_put_records=use_put_records
        )
    )


def kinesis_stream_writer(
    stream_df: DataFrame,
    config: KinesisSinkConfig,
    client_factory: Callable[[KinesisSinkConfig], object] = boto3_client_factory,
    checkpoint_dir: str | None = None,
):
    """Structured Streaming sink: readStream → foreachBatch(write_batch).

    ``query.processAllAvailable()`` is the streaming twin of the reference's
    Flush (main.go:254-264): it drains everything ingested so far.

    Delivery is at-least-once. ``epoch_id`` is ignored, so a micro-batch
    that fails after some records were acknowledged is replayed whole when
    the query restarts from its checkpoint: the records acknowledged
    before the failure arrive twice, every other event once.
    """
    writer = stream_df.writeStream.foreachBatch(
        lambda batch_df, _epoch: write_batch_to_kinesis(batch_df, config, client_factory)
    )
    if checkpoint_dir:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    return writer
