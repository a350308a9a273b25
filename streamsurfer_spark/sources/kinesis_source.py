"""Kinesis CONSUME-side source: the read twin of the sink's wire format.

The reference is producer-only (its entire surface is enqueue → chunk →
PutRecord, /root/reference/main.go:197-289); its consumers are out of
frame. This module closes the engine-side gap. Each Kinesis record's Data
is a JSON ARRAY of envelope objects (one PutRecord per greedy chunk,
main.go:266-276); every consume path UNBATCHES it into one row per
envelope item (SCHEMA below), ready for the existing envelope/from_json
pipeline. One path per job:

- **batch scan of a spool** — :func:`spool_items`: a directory of JSON
  files as written by ``sink.kinesis.FileKinesisClient`` (so the
  sink→source round trip is testable end-to-end in this container, the
  same seam philosophy as the reference's mocks/KinesisQueue.go), read
  as pure JVM expressions (``spark.read.json`` →
  ``posexplode(from_json(Data, 'array<variant>'))`` → ``to_json``), no
  Python row loop. qv09 and qv10 hash-gate it against the oracle.
- **micro-batch replay of a spool** — the ``kinesis_replay`` Python
  DataSource's stream reader: offset = count of consumed files (sorted
  order), giving deterministic replay with real offset/commit
  bookkeeping.
- **boto3 shard backfill** (import-gated; absent in this container) —
  the ``kinesis_replay`` batch reader with ``stream_name``: one input
  partition per shard (parallelism tracks the stream's own sharding),
  TRIM_HORIZON iterator drained executor-side. Streaming consumption
  against live Kinesis is deliberately NOT implemented here: the scale
  pattern for 100 TB is a landing zone (Firehose/KCL → object store)
  read by the ordinary file stream source, not a Python-loop consumer.

A batch ``kinesis_replay`` read with ``spool_dir`` raises and names
:func:`spool_items`. The per-record Python unbatch (``_unbatch`` over
``_read_spool_file``) stays as the stream reader's body and as the
pure-Python reference the JVM scan is tested against
(tests/test_kinesis_source.py::test_spool_items_matches_datasource).
"""

from __future__ import annotations

import json
import os

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    InputPartition,
    SimpleDataSourceStreamReader,
)

# one row per envelope item inside a record's JSON-array Data
SCHEMA = (
    "stream string, shard_id string, partition_key string,"
    " record_seq bigint, item_index int, item string"
)


def _unbatch(data: str, stream: str, shard: str, pkey: str, seq: int):
    """One JSON-array record → (stream, shard, pkey, seq, idx, item) rows.

    Items are re-serialized with sorted keys — the sink's envelope render
    also sorts keys (sink/kinesis.py envelope_payload), so a round trip is
    byte-identical.
    """
    items = json.loads(data)
    if not isinstance(items, list):  # tolerate bare-object producers
        items = [items]
    for idx, item in enumerate(items):
        yield (
            stream,
            shard,
            pkey,
            seq,
            idx,
            json.dumps(item, sort_keys=True, separators=(",", ":")),
        )


def _spool_files(spool_dir: str) -> list[str]:
    return sorted(
        f for f in os.listdir(spool_dir) if f.endswith(".json")
    )


def _read_spool_file(spool_dir: str, fname: str, seq: int):
    with open(os.path.join(spool_dir, fname), encoding="utf-8") as f:
        rec = json.load(f)
    yield from _unbatch(
        rec["Data"],
        rec.get("StreamName", rec.get("StreamARN", "")),
        rec.get("ShardId", "shardId-0"),
        rec.get("PartitionKey", ""),
        seq,
    )


class _ShardPartition(InputPartition):
    def __init__(self, shard_id: str) -> None:
        super().__init__(shard_id)


class _Boto3Reader(DataSourceReader):
    """Real-shard batch reader (backfill/parity path). One input partition
    per shard; each executor drains its shard from TRIM_HORIZON. Requires
    boto3 — import-gated like the sink's client factory."""

    def __init__(self, options: dict) -> None:
        self.stream = options["stream_name"]
        self.region = options.get("region", "us-east-1")

    def _client(self):
        try:
            import boto3
        except ImportError as exc:  # pragma: no cover — not in container
            raise NotImplementedError(
                "boto3 is not installed; use the spool_dir replay path"
                " (sink FileKinesisClient spool) in this environment"
            ) from exc
        return boto3.client("kinesis", region_name=self.region)

    def partitions(self):  # noqa: D102 — API hook
        shards = self._client().list_shards(StreamName=self.stream)["Shards"]
        return [_ShardPartition(s["ShardId"]) for s in shards]

    def read(self, partition):  # noqa: D102 — API hook
        client = self._client()
        shard = partition.value
        it = client.get_shard_iterator(
            StreamName=self.stream,
            ShardId=shard,
            ShardIteratorType="TRIM_HORIZON",
        )["ShardIterator"]
        seq = 0
        while it:
            resp = client.get_records(ShardIterator=it, Limit=1000)
            for rec in resp["Records"]:
                yield from _unbatch(
                    rec["Data"].decode("utf-8"),
                    self.stream,
                    shard,
                    rec.get("PartitionKey", ""),
                    seq,
                )
                seq += 1
            if resp.get("MillisBehindLatest", 0) == 0:
                break
            it = resp.get("NextShardIterator")


class _SpoolStreamReader(SimpleDataSourceStreamReader):
    """Micro-batch replay over the spool: offset = files consumed (sorted
    order), ``batch_files`` per trigger — the consume twin of the sink's
    per-chunk records, with real offset/commit bookkeeping so
    checkpoint-recovery replays the exact same batches.

    The listing is PINNED at first use: spool filenames are uuid-hex (not
    monotonic), so re-listing per trigger would let a file written after
    consumption began sort BELOW the committed index — shifting the slice
    to re-emit an already-consumed file (duplicate) while the new file
    sits under the offset forever (loss), and re-listing inside one
    trigger could even disagree with the committed `hi` (r7 review).
    Contract: this is a REPLAY source — the spool must be quiescent for
    the lifetime of the stream (including checkpoint recovery, which
    re-pins from the directory); files added later are picked up only by
    a fresh stream start.

    The quiescence contract is ENFORCED, not just documented (r8 advice):
    every emitted offset carries a digest of the pinned listing, and both
    read() and readBetweenOffsets() verify a committed digest against the
    current pin — a checkpoint recovery whose re-pinned directory listing
    differs from the one the offsets were committed against fails loudly
    instead of silently sliding committed offsets onto different files
    (duplicate/loss). Offsets from pre-digest checkpoints (no ``listing``
    key) are accepted unchecked for compatibility.
    """

    def __init__(self, options: dict) -> None:
        self.spool_dir = options["spool_dir"]
        self.batch_files = int(options.get("batch_files", 10))
        self._files: list[str] | None = None

    def _listing(self) -> list[str]:
        if self._files is None:
            self._files = _spool_files(self.spool_dir)
        return self._files

    def _digest(self) -> str:
        import hashlib

        return hashlib.sha256(
            "\n".join(self._listing()).encode("utf-8")
        ).hexdigest()[:16]

    def _check_offset(self, off: dict) -> None:
        committed = off.get("listing")
        if committed is not None and committed != self._digest():
            raise ValueError(
                "kinesis_replay stream: the spool directory listing changed"
                f" since offsets were committed (committed digest {committed},"
                f" current {self._digest()}, {len(self._listing())} files now"
                " pinned). The spool must be quiescent for the lifetime of a"
                " stream including checkpoint recovery; start a fresh stream"
                " (new checkpoint) to pick up the changed spool."
            )

    def initialOffset(self):  # noqa: D102 — API hook
        return {"next_file": 0, "listing": self._digest()}

    def _rows_between(self, lo: int, hi: int):
        rows = []
        for i, fname in enumerate(self._listing()[lo:hi]):
            rows.extend(_read_spool_file(self.spool_dir, fname, lo + i))
        return rows

    def read(self, start):  # noqa: D102 — API hook
        self._check_offset(start)
        lo = start["next_file"]
        hi = min(lo + self.batch_files, len(self._listing()))
        return (
            iter(self._rows_between(lo, hi)),
            {"next_file": hi, "listing": self._digest()},
        )

    def readBetweenOffsets(self, start, end):  # noqa: D102 — replay hook
        self._check_offset(start)
        self._check_offset(end)
        return iter(self._rows_between(start["next_file"], end["next_file"]))


class KinesisReplaySource(DataSource):
    """``spark.read.format("kinesis_replay")`` with
    ``.option("stream_name", ...)`` (+ region; boto3 shard backfill), or
    ``spark.readStream.format("kinesis_replay")`` with
    ``.option("spool_dir", ...)`` (micro-batch replay of the sink's
    spool). Batch reads of a spool go through :func:`spool_items`."""

    @classmethod
    def name(cls) -> str:
        return "kinesis_replay"

    def schema(self) -> str:
        return SCHEMA

    def reader(self, schema):  # noqa: D102 — API hook
        if "spool_dir" in self.options:
            raise ValueError(
                "batch kinesis_replay reads take stream_name; scan a spool_dir"
                " with sources.kinesis_source.spool_items(spark, spool_dir)"
            )
        if "stream_name" in self.options:
            return _Boto3Reader(self.options)
        raise ValueError("kinesis_replay needs spool_dir or stream_name")

    def simpleStreamReader(self, schema):  # noqa: D102 — API hook
        if "spool_dir" not in self.options:
            raise ValueError(
                "streaming kinesis_replay reads a spool_dir; live-Kinesis"
                " streaming goes through a landing zone (module docstring)"
            )
        return _SpoolStreamReader(self.options)


def register(spark) -> None:
    spark.dataSource.register(KinesisReplaySource)


def spool_items(spark, spool_dir: str):
    """JVM-side unbatch of a sink spool — the consume-side SCAN path.

    Same output contract as the Python unbatch (SCHEMA above), but every
    step is a codegen expression: the spool records load through the JVM
    json reader, the JSON-array ``Data`` explodes via
    ``from_json(..., 'array<variant>')`` (variant preserves the producer's
    key order — the sink's envelope render sorts keys, main.go's envelope
    equivalent — so ``to_json`` re-emits the Python path's sorted-key
    bytes), and ``record_seq`` reproduces the stream reader's
    sorted-filename numbering by broadcast-joining a driver-built
    (basename → seq) map — the listing is driver-side metadata either way
    (the stream reader derives seq from the same listdir), and the tiny
    broadcast avoids the single-partition global window a row_number
    derivation would force on the scan path.

    Failure parity with the Python path (r7 review): a record whose
    ``Data`` is missing or not valid JSON FAILS LOUDLY (``raise_error``
    naming the file) instead of being silently dropped by PERMISSIVE
    ``from_json`` + non-outer explode, and a bare-object ``Data`` (the
    Python path's "tolerate bare-object producers") unbatches as a
    one-item array via the variant fallback parse.

    Number-rendering caveat: variant normalizes integral doubles
    (``11.0`` → ``11``) and the JVM exponent grammar differs from
    Python's (``1.0E-7`` vs ``1e-07``), so ``item`` is JSON-EQUAL to the
    Python path's bytes, not byte-identical — invisible to the from_json
    consumers downstream. The differential test pins JSON equality on a
    real spool; qv09 and qv10 hash-gate this path end-to-end.
    """
    import pyspark.sql.functions as F

    files = _spool_files(spool_dir)
    if not files:
        # an EMPTY spool (producer saw zero rows): the *.json glob would
        # raise PATH_NOT_FOUND in the JVM reader — return the same-schema
        # empty frame (empty-sweep r7)
        return spark.createDataFrame([], SCHEMA)

    seq_map = spark.createDataFrame(
        [(f, i) for i, f in enumerate(files)],
        "_fname string, record_seq bigint",
    )
    recs = (
        spark.read.schema(
            "Data string, PartitionKey string, StreamName string,"
            " StreamARN string, ShardId string"
        )
        .json(os.path.join(spool_dir, "*.json"))
        .withColumn(
            "_fname", F.element_at(F.split(F.input_file_name(), "/"), -1)
        )
        .join(F.broadcast(seq_map), "_fname")
    )
    # array parse first; a bare-object Data falls back to a one-item
    # array (variant accepts any valid JSON); both NULL ⇒ malformed ⇒
    # the explode yields one NULL _v and the item render raises
    parsed = F.coalesce(
        F.from_json("Data", "array<variant>"),
        F.array(F.from_json("Data", "variant")),
    )
    return (
        recs.select(
            F.coalesce("StreamName", "StreamARN", F.lit("")).alias("stream"),
            # honor a record's ShardId like the Python path's
            # rec.get('ShardId', 'shardId-0') — a hardcoded literal broke
            # row-for-row parity on spools from non-FileKinesisClient
            # producers (r7 review)
            F.coalesce("ShardId", F.lit("shardId-0")).alias("shard_id"),
            F.coalesce("PartitionKey", F.lit("")).alias("partition_key"),
            "record_seq",
            F.posexplode(parsed).alias("item_index", "_v"),
            "_fname",
        )
        .select(
            "stream",
            "shard_id",
            "partition_key",
            "record_seq",
            "item_index",
            F.when(F.col("_v").isNotNull(), F.to_json("_v"))
            .otherwise(
                F.raise_error(
                    F.concat(
                        F.lit("malformed spool Data (missing or invalid JSON) in "),
                        F.col("_fname"),
                    )
                )
            )
            .alias("item"),
        )
    )
