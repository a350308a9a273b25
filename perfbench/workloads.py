"""The three workloads. Each takes a set-up ``Harness``, generates its
seeded inputs, warms up, measures for ``--seconds``, checks its outputs,
and fills the harness's end-to-end metrics (and, when traced, the
per-layer ones).

- ``sink_bulk``: the paper's path at volume, one PutRecord per chunk at the
  reference's 1 KiB threshold; per-row work dominates. Its traced run also
  measures the envelope render, the chunker and the single-partition writer
  alone, and a round trip through the batched PutRecords path (throttled
  first attempts, retry, a ``FileKinesisClient`` spool read back with
  ``spool_items``).
- ``stream_trickle``: an open loop landing small files into the Kinesis
  stream writer; per-micro-batch overhead dominates.
- ``curation``: the curation report and the similarity / dedup /
  connected-components / stream-LSH queries (qp01, qp06, qp08, qs15);
  never touches the sink.
"""

from __future__ import annotations

import math
import os
import shutil
import statistics
import threading
import time

import pyarrow.compute as pc

from perfbench import checks, gen, stats
from perfbench.clients import (
    CountingClient,
    Factory,
    StreamAckClient,
    ThrottlingFileClient,
    VerifyingClient,
    list_accumulator,
)
from perfbench.harness import CURATION_QUERIES, STREAM_PROGRESS

BULK_EVENTS = 100_000
ROUNDTRIP_THRESHOLD = 64 * 1024
STREAM_RATE = 15.0  # files/s; see BENCHMARK.json for the measured capacity
STREAM_PER_FILE = 100
STREAM_WARM_FILES = 4  # landed before the query starts
STREAM_WARM_S = 2.0  # open-loop arrivals before the timed window
CURATION_DOCS = 5_000  # the sf0.1 fixture's table sizes
CURATION_VECS = 2_000
# On 4 cores the DuckDB oracle takes ~26 s on one table set of this size
# (qp06 16 s, qp08 9 s), close to the pass it checks; so the seed picks
# one of a few table sets, each generated and checked against the oracle
# once per checkout, and the answers are cached beside the tables.
CURATION_TABLE_SETS = 4
ORIGIN = "perfbench"


def _generate(h, build):
    t0 = time.perf_counter()
    out = build()
    h.layer["input.gen_s"] = time.perf_counter() - t0
    return out


def _valid_ids(path: str) -> tuple[set[int], int]:
    t = gen.read_events(path)
    ok = pc.is_valid(t["event_type"])
    ids = set(t.filter(ok)["event_id"].to_pylist())
    return ids, t.num_rows


def _set_input_shares(h, n_events: int, n_valid: int, oversize_share: float) -> None:
    h.layer["input.events"] = n_events
    h.layer["input.invalid_share"] = (n_events - n_valid) / n_events
    h.layer["input.oversize_share"] = oversize_share


def _oversize_share(valid) -> float:
    """Share of valid events whose payload alone exceeds the 1 KiB sink
    threshold, measured on the input (their envelope item only adds to it)."""
    big = pc.sum(pc.greater_equal(pc.utf8_length(valid["props"]), 1024)).as_py() or 0
    return big / max(valid.num_rows, 1)


# --- sink_bulk ----------------------------------------------------------------


def sink_bulk(h) -> None:
    from streamsurfer_spark.sink.config import KinesisSinkConfig
    from streamsurfer_spark.sink.kinesis import write_batch_to_kinesis

    path = _generate(h, lambda: gen.event_files(h.cache, h.seed, BULK_EVENTS, "bulk"))
    valid_ids, n_events = _valid_ids(path)
    n_valid = len(valid_ids)
    spark, sc = h.spark, h.spark.sparkContext
    config = KinesisSinkConfig("perfbench-bulk", origin=ORIGIN)
    df = spark.read.parquet(path)

    def one_pass(tag: str) -> dict:
        acks, nbytes, items = list_accumulator(sc), sc.accumulator(0), sc.accumulator(0)
        h.describe(tag)
        t0 = time.time()
        p0 = time.perf_counter()
        with h.tracer.span("sink.kinesis.write_batch_to_kinesis"):
            write_batch_to_kinesis(df, config, Factory(CountingClient, acks, nbytes, items))
        wall = time.perf_counter() - p0
        return {"t0": t0, "t1": time.time(), "wall": wall, "acks": acks.value,
                "bytes": nbytes.value, "items": items.value}

    # the first warm-up pass is the untimed exactly-once and chunk-contract
    # check; the next two let the JIT settle before timing
    records = list_accumulator(sc)
    h.describe("warmup/verify")
    with h.tracer.span("harness.warmup"):
        write_batch_to_kinesis(df, config, Factory(VerifyingClient, records))
        for _ in range(2):
            one_pass("warmup")
    v = checks.verify_delivery(records.value, config.max_size_bytes, valid_ids, ORIGIN)
    h.outcome.ops(v["records"])
    h.outcome.check("sink_bulk.delivery", v["n_problems"] == 0, "; ".join(v["problems"]))
    _set_input_shares(h, n_events, n_valid, v["oversize_share"])
    h.notes["verify"] = {k: v[k] for k in ("records", "items", "bytes")}

    def timed_pass(i: int) -> dict:
        # a traced run leaves every second pass untraced, so tracing's own
        # cost shows as the difference between the two halves
        h.tracer.enabled = h.trace and i % 2 == 0
        try:
            return one_pass(f"pass/{i}")
        finally:
            h.tracer.enabled = h.trace

    with h.tracer.span("harness.timed"):
        passes = h.timed_passes(timed_pass)
    for p in passes:
        h.outcome.ops(len(p["acks"]))
        h.outcome.check("sink_bulk.pass_items", p["items"] == n_valid, f"{p['items']} of {n_valid}")
        p["stages"] = h.stage_window(p["t0"], p["t1"])
    if h.trace and len(passes) > 1:
        traced, untraced = passes[0::2], passes[1::2]
        h.layer["trace.overhead_share"] = (
            statistics.median(p["wall"] for p in traced)
            / statistics.median(p["wall"] for p in untraced) - 1.0
        )
        passes = traced
    totals = [p["stages"] for p in passes]
    h.e2e["events_per_s"] = statistics.median(n_valid / p["wall"] for p in passes)
    h.e2e["wall_s"] = statistics.median(p["wall"] for p in passes)
    h.e2e["task_cpu_s"] = statistics.median(t["cpu_s"] for t in totals)
    h.set_latency([[(a - p["t0"]) * 1000.0 for a in p["acks"]] for p in passes])
    h.set_stage_layer(totals)
    _sink_layer(h, [p["wall"] for p in passes], totals, passes)
    h.layer["sink.items_per_record"] = v["items_per_record"]
    h.layer["sink.fill_ratio"] = v["fill_ratio"]
    if h.trace:
        _envelope_and_chunker_layers(h, df, config)
        _roundtrip_layers(h, df, gen.read_events(path))


def _sink_layer(h, walls, totals, passes) -> None:
    h.layer["sink.write_batch_s"] = statistics.median(walls)
    h.layer["sink.tasks"] = statistics.median(t["tasks"] for t in totals)
    h.layer["sink.busy_share"] = statistics.median(
        t["run_s"] / (w * h.cpus) for w, t in zip(walls, totals)
    )
    h.layer["sink.records"] = statistics.median(len(p["acks"]) for p in passes)
    h.layer["sink.bytes"] = statistics.median(p["bytes"] for p in passes)


def _envelope_and_chunker_layers(h, df, config) -> None:
    """Traced-run extras: the envelope render alone, and the chunker and
    the single-partition writer run in the driver on one file's rows."""
    from streamsurfer_spark.envelope import invalid_events, validate_events
    from streamsurfer_spark.sink.chunker import greedy_chunks
    from streamsurfer_spark.sink.kinesis import envelope_payload, write_partition

    sc = h.spark.sparkContext
    h.describe("trace/envelope")
    t0 = time.perf_counter()
    with h.tracer.span("envelope.envelope_payload"):
        envelope_payload(df, origin=ORIGIN).write.format("noop").mode("overwrite").save()
    h.layer["envelope.render_s"] = time.perf_counter() - t0
    h.layer["envelope.rows_valid"] = validate_events(df).count()
    h.layer["envelope.rows_rejected"] = invalid_events(df).count()

    first = sorted(df.inputFiles())[0]
    rows = envelope_payload(h.spark.read.parquet(first), origin=ORIGIN).collect()
    sized = [(len(r["payload"].encode("utf-8")), r["payload"]) for r in rows]
    t0 = time.perf_counter()
    with h.tracer.span("sink.chunker.greedy_chunks"):
        n_chunks = sum(1 for _ in greedy_chunks(sized, config.max_size_bytes))
    h.layer["sink.chunker.greedy_chunks_s"] = time.perf_counter() - t0
    acks, nbytes, items = list_accumulator(sc), sc.accumulator(0), sc.accumulator(0)
    t0 = time.perf_counter()
    with h.tracer.span("sink.kinesis.write_partition"):
        n = write_partition(iter(rows), config, Factory(CountingClient, acks, nbytes, items))
    h.layer["sink.write_partition_s"] = time.perf_counter() - t0
    h.outcome.check("sink.driver_partition", n == n_chunks and items.value == len(rows),
                    f"{n} records for {n_chunks} chunks, {items.value} of {len(rows)} items")


def _roundtrip_layers(h, df, events) -> None:
    """Traced-run extra: the batched PutRecords path at a large threshold,
    with a seeded share of records throttled on their first attempt
    (``flush_put_records``'s retry and backoff), spooled through
    ``FileKinesisClient`` and read back with ``spool_items``. The
    aggregates read back must equal a direct computation from the input."""
    import pyspark.sql.functions as F
    from streamsurfer_spark.sink.config import KinesisSinkConfig
    from streamsurfer_spark.sink.kinesis import write_batch_to_kinesis
    from streamsurfer_spark.sources.kinesis_source import spool_items

    valid = events.filter(pc.is_valid(events["event_type"]))
    expected = {}
    for et, value in zip(valid["event_type"].to_pylist(), valid["value"].to_pylist()):
        n, cents = expected.get(et, (0, 0))
        expected[et] = (n + 1, cents + round(value * 100))
    share = 0.18 + (h.seed % 5) / 100.0  # seeded throttled share, 18–22%
    salt = (h.seed * 2654435761) & 0xFFFFFFFF
    sc = h.spark.sparkContext
    config = KinesisSinkConfig(
        "perfbench-roundtrip", max_size_bytes=ROUNDTRIP_THRESHOLD, origin=ORIGIN
    )
    spool = h.path("spool")
    acks = list_accumulator(sc)
    calls, attempts, throttled = sc.accumulator(0), sc.accumulator(0), sc.accumulator(0)
    client = Factory(ThrottlingFileClient, spool, salt, share, acks, calls, attempts, throttled)
    h.describe("trace/roundtrip/produce")
    with h.tracer.span("sink.kinesis.write_batch_to_kinesis"):
        write_batch_to_kinesis(df, config, client, use_put_records=True)
    h.describe("trace/roundtrip/consume")
    t0 = time.perf_counter()
    with h.tracer.span("sources.kinesis_source.spool_items"):
        got = (
            spool_items(h.spark, spool)
            .select(F.from_json("item", "event_type string, value double").alias("e"))
            .groupBy("e.event_type")
            .agg(
                F.count("*").alias("n"),
                F.sum(F.round(F.col("e.value") * 100).cast("bigint")).alias("cents"),
            )
            .collect()
        )
    h.layer["sources.spool_items_s"] = time.perf_counter() - t0
    got = {r["event_type"]: (r["n"], r["cents"]) for r in got}
    files = len(os.listdir(spool))
    h.outcome.ops(attempts.value - throttled.value)
    h.outcome.check("roundtrip.aggregates", got == expected, f"{got} vs {expected}")
    h.outcome.check("roundtrip.spool_files", files == len(acks.value),
                    f"{files} files for {len(acks.value)} acks")
    h.outcome.check("roundtrip.retried", throttled.value > 0, f"{throttled.value} throttled")
    h.layer["sink.retried_records"] = throttled.value
    h.layer["sink.put_calls"] = calls.value
    h.layer["sources.files_read"] = files
    h.layer["sources.items_read"] = sum(n for n, _ in got.values())


# --- stream_trickle -------------------------------------------------------------


class OpenLoop(threading.Thread):
    """Lands pre-written files on a fixed schedule: file k is due at
    ``t_start + k / rate``. Each file gets its due time as mtime and is
    renamed into the landing directory in one step, so the stream never
    sees a partial file. Lateness is recorded, never compensated."""

    def __init__(self, names, stage, landing, t_start, rate, tracer) -> None:
        super().__init__(name="open-loop", daemon=True)
        self.names, self.stage, self.landing = names, stage, landing
        self.t_start, self.rate, self.tracer = t_start, rate, tracer
        self.due: dict[str, float] = {}
        self.late_ms: list[float] = []
        self.error: BaseException | None = None

    def run(self) -> None:
        try:
            for k, name in enumerate(self.names):
                due = self.t_start + k / self.rate
                delay = due - time.time()
                if delay > 0:
                    time.sleep(delay)
                with self.tracer.span("harness.land_file"):
                    src = os.path.join(self.stage, name)
                    os.utime(src, (due, due))
                    os.replace(src, os.path.join(self.landing, name))
                self.late_ms.append((time.time() - due) * 1000.0)
                self.due[name] = due
        except BaseException as exc:  # re-raised by the harness after join
            self.error = exc


def stream_trickle(h) -> None:
    from streamsurfer_spark.engine import Engine
    from streamsurfer_spark.sink.config import KinesisSinkConfig
    from streamsurfer_spark.streaming.ingest import read_events_stream

    n_ramp = math.ceil(STREAM_RATE * STREAM_WARM_S)
    n_timed = math.ceil(STREAM_RATE * h.seconds)
    n_files = STREAM_WARM_FILES + n_ramp + n_timed
    src = _generate(h, lambda: gen.stream_files(h.cache, h.seed, n_files, STREAM_PER_FILE))
    names = sorted(os.listdir(src))
    everything = gen.read_events(src)
    valid = everything.filter(pc.is_valid(everything["event_type"]))
    valid_per_file = {name: 0 for name in names}
    for eid in valid["event_id"].to_pylist():
        valid_per_file[names[eid // STREAM_PER_FILE]] += 1
    n_valid_all = valid.num_rows
    _set_input_shares(h, everything.num_rows, n_valid_all, _oversize_share(valid))
    stage, landing, ckpt = h.path("stage"), h.path("landing"), h.path("checkpoint")
    shutil.copytree(src, stage)
    os.makedirs(landing)
    for name in names[:STREAM_WARM_FILES]:
        os.replace(os.path.join(stage, name), os.path.join(landing, name))

    spark, sc = h.spark, h.spark.sparkContext
    acks, nbytes = list_accumulator(sc), sc.accumulator(0)
    config = KinesisSinkConfig("perfbench-stream", origin=ORIGIN)
    writer = Engine(spark=spark).kinesis_writer(
        config,
        read_events_stream(spark, landing),
        client_factory=Factory(StreamAckClient, acks, nbytes),
        checkpoint_dir=ckpt,
    )

    def acked() -> int:
        return sum(len(ids) for _, ids in acks.value)

    def wait_acked(target: int, timeout_s: float) -> bool:
        t_end = time.time() + timeout_s
        while acked() < target and time.time() < t_end:
            time.sleep(0.01)
        return acked() >= target

    h.describe("stream")
    with h.tracer.span("streaming.ingest.start"):
        query = writer.start()
    try:
        warm_target = sum(valid_per_file[n] for n in names[:STREAM_WARM_FILES])
        with h.tracer.span("harness.warmup"):
            h.outcome.check("stream.warmup", wait_acked(warm_target, 120.0))
        # the first STREAM_WARM_S of arrivals bring the stream to its steady
        # state; only the arrivals after them are timed
        loop = OpenLoop(names[STREAM_WARM_FILES:], stage, landing, time.time() + 0.1, STREAM_RATE, h.tracer)
        with h.tracer.span("harness.timed"):
            loop.start()
            loop.join()
            if loop.error is not None:
                raise loop.error
            drained = wait_acked(n_valid_all, 60.0)
        h.outcome.check("stream.drained", drained, f"{acked()} of {n_valid_all} events acknowledged")
        progress = [p for p in query.recentProgress if p.numInputRows > 0]
    finally:
        query.stop()
    timed = set(names[STREAM_WARM_FILES + n_ramp:])
    due = {n: t for n, t in loop.due.items() if n in timed}

    per_file_acks: dict[str, int] = {}
    last_ack: dict[str, float] = {}
    for t_ack, ids in acks.value:
        for eid in ids:
            name = names[eid // STREAM_PER_FILE]
            per_file_acks[name] = per_file_acks.get(name, 0) + 1
            last_ack[name] = max(last_ack.get(name, 0.0), t_ack)
    wrong = [n for n in names if per_file_acks.get(n, 0) != valid_per_file[n]]
    h.outcome.check("stream.every_event_once", not wrong, f"{len(wrong)} files with wrong counts")
    batch_of = stats.batch_of_files(ckpt)
    trigger_ms = {p.batchId: float(p.durationMs.get("triggerExecution", 0)) for p in progress}
    lats, undelivered = stats.file_latencies(due, last_ack, batch_of, trigger_ms)
    h.outcome.ops(len(due), len(undelivered))

    first_due = min(due.values())
    last = max(last_ack[n] for n in due if n in last_ack)
    n_valid_timed = sum(valid_per_file[n] for n in due)
    h.e2e["wall_s"] = last - first_due
    h.e2e["events_per_s"] = n_valid_timed / (last - first_due)
    window = h.stage_window(first_due, last)
    h.e2e["task_cpu_s"] = window["cpu_s"]
    h.set_latency([[x.latency_ms for x in lats]])
    h.set_stage_layer([window])

    timed_batches = {x.batch for x in lats}
    batches = [p for p in progress if p.batchId in timed_batches]
    keys = {"trigger": "triggerExecution", "add_batch": "addBatch", "latest_offset": "latestOffset",
            "query_planning": "queryPlanning", "wal_commit": "walCommit", "commit_offsets": "commitOffsets"}
    for name in STREAM_PROGRESS:
        vals = [float(p.durationMs.get(keys[name], 0)) for p in batches] or [0.0]
        h.layer[f"streaming.{name}_ms.p50"] = statistics.median(vals)
        h.layer[f"streaming.{name}_ms.max"] = max(vals)
    h.layer["streaming.batches"] = len(timed_batches)
    h.layer["streaming.files_per_batch"] = len(lats) / max(len(timed_batches), 1)
    waits = [x.wait_ms for x in lats] or [0.0]
    h.layer["streaming.wait_ms.p50"] = statistics.median(waits)
    h.layer["streaming.wait_ms.max"] = max(waits)
    landed = [loop.t_start + k / STREAM_RATE + late / 1000.0 for k, late in enumerate(loop.late_ms)]
    h.layer["streaming.rate_files_per_s"] = (len(landed) - 1) / (landed[-1] - landed[0])
    h.layer["generator.late_ms.p50"] = statistics.median(loop.late_ms)
    h.layer["generator.late_ms.max"] = max(loop.late_ms)
    h.layer["sink.records"] = len(acks.value)
    h.layer["sink.bytes"] = nbytes.value
    h.notes["stream"] = {"files": len(due), "batches": len(timed_batches), "rate": STREAM_RATE}


# --- curation -------------------------------------------------------------------


def curation(h) -> None:
    """One pass of the curation queries in a fresh session — how a
    scheduled curation job runs, paying the engine's first-run cost every
    time. qp01, qp08 and qs15 read ``documents``; qp06 reads ``embeddings``.

    A query is the unit a user waits for, so the latency samples are the
    queries' wall times. By nearest rank over four queries,
    ``latency_p50_ms`` is the second fastest and ``latency_p90_ms`` the
    slowest. They are a fixed set of distinct queries, not draws from one
    distribution, so the tail-sample rule of the other workloads does not
    apply.
    ``events_per_s`` is input rows over ``wall_s``.
    """
    from perfbench import metrics, oracle
    from streamsurfer_spark.queries import registry

    table_set = h.seed % CURATION_TABLE_SETS
    sf = _generate(h, lambda: gen.curation_tables(h.cache, table_set, CURATION_DOCS, CURATION_VECS))
    reg = registry()
    h.layer["input.events"] = CURATION_DOCS + CURATION_VECS

    per_query = {}
    t0 = time.time()
    p0 = time.perf_counter()
    with h.tracer.span("harness.timed"):
        for q in CURATION_QUERIES:
            h.describe(f"query/{q}")
            q0, w0 = time.perf_counter(), time.time()
            with h.tracer.span(f"queries.{q}"):
                df = reg[q].spark(h.spark, sf)
                rows = [tuple(r) for r in df.collect()]
            per_query[q] = (time.perf_counter() - q0, w0, time.time(), df.columns, rows)
    wall = time.perf_counter() - p0
    t1 = time.time()

    expected = oracle.cached_hashes(sf, {q: reg[q].oracle for q in CURATION_QUERIES})
    stages = h.store.stages()
    jobs = h.store.jobs()
    for q, (secs, w0, w1, cols, rows) in per_query.items():
        got = (len(rows), oracle.vhash(cols, rows))
        h.outcome.check(f"curation.{q}", got == expected[q], f"{got} vs oracle {expected[q]}")
        tot = metrics.stage_totals(metrics.in_window(stages, w0, w1))
        h.layer[f"queries.{q}_s"] = secs
        h.layer[f"queries.{q}.task_cpu_s"] = tot["cpu_s"]
        h.layer[f"queries.{q}.shuffle_write_mb"] = tot["shuffle_write_mb"]
        h.layer[f"queries.{q}.spill_mb"] = tot["spill_mb"]
        h.layer[f"queries.{q}.gc_s"] = tot["gc_s"]
        h.layer[f"queries.{q}.jobs"] = len(metrics.in_window(jobs, w0, w1))
    totals = metrics.stage_totals(metrics.in_window(stages, t0, t1))
    h.e2e["wall_s"] = wall
    h.e2e["events_per_s"] = h.layer["input.events"] / wall
    h.e2e["task_cpu_s"] = totals["cpu_s"]
    query_ms = [secs * 1000.0 for secs, *_ in per_query.values()]
    h.e2e["latency_p50_ms"] = stats.percentile(query_ms, 0.5)
    h.e2e["latency_p90_ms"] = stats.percentile(query_ms, 0.9)
    h.layer["latency.samples"] = len(query_ms)
    h.set_stage_layer([totals])


WORKLOADS = {
    "sink_bulk": sink_bulk,
    "stream_trickle": stream_trickle,
    "curation": curation,
}
