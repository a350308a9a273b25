"""Run scaffolding shared by the workloads: process hygiene, the session
set-up, timed passes, metric collection and the result line.

Hygiene, applied before the JVM starts:

- ``SPARK_GRAFT_CPUS`` is pinned to the host's CPU count (``get_spark``
  would otherwise default to ``local[32]``);
- every scratch location — Spark local dirs, the JVM and Python temp
  dirs, the warehouse, checkpoints and spools — lives in a private
  directory of this run inside the checkout, removed when the run ends;
- the status store keeps every stage and job of the run, so stage
  metrics can be read after the timed region.
"""

from __future__ import annotations

import json
import os
import shlex
import shutil
import statistics
import sys
import time
import uuid

from perfbench import stats

STATE_DIR = ".perfbench"  # under the checkout root; holds cache, runs, traces

# Metric name → unit. Every run prints all end-to-end metrics (untraced)
# or all per-layer metrics (traced); BENCHMARK.json lists the same names.
END_TO_END = {
    "setup_s": "s",
    "events_per_s": "1/s",
    "wall_s": "s",
    "task_cpu_s": "s",
    "latency_p50_ms": "ms",
    "latency_p90_ms": "ms",
}

CURATION_QUERIES = (
    "qp01_curation_report",
    "qp06_semdedup_report",
    "qp08_canonical_map",
    "qs15_stream_lsh_dedup",
)
SELF_TIME_LAYERS = (
    "session",
    "envelope",
    "sink.chunker",
    "sink.kinesis",
    "sources.kinesis_source",
    "streaming.ingest",
    "queries",
    "harness",
)
STREAM_PROGRESS = ("trigger", "add_batch", "latest_offset", "query_planning", "wal_commit", "commit_offsets")


def _per_layer_units() -> dict[str, str]:
    u: dict[str, str] = {
        "session.get_spark_s": "s",
        "session.warmup_s": "s",
        "memory.peak_rss_mb": "MB",
        "input.gen_s": "s",
        "input.events": "count",
        "input.invalid_share": "ratio",
        "input.oversize_share": "ratio",
        "envelope.render_s": "s",
        "envelope.rows_valid": "count",
        "envelope.rows_rejected": "count",
        "sink.chunker.greedy_chunks_s": "s",
        "sink.items_per_record": "count",
        "sink.fill_ratio": "ratio",
        "sink.write_batch_s": "s",
        "sink.write_partition_s": "s",
        "sink.tasks": "count",
        "sink.busy_share": "ratio",
        "sink.records": "count",
        "sink.put_calls": "count",
        "sink.bytes": "bytes",
        "sink.retried_records": "count",
        "sources.spool_items_s": "s",
        "sources.files_read": "count",
        "sources.items_read": "count",
    }
    for p in STREAM_PROGRESS:
        u[f"streaming.{p}_ms.p50"] = "ms"
        u[f"streaming.{p}_ms.max"] = "ms"
    u.update(
        {
            "streaming.batches": "count",
            "streaming.files_per_batch": "count",
            "streaming.wait_ms.p50": "ms",
            "streaming.wait_ms.max": "ms",
            "streaming.rate_files_per_s": "1/s",
            "generator.late_ms.p50": "ms",
            "generator.late_ms.max": "ms",
        }
    )
    for q in CURATION_QUERIES:
        u[f"queries.{q}_s"] = "s"
        for m, unit in (("task_cpu_s", "s"), ("shuffle_write_mb", "MB"), ("spill_mb", "MB"), ("gc_s", "s"), ("jobs", "count")):
            u[f"queries.{q}.{m}"] = unit
    for m, unit in (
        ("cpu_s", "s"),
        ("run_s", "s"),
        ("gc_s", "s"),
        ("shuffle_read_mb", "MB"),
        ("shuffle_write_mb", "MB"),
        ("spill_mb", "MB"),
        ("tasks", "count"),
        ("stages", "count"),
    ):
        u[f"stage.{m}"] = unit
    for layer in SELF_TIME_LAYERS:
        u[f"self.{layer}_s"] = "s"
    for m, unit in END_TO_END.items():
        u[f"traced.{m}"] = unit
    u.update(
        {
            "trace.cost_share": "ratio",
            "trace.overhead_share": "ratio",
            "trace.spans": "count",
            "error_rate": "ratio",
            "latency.samples": "count",
        }
    )
    return u


PER_LAYER = _per_layer_units()


def _stop_gateway() -> None:
    """Shut the py4j gateway down and wait for its JVM to exit (the JVM
    has already stopped its Python workers with the session)."""
    import subprocess

    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def nproc() -> int:
    return len(os.sched_getaffinity(0))


class Harness:
    """One benchmark run: owns the private run directory, the session,
    the tracer and the outcome, and renders the result line."""

    def __init__(self, root: str, workload: str, seed: int, seconds: int, trace: bool) -> None:
        self.t_process = time.perf_counter()
        self.root = os.path.abspath(root)
        self.workload = workload
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.run_id = f"{workload}-{seed}-{uuid.uuid4().hex[:8]}"
        state = os.path.join(self.root, STATE_DIR)
        self.cache = os.path.join(state, "cache")
        self.work = os.path.join(state, "runs", self.run_id)
        self.trace_dir = os.path.join(state, "traces")
        self.cpus = nproc()
        self.tracer = stats.Tracer(self.run_id, trace)
        self.outcome = stats.Outcome()
        self.e2e: dict[str, float] = {}
        self.layer: dict[str, float] = {name: 0.0 for name in PER_LAYER}
        self.spark = None
        self.store = None
        self.sampler = None
        self.notes: dict = {"workload": workload, "seed": seed, "cpus": self.cpus}

    # --- process hygiene -----------------------------------------------------

    def prepare_environment(self) -> None:
        for d in (self.cache, self.work, self.trace_dir):
            os.makedirs(d, exist_ok=True)
        tmp = self.path("tmp")
        local = self.path("local")
        os.makedirs(tmp, exist_ok=True)
        os.makedirs(local, exist_ok=True)
        os.environ["SPARK_GRAFT_CPUS"] = str(self.cpus)
        os.environ["SPARK_LOCAL_DIRS"] = local
        os.environ["TMPDIR"] = tmp
        # the JVM's perf-counter file would go to /tmp whatever the tmpdir
        os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
        os.environ["PYTHONPATH"] = os.pathsep.join(
            p for p in (self.root, os.environ.get("PYTHONPATH", "")) if p
        )
        os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
            [
                "--conf "
                + shlex.quote(f"spark.driver.extraJavaOptions=-Djava.io.tmpdir={tmp} -XX:-UsePerfData"),
                "--conf " + shlex.quote(f"spark.sql.warehouse.dir={self.path('warehouse')}"),
                "--conf spark.ui.showConsoleProgress=false",
                "--conf spark.ui.retainedStages=100000",
                "--conf spark.ui.retainedJobs=100000",
                "pyspark-shell",
            ]
        )
        import tempfile

        tempfile.tempdir = tmp

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    # --- session -------------------------------------------------------------

    def setup(self) -> None:
        """Start the session once and time it from the start of this run:
        the interpreter's imports, the JVM launch, ``get_spark`` and a
        warm-up job that runs the JSON render on every core. Python workers
        start in each workload's own warm-up, which is not part of set-up
        time. Input generation comes after set-up, so it is excluded.

        A second set-up in the same process would rebuild the session in a
        JVM that is already running, which is not what a user waits for;
        so there is one set-up per run and the median is taken across runs.
        """
        from streamsurfer_spark.session import get_spark

        from perfbench import metrics

        t0 = time.perf_counter()
        with self.tracer.span("session.get_spark"):
            self.spark = get_spark(f"perfbench-{self.workload}")
            self.spark.sparkContext.setLogLevel("ERROR")
        t1 = time.perf_counter()
        with self.tracer.span("session.warmup"):
            self._warmup_job()
        t2 = time.perf_counter()
        self.sampler = metrics.RssSampler().start()
        self.e2e["setup_s"] = t2 - self.t_process
        self.layer["session.get_spark_s"] = t1 - t0
        self.layer["session.warmup_s"] = t2 - t1
        self.store = metrics.StatusStore(self.spark)

    def _warmup_job(self) -> None:
        self.describe("setup/warmup")
        self.spark.range(0, 4000, 1, self.cpus).selectExpr(
            "to_json(struct(id, cast(id % 7 AS string) AS k)) AS payload"
        ).write.format("noop").mode("overwrite").save()

    def describe(self, text: str) -> None:
        """Job description for every job this thread starts next, so each
        stage in the status store maps back to the call that ran it."""
        self.spark.sparkContext.setJobDescription(f"{self.workload}/{text}")

    # --- measurement helpers -------------------------------------------------

    def timed_passes(self, one_pass) -> list:
        """Call ``one_pass(i)`` until ``seconds`` have elapsed (at least once)."""
        results = []
        t_end = time.perf_counter() + self.seconds
        while not results or time.perf_counter() < t_end:
            results.append(one_pass(len(results)))
        return results

    def stage_window(self, t0: float, t1: float) -> dict:
        from perfbench import metrics

        return metrics.stage_totals(metrics.in_window(self.store.stages(), t0, t1))

    def set_stage_layer(self, totals: list[dict]) -> None:
        """Per-pass medians of the stage metrics of the timed region."""
        for k in ("cpu_s", "run_s", "gc_s", "shuffle_read_mb", "shuffle_write_mb", "spill_mb", "tasks", "stages"):
            self.layer[f"stage.{k}"] = statistics.median(t[k] for t in totals)

    def set_latency(self, per_pass_ms: list[list[float]]) -> None:
        """Median and p90 of each pass's latency samples, then the median
        of each across passes, so one straggling pass cannot set the tail.
        Every pass must have ``MIN_SAMPLES_BEYOND`` samples beyond its p90;
        a pass without them fails a check and reports its highest sample."""
        p50s, p90s = [], []
        for samples in per_pass_ms:
            ok = self.outcome.check(
                "latency_samples",
                stats.samples_beyond(len(samples), 0.9) >= stats.MIN_SAMPLES_BEYOND,
                f"{len(samples)} samples",
            )
            p50s.append(stats.percentile(samples, 0.5))
            p90s.append(stats.percentile(samples, 0.9, stats.MIN_SAMPLES_BEYOND if ok else 0))
        self.layer["latency.samples"] = sum(len(s) for s in per_pass_ms)
        self.e2e["latency_p50_ms"] = statistics.median(p50s)
        self.e2e["latency_p90_ms"] = statistics.median(p90s)

    # --- result ----------------------------------------------------------------

    def finish(self) -> dict:
        """Stop the session, write the trace, and return the result object."""
        if self.trace and self.store is not None:
            from perfbench import metrics

            by_desc: dict[str, list[dict]] = {}
            for st in self.store.stages():
                by_desc.setdefault(st.get("description") or "", []).append(st)
            self.notes["stages_by_description"] = {
                d: metrics.stage_totals(group) for d, group in sorted(by_desc.items())
            }
        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        peak = self.sampler.stop() if self.sampler else 0
        self.layer["memory.peak_rss_mb"] = peak / (1024 * 1024)
        for name, value in self.e2e.items():
            self.layer[f"traced.{name}"] = value
        self.layer["error_rate"] = self.outcome.error_rate
        self.layer["trace.spans"] = len(self.tracer.spans)
        self.layer["trace.cost_share"] = self.tracer.cost_s / (time.perf_counter() - self.t_process)
        selft = stats.self_times(self.tracer.spans)
        for layer in SELF_TIME_LAYERS:
            self.layer[f"self.{layer}_s"] = sum(
                v for k, v in selft.items() if k == layer or k.startswith(layer + ".")
            )
        if self.trace:
            self._write_trace(selft)
        missing = set(END_TO_END) - set(self.e2e)
        if missing:
            raise RuntimeError(f"workload {self.workload} did not measure {sorted(missing)}")
        if self.trace:
            metrics_out = {k: {"value": float(self.layer[k]), "unit": u} for k, u in PER_LAYER.items()}
        else:
            metrics_out = {k: {"value": float(self.e2e[k]), "unit": u} for k, u in END_TO_END.items()}
        return {
            "correct": self.outcome.correct,
            "attempted": int(self.outcome.attempted),
            "failed": int(self.outcome.failed),
            "metrics": metrics_out,
        }

    def close(self) -> None:
        """Stop every process this run started, wait for each to end, and
        remove the private run directory. Safe to call more than once."""
        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        if self.sampler is not None:
            self.sampler.stop()
        if "pyspark" in sys.modules:
            _stop_gateway()
        shutil.rmtree(self.work, ignore_errors=True)

    def _write_trace(self, selft: dict) -> None:
        path = os.path.join(self.trace_dir, f"{self.run_id}.json")
        t0 = self.t_process
        doc = {
            "run": self.notes,
            "checks": self.outcome.checks,
            "self_time_s": selft,
            "spans": [
                {
                    "id": s.sid,
                    "name": s.name,
                    "start_s": s.start - t0,
                    "end_s": s.end - t0,
                    "parent": s.parent,
                    "run": s.run_id,
                }
                for s in self.tracer.spans
            ],
        }
        with open(path, "w", encoding="utf-8") as f:
            json.dump(doc, f, indent=1)
        print(f"trace written to {os.path.relpath(path, self.root)}", file=sys.stderr)
