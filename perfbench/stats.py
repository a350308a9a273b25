"""Pure-Python accounting for the benchmark: percentiles under the
sample-count rule, spans and their self time, error accounting, and the
arrived-file → micro-batch → latency mapping of the streaming workload.

Nothing here touches Spark, so the harness's unit tests exercise it
directly (``python3 -m pytest perfbench/tests -q``).
"""

from __future__ import annotations

import json
import math
import os
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

# A tail percentile is reported only when at least this many samples lie
# beyond it; otherwise the tail is an anecdote, not a distribution.
MIN_SAMPLES_BEYOND = 10


class InsufficientSamples(ValueError):
    """A percentile was asked of fewer samples than its tail rule allows."""


def samples_beyond(n: int, q: float) -> int:
    """Samples strictly above the nearest-rank ``q`` percentile of ``n``."""
    return n - max(1, math.ceil(q * n))


def percentile(values, q: float, min_beyond: int = 0) -> float:
    """Nearest-rank percentile: an actual sample value, never interpolated.

    ``min_beyond`` enforces the tail rule: raises ``InsufficientSamples``
    when fewer than that many samples lie beyond the percentile.
    """
    if not 0.0 < q <= 1.0:
        raise ValueError(f"percentile q must be in (0, 1], got {q}")
    xs = sorted(values)
    if not xs:
        raise InsufficientSamples("no samples")
    if samples_beyond(len(xs), q) < min_beyond:
        raise InsufficientSamples(
            f"p{q * 100:g} of {len(xs)} samples has "
            f"{samples_beyond(len(xs), q)} beyond it, needs {min_beyond}"
        )
    return xs[max(1, math.ceil(q * len(xs))) - 1]


def error_rate(attempted: int, failed: int) -> float:
    """Failed ÷ attempted; a run that attempted nothing is a failed run."""
    if attempted < 1:
        raise ValueError("a run must attempt at least one operation")
    if not 0 <= failed <= attempted:
        raise ValueError(f"failed={failed} outside [0, attempted={attempted}]")
    return failed / attempted


@dataclass
class Outcome:
    """Operations attempted and failed in one run, plus the checks run on
    its outputs. Each failed check counts as one failed operation, so a
    wrong answer can never read as a clean run."""

    attempted: int = 0
    failed: int = 0
    checks: list = field(default_factory=list)

    def ops(self, attempted: int, failed: int = 0) -> None:
        self.attempted += attempted
        self.failed += failed

    def check(self, name: str, ok: bool, detail: str = "") -> bool:
        self.checks.append({"check": name, "ok": bool(ok), "detail": detail})
        self.attempted += 1
        if not ok:
            self.failed += 1
        return bool(ok)

    @property
    def correct(self) -> bool:
        return self.failed == 0 and all(c["ok"] for c in self.checks)

    @property
    def error_rate(self) -> float:
        return error_rate(self.attempted, self.failed)


# --- spans ------------------------------------------------------------------


@dataclass
class Span:
    sid: int
    name: str
    start: float
    end: float
    parent: int | None
    run_id: str

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    """In-memory span recorder. A disabled tracer records nothing and costs
    one attribute test per ``span`` call; the caller writes ``spans`` out
    when the run ends."""

    def __init__(self, run_id: str, enabled: bool) -> None:
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[Span] = []
        self.cost_s = 0.0  # time spent in the tracer's own bookkeeping
        self._lock = threading.Lock()
        self._local = threading.local()
        self._next = 0

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        t_in = time.perf_counter()
        stack = self._local.__dict__.setdefault("stack", [])
        with self._lock:
            sid = self._next
            self._next += 1
        parent = stack[-1] if stack else None
        stack.append(sid)
        start = time.perf_counter()
        try:
            yield sid
        finally:
            end = time.perf_counter()
            stack.pop()
            with self._lock:
                self.spans.append(Span(sid, name, start, end, parent, self.run_id))
                self.cost_s += (start - t_in) + (time.perf_counter() - end)


def _covered(intervals, lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total = 0.0
    cur_lo = cur_hi = None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def self_times(spans: list[Span]) -> dict[str, float]:
    """Per span name: Σ (duration − time covered by its child spans).

    Children may overlap each other (parallel work under one parent);
    overlapping cover is counted once.
    """
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append((s.start, s.end))
    out: dict[str, float] = {}
    for s in spans:
        own = s.duration - _covered(children.get(s.sid, ()), s.start, s.end)
        out[s.name] = out.get(s.name, 0.0) + own
    return out


# --- streaming: arrived files → batches → latency ----------------------------


def batch_of_files(checkpoint: str) -> dict[str, int]:
    """File name → micro-batch id, from a file stream source's metadata log
    under ``checkpoint`` (a version line, then one JSON entry per file;
    compacted logs repeat the entries of earlier batches)."""
    log_dir = os.path.join(checkpoint, "sources", "0")
    out: dict[str, int] = {}
    for name in os.listdir(log_dir):
        if name.startswith("."):
            continue
        with open(os.path.join(log_dir, name), encoding="utf-8") as f:
            for line in f.read().splitlines()[1:]:
                if line.strip():
                    e = json.loads(line)
                    out[os.path.basename(e["path"])] = int(e["batchId"])
    return out


@dataclass
class FileLatency:
    file: str
    batch: int
    latency_ms: float
    wait_ms: float


def file_latencies(
    due: dict[str, float],
    last_ack: dict[str, float],
    batch_of: dict[str, int],
    trigger_ms: dict[int, float],
) -> tuple[list[FileLatency], list[str]]:
    """Latency of each arrived file, from when it was due to land to when
    its last chunk was acknowledged, and the share of it spent waiting for
    its batch to start (latency − that batch's trigger time).

    Returns (latencies, undelivered): a file with no acknowledgement, or
    one no batch claimed, is undelivered — it counts against the run,
    never silently out of the sample.
    """
    out: list[FileLatency] = []
    undelivered: list[str] = []
    for f, t_due in sorted(due.items(), key=lambda kv: kv[1]):
        if f not in last_ack or f not in batch_of:
            undelivered.append(f)
            continue
        b = batch_of[f]
        lat = (last_ack[f] - t_due) * 1000.0
        out.append(FileLatency(f, b, lat, lat - trigger_ms.get(b, 0.0)))
    return out, undelivered
