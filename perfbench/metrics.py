"""Process-level and Spark-level measurements: stage metrics from Spark's
own status store, and peak RSS of the JVM plus its Python workers.

The status store keeps running with the UI disabled. Stage and job lists
are read in one JVM call each (serialized to JSON by Spark's Jackson), so
harvesting costs tens of milliseconds and runs outside timed regions.
"""

from __future__ import annotations

import json
import os
import threading

MB = 1024 * 1024


class StatusStore:
    def __init__(self, spark) -> None:
        sc = spark.sparkContext
        jvm = sc._jvm
        self._store = sc._jsc.sc().statusStore()
        self._defaults = [
            getattr(self._store, f"stageList$default${i}")() for i in range(2, 6)
        ]
        self._mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        scala_module = getattr(jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$")
        self._mapper.registerModule(getattr(scala_module, "MODULE$"))

    def stages(self) -> list[dict]:
        return json.loads(
            self._mapper.writeValueAsString(self._store.stageList(None, *self._defaults))
        )

    def jobs(self) -> list[dict]:
        return json.loads(self._mapper.writeValueAsString(self._store.jobsList(None)))


def in_window(rows: list[dict], t0: float, t1: float) -> list[dict]:
    """Stages or jobs submitted within [t0, t1] (epoch seconds)."""
    lo, hi = t0 * 1000.0, t1 * 1000.0
    return [r for r in rows if r.get("submissionTime") and lo <= r["submissionTime"] <= hi]


def stage_totals(stages: list[dict]) -> dict:
    """Sum the task metrics of a set of stages."""
    return {
        "cpu_s": sum(s["executorCpuTime"] for s in stages) / 1e9,
        "run_s": sum(s["executorRunTime"] for s in stages) / 1e3,
        "gc_s": sum(s["jvmGcTime"] for s in stages) / 1e3,
        "shuffle_write_mb": sum(s["shuffleWriteBytes"] for s in stages) / MB,
        "shuffle_read_mb": sum(s["shuffleReadBytes"] for s in stages) / MB,
        "spill_mb": sum(s["memoryBytesSpilled"] + s["diskBytesSpilled"] for s in stages) / MB,
        "tasks": sum(s["numCompleteTasks"] for s in stages),
        "stages": len(stages),
    }


# --- memory ------------------------------------------------------------------

def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat", "rb") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may hold spaces; fields resume after the last ')'
        ppid = int(stat[stat.rindex(b")") + 2 :].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def descendants(pid: int) -> list[int]:
    kids = _children_map()
    out, todo = [], list(kids.get(pid, ()))
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, ()))
    return out


def rss_bytes(pids) -> int:
    """Summed proportional set size: pages shared between processes (the
    forked Python workers share most of theirs) are split among them, so
    the sum counts each resident page once."""
    total = 0
    for p in pids:
        try:
            with open(f"/proc/{p}/smaps_rollup", "rb") as f:
                for line in f:
                    if line.startswith(b"Pss:"):
                        total += int(line.split()[1]) * 1024
                        break
        except OSError:
            pass
    return total


class RssSampler:
    """Samples the resident memory of every descendant of this process
    (the JVM and the Python workers it forks) on a background thread."""

    INTERVAL_S = 0.25

    def __init__(self) -> None:
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, name="rss-sampler", daemon=True)

    def _loop(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, rss_bytes(descendants(me)))
            self._stop.wait(self.INTERVAL_S)

    def start(self) -> "RssSampler":
        self._thread.start()
        return self

    def stop(self) -> int:
        self._stop.set()
        self._thread.join(timeout=5)
        return self.peak
