"""Custom stateful streaming operators via applyInPandasWithState.

The reference's only state is a byte counter + FIFO queue
(/root/reference/main.go:27-28; SURVEY §2.2 — no keyed state, no timers).
This module is the engine's arbitrary-stateful surface: Arrow-batched
per-key state machines for semantics that windowed aggregation can't
express (running per-key accumulators, session entities, custom eviction).

Scale notes:
- State lives in the state store keyed by the group key — one row per key,
  not per event; the shuffle is on the group key only.
- Arrow moves each group's micro-batch slice as pandas — vectorized, no
  per-row Python.
- ProcessingTimeTimeout lets idle keys finalize + evict; without a timeout
  the key domain must be bounded (documented contract, as with
  dropDuplicates).
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Any

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

TRACKER_OUTPUT = "user_id bigint, n_events bigint, sum_value double, last_event_id bigint"
TRACKER_STATE = "n bigint, total_cents bigint, last_us bigint, last_id bigint"


def _cents_half_up(values: pd.Series) -> int:
    """Exact cent total with half-AWAY-FROM-ZERO rounding — the same
    convention as F.round / DuckDB round(), so the state path can never
    diverge from the QS11 oracle on a value*100 that lands exactly on .5
    (pandas .round() is half-to-even and rounds 2.5 → 2)."""
    v = values.to_numpy(dtype="float64") * 100
    # non-finite (NULL→NaN in the Arrow slice, ±Inf) contributes 0, like
    # the batch oracle's F.sum skipping NULLs — NaN.astype('int64') is
    # INT64_MIN and would silently wreck the running total forever
    # (r7 review)
    v = np.where(np.isfinite(v), v, 0.0)
    return int((np.sign(v) * np.floor(np.abs(v) + 0.5)).astype("int64").sum())


def _track(
    key: tuple[Any, ...], pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    """Per-user running accumulator: count, value sum, latest event_id.

    Batching-invariant by construction — the state carries everything the
    final answer needs, independent of how events split across batches:
    - the value sum accumulates in exact integer CENTS (a float running
      total would depend on accumulation order);
    - the "latest" pick keeps (event-time µs, event_id) in state and
      compares candidates against it, so an earlier batch's later-ts event
      correctly survives a later batch (within-batch idxmax alone would
      let the most recent batch overwrite it), with event_id as the
      deterministic tiebreak for colliding timestamps.
    """
    (user_id,) = key
    n, total_cents, last_us, last_id = (
        state.get if state.exists else (0, 0, -1, -1)
    )
    for pdf in pdfs:
        if not len(pdf):
            continue
        n += len(pdf)
        total_cents += _cents_half_up(pdf["value"])
        us = pdf["ts"].values.astype("datetime64[us]").astype("int64")
        m = int(us.max())
        cand = int(pdf.loc[us == m, "event_id"].max())
        if m > last_us or (m == last_us and cand > last_id):
            last_us, last_id = m, cand
    state.update((n, total_cents, last_us, last_id))
    yield pd.DataFrame(
        {
            "user_id": [user_id],
            "n_events": [n],
            "sum_value": [total_cents / 100.0],
            "last_event_id": [last_id],
        }
    )


def user_activity_tracker(events: DataFrame) -> DataFrame:
    """Running per-user activity state, emitted once per key per batch.

    Works on a streaming DataFrame (update mode). Each micro-batch updates
    the per-user accumulator and emits the new running totals — the pattern
    for live entity state (feature freshness, quota tracking) that window
    aggregation can't express because it never closes.
    """
    return events.groupBy("user_id").applyInPandasWithState(
        _track,
        outputStructType=TRACKER_OUTPUT,
        stateStructType=TRACKER_STATE,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )

