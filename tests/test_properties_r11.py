"""Round-11 pins.

Completes the version-sentinel sweep (r10 verdict item 6): every rule in
the repo that was derived EMPIRICALLY from observed Spark behavior —
rather than from documented semantics — now carries a Spark-version
tripwire, and one inventory test names them all so a future upgrade has
a single checklist.
"""

from __future__ import annotations

import pyspark
import pytest

# --- file-source batch-formation rule (the r11 sentinel) --------------------
#
# The multi-batch replay shim behind every REAL micro-batch run
# (streaming_q._write_slices, used by qs07/qs13/qs14/qs15) rests on two
# FileStreamSource behaviors verified by observation, not spec:
#
# 1. ORDER: unseen files are taken in modification-time order, so slice
#    files with pinned strictly-increasing mtimes arrive as slice 0, 1, 2.
# 2. GRANULARITY: with maxFilesPerTrigger=1 under Trigger.AvailableNow,
#    each micro-batch contains exactly ONE file (no coalescing).
#
# Who depends on what:
# - qs15_stream_lsh_dedup needs BOTH: its first-arrival suppression
#   contract ("earliest arrival wins") equals the global oracle only
#   because arrival order IS slice order (streaming_q.py docstring).
# - qs07_update_mode needs GRANULARITY: its n_updates-per-key column
#   counts micro-batches that touched the key, i.e. exactly the slice
#   files that contain it.
# - qs13/qs14 are deliberately INVARIANT to both (commutative/associative
#   latest-wins max over (ts, event_id), tombstones retained) — that
#   invariance is their tested design contract, so they carry NO order
#   sentinel; the replayed-batch gate rows prove it.
_FILE_SOURCE_ORDER_RULE_DERIVED_ON = "4.1.2"


def test_file_source_order_rule_spark_version_sentinel():
    """Fail LOUDLY on a Spark version change instead of letting qs15's
    arrival-order contract or qs07's batch-count column silently drift.

    On upgrade: re-run tests/test_streaming.py's multi-batch runs and the
    qs07/qs15 generated-frame fuzz rows on the new Spark; if the file
    source no longer orders by mtime or coalesces files per trigger,
    rework _write_slices (e.g. explicit per-batch dirs) before trusting
    the streaming oracles, then bump the pin here.
    """
    assert pyspark.__version__ == _FILE_SOURCE_ORDER_RULE_DERIVED_ON, (
        f"Spark version changed ({pyspark.__version__} != "
        f"{_FILE_SOURCE_ORDER_RULE_DERIVED_ON}): the FileStreamSource "
        "mtime-order + one-file-per-trigger batch-formation rule "
        "(streaming_q._write_slices) was derived empirically on "
        f"{_FILE_SOURCE_ORDER_RULE_DERIVED_ON} and may have changed. "
        "qs15's first-arrival suppression and qs07's n_updates count "
        "depend on it — re-verify per this test's docstring."
    )


def test_empirical_rule_inventory_complete_and_pinned():
    """THE checklist: every empirically-derived rule in the repo, each
    with its sentinel constant, all pinned to the SAME Spark version.
    A new empirical rule must be added here (and get its own sentinel);
    an upgrade bumps every pin only after re-verifying every row.

    | rule | derived | dependents | sentinel |
    |---|---|---|---|
    | stream-stream outer-join emission timing | r9 | qs16 | test_properties_r9 |
    | session-window exactly-at-gap MERGE (`>` splits, `=` joins) | r10 | qs03, qs08, qt19 | test_properties_r10 |
    | file-source mtime order + one-file-per-trigger | r11 | qs07, qs15 | this file |
    | ContextCleaner shuffle release after System.gc() (+ private `_jvm`) | r11, pinned r12 | qp08_canonical_map_bounded | test_qp08_bounded |

    Deliberately ABSENT (order-invariant by construction, not by
    observation): qs13/qs14's latest-wins merge, qs15's replay
    idempotence (min/strict-< algebra — holds under ANY delivery order).
    """
    from tests.test_properties_r9 import _QS16_RULE_DERIVED_ON
    from tests.test_properties_r10 import _SESSION_MERGE_RULE_DERIVED_ON
    from tests.test_qp08_bounded import _CONTEXTCLEANER_GC_RULE_DERIVED_ON

    pins = {
        "qs16 outer-join emission rule": _QS16_RULE_DERIVED_ON,
        "session exactly-at-gap MERGE rule": _SESSION_MERGE_RULE_DERIVED_ON,
        "file-source order/granularity rule": _FILE_SOURCE_ORDER_RULE_DERIVED_ON,
        "ContextCleaner GC shuffle-release rule": _CONTEXTCLEANER_GC_RULE_DERIVED_ON,
    }
    mismatched = {
        name: pin for name, pin in pins.items() if pin != pyspark.__version__
    }
    assert not mismatched, (
        f"empirical-rule pins out of date vs pyspark {pyspark.__version__}: "
        f"{mismatched} — re-verify each rule before bumping its pin"
    )
