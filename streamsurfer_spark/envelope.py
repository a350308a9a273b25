"""Event envelope: validation, enrichment, rendering (reference parity).

The reference's only data contract (SURVEY §1.1) is: an event is an open
JSON dict that MUST carry an ``"event"`` string field; the library stamps
``server_timestamp`` (UTC string, ms precision, trailing zeros trimmed —
/root/reference/main.go:179) and ``origin`` (only when configured —
main.go:181-183), then JSON-serializes with sorted keys (Go json.Marshal).

Two surfaces here:
- Column expressions for DataFrame pipelines (the scale path — pure
  Catalyst, codegen-friendly, no Python in the hot loop).
- ``enrich_and_validate`` for the driver-side single-event path used by the
  batching sink queue (exact reference semantics incl. error strings).
"""

from __future__ import annotations

import json
from datetime import datetime, timezone
from typing import Any

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame

# Render format of /root/reference/main.go:179 before trailing-zero trim.
ENVELOPE_TS_FORMAT = "yyyy-MM-dd'T'HH:mm:ss.SSS'Z'"


def extract_stream_name_from_arn(arn: str) -> str:
    """Split on '/', require exactly two parts (main.go:107-113).

    Raises ValueError("invalid ARN format") — the reference's error string.
    """
    parts = arn.split("/")
    if len(parts) != 2:
        raise ValueError("invalid ARN format")
    return parts[1]


def enrich_and_validate(
    data: dict[str, Any], origin: str = "", now: datetime | None = None
) -> dict[str, Any]:
    """Single-event twin of main.go:174-186 — mutates ``data`` in place.

    - requires ``data["event"]`` to be a str (a non-string value is rejected
      exactly like a missing key — main.go:175 is a type assertion);
    - stamps ``server_timestamp`` as a UTC string with ms precision and Go
      ``.999``-style trailing-zero trimming;
    - stamps ``origin`` only when non-empty (can overwrite a caller key,
      as the reference does).
    """
    if not isinstance(data.get("event"), str):
        raise ValueError("event field is required")
    ts = now if now is not None else datetime.now(timezone.utc)
    data["server_timestamp"] = render_timestamp_py(ts)
    if origin != "":
        data["origin"] = origin
    return data


def render_timestamp_py(ts: datetime) -> str:
    """Go layout "2006-01-02T15:04:05.999Z": ms precision, zeros trimmed."""
    base = ts.strftime("%Y-%m-%dT%H:%M:%S")
    millis = ts.microsecond // 1000
    frac = f".{millis:03d}".rstrip("0")
    if frac == ".":
        frac = ""
    return f"{base}{frac}Z"


def serialize_event(data: Any) -> bytes:
    """Wire-parity JSON: sorted keys, no whitespace (Go json.Marshal sorts
    map keys — main.go:202), non-ASCII text as raw UTF-8 like Go and the
    JVM ``to_json`` path (``é`` is 2 bytes, not a 6-byte ``\\u00e9``
    escape), so byte sizes match the reference's chunk accounting. Go
    additionally escapes <>& and U+2028/U+2029, which we skip; none of
    our payloads contain them."""
    return json.dumps(
        data, sort_keys=True, separators=(",", ":"), ensure_ascii=False
    ).encode("utf-8")


# --- column-expression surface (distributed path) ---------------------------


def render_timestamp(col: Column | str) -> Column:
    """DataFrame twin of render_timestamp_py: ms-precision UTC render with
    trailing-zero trim. Pure built-ins → stays inside codegen."""
    rendered = F.date_format(col, ENVELOPE_TS_FORMAT)
    # ".780Z"→".78Z", ".000Z"→".Z"→"Z" (two anchored replaces; the first
    # cannot touch the seconds field because SSS always emits a fraction).
    trimmed = F.regexp_replace(rendered, r"0+Z$", "Z")
    return F.regexp_replace(trimmed, r"\.Z$", "Z")


def validate_events(df: DataFrame, event_col: str = "event_type") -> DataFrame:
    """Keep rows satisfying the reference's required-field contract."""
    return df.where(F.col(event_col).isNotNull())


def invalid_events(df: DataFrame, event_col: str = "event_type") -> DataFrame:
    """The reject stream — rows the reference would error on."""
    return df.where(F.col(event_col).isNull())


def stamp_origin(df: DataFrame, origin: str) -> DataFrame:
    """origin column is only added when configured non-empty (main.go:181)."""
    if origin == "":
        return df
    return df.withColumn("origin", F.lit(origin))


def stamp_server_timestamp(df: DataFrame, ts_col: str | None = None) -> DataFrame:
    """Stamp the envelope timestamp.

    ``ts_col=None`` uses processing time like the reference (main.go:179);
    tests pass the fixture's event-time column for determinism.
    """
    src = F.col(ts_col) if ts_col else F.current_timestamp()
    return df.withColumn("server_timestamp", render_timestamp(src))
