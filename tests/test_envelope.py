"""Envelope unit tests — reference parity incl. exact error strings
(SURVEY §2.1 fine print, FIXTURES.md §1 adversarial cases)."""

from __future__ import annotations

from datetime import datetime, timezone

import pytest

from streamsurfer_spark.envelope import (
    enrich_and_validate,
    extract_stream_name_from_arn,
    render_timestamp_py,
    serialize_event,
)
from streamsurfer_spark.sink.config import KinesisSinkConfig


class TestArnParsing:
    def test_valid(self):
        arn = "arn:aws:kinesis:us-east-1:123:stream/my-stream"
        assert extract_stream_name_from_arn(arn) == "my-stream"

    @pytest.mark.parametrize("bad", ["no-slash", "a/b/c", ""])
    def test_invalid(self, bad):
        with pytest.raises(ValueError, match="invalid ARN format"):
            extract_stream_name_from_arn(bad)


class TestConfig:
    def test_defaults(self):
        c = KinesisSinkConfig.new("s")
        assert (c.region, c.max_size_bytes, c.origin, c.stream_arn) == ("sa-east-1", 1024, "", "")

    def test_empty_name_rejected(self):
        with pytest.raises(ValueError, match="streamName must be provided"):
            KinesisSinkConfig.new("")

    def test_zero_max_size_rejected(self):
        with pytest.raises(ValueError, match="maxSizeBytes must be provided"):
            KinesisSinkConfig("s", max_size_bytes=0)

    def test_empty_region_defaults(self):
        assert KinesisSinkConfig("s", region="").region == "sa-east-1"

    def test_arn_constructor(self):
        c = KinesisSinkConfig.with_stream_arn("arn:aws:kinesis:x:1:stream/st", "app")
        assert c.stream_name == "st"
        assert c.stream_arn.endswith("/st")

    def test_empty_arn_rejected(self):
        with pytest.raises(ValueError, match="streamArn must be provided"):
            KinesisSinkConfig.with_stream_arn("", "app")


class TestEnrichAndValidate:
    def test_missing_event_rejected(self):
        with pytest.raises(ValueError, match="event field is required"):
            enrich_and_validate({"x": 1})

    def test_non_string_event_rejected(self):
        # type assertion, not presence check (main.go:175)
        with pytest.raises(ValueError, match="event field is required"):
            enrich_and_validate({"event": 42})

    def test_enrichment_mutates_in_place(self):
        d = {"event": "signup"}
        out = enrich_and_validate(d, origin="app")
        assert out is d
        assert d["origin"] == "app"
        assert d["server_timestamp"].endswith("Z")

    def test_no_origin_key_when_unconfigured(self):
        d = {"event": "signup"}
        enrich_and_validate(d, origin="")
        assert "origin" not in d

    def test_overwrites_caller_keys(self):
        d = {"event": "e", "origin": "theirs", "server_timestamp": "theirs"}
        enrich_and_validate(d, origin="ours")
        assert d["origin"] == "ours"
        assert d["server_timestamp"] != "theirs"


class TestTimestampRender:
    @pytest.mark.parametrize(
        "ts,expect",
        [
            (datetime(2026, 8, 13, 10, 0, 5, 500000, tzinfo=timezone.utc), "2026-08-13T10:00:05.5Z"),
            (datetime(2026, 8, 13, 10, 0, 5, 0, tzinfo=timezone.utc), "2026-08-13T10:00:05Z"),
            (datetime(2026, 8, 13, 10, 0, 5, 123000, tzinfo=timezone.utc), "2026-08-13T10:00:05.123Z"),
            (datetime(2026, 8, 13, 10, 0, 5, 120000, tzinfo=timezone.utc), "2026-08-13T10:00:05.12Z"),
            # sub-ms precision truncates like Go's .999 (no rounding)
            (datetime(2026, 8, 13, 10, 0, 5, 123999, tzinfo=timezone.utc), "2026-08-13T10:00:05.123Z"),
        ],
    )
    def test_go_999_layout(self, ts, expect):
        assert render_timestamp_py(ts) == expect


class TestSerialize:
    def test_sorted_keys_compact(self):
        assert serialize_event({"b": 1, "a": {"z": 2, "y": 3}}) == b'{"a":{"y":3,"z":2},"b":1}'

    def test_non_ascii_is_raw_utf8(self):
        # Go json.Marshal and the JVM to_json path emit raw UTF-8: "é" is
        # 2 bytes on the wire, not the 6-byte é escape
        assert serialize_event({"event": "café"}) == '{"event":"café"}'.encode("utf-8")
        assert len(serialize_event({"event": "café"})) == 17
