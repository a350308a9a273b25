"""Event-envelope queries (SURVEY.md §2.3 A, Q-V1..Q-V6) on `events`.

These exercise the reference's ingestion contract as declarative DataFrame
ops: `event_type` plays the required "event" field, `props` the open JSON
payload, the fixture's `ts` stands in for the (nondeterministic) wall clock
so the timestamp render is oracle-checkable (FIXTURES.md §2).

Q-V7 (chunker), Q-V8 (uuid partition keys) and Q-V9 (ARN parsing) are
property/unit-tested in tests/test_chunker.py and tests/test_envelope.py —
no SQL analog exists (SURVEY §2.3 A).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from streamsurfer_spark.envelope import render_timestamp
from streamsurfer_spark.functions.rounding import scaled_round
from streamsurfer_spark.queries import QuerySpec
from streamsurfer_spark.session import table


def _validated(ev: DataFrame) -> DataFrame:
    """Validated-event precondition for the serialization queries.

    The reference validates BEFORE it serializes (enrichAndValidate,
    main.go:175-177, runs ahead of json.Marshal in the flush path), and
    its typed Go struct makes the int fields non-nullable by
    construction — so the envelope-rendering queries (qv03/qv05/qv08)
    declare the same input contract. Without the filter the twins
    diverge on the first NULL-required-field row (Spark's to_json omits
    NULL keys while DuckDB's '||' concat nulls the whole envelope, and
    string_agg then silently DROPS it from the batch array; qv03's
    ascending sort puts a NULL group first on Spark, last on DuckDB) —
    the latent class the r5 qv02 NULL-symmetry fix closed elsewhere
    (r8 area review). qv01 counts the invalid rows; qv09 filters them
    the same way before the wire.
    """
    return ev.where(
        F.col("event_type").isNotNull()
        & F.col("event_id").isNotNull()
        & F.col("user_id").isNotNull()
    )


# the twins' identical precondition (see _validated)
_VALIDATED_WHERE = (
    "WHERE event_type IS NOT NULL AND event_id IS NOT NULL"
    " AND user_id IS NOT NULL"
)


# --- Q-V1: required-field validation -----------------------------------------

def qv01_validate_required(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    # The reference rejects events without a string "event" field
    # (main.go:175-177); as a set operation that's a partition into
    # valid/invalid streams, counted here.
    return ev.agg(
        F.count(F.when(F.col("event_type").isNotNull(), 1)).alias("n_valid"),
        F.count(F.when(F.col("event_type").isNull(), 1)).alias("n_invalid"),
    )


QV01_SQL = """
SELECT count(CASE WHEN event_type IS NOT NULL THEN 1 END) AS n_valid,
       count(CASE WHEN event_type IS NULL THEN 1 END) AS n_invalid
FROM events
"""


# --- Q-V2: payload parse validation ------------------------------------------

def qv02_payload_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    # validity = try_parse_json (NULL ⇔ malformed) — the engine's analog of
    # the reference's type-assertion reject (main.go:175). PERMISSIVE
    # from_json is NOT a validity test: it returns a non-null all-NULL
    # struct for malformed input (found by the payload fuzz); the typed
    # k extraction still goes through from_json, whose INT field accepts
    # integral in-range JSON NUMBERS only (quoted "12", 1.5, true → NULL).
    parsed = ev.withColumn("payload", F.from_json("props", "k INT")).withColumn(
        "ok", F.expr("try_parse_json(props) IS NOT NULL")
    )
    return parsed.agg(
        F.count(F.when(F.col("ok"), 1)).alias("n_parse_ok"),
        F.count(F.when(~F.col("ok"), 1)).alias("n_parse_fail"),
        F.sum(F.col("payload.k").cast("long")).alias("sum_k"),
    )


# the json_type guard replicates from_json's INT-field semantics: only
# integral JSON numbers count; UBIGINT/BIGINT covers both signs, and
# TRY_CAST to INTEGER nulls int32 overflow exactly as Spark does.
# coalesce(json_valid, FALSE): a SQL-NULL props row must land in
# n_parse_fail on BOTH engines — Spark's `try_parse_json(NULL) IS NOT
# NULL` is FALSE (a reject), while bare `NOT json_valid(NULL)` is NULL
# (counted nowhere) — the round-5 ADVICE latent divergence
QV02_SQL = """
SELECT count(CASE WHEN json_valid(props) THEN 1 END) AS n_parse_ok,
       count(CASE WHEN NOT coalesce(json_valid(props), FALSE) THEN 1 END)
           AS n_parse_fail,
       CAST(sum(CAST(CASE WHEN json_valid(props)
                           AND json_type(props, '$.k') IN ('BIGINT', 'UBIGINT')
                      THEN TRY_CAST(json_extract_string(props, '$.k') AS INTEGER)
                      END AS BIGINT)) AS BIGINT) AS sum_k
FROM events
"""


# --- Q-V3: origin stamp --------------------------------------------------------

def qv03_origin_stamp(spark: SparkSession, sf_dir: str) -> DataFrame:
    from streamsurfer_spark.envelope import stamp_origin

    ev = _validated(table(spark, sf_dir, "events"))
    stamped = stamp_origin(ev.select("event_id", "event_type"), "test-app")
    return stamped.groupBy("origin", "event_type").agg(
        F.count("*").alias("n_events")
    ).orderBy("origin", "event_type")


QV03_SQL = f"""
SELECT 'test-app' AS origin, event_type, count(*) AS n_events
FROM events {_VALIDATED_WHERE}
GROUP BY event_type
ORDER BY origin, event_type
"""


# --- Q-V4: timestamp render (ms precision, Go trailing-zero trim) --------------

def qv04_ts_render(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    # Deterministic input (fixture ts) instead of the reference's now();
    # identical rendering: UTC, "yyyy-MM-ddTHH:mm:ss.SSSZ" with Go's .999
    # trailing-zero trimming (main.go:179).
    return ev.select(
        "event_id", render_timestamp("ts").alias("server_timestamp")
    ).orderBy("event_id")


QV04_SQL = """
SELECT event_id,
       regexp_replace(regexp_replace(strftime(ts, '%Y-%m-%dT%H:%M:%S.%gZ'),
                                     '0+Z$', 'Z'),
                      '\\.Z$', 'Z') AS server_timestamp
FROM events
ORDER BY event_id
"""


# --- Q-V5: JSON envelope serialization ------------------------------------------

def qv05_envelope_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _validated(table(spark, sf_dir, "events"))
    # Canonical wire format: sorted keys, no whitespace — matches Go
    # json.Marshal (main.go:202). Struct fields listed alphabetically =
    # sorted-key JSON from to_json.
    return ev.select(
        "event_id",
        F.to_json(F.struct("event_id", "event_type", "user_id")).alias("envelope"),
    ).orderBy("event_id")


# to_json(event_type) instead of bare '"' || event_type || '"': the
# oracle must JSON-escape the string field exactly as Spark's to_json
# (and Go's json.Marshal, main.go:202) do — quotes, backslashes, \t/\n
# shorthand, \u00XX control escapes, raw UTF-8 passthrough. Probed
# bit-identical across engines; the r11 envelope fuzz generates these
# classes, where the unescaped concat twin silently diverged.
QV05_SQL = f"""
SELECT event_id,
       '{{"event_id":' || event_id || ',"event_type":' ||
       to_json(event_type)::VARCHAR ||
       ',"user_id":' || user_id || '}}' AS envelope
FROM events {_VALIDATED_WHERE}
ORDER BY event_id
"""


# --- Q-V6: JSON payload extraction ------------------------------------------------

def qv06_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    # try_cast: the reference accepts ANY json.Marshal-able payload
    # (main.go:202), so a producer sending {"k": "x"} must yield NULL,
    # not kill the query under ANSI cast (found by the payload fuzz in
    # tests/test_differential_fuzz.py)
    return ev.select(
        "event_id",
        F.expr("try_cast(get_json_object(props, '$.k') AS int)").alias("k_val"),
    ).orderBy("event_id")


# the integer-string regex guard replicates Spark's try_cast semantics:
# DuckDB's TRY_CAST ROUNDS decimal strings ('1.5' -> 2) where Spark
# yields NULL — found by the payload fuzz's decimal-string probe
QV06_SQL = """
SELECT event_id,
       CASE WHEN regexp_matches(json_extract_string(props, '$.k'),
                                '^\\s*[+-]?\\d+\\s*$')
            THEN TRY_CAST(json_extract_string(props, '$.k') AS INTEGER)
            ELSE NULL END AS k_val
FROM events
ORDER BY event_id
"""


def qv07_json_typed_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """from_json with a declared schema (the typed-payload path): parse the
    open props payload into a struct and aggregate over it — the pattern a
    production envelope uses instead of per-field get_json_object calls
    (one parse per row, all fields, columnar after the parse)."""
    ev = table(spark, sf_dir, "events")
    parsed = ev.select(
        "event_type", F.from_json("props", "k INT").alias("p")
    )
    return (
        parsed.groupBy("event_type")
        .agg(
            F.count("p.k").alias("n_with_k"),
            F.sum("p.k").alias("sum_k"),
            scaled_round(F.avg("p.k"), 2).alias("avg_k"),
        )
        .orderBy("event_type")
    )


# same json_type guard as QV02_SQL: from_json INT fields accept integral
# in-range JSON numbers only
QV07_SQL = """
WITH typed AS (
    SELECT event_type,
           CASE WHEN json_valid(props)
                 AND json_type(props, '$.k') IN ('BIGINT', 'UBIGINT')
                THEN TRY_CAST(json_extract_string(props, '$.k') AS INTEGER)
                END AS k
    FROM events
)
SELECT event_type,
       count(k) AS n_with_k,
       CAST(sum(k) AS BIGINT) AS sum_k,
       CAST(round(avg(k) * 100) AS BIGINT) / 100.0 AS avg_k
FROM typed
GROUP BY event_type
ORDER BY event_type
"""


# --- Q-V8: batch wire format (JSON array per group) --------------------------

def qv08_batch_wire_format(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's wire unit — ONE JSON array of event envelopes per
    send (main.go:267 marshals the whole batch as a single array) —
    rendered deterministically per user: envelopes ordered by event_id,
    keys sorted, no whitespace. The sink chunker slices these
    by byte budget (property-tested); here the ARRAY RENDERING itself is
    oracle-checked, so the exact bytes Kinesis would receive are pinned.
    """
    ev = _validated(table(spark, sf_dir, "events"))
    env = F.to_json(F.struct("event_id", "event_type", "user_id"))
    per_user = (
        ev.groupBy("user_id")
        .agg(
            F.array_join(
                # sort by the zero-padded sortable prefix, then strip it
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.concat(
                                F.lpad(F.col("event_id").cast("string"), 12, "0"),
                                F.lit("|"),
                                env,
                            )
                        )
                    ),
                    lambda s: F.substring(s, 14, 1_000_000),
                ),
                ",",
            ).alias("body")
        )
        .select(
            "user_id",
            F.concat(F.lit("["), F.col("body"), F.lit("]")).alias("batch_json"),
            F.length(F.concat(F.lit("["), F.col("body"), F.lit("]"))).alias("n_bytes"),
        )
    )
    return per_user.orderBy("user_id")


QV08_SQL = f"""
WITH env AS (
  SELECT user_id, event_id,
         '{{"event_id":' || event_id || ',"event_type":' ||
         to_json(event_type)::VARCHAR ||
         ',"user_id":' || user_id || '}}' AS e
  FROM events {_VALIDATED_WHERE}
),
arr AS (
  SELECT user_id,
         '[' || string_agg(e, ',' ORDER BY event_id) || ']' AS batch_json
  FROM env GROUP BY 1
)
SELECT user_id, batch_json,
       CAST(length(batch_json) AS INT) AS n_bytes
FROM arr ORDER BY user_id
"""


# --- Q-V9 (engine extension): produce→consume wire-loop round trip ----------

def _wire_roundtrip(
    spark: SparkSession,
    sf_dir: str,
    origin: str,
    stream: str,
    spool_prefix: str,
    use_put_records: bool,
) -> DataFrame:
    """Shared body of qv09/qv10: events → envelope → greedy chunking →
    JSON-array records through the REAL sink client seam (PutRecord per
    chunk, or the batched PutRecords scale path) → read-back through the
    JVM ``spool_items`` scan → typed parse → per-event-type aggregate.

    NOTE: constructing this query is EFFECTFUL — the sink spool is
    written eagerly (a foreachPartition job) before the returned
    DataFrame exists, and each invocation allocates a fresh scratch
    spool dir that is only swept at process exit (scratch.py atexit).
    Re-evaluating the RETURNED DataFrame re-reads the same spool, so the
    result is stable per invocation; calling the constructor again spools
    again. Acceptable for the gate (one invocation per run); don't call
    it in a loop.
    """
    from streamsurfer_spark.scratch import scratch_dir
    from streamsurfer_spark.sink.config import KinesisSinkConfig
    from streamsurfer_spark.sink.kinesis import (
        FileKinesisClient,
        envelope_payload,
        write_batch_to_kinesis,
    )
    from streamsurfer_spark.sources.kinesis_source import spool_items

    ev = table(spark, sf_dir, "events")
    spool = scratch_dir(spool_prefix)
    cfg = KinesisSinkConfig(stream, max_size_bytes=16_384, origin=origin)
    payloads = envelope_payload(ev, event_col="event_type", ts_col="ts", origin=origin)
    write_batch_to_kinesis(
        payloads,
        cfg,
        lambda _cfg: FileKinesisClient(spool),
        use_put_records=use_put_records,
    )

    items = spool_items(spark, spool)
    p = F.from_json(
        "item",
        "event_type string, user_id long, value double,"
        " server_timestamp string, origin string",
    )
    parsed = items.select(p.alias("p")).select("p.*")
    return (
        parsed.groupBy("event_type")
        .agg(
            F.count("*").alias("n_items"),
            F.sum("user_id").alias("sum_user_id"),
            F.sum(F.round(F.col("value") * 100).cast("bigint")).alias(
                "sum_value_cents"
            ),
            F.countDistinct("server_timestamp").alias("n_distinct_sts"),
            F.min("origin").alias("origin"),
        )
        .orderBy("event_type")
    )


def qv09_consume_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The FULL wire loop in one gated query: events → envelope
    (validate + origin + timestamp stamp, main.go:174-186) → greedy
    chunking → one JSON-array record per chunk (main.go:266-276) spooled
    through the REAL sink client seam → read back with the
    ``spool_items`` scan (one row per envelope item) → typed parse →
    per-event-type aggregate.

    The oracle recomputes the SAME aggregates straight from the `events`
    table — a hash match therefore proves the sink+source pair is
    LOSSLESS and stamp-correct end-to-end, with no reference to how the
    chunker happened to cut records (every output column is
    chunking-invariant; record-boundary behavior itself is pinned by the
    chunker property tests). Value money-math goes through the cent
    discipline; the timestamp distinct-count rides on the qv04-proven
    render. See _wire_roundtrip for the effectfulness caveat.
    """
    return _wire_roundtrip(
        spark, sf_dir, "roundtrip", "qv09-stream", "qv09_spool_", False
    )


def qv10_put_records_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """qv09's loop through the OTHER sink seam: the batched PutRecords
    path (up to 500 chunks per call, per-record partial-failure retry —
    sink/kinesis.py flush_put_records), read back through the same
    ``spool_items`` scan. The oracle recomputes the aggregates from
    `events` with a distinct origin stamp, so a hash match proves the
    PutRecords path lossless; qv09 covers the PutRecord path.
    """
    return _wire_roundtrip(
        spark,
        sf_dir,
        "roundtrip-batch",
        "qv10-stream",
        "qv10_spool_",
        True,
    )


QV09_SQL = """
SELECT event_type,
       count(*) AS n_items,
       CAST(sum(user_id) AS BIGINT) AS sum_user_id,
       CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_value_cents,
       count(DISTINCT regexp_replace(regexp_replace(
                 strftime(ts, '%Y-%m-%dT%H:%M:%S.%gZ'), '0+Z$', 'Z'),
                 '\\.Z$', 'Z')) AS n_distinct_sts,
       'roundtrip' AS origin
FROM events
WHERE event_type IS NOT NULL
GROUP BY event_type
ORDER BY event_type
"""


QV10_SQL = QV09_SQL.replace("'roundtrip' AS origin", "'roundtrip-batch' AS origin")


QUERIES: dict[str, QuerySpec] = {
    "qv01_validate_required": QuerySpec(qv01_validate_required, QV01_SQL, "Q-V1 required-field check"),
    "qv02_payload_parse": QuerySpec(qv02_payload_parse, QV02_SQL, "Q-V2 payload parse validation"),
    "qv03_origin_stamp": QuerySpec(qv03_origin_stamp, QV03_SQL, "Q-V3 origin stamp"),
    "qv04_ts_render": QuerySpec(qv04_ts_render, QV04_SQL, "Q-V4 envelope timestamp render"),
    "qv05_envelope_json": QuerySpec(qv05_envelope_json, QV05_SQL, "Q-V5 JSON envelope serialize"),
    "qv06_json_extract": QuerySpec(qv06_json_extract, QV06_SQL, "Q-V6 JSON payload extract"),
    "qv07_json_typed_parse": QuerySpec(qv07_json_typed_parse, QV07_SQL, "Q-V6 typed from_json parse"),
    "qv08_batch_wire_format": QuerySpec(
        qv08_batch_wire_format, QV08_SQL, "Q-V8 batch JSON-array wire format per group"
    ),
    "qv09_consume_roundtrip": QuerySpec(
        qv09_consume_roundtrip,
        QV09_SQL,
        "produce→consume wire loop: sink spool → spool_items → aggregate",
    ),
    "qv10_put_records_roundtrip": QuerySpec(
        qv10_put_records_roundtrip,
        QV10_SQL,
        "produce→consume wire loop via the batched PutRecords scale path",
    ),
}
