"""Scale probe for qp08's bounded-pass variant (r10 verdict item 4).

Generates ONLY the replicated documents table (the other tables are dead
weight for qp08 and at 1000× would cost ~10× the disk of the corpus this
probe is about), then runs qp08_canonical_map_bounded with a noop sink,
logging wall time and peak scratch usage. The monolithic plan's 1000×
history: two DNFs against this box's scratch ceiling (BASELINE.md
"qp08 at 1000×"); the bounded variant exists to close exactly that.

Usage:  python tools/qp08_bounded_probe.py [replicas] [n_passes]
"""

from __future__ import annotations

import os
import shutil
import sys
import threading
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def generate_documents(src: str, dst: str, replicas: int) -> None:
    import duckdb

    os.makedirs(dst, exist_ok=True)
    con = duckdb.connect()
    con.execute("SET preserve_insertion_order=false")
    con.execute("SET memory_limit='24GB'")
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM read_parquet('{src}/documents.parquet')"
    )
    dk = con.sql("SELECT max(doc_id)+1 FROM documents").fetchone()[0]
    rng = f"(SELECT unnest(range({replicas})) AS i)"
    # same replication recipe as tools/scale_probe.py: per-replica token
    # suffix so the dedup corpus grows with DISTINCT content instead of
    # stacking exact copies (which would measure the caps, not the plan)
    # n_chars is RECOMPUTED from the suffixed text (r12): copying the
    # original column through understated the corpus ~35% and fed the
    # derived-pass-count rule a stale statistic (first derived run used
    # 5 passes on 1.49e9 reported vs ~2.3e9 actual chars — still green,
    # see BASELINE.md, but the stat should tell the truth)
    con.execute(
        f"""COPY (SELECT doc_id + i*{dk} AS doc_id, text,
        lang, source, length(text) AS n_chars
        FROM (SELECT doc_id, i,
              array_to_string(list_transform(string_split(text, ' '),
                                             t -> t || 'x' || i::VARCHAR), ' ') AS text,
              lang, source
              FROM documents CROSS JOIN {rng}))
        TO '{dst}/documents.parquet' (FORMAT PARQUET)"""
    )


def main() -> None:
    replicas = int(sys.argv[1]) if len(sys.argv) > 1 else 300
    # n_passes: explicit override only — default None lets
    # qp08_canonical_map_bounded derive it from the corpus (r11 verdict
    # item 3; the r11 1000× green row needed a hand-picked 8)
    n_passes = int(sys.argv[2]) if len(sys.argv) > 2 else None
    src, dst = "/root/testdata/sf0.1", "/tmp/sfprobe_qp08"

    # the r11 1000× lesson, folded into the session builder so the
    # recipe runs human-free: the default 8g/32-partition session died
    # in the assign/exchange stages at ≥100× — a big probe needs the
    # heap for per-task sort buffers and the partition count to keep
    # each shuffle partition within them. A set SPARK_GRAFT_DRIVER_MEM
    # still wins.
    shuffle_partitions = None
    if replicas >= 100:
        shuffle_partitions = 256
        os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "64g")
        # scratch disk is the probe's binding resource; trade CPU for
        # ~1.5-2× smaller shuffle files (session.py knob)
        os.environ.setdefault("SPARK_GRAFT_IO_CODEC", "zstd")

    t0 = time.time()
    generate_documents(src, dst, replicas)
    print(f"generated {replicas}x documents in {time.time() - t0:.1f}s", flush=True)

    # watch peak disk usage of the root volume while the probe runs —
    # the metric the monolithic 1000× attempt died on. r13: the peak
    # alone mis-attributed the floor twice (r12 blamed the band
    # exchange; slicing it moved nothing), so the watcher now also
    # writes a timestamped per-directory series — total used, the
    # partial spool, and Spark's local dirs (blockmgr-* = shuffle +
    # localCheckpoint blocks, spark-* = everything else) — so a peak
    # can be placed in time and attributed to a stage.
    peak = {"used": 0}
    stop = threading.Event()
    series_path = "/tmp/qp08_probe_series.jsonl"
    t_series = time.time()

    def du_bytes(patterns: list[str]) -> int:
        import glob
        import subprocess

        paths = [p for pat in patterns for p in glob.glob(pat)]
        if not paths:
            return 0
        try:
            out = subprocess.run(
                ["du", "-sb", "--", *paths],
                capture_output=True,
                text=True,
                timeout=30,
            ).stdout
            return sum(int(line.split("\t")[0]) for line in out.splitlines() if line)
        except Exception:
            return 0

    def watch() -> None:
        import json as _json

        with open(series_path, "w") as fh:
            while not stop.is_set():
                u = shutil.disk_usage("/tmp").used
                peak["used"] = max(peak["used"], u)
                fh.write(
                    _json.dumps(
                        {
                            "t": round(time.time() - t_series, 1),
                            "used_gb": round(u / 1e9, 2),
                            "blockmgr_gb": round(
                                du_bytes(["/tmp/blockmgr-*"]) / 1e9, 2
                            ),
                            "spark_gb": round(du_bytes(["/tmp/spark-*"]) / 1e9, 2),
                            "spool_gb": round(
                                du_bytes(["/tmp/streamsurfer_scratch_*"]) / 1e9, 2
                            ),
                        }
                    )
                    + "\n"
                )
                fh.flush()
                stop.wait(5)

    w = threading.Thread(target=watch, daemon=True)
    w.start()
    base_used = shutil.disk_usage("/tmp").used

    from streamsurfer_spark.queries.pipeline_q import qp08_canonical_map_bounded
    from streamsurfer_spark.session import get_spark

    spark = get_spark("qp08-bounded-probe", shuffle_partitions=shuffle_partitions)
    label = n_passes
    if n_passes is None:
        # resolve the derived count up front so the log line records the
        # knob the run actually used (same rule the function applies)
        import duckdb

        from streamsurfer_spark.queries.pipeline_q import derived_qp08_passes

        chars = duckdb.sql(
            f"SELECT sum(n_chars) FROM read_parquet('{dst}/documents.parquet')"
        ).fetchone()[0]
        budget = float(os.environ.get("SPARK_GRAFT_QP08_SCRATCH_GB", "48"))
        n_passes = derived_qp08_passes(int(chars), budget)
        label = f"{n_passes} (derived from {chars:.3g} chars)"

    t0 = time.perf_counter()
    qp08_canonical_map_bounded(spark, dst, n_passes=n_passes).write.format(
        "noop"
    ).mode("overwrite").save()
    wall = time.perf_counter() - t0
    stop.set()
    w.join(timeout=10)
    print(
        f"{replicas}x qp08_canonical_map_bounded(n_passes={label}): "
        f"{wall:.1f}s; peak scratch above start "
        f"{(peak['used'] - base_used) / 1e9:.1f} GB",
        flush=True,
    )
    spark.stop()


if __name__ == "__main__":
    main()
