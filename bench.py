"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR (default sf0.1).

Every row in BENCH_QUERIES runs three times through the noop sink (full
computation, all operators, no collect/driver materialization) and records
the median, so no single noisy reading stands for a row.

Prints ONE JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec, ...}, "sf": ...}, plus "errors" / "rerun_errors"
only on a broken run — consumed by the round driver (BENCH_r{N}.json).
Exits 1 when any row failed its first run.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
from collections.abc import Callable
from functools import partial
from time import perf_counter

BENCH_QUERIES = (
    # relational core (BASELINE.md gate set)
    "qr02_filter_agg",
    "qr04_multiway_join",
    "qr06_hash_agg_q1",
    "qr10_window_rank",
    "qr12_topk",
    # LLM-pipeline extensions
    "ql01_exact_dedup",
    "ql02_minhash_lsh_pairs",
    "ql03_cosine_topk",
    "ql14_ivf_topk",
    # streaming twin (batch mode)
    "qs02_tumbling_window",
    # time-series joins + sessionization
    "qt01_asof_last_click",
    "qt03_sessionize",
    # text analysis
    "ql22_tfidf_top_terms",
    # round-1 extensions: TPC-H Q3 shape, MERGE upsert, OHLC bars, bigrams
    "qr38_shipping_priority",
    "qr42_upsert_snapshot",
    "qt05_ohlc_bars",
    "ql27_bigram_collocations",
    # late round-1 extensions: big-big join (Q7), one-scan quality gate
    "qr48_nation_volume",
    "qr50_expectations_orders",
    # composed capstone
    "qp01_curation_report",
    # round-2 extensions: the three execution modes not timed above —
    # iterative fixpoint (ql23), a REAL stateful stream run (qs08), and
    # Arrow-batched mapInPandas (ql07b)
    "ql23_dedup_clusters",
    "qs08_stream_sessions",
    "ql07b_multimodal_features",
    # round-3 extensions: curation survivor pick (CC + max_by) and the
    # map-only temperature mixture sample
    "ql34_cluster_representatives",
    "ql35_domain_mixture",
    # round-3 second wave: unigram-LM scoring (token-keyed join), exact-int
    # Lloyd k-means (iterative broadcast argmin), LOCF time-weighted average
    "ql36_unigram_surprisal",
    "ql38_kmeans_clusters",
    "qt09_time_weighted_avg",
    # IVF-PQ build capstone (k-means coarse + residual PQ, one composed plan)
    "qp03_ivfpq_build_report",
    # per-domain quality dashboard (3 corpus passes joined per doc)
    "qp04_quality_dashboard",
    # round-4 extensions: retrieval family regression tracking (BM25 heap
    # top-k; hybrid RRF fusion), the bidirectional nearest-event join, and
    # the ANN recall evaluation (exact + IVF paths in one plan)
    "ql32_bm25_topk",
    "ql42_hybrid_rrf",
    "qt10_nearest_error",
    "ql43_ann_recall",
    # round-4 second wave: split-leakage audit and the export-manifest
    # capstone (the full curate→decontaminate→split→shard composition)
    "ql44_split_leakage",
    "qp05_export_manifest",
    # round-4 third wave: DSIR importance scoring (one-pass bucket models),
    # the SemDeDup composition (k-means + within-cell pairs + CC), and the
    # cross-snapshot novelty anti-join (two hashed-shingle passes)
    "ql46_dsir_importance",
    "qp06_semdedup_report",
    "ql50_snapshot_novelty",
    # capstone 7: the 4-stage selection recipe (dedup → DSIR → tertile cut
    # → temperature targets)
    "qp07_training_mix",
    # capstone 8: the unified canonical-duplicate map (exact ∪ LSH ∪
    # containment edges → connected components)
    "qp08_canonical_map",
    # round-5 extensions: the adaptive-bucket-space LSH pair path, the
    # manifest-checkpoint training mix (qp07's 100 TB formulation), and
    # the incremental streaming LSH dedup (real 3-batch run + replay)
    "ql10_lsh_ann_pairs",
    "qp07b_training_mix_manifest",
    "qs15_stream_lsh_dedup",
    # round-8 extensions: the SCD2 dimension build (two same-key windows,
    # one exchange) and the embedding-dimension correlation diagnostic
    # (exact-int moments + 28-pair broadcast crossJoin)
    "qt15_scd2_user_state",
    "ql57_embedding_corr",
    # round-8 extensions (2nd batch): the character-entropy quality
    # signal (the per-char explode is the cost driver — it must stay
    # bounded by map-side combine to |alphabet| rows/doc) and the
    # SimHash pigeonhole pair search (capped band-bucket self-join)
    "ql58_char_entropy",
    "ql60_simhash_hamming",
    "qp09_intake_gate",
    # round-8 continuation: the waterfall capstone (per-signal corpus
    # scans + the ql60 pair stage over survivors) and the silhouette
    # pass (the per-row DECIMAL lambda is the cost driver to track —
    # BASELINE.md r8-continuation rows)
    "qp10_retention_waterfall",
    "ql62_label_silhouette",
)


def _error(ex: Exception) -> str:
    return f"{type(ex).__name__}: {ex}"[:300]


def time_row(
    run_once: Callable[[], object],
) -> tuple[float | None, str | None, str | None]:
    """Time three calls of ``run_once``; return (median sec, error, rerun error).

    An error on the first call voids the row (median None). An error on a
    later call stops the row, which keeps the median of the runs it has.
    """
    runs: list[float] = []
    for _ in range(3):
        t0 = perf_counter()
        try:
            run_once()
        except Exception as ex:  # noqa: BLE001 — one broken query (e.g. a
            # fixture-layout change) must not void the whole bench record
            if not runs:
                return None, _error(ex), None
            return round(statistics.median(runs), 3), None, _error(ex)
        runs.append(perf_counter() - t0)
    return round(statistics.median(runs), 3), None, None


def record(
    times: dict[str, float],
    sf_dir: str,
    errors: dict[str, str],
    rerun_errors: dict[str, str],
) -> dict:
    """The final stdout record; ``errors``/``rerun_errors`` only when non-empty."""
    sf = os.path.basename(sf_dir.rstrip("/")).removeprefix("sf")
    try:
        sf_val: float | str = float(sf)
    except ValueError:
        sf_val = sf
    out = {
        "metric": "bench_total_wall",
        "value": round(sum(times.values()), 3),
        "unit": "sec",
        "queries": times,
        "sf": sf_val,
    }
    if errors:
        out["errors"] = errors
    if rerun_errors:
        out["rerun_errors"] = rerun_errors
    return out


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    from streamsurfer_spark.queries import registry
    from streamsurfer_spark.session import get_spark

    spark = get_spark("streamsurfer-bench")
    reg = registry()

    def run_once(name: str) -> None:
        # construction is inside the clock: iterative queries (ql23) and
        # real stream runs (qs08) execute jobs while BUILDING the frame,
        # not just when it is written; for ordinary queries this adds only
        # plan-analysis milliseconds. Queries that persist an intermediate
        # (k-means' quantized corpus) leave it cached; a rerun would reuse
        # the previous run's blocks and skip its scan, so drop them first
        spark.catalog.clearCache()
        reg[name].spark(spark, sf_dir).write.format("noop").mode("overwrite").save()

    # warm the JVM/codegen path so per-query numbers measure the plan, not
    # first-run classloading: two passes — measured cold/warm/steady on
    # qr02 was 4.7 s / 0.43 s / 0.37 s, i.e. the SECOND execution still
    # carries ~15% JIT/GC residue that lands on whichever query runs first
    for _ in range(2):
        run_once("qr02_filter_agg")

    times: dict[str, float] = {}
    errors: dict[str, str] = {}
    rerun_errors: dict[str, str] = {}
    for name in BENCH_QUERIES:
        sec, error, rerun_error = time_row(partial(run_once, name))
        if sec is not None:
            times[name] = sec
        if error:
            errors[name] = error
        if rerun_error:
            rerun_errors[name] = rerun_error

    print(json.dumps(record(times, sf_dir, errors, rerun_errors)))
    spark.stop()
    if errors:
        sys.exit(1)


if __name__ == "__main__":
    sys.exit(main())
