"""qp08's bounded-pass variant must be hash-identical to the monolithic
plan (round 11, r10 verdict item 4; band exchange sliced in round 13,
r12 verdict item 4).

The bounded variant partitions BOTH corpus-linear exchanges —
the containment family's shingle exchange into pmod(shingle, n_passes)
slices and the LSH band exchange into pmod(xxhash64(band, band_key),
n_passes) slices — spooling pair / set-size / shared-band partials
between passes — the single-box answer to the 1000× disk-ceiling DNF
recorded in BASELINE.md (and to the post-r11 ~53 GB band-exchange
floor). Correctness rests on slice self-containment (distinct, df-cap,
self-join, bucket cap, and pair expansion are all keyed on the sliced
key) and partial-sum exactness (integer counts); these tests pin the
equality at two SFs and at two pass counts, including n_passes=1 (the
degenerate case that must equal the monolithic plan trivially) and
pass counts that do NOT divide either key space evenly, plus a direct
operator-level partial-sum twin for the band path. The empirical
ContextCleaner rule the bounded scratch rests on carries a Spark-version
sentinel at the end of this file.
"""

from __future__ import annotations

import pyspark
import pytest

from tests.conftest import SF_DIR

SF_DIR_MID = "/root/testdata/sf0.01"


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


@pytest.fixture(scope="module")
def mono_sf0001(spark):
    # the monolithic reference is identical across this module's
    # sf0.001 comparisons — computing it once saves two full capstone
    # runs per suite pass (r11 verdict item 6) with zero coverage loss
    from streamsurfer_spark.queries.pipeline_q import qp08_canonical_map

    return _rows(qp08_canonical_map(spark, SF_DIR))


# n_passes=1 is NOT parametrized here: the derived-default test below
# resolves to exactly 1 pass at this SF, so the degenerate case runs
# through a strictly larger code path (the derivation aggregate + the
# 1-pass spool) every suite pass anyway (r11 verdict item 6)
def test_bounded_equals_monolithic_sf0001(spark, mono_sf0001):
    from streamsurfer_spark.queries.pipeline_q import (
        qp08_canonical_map_bounded,
    )

    bounded = _rows(qp08_canonical_map_bounded(spark, SF_DIR, n_passes=3))
    assert bounded == mono_sf0001


def test_bounded_equals_monolithic_sf001(spark):
    from streamsurfer_spark.queries.pipeline_q import (
        qp08_canonical_map,
        qp08_canonical_map_bounded,
    )

    mono = _rows(qp08_canonical_map(spark, SF_DIR_MID))
    bounded = _rows(qp08_canonical_map_bounded(spark, SF_DIR_MID, n_passes=4))
    assert bounded == mono


def test_bounded_derived_default_equals_monolithic(spark, mono_sf0001):
    """n_passes=None (the r12 default) derives the pass count from the
    corpus char volume and must reproduce the monolithic hashes — the
    no-human-in-the-loop contract of r11 verdict item 3."""
    from streamsurfer_spark.queries.pipeline_q import (
        qp08_canonical_map_bounded,
    )

    bounded = _rows(qp08_canonical_map_bounded(spark, SF_DIR))
    assert bounded == mono_sf0001


def test_lsh_band_partials_sum_to_monolithic(spark):
    """Operator-level twin for the band slice (r12 verdict item 4): the
    per-slice shared-band partials (lsh_candidate_pairs with slice_of),
    summed over a pass count that does not divide the bucket space
    evenly, must reproduce the unsliced lsh_candidate_pairs bit-for-bit
    — pair set AND counts."""
    import os
    from functools import reduce

    import pyspark.sql.functions as F

    from streamsurfer_spark.operators.dedup import lsh_candidate_pairs

    docs = spark.read.parquet(os.path.join(SF_DIR, "documents.parquet"))
    mono = _rows(lsh_candidate_pairs(docs))
    parts = [lsh_candidate_pairs(docs, slice_of=(p, 5)) for p in range(5)]
    summed = (
        reduce(lambda a, b: a.unionByName(b), parts)
        .groupBy("doc_a", "doc_b")
        .agg(F.sum("n_shared_bands").alias("n_shared_bands"))
    )
    assert _rows(summed) == mono
    # slice disjointness: no (pair, band) is double-counted, so the
    # per-slice pair multisets are disjoint only in BANDS, but each
    # slice's pair rows are already grouped — total partial rows ≥ pair
    # count, with equality iff no pair spans slices
    assert sum(p.count() for p in parts) >= len(mono)


def test_derived_pass_count_rule():
    """The derivation rule itself: reproduces the r11 1000× green
    operating point (~2.3e9 chars → 8 passes at the 48 GB default
    budget), collapses to 1 at fixture scale, floors at 1 on an empty
    corpus, and scales inversely with the budget."""
    from streamsurfer_spark.queries.pipeline_q import derived_qp08_passes

    assert derived_qp08_passes(2_300_000_000, 48.0) == 8
    assert derived_qp08_passes(1_485_576, 48.0) == 1  # sf0.1 census
    assert derived_qp08_passes(0, 48.0) == 1
    # half the scratch → twice the passes (same estimated exchange)
    assert derived_qp08_passes(2_300_000_000, 24.0) == 16


# EMPIRICAL RULE (pipeline_q.qp08_canonical_map_bounded): after the
# last Python references to a pass's DataFrames are dropped, a
# `spark.sparkContext._jvm.System.gc()` call makes ContextCleaner
# enqueue the dead ShuffleDependency cleanups promptly enough that the
# pass's shuffle files are deleted BEFORE the next pass writes its own
# — the property the bounded-scratch claim rests on (r11 1000× probe:
# 54.8 GB peak vs two monolithic DNFs; without the GC the passes'
# scratch ADDS). Observed behavior, not documented API — ContextCleaner
# is driven by JVM weak-reference processing, and `_jvm` itself is a
# private py4j surface that a Spark release may rename or gate.
#
# On upgrade: re-run tools/qp08_bounded_probe.py at a replica count
# big enough that per-pass scratch is visible (≥100×) and confirm
# scratch plateaus per-pass instead of climbing monotonically; then
# bump the pin.
_CONTEXTCLEANER_GC_RULE_DERIVED_ON = "4.1.2"


def test_contextcleaner_gc_rule_spark_version_sentinel():
    """Fail LOUDLY on a Spark version change instead of letting the
    bounded-pass scratch bound silently stop holding (or the private
    `_jvm` access start raising) — see the rule note above."""
    assert pyspark.__version__ == _CONTEXTCLEANER_GC_RULE_DERIVED_ON, (
        f"Spark version changed ({pyspark.__version__} != "
        f"{_CONTEXTCLEANER_GC_RULE_DERIVED_ON}): the ContextCleaner-"
        "promptness-after-System.gc() rule and the private _jvm access "
        "in qp08_canonical_map_bounded were derived empirically on "
        f"{_CONTEXTCLEANER_GC_RULE_DERIVED_ON} — re-verify per the rule "
        "note, then bump the pin."
    )
