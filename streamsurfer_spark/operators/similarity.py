"""Similarity search over embedding columns (SURVEY §2.3 D, Q-L3).

No counterpart in the reference (/root/reference/main.go:1-312 has no vector
or similarity logic — SURVEY §2.2); engine-side capability for the 100 TB
north star.

Two tiers, as the task demands:

- **Brute-force cosine top-k** (the correctness baseline): probes × corpus
  dot products as pure column expressions (zip_with + aggregate — JVM
  codegen, no Python). The probe side is broadcast, so the corpus scan
  never shuffles; per-probe top-k is a window over a key with bounded
  cardinality. Exact, O(|probes|·n) — fine when probes are few.

- **Random-hyperplane LSH buckets** (the scale path): r seeded integer
  hyperplanes → sign bits → 2^r buckets; near-dup / ANN search only joins
  within a bucket, turning O(n²) into O(Σ bucket²). Plane weights derive
  from the portable md5 hash so the DuckDB oracle reproduces them exactly.

Scale notes: both paths are shuffle-minimal — brute force shuffles only for
the final top-k window (keyed by probe id); LSH shuffles on uniform bucket
ids. The pair path is bounded structurally on two axes: the BUCKET SPACE
grows with the corpus (`lsh_planes_for` derives the plane count so the
expected bucket size stays constant — measured 95.3 s → 13.9 s at the
10× probe, matching the n²/buckets work model), and bucket MEMBERSHIP
is capped at LSH_ANN_BUCKET_CAP with a WindowGroupLimit that prunes
before the exchange, so even an adversarial bucket (mass near the
hyperplanes, mega-duplicated vectors) cannot go quadratic. Residual
moderate skew is handled by AQE skew-join at runtime.
"""

from __future__ import annotations

import pandas as pd
import pyspark.sql.functions as F
import pyspark.sql.types as T
from pyspark.sql import DataFrame, Window
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import DoubleType

from streamsurfer_spark.functions.hashing import md5_long64_py
from streamsurfer_spark.functions.pairs import grouped_pair_expand
from streamsurfer_spark.functions.rounding import scaled_round
from streamsurfer_spark.session import arrow_enabled

N_PLANES = 8
DIM = 64

DOT_EXPR = (
    "aggregate(zip_with({a}, {b}, (x, y) -> cast(x as double) * cast(y as double)),"
    " cast(0.0 as double), (acc, v) -> acc + v)"
)
# Exact integer L2² between two ×1000-quantized vectors — the ONE distance
# formula shared by ivf_assign / ivf_topk / clustering (a drift between
# byte-identical copies would silently split the assign and report paths)
DIST_SQ_EXPR = (
    "aggregate(zip_with({a}, {b}, (x, y) -> (x - y) * (x - y)),"
    " cast(0 as bigint), (acc, v) -> acc + v)"
)
NORM_EXPR = (
    "sqrt(aggregate(transform({a}, x -> cast(x as double) * cast(x as double)),"
    " cast(0.0 as double), (acc, v) -> acc + v))"
)


# --- unrolled codegen fast paths (r13, optimization guide §4.1) -------------
#
# Spark's higher-order functions (zip_with / transform / aggregate) are
# CodegenFallback: the lambda evaluates INTERPRETED per element, so every
# dot/norm in the O(pairs·d) cosine stages pays a per-element interpreter
# constant. For the engine's standard width (DIM) the same arithmetic is
# emitted as an unrolled left-associative product chain — plain codegen
# multiply/adds — guarded by an O(1) size() check that falls back to the
# HOF form for any other width. Bit-identical by construction: the chain
# starts from the same literal 0.0 and adds the same correctly-rounded
# float64 products in the same order as the HOF accumulator (so -0.0,
# NULL-element poisoning, and NaN propagation all reproduce), and the
# CASE guard evaluates lazily so ANSI out-of-bounds indexing is
# unreachable. Measured at 2M evals of the sf0.1 embeddings (noop sink,
# best-of-3): dot 0.741 → 0.445 s (1.67×), norm 0.525 → 0.411 s (1.28×)
# — probe recorded in OPTIMIZATION_r13.md; pinned bitwise against the
# HOF forms by tests/test_properties_r13.py (NULL/NaN/-0.0/ragged).


def _unrolled_sum_sql(terms: list[str]) -> str:
    e = "cast(0.0 as double)"
    for t in terms:
        e = f"({e} + {t})"
    return e


def dot_sql(a: str, b: str, dim: int = DIM, unroll: bool = True) -> str:
    """DOT_EXPR with the unrolled fast path for width ``dim``.

    ``a``/``b`` must be plain column names (the unroll references each
    64 times). ``unroll=False`` returns the plain HOF form — bit-identical
    output (the unroll reproduces the HOF accumulator order exactly); use
    it at call sites whose row count is small enough that the unroll's
    fixed codegen-compile cost outweighs the per-element interpreter
    saving (measured on ql42: three 64-term unrolls over one ~O(n_vec)
    projection ran ~1.2× slower than the HOF forms, r14 A/B)."""
    hof = DOT_EXPR.format(a=a, b=b)
    if not unroll:
        return f"({hof})"
    unrolled = _unrolled_sum_sql(
        [
            f"(cast({a}[{i}] as double) * cast({b}[{i}] as double))"
            for i in range(dim)
        ]
    )
    return (
        f"(CASE WHEN size({a}) = {dim} AND size({b}) = {dim}"
        f" THEN {unrolled} ELSE {hof} END)"
    )


def norm_sql(a: str, dim: int = DIM, unroll: bool = True) -> str:
    """NORM_EXPR with the unrolled fast path for width ``dim``.

    ``unroll=False`` as in :func:`dot_sql`."""
    hof = NORM_EXPR.format(a=a)
    if not unroll:
        return f"({hof})"
    unrolled = _unrolled_sum_sql(
        [
            f"(cast({a}[{i}] as double) * cast({a}[{i}] as double))"
            for i in range(dim)
        ]
    )
    return f"(CASE WHEN size({a}) = {dim} THEN sqrt({unrolled}) ELSE {hof} END)"


def checked_dot(a: str, b: str, unroll: bool = True):
    """DOT_EXPR with a loud dimension guard for the exact cosine paths.

    ``zip_with`` PADS the shorter array with NULLs (it does not truncate),
    so a dimension mismatch (a 768-d probe against a 64-d corpus) makes
    the dot aggregate NULL, the similarity NULL, and every downstream
    threshold filter silently drop the pair — plausible garbage with no
    error (r7 review). The guard compares ``size()`` (O(1) metadata, not
    a scan of the arrays) and raise_error()s with both widths on the
    first mismatched pair.

    A NULL vector also lands in the error branch — but ``size(NULL)`` is
    NULL, so the naive guard both mis-routed on a NULL condition and
    rendered a NULL concat message: the job died with an opaque
    null-message error that looked like a dim mismatch (r8 advice). The
    dot branch therefore requires explicit ``isNotNull`` on BOTH columns
    (never a coalesced-size equality, which would route two NULLs into
    the dot branch as "equal"), and the message coalesces each size to
    the literal string ``NULL``, so a NULL embedding fails loudly AND
    self-explanatorily.
    """
    size_a = F.size(F.col(a))
    size_b = F.size(F.col(b))
    return F.when(
        F.col(a).isNotNull() & F.col(b).isNotNull() & (size_a == size_b),
        F.expr(dot_sql(a, b, unroll=unroll)),
    ).otherwise(
        F.raise_error(
            F.concat(
                F.lit("cosine: embedding dims differ (NULL = missing vector): "),
                F.coalesce(size_a.cast("string"), F.lit("NULL")),
                F.lit(" vs "),
                F.coalesce(size_b.cast("string"), F.lit("NULL")),
            )
        )
    )


def plane_weights(n_planes: int = N_PLANES, dim: int = DIM) -> list[list[int]]:
    """Deterministic integer hyperplane weights in [-1000, 1000].

    Derived from the portable md5 hash of 'plane:p:d' so Spark, DuckDB, and
    Python all reproduce the identical planes (no RNG state to ship).
    Plane p's weights depend only on p, so widening the plane count keeps
    the existing planes' bits unchanged (buckets refine, never reshuffle).
    """
    return [
        [md5_long64_py(f"plane:{p}:{d}") % 2001 - 1000 for d in range(dim)]
        for p in range(n_planes)
    ]


# Adaptive plane count for the pair path: with a FIXED 2^8 bucket space,
# total pair work is O(n²/256) — quadratic, merely rescaled — until the
# per-bucket cap saturates (at which point recall collapses instead).
# The honest scale knob is the BUCKET COUNT: grow the plane count with the
# corpus so the expected bucket size stays ~LSH_TARGET_BUCKET_DOCS, the
# same design as centroid_modulus for IVF. Thresholds are chosen so every
# fixture scale (n ≤ 2000 at sf0.1; derived count is 8 up to n = 2048)
# keeps the historical 8 planes — ql10's oracle twin pins 8 planes and
# stays hash-identical at the gate scales. Measured at the 10× probe
# (n = 20000 → 12 planes): 95.3 s → 13.9 s, tracking the n²/2^r work
# model (100×/16 ≈ 6.3× vs sf0.1) — BASELINE.md round-5 section.
LSH_TARGET_BUCKET_DOCS = 8
LSH_MAX_PLANES = 24  # 16.7M buckets; past this the bucket space stops
# growing and the per-bucket cap (LSH_ANN_BUCKET_CAP) is the remaining
# guard — at 1e9 vectors E[bucket] ≈ 60, still far under the cap


def lsh_planes_for(n_vectors: int) -> int:
    """Plane count targeting E[bucket size] ≈ LSH_TARGET_BUCKET_DOCS."""
    import math

    if n_vectors <= 0:
        return N_PLANES
    r = math.ceil(math.log2(max(n_vectors / LSH_TARGET_BUCKET_DOCS, 1.0)))
    return min(max(r, N_PLANES), LSH_MAX_PLANES)


N_TOPK_SALTS = 16


def topk_per_key(
    df: DataFrame,
    key_col: str,
    order_cols: list,
    k: int,
    salt_src: str,
    rank_col: str = "rk",
    n_salts: int = N_TOPK_SALTS,
) -> DataFrame:
    """Two-stage (salted) top-k per key — no single task ever holds a key's
    full candidate set.

    Stage 1 ranks within (key, salt) where salt = hash(salt_src) % n_salts,
    so a key with n candidates sorts as n_salts tasks of ~n/n_salts rows;
    Spark's WindowGroupLimit prunes each partition to k rows *before* the
    shuffle. Stage 2 re-ranks the surviving ≤ k·n_salts rows per key — a
    bounded-size window regardless of corpus scale. The result is exactly
    the global top-k (any row in the global top-k is within its salt's
    top-k), so oracles computing the direct window hash-match.

    order_cols must be a deterministic total order (e.g. desc(sim) then id)
    — required anyway for cross-engine reproducibility.
    """
    w1 = Window.partitionBy(key_col, "_salt").orderBy(*order_cols)
    w2 = Window.partitionBy(key_col).orderBy(*order_cols)
    return (
        df.withColumn("_salt", F.pmod(F.xxhash64(F.col(salt_src)), F.lit(n_salts)))
        .withColumn("_rk1", F.row_number().over(w1))
        .where(F.col("_rk1") <= k)
        .withColumn(rank_col, F.row_number().over(w2))
        .where(F.col(rank_col) <= k)
        .drop("_salt", "_rk1")
    )


def cosine_topk(
    corpus: DataFrame,
    probes: DataFrame,
    k: int = 5,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    probe_cols: tuple[str, ...] = (),
    corpus_cols: tuple[str, ...] = (),
    pair_cond=None,
) -> DataFrame:
    """Exact top-k cosine neighbors per probe: (probe_id, vec_id, sim, rk).

    probes is broadcast (it is small by contract) → the corpus-side scan is
    shuffle-free. The per-probe top-k is the two-stage salted window
    (``topk_per_key``): stage 1 keys on (probe_id, hash(vec_id) % 16) so no
    single task sorts a probe's full candidate list at 100× corpus scale;
    stage 2 ranks the ≤ k·16 survivors. Ties broken by neighbor id on the
    ROUNDED similarity so ranking is reproducible across engines.

    ``corpus_cols`` carry extra corpus-side columns through to the output;
    ``probe_cols`` exist ONLY for use inside ``pair_cond`` (they are
    prefixed ``probe_`` in the join and dropped after it — they do NOT
    reach the result). ``pair_cond`` replaces the default self-pair
    exclusion with any predicate over the joined columns — the hook the
    hard-negative (label mismatch) and multimodal (modality match)
    retrieval queries use without duplicating this scaffolding.
    """
    # norms factored out pre-join: computed once per row instead of once
    # per (probe, corpus) pair — 2/3 less arithmetic in the O(p·n) stage
    # HOF (non-unrolled) dot/norm forms throughout this operator: the dot
    # sits in the projection ON the BroadcastNestedLoopJoin output, where
    # the unrolled 64-term CASE measured SLOWER than the HOF aggregate at
    # the query level (r14 interleaved A/B, outputs row-identical:
    # ql03 HOF median 1.26 s vs unrolled 2.25 s, ql43 2.92 vs 4.28 —
    # ql43's r12→r13 creep attributes to the r13 unroll landing here).
    # The unroll stays on the capped block/bucket pair stages, whose
    # grouped-expand projections showed it flat-to-positive (qp06 A/B).
    p = probes.select(
        F.col(id_col).alias("probe_id"),
        *[F.col(c).alias(f"probe_{c}") for c in probe_cols],
        F.col(vec_col).alias("probe_vec"),
        F.expr(norm_sql(vec_col, unroll=False)).alias("probe_nrm"),
    )
    c = corpus.select(
        F.col(id_col),
        *corpus_cols,
        F.col(vec_col),
        F.expr(norm_sql(vec_col, unroll=False)).alias("corpus_nrm"),
    )
    cond = pair_cond if pair_cond is not None else F.col(id_col) != F.col("probe_id")
    joined = c.join(F.broadcast(p), cond)
    dot = checked_dot("probe_vec", vec_col, unroll=False)
    # try_divide + explicit NULL exclusion: cosine is UNDEFINED against a
    # zero-norm vector, and the raw division ANSI-raised DIVIDE_BY_ZERO
    # (killing the whole job on one degenerate embedding) while the
    # DuckDB twins' x/0 = NULL would have RANKED the NULL row — the r9
    # deep fuzz produced exactly this with a planted zero vector. A NULL
    # sim never ranks, on either engine (the twins carry the same
    # `sim IS NOT NULL` guard).
    sims = joined.select(
        "probe_id",
        F.col(id_col),
        *corpus_cols,
        scaled_round(
            F.try_divide(dot, F.col("probe_nrm") * F.col("corpus_nrm"))
        ).alias("sim"),
    ).where(F.col("sim").isNotNull())
    return topk_per_key(
        sims, "probe_id", [F.desc("sim"), F.col(id_col)], k, salt_src=id_col
    ).select("probe_id", id_col, *corpus_cols, "sim", "rk")


# Per-block membership cap for the exact cosine pair expansion — the same
# guard lsh_candidate_pairs applies to hash buckets (LSH_BUCKET_CAP) and the
# Jaccard path applies to shingle df: a block of b rows emits b·(b-1)/2
# pairs, so one dominant block key (a hot label, one giant shard) makes a
# single join key quadratic at 100 TB. 1000 is far above any fixture block
# (max 218 at sf0.1, so sf≤0.1 hashes are unchanged) yet hard-bounds the
# worst block to ~500k pairs. Overflow policy: keep the `cap` smallest ids
# per block (deterministic), enforced by a row_number window whose
# WindowGroupLimit prunes every map partition BEFORE the exchange. The cap
# must stay ≤ spark.sql.optimizer.windowGroupLimitThreshold (default 1000):
# above it Spark does NOT insert the WindowGroupLimit and the hot block
# would materialize on one reducer before the filter (pinned by
# tests/test_properties_r4.py::test_cosine_block_cap_plan_prunes_before_exchange).
COSINE_BLOCK_CAP = 1000


def cosine_near_dup_pairs(
    df: DataFrame,
    threshold: float,
    block_col: str = "label",
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    block_cap: int = COSINE_BLOCK_CAP,
) -> DataFrame:
    """Exact embedding-cosine near-duplicate pairs within blocks.

    The exact sibling of ``lsh_near_pairs``: all pairs sharing ``block_col``
    whose cosine similarity (scaled-integer rounded to 4 dp — tie-proof
    across engines, see functions/rounding.py) reaches ``threshold``.
    Returns (id_a, id_b, sim) with id_a < id_b.

    Scale notes: the pair stage is keyed on the block column, so cost is
    O(Σ min(block, cap)²), not O(n²) — the same blocking argument as LSH,
    but with a semantic block (label/near-dup cluster/shard) instead of a
    hash bucket, and the same hard cap on pathological keys
    (``block_cap``; see COSINE_BLOCK_CAP). Norms are computed once per row
    BEFORE the pair stage (2/3 less arithmetic in the quadratic part); AQE
    splits residual skew below the cap.

    The pair expansion is ``grouped_pair_expand`` (single evaluation of
    the normed/capped input, groupBy reusing the cap window's exchange)
    rather than a block-keyed self-join — the join form evaluated the
    whole input subtree TWICE (r13, guide §2.4; for qp06 that subtree is
    the k-means broadcast-argmin assign over the corpus).
    """
    w = Window.partitionBy("_blk").orderBy(id_col)
    normed = (
        df.select(
            F.col(id_col),
            F.col(block_col).alias("_blk"),
            F.col(vec_col),
            F.expr(norm_sql(vec_col)).alias("_nrm"),
        )
        .withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") <= block_cap)
        .drop("_rn")
    )
    flat = grouped_pair_expand(normed, ["_blk"], [id_col, vec_col, "_nrm"]).select(
        F.col(f"_pa.{id_col}").alias("id_a"),
        F.col(f"_pb.{id_col}").alias("id_b"),
        F.col(f"_pa.{vec_col}").alias("_va"),
        F.col(f"_pb.{vec_col}").alias("_vb"),
        F.col("_pa._nrm").alias("_na"),
        F.col("_pb._nrm").alias("_nb"),
    )
    dot = checked_dot("_va", "_vb")
    return (
        flat.select(
            "id_a",
            "id_b",
            # try_divide: a zero-norm vector is a near-dup of NOTHING by
            # cosine — NULL sim fails the threshold on both engines
            # (DuckDB x/0 = NULL likewise), where the raw division
            # ANSI-raised on one degenerate row (r9 deep-fuzz class)
            scaled_round(F.try_divide(dot, F.col("_na") * F.col("_nb"))).alias("sim"),
        )
        .where(F.col("sim") >= threshold)
    )


@pandas_udf(DoubleType())
def l2_norm_udf(emb: pd.Series) -> pd.Series:
    """Vectorized L2 norm — the Q-L6 pandas_udf surface.

    Arrow hands each batch as a Series of numpy arrays; summing per row in
    float64 matches the built-in `aggregate` expression bit-for-bit at
    fixture dims (both accumulate in IEEE double).
    """
    import numpy as np

    return emb.map(
        lambda v: float(np.sqrt(np.add.reduce(np.asarray(v, dtype="float64") ** 2)))
    )


def lsh_buckets(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n_planes: int = N_PLANES,
) -> DataFrame:
    """Assign each vector a 2^n_planes-way LSH bucket: (id, vec, bucket).

    Per-row expression only — the bucket id is computed inside codegen, no
    shuffle, no Python. sign(dot(plane, v)) per plane → bit → packed int.

    The plane weights are generated for exactly DIM dimensions; zip_with
    pads the SHORTER array with NULLs, so a corpus whose embedding width
    differs from DIM (say a 768-d production model vs the 64-d planes)
    would aggregate NULL dots, every sign test would come out false, and
    all vectors would land in bucket 0 — wrong, silently.
    The bucket expression therefore guards on size(vec) = DIM and
    raise_error()s per row otherwise: a mismatched corpus fails loudly on
    the first batch instead of producing plausible garbage.
    """
    # NOT unrolled (r13): 8 planes × DIM terms is ~512 multiply-adds —
    # unrolling them blew the fused stage past the JVM's 64 KB method
    # limit in ql10's bucket+pair plan ("Code grows beyond 64 KB",
    # whole-stage codegen then falls back to INTERPRETED execution for
    # the entire stage, a net loss). The bucket pass is O(n) rows while
    # the dot/norm unrolls ride the O(pairs) stages, so the HOF form
    # here costs little and keeps every stage's generated method small.
    bits = []
    for p, weights in enumerate(plane_weights(n_planes)):
        arr = f"array({', '.join(str(w) for w in weights)})"
        dot = DOT_EXPR.format(a=arr, b=vec_col)
        bits.append(f"(CASE WHEN {dot} > 0 THEN {1 << p} ELSE 0 END)")
    bucket = " + ".join(bits)
    guarded = (
        f"CASE WHEN size({vec_col}) = {DIM} THEN {bucket} "
        f"ELSE CAST(raise_error(CONCAT('lsh_buckets: embedding dim ', "
        f"CAST(size({vec_col}) AS STRING), ' != plane DIM {DIM}')) AS INT) END"
    )
    return df.select(F.col(id_col), F.col(vec_col), F.expr(guarded).alias("bucket"))


QUANT_SCALE = 1000
IVF_CENTROID_MOD = 250  # every 250th vector serves as a coarse centroid
IVF_NPROBE = 2
# Hard ceiling on the centroid count, independent of corpus size: the
# centroid table must stay broadcastable (65536 × 64 dims × 8 B ≈ 34 MB)
# and the per-row assign cost must stay bounded. Between the fixture
# regime and this ceiling the count grows ~4·√n (the classic IVF sizing:
# assign work n·k is then n^1.5, never quadratic — see centroid_modulus).
IVF_MAX_CENTROIDS = 65536
# Corpus size up to which the sampling modulus stays pinned at
# IVF_CENTROID_MOD (every gate/sim/fuzz fixture and the recorded ≤30×
# probes sit far below this, so oracle literals and recorded hashes never
# move). Chosen as the crossover where the fixed-modulus count n/250
# meets the √-regime count 4·√n: n/250 = 4·√n → n = 1e6.
IVF_SQRT_REGIME = 1_000_000


def quantize(df: DataFrame, vec_col: str = "embedding") -> DataFrame:
    """Scalar-quantize the embedding to integers (×1000, rounded).

    All downstream IVF math (distances, dots, norms) is then exact integer
    arithmetic → bit-identical across Spark/DuckDB/numpy regardless of
    summation order. This mirrors production IVF practice (scalar/product
    quantization for the coarse stage, full precision only for re-rank).
    """
    # cast to double BEFORE scaling: float32 multiply would round at a
    # different precision than the oracle's double multiply
    return df.withColumn(
        "qv",
        F.expr(
            f"transform({vec_col}, x -> cast(round(cast(x as double) * {QUANT_SCALE}) as bigint))"
        ),
    )


def embedding_corr_pairs(
    df: DataFrame,
    top_dims: int = 8,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Pairwise Pearson correlation between the highest-variance embedding
    dimensions — the drift/collapse diagnostic a training pipeline runs
    over an embedding column (two near-duplicate dimensions ⇒ wasted
    capacity; a dimension suddenly correlated with everything ⇒ collapse).

    Two-pass shape, both passes corpus-linear:

    1. per-dimension moments over the ×1000-quantized vectors (posexplode
       → partial-aggregating groupBy on ≤ dim groups); the ``top_dims``
       dimensions by exact integer variance numerator n·Σq² − (Σq)²
       (deterministic tiebreak on dim) form the report set.
    2. the pair products: the corpus crossJoins the ≤ C(top_dims, 2)-row
       broadcast pair frame and partial-aggregates Σ qᵢ·qⱼ per pair — a
       map-only pass whose shuffle is 28 rows per partition, NO join on
       the row id (the naive formulation shuffles 8n rows on doc id).

    Numerics: every quantized value is cast to DECIMAL(38,0) BEFORE the
    sums (the aggregation buffers themselves are decimal — a BIGINT
    buffer would hit ANSI ARITHMETIC_OVERFLOW once Σqd² passes 2^63,
    i.e. exactly the large-corpus regime this diagnostic targets), so
    the correlation numerator n·Σqᵢqⱼ − Σqᵢ·Σqⱼ is exact at any corpus
    size; the only float ops are two sqrts, one multiply, one division.
    Cross-engine bit-parity additionally needs the sqrt arguments
    integer-exact in double (≤ 2^53) — true through n ≈ 3·10⁶ rows at
    QUANT_SCALE=1000, far past every gate SF. A constant dimension makes
    the denominator 0 → NULL corr on both engines: try_divide, because
    ANSI mode raises DIVIDE_BY_ZERO even for double division (the error
    fires before scaled_round's non-finite guard could null a NaN), and
    DuckDB 1.0's x/0 is NULL — which try_divide mirrors exactly.

    NULL embeddings loud-fail (Spark side): the moments pass (posexplode
    drops NULL arrays) and the pair pass (count(*) counts every row)
    would otherwise disagree on n and bias EVERY correlation with no
    error — and the DuckDB twin shares the bias, so the cross-engine
    gate could never catch it. Ragged dims likewise fail loudly via
    ANSI element_at bounds. The twin does not replicate the raise (the
    gate fixture has no NULL embeddings; error behavior is not hashed).

    Returns (dim_i, dim_j, n_rows, corr), dim_i < dim_j, 0-based dims.
    """
    q = quantize(df, vec_col).select(
        id_col,
        F.when(F.col("qv").isNotNull(), F.col("qv"))
        .otherwise(
            F.raise_error(
                F.concat(
                    F.lit("embedding_corr: NULL embedding at id="),
                    F.coalesce(F.col(id_col).cast("string"), F.lit("NULL")),
                )
            )
        )
        .alias("qv"),
    )
    dec = "decimal(38,0)"
    ex = q.select(F.posexplode("qv").alias("dim", "qd"))
    qd_dec = F.col("qd").cast(dec)
    stats = ex.groupBy("dim").agg(
        F.count("*").cast(dec).alias("n"),
        F.sum(qd_dec).alias("s"),
        F.sum(qd_dec * qd_dec).alias("ss"),
    )
    stats = stats.withColumn(
        "var_num", F.col("n") * F.col("ss") - F.col("s") * F.col("s")
    )
    top = stats.orderBy(F.desc("var_num"), "dim").limit(top_dims)
    # the ≤ top_dims-row frame feeds FOUR plan references (two self-join
    # legs × two consumers); without materialization each reference
    # re-executes the full corpus explode+aggregate (4 scans, measured in
    # the executed plan). A LAZY localCheckpoint runs the moments pass
    # once at the first consuming job and persists the blocks for the
    # rest (measured: same single scan as eager) — lazy so that merely
    # BUILDING this frame (plan audits, drivers constructing all frames
    # up front) runs no corpus job; the checkpoint RDD is released by the
    # ContextCleaner when the frame is garbage-collected. Both downstream
    # joins stay explicit broadcasts, so the persist-hides-AQE-stats trap
    # does not apply.
    top = top.localCheckpoint(eager=False)
    a = top.select(
        F.col("dim").alias("dim_i"),
        F.col("s").alias("s_i"),
        F.col("var_num").alias("vn_i"),
    )
    b = top.select(
        F.col("dim").alias("dim_j"),
        F.col("s").alias("s_j"),
        F.col("var_num").alias("vn_j"),
    )
    pairs = a.crossJoin(b).where(F.col("dim_i") < F.col("dim_j"))
    prod = (
        q.crossJoin(F.broadcast(pairs.select("dim_i", "dim_j")))
        .groupBy("dim_i", "dim_j")
        .agg(
            F.count("*").cast(dec).alias("n"),
            F.sum(
                F.element_at("qv", F.col("dim_i") + 1).cast(dec)
                * F.element_at("qv", F.col("dim_j") + 1).cast(dec)
            ).alias("s_ij"),
        )
    )
    num = (F.col("n") * F.col("s_ij") - F.col("s_i") * F.col("s_j")).cast(
        "double"
    )
    den = F.sqrt(F.col("vn_i").cast("double")) * F.sqrt(
        F.col("vn_j").cast("double")
    )
    return (
        prod.join(F.broadcast(pairs), ["dim_i", "dim_j"])
        .select(
            "dim_i",
            "dim_j",
            F.col("n").cast("bigint").alias("n_rows"),
            scaled_round(F.try_divide(num, den)).alias("corr"),
        )
        .orderBy("dim_i", "dim_j")
    )


def centroid_modulus(n_vectors: int) -> int:
    """Sampling modulus for "every mod-th vector is a centroid".

    Three regimes, all deterministic integer math:
    - fixture (n ≤ IVF_SQRT_REGIME): pinned at IVF_CENTROID_MOD so every
      oracle literal and recorded hash stays put;
    - √ (above that): modulus ≈ √n/4, i.e. centroid count ≈ 4·√n — the
      classic IVF sizing. The previous rule kept the modulus FIXED here,
      so the count grew linearly with the corpus and total assign work
      n·k grew QUADRATICALLY: the r11 1000× probe caught ql43 at 5M
      vectors building 20k centroids (n·k = 1e11 candidate distances,
      >55 GB of sort spill, DNF on this box). With 4·√n the same corpus
      builds ~8.9k centroids and assign work is n^1.5 — at 100 TB the
      exponent is the whole ballgame;
    - cap (4·√n ≥ IVF_MAX_CENTROIDS, n ≥ ~2.7e8): count pinned at the
      broadcastability ceiling (at 1e9 vectors: mod=15259, k=65536).
    """
    import math

    mod = IVF_CENTROID_MOD
    if n_vectors > IVF_SQRT_REGIME:
        mod = max(mod, math.isqrt(n_vectors) // 4 + 1)
    if n_vectors > IVF_MAX_CENTROIDS * mod:
        mod = -(-n_vectors // IVF_MAX_CENTROIDS)  # ceil division
    return mod


# Hard ceiling on the PROBE count for the sampled-probe search/eval queries
# (ql14, ql43). A probe set that is a constant FRACTION of the corpus makes
# total search work quadratic: probes × per-probe candidates both grow
# linearly (the round-4 10× probe measured exactly that on the uncapped
# recall eval: 21× wall-clock at 10× data). A constant probe budget makes
# the exact ground-truth pass O(budget × corpus) = linear, which is what a
# production recall eval is: a FIXED eval slice, not a census. 64 keeps the
# fixture regimes (sf ≤ 0.1 and the 10× probe, ≤ ~21 probes) untouched so
# oracle hashes never move.
PROBE_BUDGET = 64


def probe_modulus(n_vectors: int, base_mod: int) -> int:
    """Probe-sampling modulus: ``base_mod`` while the probe count fits
    PROBE_BUDGET, then doubled until it does (doubling keeps the capped
    probe set a SUBSET of the base probe ids — eval results at different
    scales stay comparable). Deterministic, RNG-free, idempotent
    (probe_modulus(n, probe_modulus(n, m)) == probe_modulus(n, m))."""
    mod = base_mod
    while n_vectors // mod > PROBE_BUDGET:
        mod *= 2
    return mod


# Above this centroid count the assign switches from the codegen
# higher-order-function loop to the Arrow/numpy matmul path: Spark HOF
# lambdas evaluate interpreted per element, so at k·d per row the loop's
# constant dominates long before the √-regime k (measured: the r11 1000×
# probe's 5M×8.9k assign ground >90 min in the HOF form). Every fixture /
# oracle / fuzz corpus sits at k ≤ ~25 — those keep the HOF plan, so
# gate-scale plans and explain output never change.
IVF_ASSIGN_VECTORIZE_K = 256


def _check_f64_exact(dim: int, max_abs: int, what: str) -> None:
    """Loud-fail float64-exactness bound for the vectorized assign.

    Every L2² distance is a sum of ``dim`` terms, each ≤ (2·max|v|)², so
    ``dim · (2·max|v|)² < 2⁵³`` guarantees the whole sum is an integer
    exactly representable in float64 — the condition the bit-identical
    claim rests on. A ValueError (not assert: ``python -O`` strips
    asserts — r11 ADVICE) using the ACTUAL width, not the historical
    d=64 assumption."""
    if dim * (2 * max_abs) ** 2 >= 2**53:
        raise ValueError(
            f"ivf_assign {what} magnitudes break float64 exactness: "
            f"dim={dim}, max|v|={max_abs}, need dim*(2*max)^2 < 2^53"
        )


def _ivf_assign_np(
    df: DataFrame,
    centroids: DataFrame,
    id_col: str,
    keep_dist: bool,
) -> DataFrame:
    """Arrow/numpy form of ``ivf_assign`` — identical results, BLAS speed.

    The bounded centroid frame (≤ IVF_MAX_CENTROIDS × 64 dims × 8 B ≈
    34 MB — the same size contract that makes ``F.broadcast`` legal) is
    collected once and shipped as a SparkContext broadcast; each Arrow
    batch computes d² = |q|² + |c|² − 2·q·cᵀ with one float64 BLAS matmul
    and takes the row argmin. Exactness: inputs are ×1000-quantized
    integers; every distance is a sum of d terms each ≤ (|x|+|y|)², so
    requiring d·(2·max|v|)² < 2⁵³ — validated against the ACTUAL vector
    width and magnitudes, a loud ValueError, never a strippable assert
    (r11 ADVICE: the old |v| < 2²¹ element check silently relied on
    d = 64; a 1024-d corpus at near-2²¹ values would have voided
    exactness while passing) — makes every distance exactly representable
    in float64, so the distances (and therefore the argmin) are
    bit-identical to the integer HOF form. Tie-break parity: centroids
    are sorted by cent_id and ``argmin`` returns the FIRST minimum — the
    same (dist, cent_id) ordering as the struct array_min.

    Degenerate-vector parity (r11 ADVICE): a NULL qv, a width-mismatched
    qv, or a qv containing NULL elements makes every HOF distance NULL
    (zip_with pads, NULL propagates through the aggregate), and
    array_min's struct ordering puts NULL dist first — the codegen path
    assigns such rows to the SMALLEST cent_id with dist NULL (verified
    live; pinned in the twin test). This path reproduces exactly that
    instead of crashing in np.array.

    Broadcast lifecycle: the ≤34 MB broadcast is referenced only by the
    returned frame's task closure, so it lives exactly as long as the
    frame — when the caller drops the DataFrame the Python reference
    dies and ContextCleaner reclaims the blocks driver- and
    executor-side. It is NOT freed earlier: an eager unpersist here
    would race the (lazy) consuming action. Long-lived sessions that
    retain many built frames retain the broadcasts with them — the same
    contract as any persist() handle (r11 ADVICE, documented choice).

    Pinned against the HOF form by test_llm_ops.py::test_ivf_assign_
    vectorized_exact_twin.
    """
    import numpy as np

    # Arrow-batched driver collect: at the 65536-centroid cap the py4j
    # Row path deserializes ~4.2M list elements in a Python loop
    # (measured ~30 s); the Arrow transfer of the same ≤34 MB is
    # sub-second.
    with arrow_enabled(df.sparkSession):
        cent_pdf = centroids.select(id_col, "qv").toPandas()  # bounded ≤34 MB
    out_fields = list(df.schema.fields) + [
        T.StructField("cent_id", centroids.schema[id_col].dataType, True)
    ]
    if keep_dist:
        out_fields.append(T.StructField("dist", T.LongType(), True))
    schema = T.StructType(out_fields)
    if len(cent_pdf) == 0:
        # empty-centroid parity with the join-based form: no rows
        return df.sparkSession.createDataFrame([], schema)
    cid = cent_pdf[id_col].to_numpy(dtype=np.int64)
    try:
        cqv = np.stack(
            [np.asarray(v) for v in cent_pdf["qv"]]
        ).astype(np.int64, casting="safe")
    except (TypeError, ValueError) as ex:
        # engine-built centroids are never NULL/ragged — a degenerate
        # centroid is an invariant violation, not an input class to match
        # (a NULL element makes Arrow yield float64-with-NaN, which the
        # safe cast rejects; a NULL/ragged qv breaks the stack)
        raise ValueError(
            "ivf_assign centroids must be non-NULL rectangular integer "
            f"vectors: {ex}"
        ) from None
    order = np.argsort(cid)
    cid, cqv = cid[order], cqv[order]
    _check_f64_exact(cqv.shape[1], int(np.abs(cqv).max(initial=0)), "centroid")
    bc = df.sparkSession.sparkContext.broadcast((cid, cqv))
    in_cols = list(df.columns)

    def gen(batches):
        import pandas as pd

        b_cid, b_cqv = bc.value
        d = b_cqv.shape[1]
        g = b_cqv.astype(np.float64)
        cc = (g * g).sum(1)
        for pdf in batches:
            if len(pdf) == 0:
                continue
            vals = pdf["qv"].tolist()
            f = np.zeros((len(vals), d), dtype=np.float64)
            ok = np.ones(len(vals), dtype=bool)
            # exactness-guard magnitude, measured BEFORE the lossy
            # int→float64 cast where the input is still integral (r12
            # ADVICE: an element ≥2^53 would round before being
            # measured, slightly understating max|v| — the guard is
            # the loud backstop, so it reads the raw values)
            max_abs = 0
            for i, v in enumerate(vals):
                if v is None or len(v) != d:
                    ok[i] = False
                    continue
                ai = np.asarray(v)
                if np.issubdtype(ai.dtype, np.integer):
                    m = int(np.abs(ai).max(initial=0))
                    f[i] = ai
                else:
                    # Arrow yields float64-with-NaN when the array had
                    # NULL elements (docstring) — degenerate row
                    a = np.asarray(v, dtype=np.float64)
                    if np.isnan(a).any():
                        ok[i] = False
                        continue
                    m = int(np.abs(a).max(initial=0.0))
                    f[i] = a
                if m > max_abs:
                    max_abs = m
            _check_f64_exact(d, max_abs, "vector")
            qq = (f * f).sum(1)
            # sub-batch so the rows×k distance matrix stays ≤ ~512 MB
            step = max(1, 64_000_000 // len(b_cid))
            idx = np.empty(len(f), dtype=np.int64)
            d2w = np.empty(len(f), dtype=np.float64)
            for s in range(0, len(f), step):
                d2 = qq[s : s + step, None] + cc[None, :] - 2.0 * (
                    f[s : s + step] @ g.T
                )
                part = d2.argmin(1)
                idx[s : s + len(part)] = part
                d2w[s : s + len(part)] = d2[np.arange(len(part)), part]
            # degenerate rows: smallest cent_id, NULL dist (HOF parity —
            # b_cid is sorted, so b_cid[0] IS the array_min tie-break)
            idx[~ok] = 0
            res = pdf[in_cols].copy()
            res["cent_id"] = b_cid[idx]
            if keep_dist:
                if ok.all():
                    res["dist"] = d2w.astype(np.int64)  # exact int-valued
                else:
                    res["dist"] = pd.array(
                        np.where(ok, d2w, 0.0).astype(np.int64), dtype="Int64"
                    )
                    res.loc[~ok, "dist"] = pd.NA
            yield res

    return df.mapInPandas(gen, schema)


def ivf_assign(
    df: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    keep_dist: bool = False,
    n_centroids: int | None = None,
) -> DataFrame:
    """Assign each vector to its nearest centroid by integer L2².

    The bounded centroid set (≤ IVF_MAX_CENTROIDS by construction — see
    ``centroid_modulus``) collapses to ONE array<struct<cent_id, cent_qv>>
    row, broadcast to every task; the argmin is a per-row codegen loop —
    ``array_min(transform(cents, c -> struct(dist, cent_id)))`` — so the
    assign stage is pure map work: no n×k candidate rows exist anywhere,
    no aggregate buffer, no sort, no shuffle of anything but the ≤34 MB
    centroid array. Struct ordering (dist, cent_id) is the same
    deterministic tie-break the previous min_by form used.

    History: the previous shape expanded n×k candidate ROWS through a
    broadcast join into a map-side min_by SortAggregate. Same wire cost
    (O(n)), but each task materialized and SORTED its n_part×k wide
    candidate rows — the r11 1000× probe measured >55 GB of local sort
    spill at 5M vectors before DNF'ing on scratch disk. The array form
    does the identical n·k·d integer arithmetic inside one whole-stage
    codegen projection with zero row amplification.

    ``n_centroids`` is a caller-supplied ESTIMATE (e.g. n // mod) that
    only picks the code path, never the semantics: above
    IVF_ASSIGN_VECTORIZE_K the per-element-interpreted HOF loop loses to
    the Arrow/numpy matmul form (``_ivf_assign_np``, bit-identical — see
    its docstring), so √-regime index builds take the vectorized path
    while every fixture-scale plan stays pure codegen.
    """
    if n_centroids is not None and n_centroids > IVF_ASSIGN_VECTORIZE_K:
        return _ivf_assign_np(df, centroids, id_col, keep_dist)
    one = centroids.select(
        F.struct(
            F.col(id_col).alias("cent_id"), F.col("qv").alias("cent_qv")
        ).alias("c")
    ).agg(F.array_sort(F.collect_list("c")).alias("_cents"))
    dist = DIST_SQ_EXPR.format(a="qv", b="c.cent_qv")
    # inline(array(...)) is a generator, so the argmin loop evaluates
    # EXACTLY once per row and lands both fields as materialized columns.
    # Referencing the struct twice (cent_id + dist extraction) or putting
    # it in a Filter re-evaluates the whole CodegenFallback loop per
    # reference — measured 1.3-1.5× on the k-means/ivf fixture rows.
    best = F.expr(
        f"inline(array(array_min(transform(_cents, c -> struct({dist}"
        " AS _bdist, c.cent_id AS _bcent)))))"
    )
    carry = [c for c in df.columns if c != id_col]
    out = [
        F.col(id_col),
        *[F.col(c) for c in carry],
        F.col("_bcent").alias("cent_id"),
    ]
    if keep_dist:
        # the argmin already computed the winning distance — callers that
        # need it (kmeans SSE report) avoid a second O(n·d) distance pass
        out.append(F.col("_bdist").alias("dist"))
    return (
        df.join(F.broadcast(one))
        .select(F.col(id_col), *[F.col(c) for c in carry], best)
        # empty-centroid parity: the pre-rewrite join-based form emitted
        # no rows when centroids was empty (cheap — _bcent is a
        # generator-materialized column, not a re-evaluation)
        .where(F.col("_bcent").isNotNull())
        .select(*out)
    )


def ivf_topk(
    corpus: DataFrame,
    k: int = 3,
    probe_mod: int = 97,
    id_col: str = "vec_id",
) -> DataFrame:
    """IVF approximate top-k: coarse-quantize → cluster-route → re-rank.

    1. quantize embeddings to integers; every mod-th vector is a centroid
       ("training-free" IVF — deterministic, no k-means state), with mod
       chosen by ``centroid_modulus`` so the centroid count never exceeds
       the constant IVF_MAX_CENTROIDS budget (the one count() here is the
       index-build sampling pass — O(n) once, like any IVF training);
    2. assign corpus vectors to nearest centroid (broadcast + map-side
       partial-agg argmin — see ``ivf_assign``);
    3. each probe searches only its IVF_NPROBE nearest clusters — the
       recall/cost knob: candidates shrink from n to ~n·nprobe/k_clusters.
       Cluster routing is a groupBy(probe_id) sorted-slice aggregate: the
       per-probe state is ≤ k centroid distances (bounded by the budget),
       never a window over an unbounded expansion;
    4. exact integer-dot cosine re-rank within candidates, two-stage
       salted top-k per probe (``topk_per_key``) so no task holds a
       probe's full candidate set.

    Integer quantization makes every score bit-identical on the DuckDB
    oracle (integer sums are exact; sqrt/division on identical doubles are
    correctly rounded), so even the approximate candidate set hash-matches.
    """
    q = quantize(corpus).select(id_col, "qv")
    n = q.count()
    mod = centroid_modulus(n)
    cents = q.where(F.col(id_col) % mod == 0)
    assigned = ivf_assign(q, cents, id_col, n_centroids=n // mod)

    # constant probe budget: per-probe candidate lists grow ~linearly once
    # the centroid budget caps, so an uncapped (fraction-of-corpus) probe
    # set would make total search work quadratic — see probe_modulus
    probe_mod = probe_modulus(n, probe_mod)
    probes = q.where(F.col(id_col) % probe_mod == 0).select(
        F.col(id_col).alias("probe_id"), F.col("qv").alias("probe_qv")
    )
    cents_p = cents.select(F.col(id_col).alias("cent_id"), F.col("qv").alias("cent_qv"))
    pdist = F.expr(DIST_SQ_EXPR.format(a="probe_qv", b="cent_qv"))
    # struct sort order (dist, cent_id) reproduces the old window ordering
    probe_clusters = (
        probes.join(F.broadcast(cents_p))
        .withColumn("dist", pdist)
        .groupBy("probe_id")
        .agg(
            F.slice(
                F.array_sort(F.collect_list(F.struct("dist", "cent_id"))),
                1,
                IVF_NPROBE,
            ).alias("_top"),
            F.min("probe_qv").alias("probe_qv"),
        )
        .select("probe_id", "probe_qv", F.explode("_top.cent_id").alias("cent_id"))
    )

    # probe_clusters is tiny (probes × nprobe rows) → broadcast so the
    # assigned corpus never shuffles for this join
    cand = F.broadcast(probe_clusters).join(assigned, "cent_id").where(
        F.col(id_col) != F.col("probe_id")
    )
    dot = F.expr(
        "aggregate(zip_with(probe_qv, qv, (x, y) -> x * y),"
        " cast(0 as bigint), (acc, v) -> acc + v)"
    )
    nrm = (
        "sqrt(cast(aggregate(transform({a}, x -> x * x),"
        " cast(0 as bigint), (acc, v) -> acc + v) as double))"
    )
    # try_divide + NULL exclusion: zero-norm vectors can't rank (the r9
    # deep-fuzz zero-vector class — see cosine_topk); twins mirror with
    # `sim IS NOT NULL`
    sim = scaled_round(
        F.try_divide(
            dot.cast("double"),
            F.expr(nrm.format(a="probe_qv")) * F.expr(nrm.format(a="qv")),
        )
    )
    return topk_per_key(
        cand.withColumn("sim", sim).where(F.col("sim").isNotNull()),
        "probe_id",
        [F.desc("sim"), F.col(id_col)],
        k,
        salt_src=id_col,
    ).select("probe_id", id_col, "sim", "rk")


# Per-bucket membership cap for the random-hyperplane pair expansion — the
# same guard lsh_candidate_pairs (LSH_BUCKET_CAP) and cosine_near_dup_pairs
# (COSINE_BLOCK_CAP) apply to their join keys. With N_PLANES=8 there are
# only 256 buckets, so an UNCAPPED self-join is O(n²/256) — quadratic,
# merely rescaled — and one dense bucket (a mega-duplicated embedding, or
# mass near the hyperplanes) concentrates it on a single join key. 256 is
# far above any honest fixture bucket (max 22 at sf0.1, so sf≤0.1 hashes
# are unchanged) yet hard-bounds the worst bucket to ~32k pairs. Overflow
# policy: keep the `cap` smallest ids per bucket (deterministic), enforced
# by a row_number window whose WindowGroupLimit prunes every map partition
# BEFORE the exchange. Must stay ≤
# spark.sql.optimizer.windowGroupLimitThreshold (default 1000) or Spark
# skips the pre-shuffle prune (pinned by
# tests/test_properties_r5.py::test_lsh_near_pairs_plan_prunes_before_exchange).
LSH_ANN_BUCKET_CAP = 256


def lsh_near_pairs(
    df: DataFrame,
    threshold: float = 0.8,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    bucket_cap: int = LSH_ANN_BUCKET_CAP,
    n_planes: int | None = None,
) -> DataFrame:
    """Approximate near-duplicate pairs: same LSH bucket AND cosine ≥ t.

    The pair stage is keyed on the bucket id (uniform by construction), so
    the shuffle is balanced; cosine is verified exactly inside the bucket.
    Two structural guards keep the pair stage from going quadratic:

    - the BUCKET SPACE grows with the corpus (``n_planes=None`` derives
      the plane count from a count() of the input — one cheap column-scan
      job, the same documented trade as ivf_topk's sampling pass — so
      expected bucket size stays ~LSH_TARGET_BUCKET_DOCS; all fixture
      scales derive the historical 8 planes, keeping oracle hashes);
    - bucket MEMBERSHIP is capped at ``bucket_cap`` (smallest ids
      survive), bounding any single adversarial bucket — see
      LSH_ANN_BUCKET_CAP.
    """
    if n_planes is None:
        n_planes = lsh_planes_for(df.count())
    b = lsh_buckets(df, vec_col, id_col, n_planes=n_planes)
    w = Window.partitionBy("bucket").orderBy(id_col)
    b = (
        # norm factored out BEFORE the pair stage, like the exact cosine
        # siblings: inside a capped bucket each row otherwise recomputes
        # its O(d) norm once per partner (r7 review)
        b.withColumn("_nrm", F.expr(norm_sql(vec_col)))
        .withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") <= bucket_cap)
        .drop("_rn")
    )
    # grouped_pair_expand, not a bucket-keyed self-join: the join form
    # evaluated the whole scan → lsh_buckets (8 HOF plane dots per row)
    # → norm → cap-window subtree once PER SIDE (r13, guide §2.4)
    flat = grouped_pair_expand(b, ["bucket"], [id_col, vec_col, "_nrm"]).select(
        F.col(f"_pa.{id_col}").alias("id_a"),
        F.col(f"_pb.{id_col}").alias("id_b"),
        F.col(f"_pa.{vec_col}").alias("_va"),
        F.col(f"_pb.{vec_col}").alias("_vb"),
        F.col("_pa._nrm").alias("_na"),
        F.col("_pb._nrm").alias("_nb"),
    )
    dot = checked_dot("_va", "_vb")
    norms = F.col("_na") * F.col("_nb")
    return (
        flat.select(
            "id_a",
            "id_b",
            # try_divide: zero-norm rows drop via the NULL-fails-threshold
            # rule, matching the exact cosine siblings (r9 deep-fuzz class)
            scaled_round(F.try_divide(dot, norms)).alias("cos_sim"),
        )
        .where(F.col("cos_sim") >= threshold)
    )


# ---------------------------------------------------------------------------
# Matryoshka prefix-energy diagnostic

MATRYOSHKA_DIMS = (8, 16, 32)


def matryoshka_energy(
    df: DataFrame,
    prefix_dims: tuple[int, ...] = MATRYOSHKA_DIMS,
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """Per-label mean fraction of embedding energy captured by each prefix
    of the vector — the diagnostic a pipeline runs before truncating
    Matryoshka-style embeddings (Kusupati et al. 2022) to a cheaper
    serving dimension: if the first 16 dims already hold ~95% of the
    squared norm, the ANN index can store 16/64 of the bytes.

    Numerics (FIXTURES.md §3 discipline): components quantize to ×1000
    BIGINT, so prefix and total energies are exact integer sums per row
    (dim is a constant, so per-row magnitudes never grow with corpus
    size — BIGINT suffices at any SF). The per-row fraction rounds at
    micro scale (tie-proof integer round on a single-division double);
    the per-group mean divides two exact integers once. Zero-norm
    vectors yield NULL micro (try_divide ≙ DuckDB's x/0→NULL) and drop
    from the mean via count(micro); NULL embeddings take the same NULL
    route (aggregate over a NULL array is NULL) — excluded from both
    numerator and count, never biasing the mean.

    Plan/scale: per-row codegen expressions + one |labels|·|dims|-group
    aggregate — map-side combine reduces the shuffle to a handful of
    rows per partition; no join, linear at 100 TB.
    """
    q = quantize(df, vec_col)
    dims = F.explode(F.array(*[F.lit(d) for d in prefix_dims])).alias("prefix_dim")
    per = q.select(F.col(label_col).alias("label"), "qv", dims).select(
        "label",
        "prefix_dim",
        F.expr(
            "aggregate(slice(qv, 1, prefix_dim), 0L, (acc, x) -> acc + x * x)"
        ).alias("num"),
        F.expr("aggregate(qv, 0L, (acc, x) -> acc + x * x)").alias("den"),
    )
    micro = F.when(
        F.col("den") > 0,
        F.round(
            F.try_divide((F.col("num") * F.lit(1000000)).cast("double"), F.col("den").cast("double"))
        ).cast("bigint"),
    )
    return (
        per.select("label", "prefix_dim", micro.alias("micro"))
        .groupBy("label", "prefix_dim")
        .agg(
            F.count("micro").cast("bigint").alias("n_vecs"),
            scaled_round(
                F.try_divide(F.sum("micro"), F.count("micro") * F.lit(1000000.0)), 6
            ).alias("avg_energy_frac"),
        )
        .orderBy("label", "prefix_dim")
    )


# ---------------------------------------------------------------------------
# Simplified silhouette vs label centroids

_DEC = "decimal(38,0)"


def label_silhouette(
    df: DataFrame,
    vec_col: str = "embedding",
    label_col: str = "label",
    id_col: str = "vec_id",
) -> DataFrame:
    """Per-label mean simplified silhouette (Hruschka et al.: distances to
    CENTROIDS, not all points): a(i) = distance to own label centroid,
    b(i) = nearest other-label centroid, s(i) = (b−a)/max(a,b). The
    cluster-quality score a pipeline tracks over a labeled (or
    kmeans-assigned) embedding column — s → 1 means tight, separated
    labels; s ≤ 0 means the labeling carries no geometry.

    Exact-arithmetic route: with q the ×1000-quantized vector and S_c/n_c
    the per-label component sums/counts, n_c²·dist(i,c)² =
    Σ_d (n_c·q_d − S_{c,d})² is an exact DECIMAL(38,0) integer at any
    corpus size (same buffer discipline as embedding_corr_pairs);
    dist = sqrt(·)/n_c costs one sqrt + one division on bit-identical
    inputs, so a, b, and s are bit-identical doubles cross-engine — the
    min over other labels needs NO tiebreak because only the minimum
    VALUE (not the argmin label) is consumed. s rounds at micro scale;
    group means divide exact integers once.

    Plan/scale: the corpus NEVER shuffles — centroids aggregate to
    |labels| rows, collapse to a ONE-row broadcast frame of
    struct(label, n, sums[dim]), and every distance evaluates per-row
    via zip_with/aggregate lambdas; the only exchange after the centroid
    pass is the |labels|-group final mean.

    NULL embeddings are EXCLUDED CONSISTENTLY, not loud-failed: the
    centroid pass drops them (posexplode of a NULL array emits nothing)
    and the per-row pass NULLs them (zip_with over NULL is NULL → NULL
    micro, outside count(micro)) — both passes see exactly the non-NULL
    set, so nothing is biased. Contrast embedding_corr_pairs, which MUST
    raise because its two passes would disagree on n.

    Ragged (short) vectors LOUD-FAIL (the embedding_corr_pairs
    convention): a short vector would null out of the per-row pass via
    zip_with padding while its components still entered the centroid
    pass (posexplode emits its dims; n is per-label row count) — and the
    QL62 DuckDB twin would instead compute a partial-dim distance, a
    silent cross-engine divergence the gate could only catch AFTER a
    ragged fixture shipped (r8 ADVICE). The per-row pass checks size(qv)
    against the broadcast centroid dim count and raises; the twin does
    not replicate the raise (error behavior is not hashed).
    """
    q = quantize(df, vec_col).select(
        id_col, F.col(label_col).alias("own"), "qv"
    )
    # the diff n·x − s stays BIGINT (|n·x| and |s| ≤ n·QUANT_SCALE·|x|max —
    # exact through ~6·10¹⁵ rows per label, with a LOUD ANSI overflow
    # beyond); only the square and its sum need DECIMAL(38,0). Measured
    # at the 30× probe: the all-decimal lambda spent ~25% more wall on
    # per-element decimal multiply/subtract with identical output values.
    cent = (
        q.select("own", F.posexplode("qv").alias("dim", "qd"))
        .groupBy(F.col("own").alias("cl"), "dim")
        .agg(F.sum("qd").alias("s"), F.count("*").alias("n"))
        .groupBy("cl")
        .agg(
            F.max("n").alias("n"),
            F.expr(
                "transform(array_sort(collect_list(struct(dim, s))), e -> e.s)"
            ).alias("s_arr"),
        )
        .agg(F.collect_list(F.struct("cl", "n", "s_arr")).alias("cents"))
        # cross-label dim uniformity (r10 ADVICE): checked HERE, at the
        # label grain, so a whole label of longer vectors is reported as
        # a label mismatch instead of misattributing the raise to every
        # normal-dim row (the old corpus-wide array_max compare did that)
        .withColumn(
            "cents",
            F.when(
                F.expr("size(array_distinct(transform(cents, c -> size(c.s_arr)))) <= 1"),
                F.col("cents"),
            ).otherwise(
                F.raise_error(
                    F.concat(
                        F.lit("label_silhouette: centroid dims differ across labels: "),
                        F.expr(
                            "to_json(transform(cents, c -> "
                            "named_struct('label', c.cl, 'dim', size(c.s_arr))))"
                        ),
                    )
                )
            ),
        )
    )
    diffs = "zip_with(qv, c.s_arr, (x, s) -> c.n * x - s)"
    dists = (
        f"transform(cents, c -> named_struct("
        f"'cl', c.cl, "
        f"'dist', sqrt(cast(aggregate({diffs}, cast(0 as {_DEC}), "
        f"(acc, v) -> acc + cast(v as {_DEC}) * cast(v as {_DEC})) as double))"
        f" / cast(c.n as double)))"
    )
    # per-row check against the row's OWN label dim (r10 ADVICE): the
    # raise then names an actually-ragged row within its label; the
    # corpus-wide array_max form blamed every normal row when one label
    # carried an over-long vector
    expected_dim = "size(filter(cents, c -> c.cl = own)[0].s_arr)"
    per = (
        q.join(F.broadcast(cent))
        .withColumn(
            "qv",
            F.when(
                F.col("qv").isNull() | (F.size("qv") == F.expr(expected_dim)),
                F.col("qv"),
            ).otherwise(
                F.raise_error(
                    F.concat(
                        F.lit("label_silhouette: ragged embedding (size "),
                        F.size("qv").cast("string"),
                        F.lit(" != own-label dim "),
                        F.expr(expected_dim).cast("string"),
                        F.lit(") at id="),
                        F.coalesce(F.col(id_col).cast("string"), F.lit("NULL")),
                        F.lit(
                            " (dim is the label max; the offender may be"
                            " any longer row in the same label)"
                        ),
                    )
                )
            ),
        )
        .withColumn("dists", F.expr(dists))
        .withColumn("a", F.expr("filter(dists, e -> e.cl = own)[0].dist"))
        .withColumn(
            "b",
            F.expr("array_min(transform(filter(dists, e -> e.cl != own), e -> e.dist))"),
        )
        .select(
            "own",
            F.expr(
                "CASE WHEN b IS NULL THEN NULL "
                "WHEN greatest(a, b) > 0 THEN "
                "cast(round((b - a) / greatest(a, b) * 1000000) as bigint) "
                "ELSE 0 END"
            ).alias("micro"),
        )
    )
    return (
        per.groupBy(F.col("own").alias("label"))
        .agg(
            F.count("micro").cast("bigint").alias("n_vecs"),
            scaled_round(
                F.try_divide(F.sum("micro"), F.count("micro") * F.lit(1000000.0)), 6
            ).alias("avg_silhouette"),
        )
        .orderBy("label")
    )
