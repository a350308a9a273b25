"""Deterministic, engine-portable sampling (training-data pipelines).

Spark's ``df.sample`` is seed-dependent on partitioning (same seed, new
file layout → different sample), which breaks reproducibility contracts at
100 TB where layout changes every compaction. These operators sample by
content hash instead: membership depends only on the row's key, so the
sample is stable across partitioning, retries, engines — and replayable by
the DuckDB oracle.

- hash_sample: Bernoulli-style p% sample via md5(key) mod 100.
- stratified_sample: exactly n rows per stratum, chosen by hash order —
  one shuffle on the stratum key; deterministic tiebreak by key.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame, Window

from streamsurfer_spark.functions.hashing import md5_long64


def _key_hash(id_col: str) -> Column:
    return md5_long64(F.col(id_col).cast("string"))


def hash_sample(df: DataFrame, id_col: str, rate_pct: int) -> DataFrame:
    """Keep rows whose key hashes into the first `rate_pct` of 100 buckets.

    Per-row predicate → fully parallel, no shuffle, pushes down past
    column pruning. Repeated runs (and different engines) select the
    identical row set.
    """
    if not 0 <= rate_pct <= 100:
        raise ValueError("rate_pct must be in [0, 100]")
    return df.where(_key_hash(id_col) % 100 < rate_pct)


def stratified_sample(df: DataFrame, strata_col: str, id_col: str, n_per_stratum: int) -> DataFrame:
    """Exactly min(n, |stratum|) rows per stratum, in hash order.

    Hash order ≈ uniform random order but reproducible; the window's
    ORDER BY (hash, key) makes ties impossible. One shuffle on the
    stratum key; WindowGroupLimit prunes to n per partition map-side.
    """
    w = Window.partitionBy(strata_col).orderBy(_key_hash(id_col), F.col(id_col))
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") <= n_per_stratum)
        .drop("_rn")
    )


def temperature_mixture_sample(
    df: DataFrame,
    stratum_col: str,
    id_col: str,
    factor: int = 4,
    modulus: int = 10_000,
) -> DataFrame:
    """Temperature-flattened domain mixture: keep ~min(n_s, floor(sqrt(n_s)
    · `factor`)) rows per stratum (source/domain/language), selected by key
    hash.

    The α=0.5 mixture rule training pipelines use to keep big domains from
    drowning out small ones: per-stratum sample size grows with the SQUARE
    ROOT of the stratum size, so a 100× larger domain contributes only 10×
    more rows. Membership is a pure function of (row key, stratum size):
    a per-row hash-threshold predicate, NOT a per-stratum top-n — so the
    heavy path is map-only (no window over skewed stratum partitions; the
    only shuffle is the tiny per-stratum count, broadcast back). Selected
    counts are therefore approximate (binomial around the target), which
    is the right trade at 100 TB; the DuckDB oracle replays the identical
    predicate, so the approximation is still exactly reproducible.

    Returns the selected rows plus ``n_stratum`` / ``target_n`` audit
    columns. Integer products stay exact and the only double ops (sqrt,
    one division, floor) are single IEEE operations — identical across
    engines, no cross-engine reduction-order drift.
    """
    counts = (
        df.groupBy(stratum_col)
        .agg(F.count("*").alias("n_stratum"))
        .withColumn(
            "target_n",
            F.least(
                F.col("n_stratum"),
                F.floor(F.sqrt(F.col("n_stratum")) * factor).cast("long"),
            ),
        )
    )
    thresh = F.floor(
        (F.lit(modulus) * F.col("target_n")).cast("double") / F.col("n_stratum")
    ).cast("long")
    # null-safe stratum join: groupBy COUNTS the NULL stratum, so a plain
    # equi-join would compute its target and then silently contribute zero
    # rows (NULL = NULL never matches) — the one stratum that can vanish
    # with no error (r7 review). eqNullSafe keeps NULL-keyed rows eligible.
    return (
        df.join(
            F.broadcast(counts.withColumnRenamed(stratum_col, "_stratum")),
            F.col(stratum_col).eqNullSafe(F.col("_stratum")),
        )
        .drop("_stratum")
        .where(_key_hash(id_col) % modulus < thresh)
    )


WEIGHTED_MOD = 1_000_000_007  # pseudo-uniform modulus for weighted_sample


def weighted_sample(
    df: DataFrame,
    id_col: str,
    weight_col: str,
    k: int,
    seed: int = 0,
) -> DataFrame:
    """Weighted sampling WITHOUT replacement: k rows, inclusion probability
    proportional to ``weight_col`` — the Efraimidis–Spirakis A-ES scheme
    with content-hash uniforms instead of RNG state.

    A-ES ranks every row by u^(1/w) (u uniform) and keeps the top k;
    equivalently by ln(u)/w, which is what we compute. The uniform is
    derived from the row key: u = (h+1)/(P+1) with h = md5_60(key#seed)
    mod P, so membership is a pure function of (key, seed) — stable
    across partitioning, retries, and engines, like every sampler here.

    Numerics (cross-engine, FIXTURES.md §3): ln runs ONLY on the
    integer-valued doubles h+1 and P+1 (≤ 2^30 ≪ 2^53 — bit-identical
    libm across engines); the subtraction and the division by the weight
    are single IEEE ops; the rank key is compared, never emitted. Ties are
    impossible off equal (h, w) pairs and broken by key.

    Scale (100 TB): per-row codegen expressions + a global top-k —
    Spark's TakeOrdered: per-partition heap of k, driver merge of
    partitions×k rows, NO shuffle. A non-positive or NULL weight is
    ambiguous (excluded? error?) and fails loudly.
    """
    if k < 1:
        raise ValueError("k must be >= 1")
    p = WEIGHTED_MOD
    h = (
        md5_long64(F.concat(F.col(id_col).cast("string"), F.lit(f"#ws{seed}")))
        % p
    )
    w = F.col(weight_col).cast("double")
    rank_key = F.when(
        w > 0,
        (F.log((h + 1).cast("double")) - F.log(F.lit(p + 1).cast("double"))) / w,
    ).otherwise(
        F.raise_error(
            F.concat(
                F.lit(f"weighted_sample: non-positive or NULL {weight_col}: "),
                F.coalesce(w.cast("string"), F.lit("NULL")),
            )
        )
    )
    return (
        df.withColumn("_wkey", rank_key)
        .orderBy(F.desc("_wkey"), F.col(id_col))
        .limit(k)
        .drop("_wkey")
    )


def split_col(
    id_col: Column | str, train_pct: int = 80, val_pct: int = 10
) -> Column:
    """The train/val/test assignment as a bare column expression — the
    SAME tree assign_split attaches, exposed so consumers that already
    hold the id (e.g. a pair table's doc_a/doc_b) can compute the split
    in place instead of joining the corpus-sized assign_split frame back
    on the id (two removable self-joins in ql44 — guide §2.4, r13)."""
    if train_pct < 0 or val_pct < 0:
        raise ValueError("train_pct and val_pct must be non-negative")
    if not 0 < train_pct + val_pct <= 100:
        raise ValueError("train_pct + val_pct must be in (0, 100]")
    c = F.col(id_col) if isinstance(id_col, str) else id_col
    bucket = md5_long64(c.cast("string")) % 100
    return (
        # a NULL id hashes to NULL, both bucket comparisons are NULL, and
        # the row would silently fall through to 'test' — leakage-relevant
        # for a split contract, so fail loudly instead
        F.when(
            c.isNull(),
            F.raise_error(F.lit("assign_split: NULL id_col value")),
        )
        .when(bucket < train_pct, "train")
        .when(bucket < train_pct + val_pct, "val")
        .otherwise("test")
    )


def assign_split(
    df: DataFrame, id_col: str, train_pct: int = 80, val_pct: int = 10
) -> DataFrame:
    """Deterministic train/val/test assignment by key hash.

    The export-time contract every training pipeline needs: membership is a
    pure function of the row key, so re-runs, backfills, and other engines
    place every document in the SAME split — no leakage when the corpus is
    re-sharded or incrementally extended. Per-row expression, no shuffle.
    """
    # each percentage must be valid on its own: a negative val_pct with a
    # compensating train_pct passes the sum check yet silently empties the
    # val split (the second `when` can never fire) — r7 review
    return df.withColumn("split", split_col(id_col, train_pct, val_pct))


EPOCH_BUDGET_NUM = 3  # token budget = total_tokens * NUM / DEN
EPOCH_BUDGET_DEN = 2  # 1.5 epochs of the corpus, redistributed by sqrt-share
EPOCH_MODULUS = 10_000


def epoch_plan(
    df: DataFrame,
    stratum_col: str,
    id_col: str,
    text_col: str = "text",
    budget_num: int = EPOCH_BUDGET_NUM,
    budget_den: int = EPOCH_BUDGET_DEN,
    modulus: int = EPOCH_MODULUS,
) -> DataFrame:
    """Per-domain epoch/replication plan: distribute a global token budget
    across domains by sqrt-share (α=0.5 temperature), then express each
    domain's target as FULL EPOCHS of the domain plus a hash-selected
    fractional tail — the upsampling counterpart of
    temperature_mixture_sample (which only samples down).

    This is the plan a training run materializes: small domains get >1
    epoch (replication), large domains get <1 (subsampling), and the tail
    is chosen by content hash so re-runs and other engines pick the SAME
    extra documents.

    Numerics: token counts are exact BIGINTs; sqrt-shares are rounded to
    integer micro-units per domain BEFORE the cross-domain sum, so the
    share denominator is an exact integer (no cross-engine float
    reduction-order drift); each remaining float op (one sqrt, one
    division, one floor) is a single correctly-rounded IEEE op.

    Scale (100 TB): one partial-aggregating groupBy(domain) over per-row
    codegen token counts; the per-domain plan is a tiny broadcast joined
    back for the hash-threshold tail selection — the corpus-sized path is
    map-only. Output is one row per domain.
    """
    toks = df.select(
        F.col(id_col),
        F.col(stratum_col).alias("stratum"),
        F.size(F.split(F.col(text_col), " ")).cast("long").alias("n_tok"),
    )
    dom = toks.groupBy("stratum").agg(
        F.count("*").alias("n_docs"), F.sum("n_tok").alias("n_tokens")
    )
    dom = dom.withColumn(
        "s6", F.round(F.sqrt(F.col("n_tokens")) * 1_000_000).cast("bigint")
    )
    tot = dom.agg(
        F.sum("n_tokens").alias("total_tokens"), F.sum("s6").alias("sum_s6")
    )
    # integer floor-division end-to-end: budget*s6 ≈ 1e17 exceeds double's
    # 2^53 exact range, so float division would drift between engines. The
    # whole chain stays DECIMAL until the LAST div (r7: total_tokens ×
    # budget_num in raw BIGINT wrapped silently past ~int64/budget_num
    # tokens; and a mid-chain `div` — which always returns LONG — put the
    # × s6 multiply back in overflowing int64). floor(decimal / den) is an
    # exact floor for budget_den < 2·10^6: the quotient's fractional part
    # is m/den ≤ 1 − 1/den, strictly below the scale-6 rounding boundary.
    # Bounds: budget·s6 stays under DECIMAL(38)'s 38 digits to ~1e21
    # corpus tokens, and the final BIGINT target requires budget < 2^63
    # (~6e18 corpus tokens at 1.5×) — both orders beyond the 100 TB
    # north star. The DuckDB twin runs the same chain in HUGEINT (int128).
    plan = (
        dom.crossJoin(F.broadcast(tot))
        .withColumn(
            "target_tokens",
            F.expr(
                f"cast((floor(cast(total_tokens as decimal(38,0))"
                f" * {budget_num} / {budget_den})"
                " * s6) div sum_s6 as bigint)"
            ),
        )
        .withColumn("full_epochs", F.expr("target_tokens div n_tokens"))
        .withColumn(
            "rem_tokens",
            F.col("target_tokens") - F.col("full_epochs") * F.col("n_tokens"),
        )
        .withColumn(
            "tail_thresh", F.expr(f"({modulus} * rem_tokens) div n_tokens")
        )
    )
    tail = (
        # null-safe like the mixture join: a NULL-stratum domain appears in
        # the plan but a plain equi-join would leave its tail forever 0
        toks.join(
            F.broadcast(
                plan.select(
                    F.col("stratum").alias("_stratum"), "tail_thresh"
                )
            ),
            F.col("stratum").eqNullSafe(F.col("_stratum")),
        )
        .drop("_stratum")
        .where(_key_hash(id_col) % modulus < F.col("tail_thresh"))
        .groupBy("stratum")
        .agg(
            F.count("*").alias("tail_docs"),
            F.sum("n_tok").alias("tail_tokens"),
        )
    )
    return (
        plan.join(
            tail.withColumnRenamed("stratum", "_stratum"),
            F.col("stratum").eqNullSafe(F.col("_stratum")),
            "left",
        )
        .drop("_stratum")
        .select(
            F.col("stratum").alias(stratum_col),
            "n_docs",
            "n_tokens",
            "target_tokens",
            "full_epochs",
            F.coalesce(F.col("tail_docs"), F.lit(0)).alias("tail_docs"),
            F.coalesce(F.col("tail_tokens"), F.lit(0)).alias("tail_tokens"),
            (
                F.col("full_epochs") * F.col("n_tokens")
                + F.coalesce(F.col("tail_tokens"), F.lit(0))
            ).alias("planned_tokens"),
        )
    )
