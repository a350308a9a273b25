"""Deduplication operators for LLM training-data pipelines (SURVEY §2.3 D).

The reference library has no dedup surface (/root/reference/main.go:1-312 —
evidence of absence in SURVEY §2.2); these are engine-side capabilities built
for the 100 TB north star:

- exact dedup: hash-groupBy — one shuffle on a uniform 128-bit key, no skew.
- MinHash + LSH: shingle → seeded min-hash signature → band buckets →
  bucket-equijoin. All signature math is per-row column expressions
  (whole-stage codegen, zero Python); the only shuffles are the band
  groupBy/join, whose keys are uniform hashes → no skew. Candidate pairs
  scale with true near-duplicate density, not O(n²).
- SimHash: per-token hash → per-bit majority vote → 48-bit signature; one
  partial-aggregating groupBy on doc_id (unique key → map-side combine does
  all the work).
- n-gram Jaccard: exact verification for candidate pairs — inverted-index
  self-join on distinct shingles. At 100 TB you run it AFTER LSH pruning;
  at fixture scale we run it on everything sharing >=1 shingle.

Hashing is the md5-based portable scheme from functions/hashing.py, so
every operator is DuckDB-oracle-checkable.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from streamsurfer_spark.functions.hashing import (
    P31,
    affine_params,
    md5_long64_expr,
    md5_long64_py,
)
from streamsurfer_spark.functions.rounding import scaled_round

SHINGLE_N = 3
N_MINHASH = 8
ROWS_PER_BAND = 2
N_BANDS = N_MINHASH // ROWS_PER_BAND
SIMHASH_BITS = 48

# Positional weights for composing a shingle hash from its 3 token hashes:
# sh(i) = (th[i]*C1 + th[i+1]*C2 + th[i+2]) mod P31, missing tokens as 0.
# One md5 per TOKEN instead of per shingle string (and no shingle string
# materialization) — ~2x less hashing work; order-sensitive by construction.
SHINGLE_C1 = md5_long64_py("shingle-c1") % (P31 - 1) + 1
SHINGLE_C2 = md5_long64_py("shingle-c2") % (P31 - 1) + 1

# 61-bit composition domain for span-coverage shingle hashes (Mersenne
# prime 2^61 - 1): wide enough that collisions are statistically invisible
# even at 1e12 distinct shingles, while every intermediate — a P31-domain
# token hash times a sub-P31 constant, then one mod, summed over 3 terms —
# stays within int64 on both engines.
P61 = 2_305_843_009_213_693_951

# The ONE pair of expressions behind every P61 hashed-shingle consumer
# (duplicate_span_coverage, hashed_shingle_set → jaccard/containment):
# one md5 per token into the P31 domain, then a positional 3-term P61
# composition over a `th_` column. These must stay bit-identical with
# each other AND with the DuckDB twin (queries/llm_q.py
# duck_hashed_shingle_set) for the oracle gate to hold — previously two
# character-identical copies that could silently drift (r7 review).
_TOKEN_HASH_EXPR = f"transform(toks, t -> {md5_long64_expr('t')} % {P31})"
_P61_SHINGLE_EXPR = (
    f"transform(sequence(1, greatest(size(toks) - {SHINGLE_N - 1}, 1)),"
    f" i -> (try_element_at(th_, i) * {SHINGLE_C1}) % {P61}"
    f" + (coalesce(try_element_at(th_, i + 1), 0) * {SHINGLE_C2}) % {P61}"
    f" + coalesce(try_element_at(th_, i + 2), 0))"
)


def exact_duplicate_groups(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Groups of byte-identical texts: (content hash, group size, min id).

    One shuffle on md5(text) — uniform 128-bit key, perfectly skew-free even
    when one document is duplicated millions of times (the group is still a
    single reduce key; the *values* concentrate, which partial aggregation
    absorbs map-side because we only keep count+min, not the member list).
    """
    return (
        df.groupBy(F.md5(F.col(text_col)).alias("content_md5"))
        .agg(
            F.count("*").alias("n_copies"),
            F.min(id_col).alias("keep_id"),
        )
        .where(F.col("n_copies") > 1)
    )


def with_shingles(df: DataFrame, text_col: str = "text", n: int = SHINGLE_N) -> DataFrame:
    """Add a `shingles` array column: word n-grams joined by single spaces.

    Documents shorter than n tokens contribute one truncated shingle (the
    whole text) — slice() clamps at the array end on both engines.
    """
    return df.withColumn("toks", F.split(F.col(text_col), " ")).withColumn(
        "shingles",
        F.expr(
            f"transform(sequence(1, greatest(size(toks) - {n - 1}, 1)),"
            f" i -> concat_ws(' ', slice(toks, i, {n})))"
        ),
    )


def minhash_signature(df: DataFrame, n_hashes: int = N_MINHASH) -> DataFrame:
    """Add `sig`: array of n_hashes min-hashes over word 3-shingles.

    Expects a `toks` column (see with_shingles). One md5 per token, shingle
    hashes composed positionally (SHINGLE_C1/C2), each hash-family member
    affine arithmetic (a*h+b mod P31) — pure per-row expression chain
    (transform + array_min), no shuffle, hashing amortized across both the
    shingle window and all seeds. try_element_at: trailing shingles of
    short documents treat missing tokens as hash 0 (ANSI-safe).
    """
    th = f"transform(toks, t -> {md5_long64_expr('t')} % {P31})"
    sh = (
        f"transform(sequence(1, greatest(size(toks) - {SHINGLE_N - 1}, 1)),"
        f" i -> ((try_element_at(th_, i) * {SHINGLE_C1}) % {P31}"
        f" + (coalesce(try_element_at(th_, i + 1), 0) * {SHINGLE_C2}) % {P31}"
        f" + coalesce(try_element_at(th_, i + 2), 0)) % {P31})"
    )
    with_sh = df.withColumn("th_", F.expr(th)).withColumn("sh_", F.expr(sh))
    mins = [
        F.expr(f"array_min(transform(sh_, h -> ({a} * h + {b}) % {P31}))")
        for a, b in affine_params(n_hashes)
    ]
    return with_sh.withColumn("sig", F.array(*mins))


def lsh_bands(
    df: DataFrame, id_col: str = "doc_id", carry: tuple[str, ...] = ()
) -> DataFrame:
    """Explode the signature into (id[, *carry], band, band_key) rows.

    ``carry`` names input columns to keep alongside the id through the
    explode. The whole signature→band chain is map-only, so carrying is
    free on the wire, while re-joining the source frame on the id
    afterward to recover e.g. per-doc metadata costs a corpus-sized
    equi-join per call site (the qs15 r13 fix, guide §2.4).

    band_key is the comma-joined signature slice — collisions in a band are
    LSH candidate hits. Output is N_BANDS rows per document.

    The band layout assumes exactly N_BANDS × ROWS_PER_BAND signature
    elements; a shorter sig (minhash_signature with a smaller n_hashes)
    would make the out-of-range slices EMPTY, giving every document the
    identical band_key '' — up to cap²/2 spurious candidate pairs per
    band with no error (r7 review). The expression therefore guards on
    size(sig) and raise_error()s per row, the same loud-fail pattern as
    similarity.lsh_buckets.
    """
    n = N_BANDS * ROWS_PER_BAND
    bands = (
        f"transform(sequence(0, {N_BANDS - 1}),"
        f" b -> concat_ws(',', slice(sig, b * {ROWS_PER_BAND} + 1, {ROWS_PER_BAND})))"
    )
    guarded = (
        f"CASE WHEN size(sig) = {n} THEN {bands} "
        f"ELSE raise_error(CONCAT('lsh_bands: signature length ', "
        f"CAST(size(sig) AS STRING), ' != {n} (N_BANDS*ROWS_PER_BAND)')) END"
    )
    return df.select(
        F.col(id_col),
        *[F.col(c) for c in carry],
        F.posexplode(F.expr(guarded)).alias("band", "band_key"),
    )


# Per-bucket membership cap for the LSH pair expansion. A bucket of b docs
# emits b·(b-1)/2 candidate pairs; without a cap, one mega-duplicated
# document (say 1M byte-near-identical copies landing in one band bucket)
# expands to 5e11 pairs inside a single key. 256 is far above any honest
# near-dup bucket (fixture max is 13 at sf0.1) yet bounds the worst bucket
# to ~32k pairs. Overflow policy: keep the `cap` smallest doc ids
# (deterministic); run exact dedup FIRST (as qp01 does) so identical
# documents never reach LSH as distinct members.
LSH_BUCKET_CAP = 256


def lsh_candidate_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bucket_cap: int = LSH_BUCKET_CAP,
    slice_of: tuple[int, int] | None = None,
) -> DataFrame:
    """MinHash-LSH candidate pairs: (doc_a, doc_b, n_shared_bands).

    Topology: per-row signature math → explode to bands → *capped*
    within-bucket pair expansion → pair groupBy. The bucket key is a
    uniform hash digest, so the shuffle is balanced; pair volume tracks
    near-dup density and is hard-bounded at cap²/2 per bucket.

    The cap is enforced with a row_number window over (band, band_key):
    Spark's WindowGroupLimit prunes every map partition to `cap` rows per
    bucket BEFORE the exchange, so neither the shuffle nor any aggregation
    buffer ever holds an unbounded bucket. The survivors pair up via a
    same-key collect_list (reuses the window's partitioning — no extra
    exchange) and a pure expression expansion.

    ``slice_of=(p, n)`` keeps only bucket keys with
    pmod(xxhash64(band, band_key), n) == p, filtered after the per-row
    band explode but BEFORE the bucket exchange, so the shuffle itself
    shrinks to the slice — the band exchange is corpus-linear scratch
    (N_BANDS rows per document), the binding stage of the bounded qp08
    recipe once its shingle exchange was sliced (BASELINE.md Round 12
    finding 2). The cap window, the collect_list and the pair expansion
    are all (band, band_key)-keyed and a bucket lives wholly inside one
    slice, so each slice is EXACTLY the global computation restricted to
    its buckets, and a pair's shared-band count sums across slices:
    n_shared_bands(a, b) = Σ_p n_shared_p(a, b). xxhash64 (fixed seed)
    over the minhash-digest bucket key keeps slices balanced. Each slice
    re-pays the per-row signature math: CPU that scales out, traded for
    scratch disk, the single-box ceiling. Used by
    pipeline_q.qp08_canonical_map_bounded; pinned by
    tests/test_qp08_bounded.py.
    """
    from pyspark.sql import Window

    bands = lsh_bands(minhash_signature(with_shingles(df, text_col)), id_col)
    if slice_of is not None:
        p, n = slice_of
        bands = bands.where(
            F.pmod(F.xxhash64("band", "band_key"), F.lit(n)) == F.lit(p)
        )
    w = Window.partitionBy("band", "band_key").orderBy(id_col)
    capped = (
        bands.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") <= bucket_cap)
        .drop("_rn")
    )
    buckets = capped.groupBy("band", "band_key").agg(
        F.array_sort(F.collect_list(id_col)).alias("ids")
    )
    pairs = buckets.select(
        F.explode(
            F.expr(
                "flatten(transform(ids, (x, i) ->"
                " transform(slice(ids, i + 2, size(ids)), y -> struct(x, y))))"
            )
        ).alias("p")
    )
    return (
        pairs.select(F.col("p.x").alias("doc_a"), F.col("p.y").alias("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("n_shared_bands"))
    )


def _simhash_expr(shift_tpl: str, bits: int = SIMHASH_BITS) -> str:
    """Bit-majority SimHash aggregate expression (engine-parametrized shift).

    shift_tpl: e.g. "shiftright(h, {b})" (Spark) or "(h >> {b})" (DuckDB).
    The whole signature is one expression: sum over bits of
    2^b * [majority of tokens have bit b set].
    """
    terms = [
        f"(CASE WHEN sum(CASE WHEN ({shift_tpl.format(b=b)}) & 1 = 1"
        f" THEN 1 ELSE -1 END) > 0 THEN CAST({1 << b} AS BIGINT) ELSE CAST(0 AS BIGINT) END)"
        for b in range(bits)
    ]
    return " + ".join(terms)


def simhash(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """48-bit SimHash per document: (id, simhash).

    explode tokens → 60-bit token hash → one groupBy(doc_id) computing all 48
    bit-majorities as partial-aggregating sums. doc_id is unique, so the
    map-side combine collapses each document locally; the shuffle moves one
    row of 48 counters per doc.
    """
    toks = df.select(
        F.col(id_col), F.explode(F.split(F.col(text_col), " ")).alias("token")
    ).withColumn("h", F.expr(md5_long64_expr("token")))
    return toks.groupBy(id_col).agg(
        F.expr(_simhash_expr("shiftright(h, {b})")).alias("simhash")
    )


def simhash_oracle_expr() -> str:
    """The DuckDB twin of the simhash aggregate (for oracle SQL)."""
    return _simhash_expr("(h >> {b})")


def duplicate_span_coverage(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-document fraction of token positions covered by an n-gram span
    that also occurs in ANOTHER document — the signal behind
    substring-level dedup (Lee et al., "Deduplicating Training Data Makes
    Language Models Better"): exact/near dedup misses documents that
    merely *embed* boilerplate, this measures it.

    Shape: (doc, pos, shingle) occurrences → shingle document-frequency
    (partial-aggregating groupBy on the shingle key) → semi-join
    occurrences against shingles with df ≥ 2 → per-doc sorted position
    list → covered tokens = union length of the fixed-width spans,
    computed by ONE array expression (each sorted position contributes
    min(n, next_pos − pos) with an end-of-doc sentinel). Every stage keys
    on either the uniform shingle hash or the unique doc id — no
    single-key concentration. Output: one row per document with ≥ 1
    covered token.

    Two round-4 rewrites, after the 10× probe showed this operator
    dominating the qp04 dashboard (43 s of its 41 s):

    1. Shingles are HASHED, not materialized as strings: one md5 per
       token (amortized across all its shingles), composed positionally
       into a 61-bit key — the same technique minhash_signature uses,
       but in the wider P61 domain so the collision budget is negligible
       (~S²/2^62: ~2e5 spurious dup-shingles among 1e12 distinct — a
       2e-7 relative error on a coverage STATISTIC, vs the exact-match
       semantics the string build paid 3 string-materializing passes
       for). The df groupBy and the semi-join now move 8-byte keys.
       The DuckDB twin composes the identical hashes, so the gate stays
       an exact hash compare.

    2. The union length is ONE array expression per doc: each sorted
       matched position contributes min(n, next_pos − pos) with an
       end-of-doc sentinel — identical to the old ×n position explode +
       corpus-wide distinct, without the n-fold row fan-out or the
       distinct exchange. The per-doc collect_set is bounded by document
       length, the same bound every per-doc aggregation here carries.

    Combined: 43 s → ~11 s at the 10× probe (the remaining cost is the
    two passes over the token-hash explode — the df aggregate and the
    semi-join left side; both shuffle 8-byte keys).
    """
    th = _TOKEN_HASH_EXPR
    sh_hashes = _P61_SHINGLE_EXPR
    sh = (
        df.withColumn("toks", F.split(F.col(text_col), " "))
        .withColumn("th_", F.expr(th))
        .select(
            F.col(id_col),
            F.size("toks").alias("n_tokens"),
            F.posexplode(F.expr(sh_hashes)).alias("pos", "shingle"),
        )
    )
    dup = (
        sh.groupBy("shingle")
        .agg(F.count_distinct(F.col(id_col)).alias("_df"))
        .where(F.col("_df") >= 2)
        .select("shingle")
    )
    # sorted matched positions per doc; each contributes the part of its
    # n-wide span not already covered by the next span (or the doc end)
    union_len = (
        f"aggregate(transform(_ps, (p, i) -> cast(least({SHINGLE_N},"
        " coalesce(try_element_at(_ps, i + 2), n_tokens) - p) as bigint)),"
        " cast(0 as bigint), (acc, v) -> acc + v)"
    )
    return (
        sh.join(dup, "shingle")
        .groupBy(id_col, "n_tokens")
        .agg(F.array_sort(F.collect_set("pos")).alias("_ps"))
        .select(
            id_col,
            "n_tokens",
            F.expr(union_len).alias("covered_tokens"),
        )
        .withColumn(
            "dup_coverage",
            scaled_round(F.col("covered_tokens") / F.col("n_tokens")),
        )
    )


# Drop shingles appearing in more than this many documents from the
# Jaccard/containment inverted-index join (duplicate_span_coverage applies
# NO cap — its df aggregate is linear and the ≥2 filter is the semantic).
# A stopword-like shingle ("it is the") in d docs fans out to d²/2
# intersection rows in ONE join key — quadratic in the worst key. Such
# shingles carry no discriminative signal (they shrink every Jaccard
# toward the same baseline), so pruning them bounds the fan-out at cap²/2
# per shingle while leaving near-dup pairs (which share many LOW-frequency
# shingles) intact. 1000 is far above the fixture max document frequency
# (25 at sf0.1) so fixture hashes are unchanged; at 100 TB set it to your
# stopword-df knee (and run on LSH candidates).
NGRAM_SHINGLE_DF_CAP = 1000


def hashed_shingle_set(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    slice_of: tuple[int, int] | None = None,
) -> DataFrame:
    """Distinct (id, shingle) with 61-bit HASHED 3-gram shingles — the
    8-byte inverted-index key shared by the Jaccard/containment pair
    paths and the span-coverage family. One md5 per token, positional
    P61 composition (see duplicate_span_coverage's collision-budget
    note: ~S²/2^62 spurious matches — statistically invisible); the
    distinct, the df-cap window, and the self-join all move 8-byte longs
    instead of materialized shingle strings — the rewrite that took the
    span pass from 43 s to ~11 s at the 10× probe.

    ``slice_of=(p, n)`` keeps only shingles with pmod(shingle, n) == p,
    filtered BEFORE the distinct so the exchange itself shrinks to the
    slice (the point of the bounded-pass path — a post-distinct filter
    would still shuffle the whole corpus). The shingle hash is uniform,
    so slices are balanced; a shingle's full inverted-index posting list
    lives wholly inside one slice, so per-slice distinct, document
    frequency, and pair intersection are each EXACTLY the global
    computation restricted to that slice."""
    out = (
        df.withColumn("toks", F.split(F.col(text_col), " "))
        .withColumn("th_", F.expr(_TOKEN_HASH_EXPR))
        .select(
            F.col(id_col),
            F.explode(F.expr(_P61_SHINGLE_EXPR)).alias("shingle"),
        )
    )
    if slice_of is not None:
        p, n = slice_of
        out = out.where(F.pmod(F.col("shingle"), F.lit(n)) == F.lit(p))
    return out.distinct()


def _shingle_intersection(
    df: DataFrame,
    text_col: str,
    id_col: str,
    max_shingle_docs: int,
) -> DataFrame:
    """Shared inverted-index intersection behind the Jaccard and
    containment pair families: distinct hashed shingles → df-cap prune →
    per-shingle pair expansion → (doc_a, doc_b, n_inter, n_a, n_b).

    The frequency prune is a count window over the shingle key — one
    exchange that the pair expansion then reuses (same partitioning), so
    the cap costs no extra shuffle. Set sizes (the score denominators)
    are computed from the FULL shingle sets, so scores are exact for
    pairs whose intersection survives; pairs held together only by
    >cap-frequency shingles are dropped — by construction those have
    ≲ cap/|A∪B| of signal from such shingles, i.e. the prune only
    suppresses pairs that were never near-duplicates. (Previously two
    verbatim copies in the two pair functions — r7 review.)
    """
    from pyspark.sql import Window

    from streamsurfer_spark.functions.pairs import grouped_pair_expand

    sh = hashed_shingle_set(df, text_col, id_col)
    # per-doc set size (the score denominator) rides each shingle row as
    # a second window over the SAME distinct frame, computed BEFORE the
    # df-cap filter so it counts the FULL set. Previously n_a/n_b came
    # from a separate `sizes` aggregate joined back on each pair side —
    # with a self-join that meant the corpus→md5→explode→distinct chain
    # executed FOUR times (2 pair sides + 2 sizes subtrees); carrying the
    # count removed both sizes subtrees, and grouped_pair_expand removed
    # the second pair side (r13, guide §2.4): the chain now runs ONCE.
    wdf = Window.partitionBy("shingle")
    wdoc = Window.partitionBy(id_col)
    sh = (
        sh.withColumn("n_sh", F.count("*").over(wdoc))
        .withColumn("_df", F.count("*").over(wdf))
        .where(F.col("_df") <= max_shingle_docs)
        .drop("_df")
    )
    # n_a/n_b are functionally dependent on doc_a/doc_b, so adding them
    # to the grouping keys yields identical groups — and spares the
    # two post-aggregation joins entirely
    return (
        grouped_pair_expand(sh, ["shingle"], [id_col, "n_sh"])
        .groupBy(
            F.col(f"_pa.{id_col}").alias("doc_a"),
            F.col(f"_pb.{id_col}").alias("doc_b"),
            F.col("_pa.n_sh").alias("n_a"),
            F.col("_pb.n_sh").alias("n_b"),
        )
        .agg(F.count("*").alias("n_inter"))
        .select("doc_a", "doc_b", "n_inter", "n_a", "n_b")
    )


def shingle_intersection_partials(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_shingle_docs: int = NGRAM_SHINGLE_DF_CAP,
    part: int = 0,
    n_parts: int = 1,
) -> tuple[DataFrame, DataFrame]:
    """ONE bounded pass of the inverted-index intersection: the slice-of-
    shingle-space partials that sum to _shingle_intersection's globals.

    Returns (inter_p, sizes_p): pair intersection counts and per-doc set
    sizes restricted to shingles with pmod(shingle, n_parts) == part.
    Because the distinct, the df-cap window, and the self-join are all
    keyed on the shingle, each slice is self-contained:

        n_inter(a, b) = Σ_p n_inter_p(a, b)      (disjoint shingle sets)
        n_sh(id)      = Σ_p n_sh_p(id)
        df(shingle)    is slice-local == global   (one slice owns it)

    so summing spooled partials reproduces the monolithic result bit-for-
    bit while each pass shuffles ~1/n_parts of the corpus — the bounded-
    spool answer to the shingle exchange being corpus-LINEAR in scratch
    disk (BASELINE.md: qp08's single-box 1000× DNF). Used by
    pipeline_q.qp08_canonical_map_bounded; equality with the monolithic
    plan is pinned by tests at two SFs.
    """
    from pyspark.sql import Window

    from streamsurfer_spark.functions.pairs import grouped_pair_expand

    sh = hashed_shingle_set(df, text_col, id_col, slice_of=(part, n_parts))
    sizes_p = sh.groupBy(id_col).agg(F.count("*").alias("n_sh"))
    wdf = Window.partitionBy("shingle")
    capped = (
        sh.withColumn("_df", F.count("*").over(wdf))
        .where(F.col("_df") <= max_shingle_docs)
        .drop("_df")
    )
    # grouped_pair_expand, not a shingle-keyed self-join: one evaluation
    # of the slice's distinct chain per pass instead of two (r13) — the
    # slice-sum identity is unchanged (the expansion is still wholly
    # (shingle)-keyed, so a bucket lives inside one slice)
    inter_p = (
        grouped_pair_expand(capped, ["shingle"], [id_col])
        .groupBy(
            F.col(f"_pa.{id_col}").alias("doc_a"),
            F.col(f"_pb.{id_col}").alias("doc_b"),
        )
        .agg(F.count("*").alias("n_inter"))
    )
    return inter_p, sizes_p


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.4,
    max_shingle_docs: int = NGRAM_SHINGLE_DF_CAP,
) -> DataFrame:
    """Exact n-gram Jaccard similarity for all pairs sharing ≥1 shingle.

    Inverted-index shape (_shingle_intersection): distinct (doc, HASHED
    shingle — see hashed_shingle_set) → prune shingles with document
    frequency > max_shingle_docs → self-join on shingle → |A∩B| per pair
    → join per-doc set sizes → J = |A∩B| / (|A|+|B|-|A∩B|). Emits pairs
    with J ≥ threshold.
    """
    return (
        _shingle_intersection(df, text_col, id_col, max_shingle_docs)
        .withColumn(
            "jaccard",
            scaled_round(
                F.col("n_inter").cast("double")
                / (F.col("n_a") + F.col("n_b") - F.col("n_inter"))
            ),
        )
        .where(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "n_inter", "jaccard")
    )


def ngram_containment_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.8,
    max_shingle_docs: int = NGRAM_SHINGLE_DF_CAP,
) -> DataFrame:
    """Asymmetric CONTAINMENT dedup: pairs where one document's shingle
    set is (mostly) a subset of the other's — cont(A⊂B) = |A∩B| / |A|.

    This catches what Jaccard structurally cannot: a short document fully
    embedded in a long one (a quoted article, a page aggregating posts)
    has J ≈ |A|/|B| ≈ 0 but containment 1.0 — the Broder (1997) resemblance
    vs containment distinction. Emits pairs whose LARGER-direction
    containment reaches ``threshold``, with both directions and the
    contained side named.

    Same inverted-index shape (_shingle_intersection: hashed shingle
    keys, df cap) as ngram_jaccard_pairs; only the scoring changes, so
    the scale argument is identical.
    """
    scored = (
        _shingle_intersection(df, text_col, id_col, max_shingle_docs)
        .withColumn(
            "cont_a_in_b",
            scaled_round(F.col("n_inter").cast("double") / F.col("n_a")),
        )
        .withColumn(
            "cont_b_in_a",
            scaled_round(F.col("n_inter").cast("double") / F.col("n_b")),
        )
    )
    return scored.where(
        F.greatest(F.col("cont_a_in_b"), F.col("cont_b_in_a")) >= threshold
    ).select(
        "doc_a",
        "doc_b",
        "n_inter",
        "cont_a_in_b",
        "cont_b_in_a",
        F.when(F.col("cont_a_in_b") >= F.col("cont_b_in_a"), F.col("doc_a"))
        .otherwise(F.col("doc_b"))
        .alias("contained_id"),
    )


# Manku-et-al pigeonhole banding for SimHash hamming search (WWW 2007,
# "Detecting Near-Duplicates for Web Crawling"): to find all pairs within
# hamming distance k over b-bit signatures, split the signature into k+1
# disjoint bands — any pair with ≤ k differing bits must agree EXACTLY on
# at least one band (pigeonhole), so candidate generation is k+1 cheap
# equality self-joins instead of an O(n²) scan.
SIMHAM_K = 3
SIMHAM_BANDS = SIMHAM_K + 1            # 4 bands × 12 bits over the 48
SIMHAM_BAND_BITS = SIMHASH_BITS // SIMHAM_BANDS
# per-(band, value) membership cap — same structural bound as the MinHash
# and cosine paths: an adversarial band value (e.g. mega-duplicated or
# near-empty documents sharing a signature) cannot go quadratic. Smallest
# ids are kept, pruned by WindowGroupLimit BEFORE the exchange.
SIMHAM_BAND_CAP = 1000


def simhash_hamming_pairs(
    df: DataFrame,
    k: int = SIMHAM_K,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """All document pairs whose SimHash signatures differ in ≤ k bits:
    (doc_a, doc_b, hamming) — the Manku near-dup formulation, the THIRD
    signature family next to MinHash-LSH (set resemblance) and exact
    cosine (embeddings): SimHash hamming tracks weighted-feature cosine,
    catches small in-place edits, and its candidate stage is pure
    equality joins.

    Distributed shape (100 TB): signatures are one 48-counter row per
    doc (map-side combined); banding fans out k+1 rows per doc; the
    pair-expansion keys are (band, 12-bit value) — 4×4096 uniform-ish
    buckets, membership capped at SIMHAM_BAND_CAP pre-exchange; the
    exact hamming check (bit_count(xor)) runs only on candidates. No
    row ever carries text past the signature stage. The expansion is
    ``grouped_pair_expand`` (single evaluation), not a band-keyed
    self-join — the join form ran the token-explode + 48-counter
    signature aggregate once PER SIDE (r13, guide §2.4).
    """
    from pyspark.sql import Window

    from streamsurfer_spark.functions.pairs import grouped_pair_expand

    bands = F.array(*[F.lit(i) for i in range(k + 1)])
    sigs = simhash(df, text_col=text_col, id_col=id_col)
    banded = (
        sigs.select(F.col(id_col), "simhash", F.explode(bands).alias("band"))
        .withColumn(
            "bv",
            F.expr(
                f"shiftright(simhash, {SIMHAM_BAND_BITS} * band)"
                f" & {(1 << SIMHAM_BAND_BITS) - 1}"
            ),
        )
    )
    w = Window.partitionBy("band", "bv").orderBy(id_col)
    capped = (
        banded.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") <= SIMHAM_BAND_CAP)
        .drop("_rn")
    )
    cand = (
        grouped_pair_expand(capped, ["band", "bv"], [id_col, "simhash"])
        .select(
            F.col(f"_pa.{id_col}").alias("doc_a"),
            F.col(f"_pb.{id_col}").alias("doc_b"),
            F.col("_pa.simhash").alias("sig_a"),
            F.col("_pb.simhash").alias("sig_b"),
        )
        .distinct()
    )
    ham = F.expr("bit_count(sig_a ^ sig_b)").cast("int")
    return cand.withColumn("hamming", ham).where(
        F.col("hamming") <= k
    ).select("doc_a", "doc_b", "hamming")
