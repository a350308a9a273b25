"""Text-analysis operators for LLM training-data pipelines (SURVEY §2.3 D).

All hot paths are built-in column expressions (codegen, zero Python);
everything is per-row → embarrassingly parallel, no shuffle, scales linearly
with input splits at 100 TB.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame

from streamsurfer_spark.functions.hashing import (
    MOD_PRIME,
    P31,
    md5_long64,
    md5_long64_expr,
    md5_long64_py,
)
from streamsurfer_spark.functions.rounding import scaled_round

# Tiny per-language stopword lists for the n-gram/stopword language-ID
# heuristic. Deliberately small and frozen: they are part of the operator's
# deterministic contract (changing them changes fingerprints of runs).
STOPWORDS: dict[str, tuple[str, ...]] = {
    "en": ("the", "of", "and", "to", "in", "is", "it", "that", "for", "on"),
    "es": ("el", "de", "la", "que", "y", "en", "un", "por", "con", "los"),
    "de": ("der", "die", "und", "das", "von", "zu", "mit", "ist", "den", "nicht"),
    "fr": ("le", "de", "la", "et", "les", "des", "en", "un", "du", "une"),
    "zh": ("de", "shi", "bu", "le", "zai", "ren", "you", "wo", "ta", "zhe"),
}

# BPE-ish pretokenizer: word pieces OR single non-space punctuation — the
# shape GPT-style tokenizers use for pre-splitting.
BPE_ISH_PATTERN = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"


def tokens(text_col: Column | str = "text") -> Column:
    """Whitespace tokenization (fixture texts are single-space joined)."""
    return F.split(text_col, " ")


def token_count(text_col: Column | str = "text") -> Column:
    return F.size(tokens(text_col)).cast("long")


def bpe_ish_token_count(text_col: Column | str = "text") -> Column:
    """Sub-word-ish token count via the pretokenizer regex (codegen-side)."""
    col = F.col(text_col) if isinstance(text_col, str) else text_col
    return F.size(F.regexp_extract_all(col, F.lit(BPE_ISH_PATTERN), F.lit(0))).cast("long")


def stopword_hits(text_col: Column | str, lang: str) -> Column:
    """How many tokens are stopwords of `lang` (per-token, with repeats)."""
    stop = F.array(*[F.lit(w) for w in STOPWORDS[lang]])
    return F.size(F.filter(tokens(text_col), lambda t: F.array_contains(stop, t))).cast("long")


def language_scores(text_col: Column | str = "text") -> dict[str, Column]:
    return {lang: stopword_hits(text_col, lang) for lang in STOPWORDS}


def predict_language(scores: dict[str, Column]) -> Column:
    """Deterministic argmax with fixed precedence order (dict order)."""
    langs = list(scores)
    expr = F.lit(langs[-1])
    for lang in reversed(langs[:-1]):
        cond = None
        for other in langs:
            if other == lang:
                continue
            c = scores[lang] >= scores[other]
            cond = c if cond is None else (cond & c)
        expr = F.when(cond, F.lit(lang)).otherwise(expr)
    return expr


def quality_score_col(text_col: Column | str = "text") -> Column:
    """The composite quality score in [0,1] as a bare column expression —
    the same frozen formula quality_features emits, exposed so capstones
    can FUSE the per-row score into an existing corpus scan instead of
    joining quality_features back on doc_id (a removable corpus self-join
    — optimization guide §2.4; the r13 qp04 change)."""
    tc = token_count(text_col)
    stop_en = stopword_hits(text_col, "en")
    return scaled_round(
        F.least(F.lit(1.0), tc.cast("double") / 100.0) * 0.5
        + F.least(F.lit(1.0), stop_en.cast("double") / tc * 5.0) * 0.5
    )


def quality_features(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Quality-scoring features: length, token stats, punct/stopword ratios,
    and a composite score in [0,1]. Formula is frozen (oracle-replicated).

    Edge contract: an EMPTY text has n_chars = 0, so punct_ratio is 0/0 →
    NULL (scaled_round's non-finite guard; DuckDB's x/0 is NULL too, so
    the engines agree). Predicates over punct_ratio should decide NULL
    handling explicitly — a bare `punct_ratio <= t` silently drops
    empty documents.
    """
    tc = token_count(text_col)
    n_chars = F.length(text_col).cast("long")
    punct_chars = (n_chars - F.length(F.regexp_replace(text_col, r"[.,!?;:]", ""))).cast("long")
    stop_en = stopword_hits(text_col, "en")
    return df.select(
        "doc_id",
        n_chars.alias("n_chars_actual"),
        tc.alias("n_tokens"),
        scaled_round(n_chars.cast("double") / tc).alias("avg_token_span"),
        scaled_round(punct_chars.cast("double") / n_chars).alias("punct_ratio"),
        scaled_round(stop_en.cast("double") / tc).alias("stopword_ratio"),
        quality_score_col(text_col).alias("quality_score"),
    )


# --- Gopher-style document-quality rules -------------------------------------
# The public rule-based curation gate of Rae et al. 2021 ("Scaling Language
# Models: ... Gopher", §A.1.1 / MassiveWeb filtering), as used (with varied
# thresholds) by most open training-data pipelines. Thresholds are module
# constants scaled to the fixture's 10-99-word documents; the RULES are the
# published ones. All comparisons are exact BIGINT inequalities (a ratio
# threshold r = p/q is tested as q*hits <op> p*n), so the keep/fail booleans
# are bit-identical across engines with no float threshold anywhere.
GOPHER_MIN_WORDS = 20
GOPHER_MAX_WORDS = 80
GOPHER_MIN_MEAN_LEN = 3  # mean word length bounds (chars)
GOPHER_MAX_MEAN_LEN = 10
GOPHER_MAX_SYMBOL_RATIO = (1, 10)  # symbols ('#', '...') per word < 1/10
GOPHER_MIN_ALPHA_RATIO = (4, 5)  # words containing a letter > 4/5
GOPHER_MIN_STOP_HITS = 2  # ≥ 2 English stopword occurrences


def _gopher_exprs(text_col: Column | str = "text") -> dict[str, Column]:
    """The Gopher rule sub-expressions, shared by gopher_quality_rules and
    gopher_keep_col so the fused and operator forms are the SAME tree."""
    toks = tokens(text_col)
    n_words = F.size(toks).cast("long")
    sum_len = F.aggregate(
        F.transform(toks, lambda w: F.length(w).cast("long")),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    alpha_words = F.size(
        F.filter(toks, lambda w: w.rlike("[A-Za-z]"))
    ).cast("long")
    text = F.col(text_col) if isinstance(text_col, str) else text_col
    hash_chars = F.length(text) - F.length(F.regexp_replace(text, "#", ""))
    ellipses = (
        F.length(text) - F.length(F.regexp_replace(text, r"\.\.\.", ""))
    ) / 3
    symbol_hits = (hash_chars + ellipses).cast("long")
    stop_hits = stopword_hits(text_col, "en")

    sp, sq = GOPHER_MAX_SYMBOL_RATIO
    ap, aq = GOPHER_MIN_ALPHA_RATIO
    pass_word_count = (n_words >= GOPHER_MIN_WORDS) & (
        n_words <= GOPHER_MAX_WORDS
    )
    pass_mean_len = (sum_len >= GOPHER_MIN_MEAN_LEN * n_words) & (
        sum_len <= GOPHER_MAX_MEAN_LEN * n_words
    )
    pass_symbol = symbol_hits * sq < n_words * sp
    pass_alpha = alpha_words * aq > n_words * ap
    pass_stopwords = stop_hits >= GOPHER_MIN_STOP_HITS
    return {
        "n_words": n_words,
        "sum_len": sum_len,
        "alpha_words": alpha_words,
        "stop_hits": stop_hits,
        "pass_word_count": pass_word_count,
        "pass_mean_len": pass_mean_len,
        "pass_symbol": pass_symbol,
        "pass_alpha": pass_alpha,
        "pass_stopwords": pass_stopwords,
        "keep": (
            pass_word_count
            & pass_mean_len
            & pass_symbol
            & pass_alpha
            & pass_stopwords
        ),
    }


def gopher_keep_col(text_col: Column | str = "text") -> Column:
    """The AND-of-all-rules ``keep`` boolean as a bare column expression —
    per-row codegen, so capstones composing the Gopher gate (qp09/qp10)
    can fuse it into their existing corpus scan instead of joining
    gopher_quality_rules back on doc_id (optimization guide §2.4)."""
    return _gopher_exprs(text_col)["keep"]


def gopher_quality_rules(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-document Gopher rule evaluation: the raw counts, tie-proof
    display ratios, one boolean per rule, and the AND-of-all ``keep``.

    Everything is a codegen column expression over the token array —
    per-row, shuffle-free, linear at 100 TB. Mean-length and ratio rules
    compare integers (sum_len vs k*n_words etc.), never doubles.
    """
    e = _gopher_exprs(text_col)
    n_words = e["n_words"]
    sum_len = e["sum_len"]
    alpha_words = e["alpha_words"]
    stop_hits = e["stop_hits"]
    pass_word_count = e["pass_word_count"]
    pass_mean_len = e["pass_mean_len"]
    pass_symbol = e["pass_symbol"]
    pass_alpha = e["pass_alpha"]
    pass_stopwords = e["pass_stopwords"]
    return df.select(
        "doc_id",
        n_words.alias("n_words"),
        scaled_round(sum_len.cast("double") / n_words).alias("mean_word_len"),
        scaled_round(alpha_words.cast("double") / n_words).alias("alpha_ratio"),
        stop_hits.alias("stop_hits"),
        pass_word_count.alias("pass_word_count"),
        pass_mean_len.alias("pass_mean_len"),
        pass_symbol.alias("pass_symbol"),
        pass_alpha.alias("pass_alpha"),
        pass_stopwords.alias("pass_stopwords"),
        (
            pass_word_count
            & pass_mean_len
            & pass_symbol
            & pass_alpha
            & pass_stopwords
        ).alias("keep"),
    )


def unigram_surprisal(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    carry: tuple[str, ...] = (),
    materialize=None,
) -> DataFrame:
    """Unigram-LM quality score: per-document mean token surprisal
    (-ln p(token)) under the corpus's own unigram distribution — the
    classic cheap perplexity proxy for training-data quality filtering
    (low = boilerplate/repetitive, high = rare-token noise).

    Float discipline: ln() is evaluated ONCE PER DISTINCT TOKEN on the
    vocabulary table and immediately rounded to integer micro-nats
    (×1e6 BIGINT) — all per-document aggregation is then exact integer
    summation, so results are independent of row order and partitioning.
    (Summing raw doubles per doc would be order-dependent; summing
    pre-rounded BIGINTs is not.)

    Distributed shape (100 TB): tf = groupBy(doc, token) with map-side
    combine collapses repeated tokens before anything is joined; the
    vocabulary (distinct tokens ≪ corpus) gets its costs in one pass and
    joins back ON TOKEN — a shuffle join whose key skew ("the") is
    bounded because the fat side is already (doc, token)-distinct, with
    AQE skew-split as backstop. Final groupBy(doc) is partial-aggregating
    on a unique key.

    ``carry``: extra ``df`` columns rode through the aggregation keys
    (must be functionally dependent on ``id_col`` — per-doc metadata like
    lang/source). Saves the caller a join back on the id (the r13
    kmeans_fit/lsh_bands carry pattern, guide §2.4); row values are
    unchanged because the added keys split no group.

    ``materialize``: optional ``DataFrame -> DataFrame`` hook applied to
    the tf frame, which this operator references TWICE (the vocabulary
    chain and the fat join side) — Spark plans no common-subtree reuse,
    so without it the tokenize/explode/groupBy over ``df`` (and the whole
    upstream of ``df``) evaluates twice. Capstones with an expensive
    upstream pass a lineage truncation (e.g.
    ``lambda d: d.localCheckpoint(eager=False)``); the default None keeps
    the pure declarative plan (right where ``df`` is a bare scan — ql36).
    Values are unchanged either way; the tf ⋈ costed join is sort-merge
    in both forms (no stats-hiding broadcast trap here — r10 lesson).
    """
    toks = df.select(
        F.col(id_col),
        *[F.col(c) for c in carry],
        F.explode(tokens(text_col)).alias("token"),
    )
    tf = toks.groupBy(id_col, *carry, "token").agg(F.count("*").alias("tf"))
    if materialize is not None:
        tf = materialize(tf)
    vocab = tf.groupBy("token").agg(F.sum("tf").alias("cnt"))
    total = vocab.agg(F.sum("cnt").alias("total"))
    costed = vocab.crossJoin(F.broadcast(total)).select(
        "token",
        F.round(F.log(F.col("total") / F.col("cnt")) * 1_000_000)
        .cast("bigint")
        .alias("cost_micro"),
    )
    return (
        tf.join(costed, "token")
        .groupBy(id_col, *carry)
        .agg(
            F.sum("tf").alias("n_tokens"),
            F.sum(F.col("tf") * F.col("cost_micro")).alias("surprisal_micro"),
        )
        .withColumn(
            # tie-proof final division (r7: converted off raw ROUND in
            # lockstep with the ql36/ql46/ql47/qp07/qp07b twins)
            "avg_surprisal_nats",
            scaled_round(F.col("surprisal_micro") / F.col("n_tokens") / 1e6),
        )
    )


# --- DSIR-style hashed-bigram importance weights -----------------------------
# Data Selection via Importance Resampling (Xie et al. 2023): score every raw
# document by the log-likelihood ratio of its hashed n-gram features under a
# bag-of-hashed-bigrams model of a TARGET corpus vs the RAW corpus. Documents
# with high ratios "look like" the target domain; the score feeds the
# hash-threshold samplers in operators/sampling.py for the resampling step.
DSIR_BUCKETS = 2048
# Positional constant for composing a bigram hash from its two token hashes
# (same one-md5-per-token trick as the shingle family in operators/dedup.py).
DSIR_C1 = md5_long64_py("dsir-c1") % (P31 - 1) + 1


def dsir_importance(
    df: DataFrame,
    target_lang: str = "en",
    text_col: str = "text",
    lang_col: str = "lang",
    id_col: str = "doc_id",
    n_buckets: int = DSIR_BUCKETS,
    materialize=None,
) -> DataFrame:
    """Per-document DSIR importance score over hashed-bigram features.

    Features: adjacent-token bigrams, hashed into ``n_buckets`` buckets via
    the portable md5 scheme — one md5 per TOKEN, bigram hash composed
    positionally ((th[i]*C1 + th[i+1]) mod P31 mod B), no bigram string
    materialized. Both unigram models are Laplace-smoothed bucket
    multinomials; the per-bucket weight

        w(b) = ln(cnt_target[b]+1) - ln(tot_target+B)
             - ln(cnt_raw[b]+1)    + ln(tot_raw+B)

    is evaluated ONCE PER BUCKET (every ln argument is an integer-valued
    double — exactly representable and bit-identical across engines up to
    2^53), rounded to integer micro-nats, and all per-document aggregation
    is exact BIGINT summation (order/partitioning independent — the same
    float discipline as unigram_surprisal above).

    Contract note: a document with fewer than 2 tokens has NO bigram
    features, explodes to zero rows, and is ABSENT from the output (its
    log-ratio is genuinely undefined, not zero). Consumers that must
    score every document should left-join the result and decide a policy
    for the missing rows explicitly.

    Distributed shape (100 TB): per-(doc, bucket) tf groupBy collapses
    repeats map-side; both bucket models are ≤ n_buckets rows (CONSTANT,
    corpus-size independent) so the weight table is computed in one tiny
    aggregation and BROADCAST back to the fat (doc, bucket) side — the only
    corpus-sized shuffle is the tf groupBy on a uniform composite key.
    Final groupBy(doc) partial-aggregates on a unique key.
    """
    th = f"transform(toks, t -> {md5_long64_expr('t')} % {P31})"
    bk = (
        "case when size(toks) < 2 then cast(array() as array<bigint>) else "
        "transform(sequence(1, size(toks) - 1),"
        f" i -> ((element_at(th_, i) * {DSIR_C1}) % {P31}"
        f" + element_at(th_, i + 1)) % {P31} % {n_buckets}) end"
    )
    buckets = (
        df.withColumn("toks", F.split(F.col(text_col), " "))
        .withColumn("th_", F.expr(th))
        .select(
            F.col(id_col),
            F.col(lang_col),
            F.explode(F.expr(bk)).alias("bucket"),
        )
    )
    tf = buckets.groupBy(id_col, lang_col, "bucket").agg(F.count("*").alias("tf"))
    # tf feeds both the bucket models and the fat scoring side; the
    # optional hook truncates lineage so the per-token md5 chain (and the
    # whole upstream of ``df``) evaluates once — same contract as
    # unigram_surprisal's ``materialize`` (the weights join keeps its
    # explicit broadcast hint, so no stats-hiding trap).
    if materialize is not None:
        tf = materialize(tf)
    # both bucket models in ONE corpus pass: cnt_t is a conditional sum, not
    # a second aggregation over the fat (doc, bucket) side
    models = tf.groupBy("bucket").agg(
        F.sum("tf").alias("cnt_r"),
        F.sum(
            F.when(F.col(lang_col) == target_lang, F.col("tf")).otherwise(F.lit(0))
        ).alias("cnt_t"),
    )
    # totals via an unpartitioned window over the ≤ n_buckets model rows
    # (a single CONSTANT-size partition) instead of a second aggregation
    # lineage — keeps the whole weight table at ONE corpus pass
    from pyspark.sql import Window

    whole = Window.partitionBy()
    weights = models.select(
        "bucket",
        F.round(
            (
                F.log(F.col("cnt_t") + F.lit(1))
                - F.log(F.sum("cnt_t").over(whole) + F.lit(n_buckets))
                - F.log(F.col("cnt_r") + F.lit(1))
                + F.log(F.sum("cnt_r").over(whole) + F.lit(n_buckets))
            )
            * 1_000_000
        )
        .cast("bigint")
        .alias("w_micro"),
    )
    return (
        tf.join(F.broadcast(weights), "bucket")
        .groupBy(id_col, lang_col)
        .agg(
            F.sum("tf").alias("n_bigrams"),
            F.sum(F.col("tf") * F.col("w_micro")).alias("logratio_micro"),
        )
        .withColumn(
            # tie-proof final division (r7 conversion, twin in lockstep)
            "avg_logratio_nats",
            scaled_round(F.col("logratio_micro") / F.col("n_bigrams") / 1e6),
        )
    )


def document_fingerprint(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Position-weighted polynomial fingerprint mod 1e9+7.

    fp(doc) = Σ_pos ((md5_60bit(token) mod P) · (pos+1) mod P) mod P

    Per-term modular reduction keeps every partial < P² ≈ 9e17 < 2^63 —
    no overflow. Distributed shape: posexplode → per-doc sum; the groupBy
    key is doc_id (unique) so partial aggregation does all the work.
    """
    toks = df.select("doc_id", F.posexplode(tokens(text_col)).alias("pos", "token"))
    term = (md5_long64(F.col("token")) % MOD_PRIME) * (F.col("pos") + 1) % MOD_PRIME
    return (
        toks.groupBy("doc_id")
        .agg((F.sum(term) % MOD_PRIME).alias("fingerprint"))
    )


def char_entropy(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Character-level unigram entropy per document, in nats — the
    cheapest boilerplate/noise detector in the standard quality-filter
    stack (near-zero entropy = one repeated character/pattern, e.g.
    separator runs or padding; unusually high = binary-ish noise).

    H = ln(n) − (Σ_c cnt_c · ln(cnt_c)) / n over the document's
    character histogram.

    Float discipline (the ql36 surprisal recipe): ln() is evaluated only
    on INTEGER-VALUED doubles (per-char counts and the total) and each
    result is immediately rounded to integer micro-nats, so the per-doc
    sums are exact BIGINT — order- and partitioning-independent, and
    bit-identical in the DuckDB twin. The single float division at the
    end goes through scaled_round.

    Distributed shape (100 TB): the char explode never crosses the wire
    raw — groupBy(doc, char) map-side-combines to at most
    |alphabet| ≈ 100 rows per document before the exchange, and the
    final groupBy(doc) partial-aggregates on a unique key. No join, no
    skew key (doc_id is unique), two bounded shuffles.
    """
    chars = df.where(F.length(text_col) > 0).select(
        F.col(id_col), F.explode(F.split(F.col(text_col), "")).alias("ch")
    )
    cf = chars.groupBy(id_col, "ch").agg(F.count("*").alias("cf"))
    lnc_micro = F.round(F.log(F.col("cf")) * 1_000_000).cast("bigint")
    per = cf.groupBy(id_col).agg(
        F.sum("cf").alias("n_chars_counted"),
        F.count("*").alias("distinct_chars"),
        F.sum(F.col("cf") * lnc_micro).alias("clnc_micro"),
    )
    lnn_micro = F.round(F.log(F.col("n_chars_counted")) * 1_000_000).cast(
        "bigint"
    )
    return per.select(
        F.col(id_col),
        "n_chars_counted",
        "distinct_chars",
        scaled_round(
            (lnn_micro * F.col("n_chars_counted") - F.col("clnc_micro"))
            / F.col("n_chars_counted")
            / 1e6
        ).alias("entropy_nats"),
    )
