"""LLM-data-pipeline queries (SURVEY.md §2.3 D, Q-L1..Q-L7 + extensions).

The reference has none of this surface (/root/reference/main.go:1-312 is an
event-batching client — SURVEY §2.2 evidence of absence); these queries are
the engine's north-star extensions: dedup (exact / MinHash-LSH / SimHash /
n-gram Jaccard), similarity search (exact top-k + LSH-bucketed ANN),
text analysis (stats, top-terms, quality, language-ID, fingerprints) and
multimodal column plumbing.

Every oracle replicates the Spark computation in DuckDB SQL using the
portable md5-based hash (functions/hashing.py) so candidate sets and
signatures are bit-identical, not just statistically similar.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from streamsurfer_spark.functions import hashing
from streamsurfer_spark.functions.hashing import (
    MOD_PRIME,
    P31,
    affine_params,
    md5_long64_expr,
)
from streamsurfer_spark.operators.similarity import dot_sql, norm_sql
from streamsurfer_spark.operators import (
    clustering,
    dedup,
    multimodal,
    packing,
    retrieval,
    sampling,
    similarity,
)
from streamsurfer_spark.functions import rounding
from streamsurfer_spark.functions.pairs import grouped_pair_expand
from streamsurfer_spark.functions.rounding import scaled_round, scaled_round_sql
from streamsurfer_spark.operators import text as text_ops
from streamsurfer_spark.queries import QuerySpec
from streamsurfer_spark.session import table

PROBE_MOD = 97  # ~1% of vec_ids serve as similarity probes

# ---------------------------------------------------------------------------
# Shared DuckDB fragments (mirrors of functions/hashing.py + operators)

DUCK_HASH = "('0x' || substr(md5({x}), 1, 15))::BIGINT"
DUCK_SHINGLES = (
    "[array_to_string(toks[i+1:i+3], ' ') for i in range(greatest(len(toks) - 2, 1))]"
)


def duck_hashed_shingle_set(src: str) -> str:
    """Subquery: DISTINCT (doc_id, 61-bit hashed 3-gram shingle) over
    ``src``(doc_id, text) — the DuckDB twin of dedup.hashed_shingle_set."""
    return f"""(
    SELECT DISTINCT doc_id, shingle FROM (
        SELECT doc_id,
               unnest([(th[i+1] * {dedup.SHINGLE_C1}) % {dedup.P61}
                       + (coalesce(th[i+2], 0) * {dedup.SHINGLE_C2}) % {dedup.P61}
                       + coalesce(th[i+3], 0)
                       for i in range(greatest(len(th) - 2, 1))]) AS shingle
        FROM (
            SELECT doc_id,
                   [({DUCK_HASH.format(x="t")}) % {P31}
                    for t in string_split(text, ' ')] AS th
            FROM {src}
        )
    ))"""


def _duck_stoplist(lang: str) -> str:
    return ", ".join(f"'{w}'" for w in text_ops.STOPWORDS[lang])


def _duck_stop_hits(lang: str) -> str:
    return (
        f"len(list_filter(string_split(text, ' '), t -> t IN ({_duck_stoplist(lang)})))"
    )


# --- Q-L1: exact dedup -------------------------------------------------------

def ql01_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    return dedup.exact_duplicate_groups(docs).orderBy("content_md5")


QL01_SQL = """
SELECT md5(text) AS content_md5, count(*) AS n_copies, min(doc_id) AS keep_id
FROM documents
GROUP BY 1
HAVING count(*) > 1
ORDER BY content_md5
"""


# --- Q-L2: MinHash + LSH candidate pairs ------------------------------------

def ql02_minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    return dedup.lsh_candidate_pairs(docs).orderBy("doc_a", "doc_b")


_AFFINE_VALUES = ", ".join(
    f"({s}, {a}, {b})" for s, (a, b) in enumerate(affine_params(dedup.N_MINHASH))
)


def duck_minhash_mh(src: str) -> str:
    """CTE chain d/th/sh/ab/mh replicating the Spark MinHash signature math
    over `src`(doc_id, text) — token hashes composed into positional shingle
    hashes, then the affine hash family min-reduced per seed.

    This is the shared prefix of ``duck_minhash_bands``; QL66 composes it
    directly (it aggregates per-source min over ``mh`` and never needs the
    band CTEs). Compose, don't slice: the QL66 twin previously string-sliced
    duck_minhash_bands() at the literal 'bands_raw', which broke silently on
    any rename/reformat of the banding CTEs (r8 ADVICE).
    """
    return f"""
d AS (SELECT doc_id, string_split(text, ' ') AS toks FROM {src}),
th AS (SELECT doc_id, [({DUCK_HASH.format(x="t")}) % {P31} for t in toks] AS th FROM d),
sh AS (
    SELECT doc_id,
           unnest([((th[i+1] * {dedup.SHINGLE_C1}) % {P31}
                    + (coalesce(th[i+2], 0) * {dedup.SHINGLE_C2}) % {P31}
                    + coalesce(th[i+3], 0)) % {P31}
                   for i in range(greatest(len(th) - 2, 1))]) AS h
    FROM th
),
ab(seed, a, b) AS (VALUES {_AFFINE_VALUES}),
mh AS (
    SELECT doc_id, seed, min((a * h + b) % {P31}) AS mh
    FROM sh CROSS JOIN ab
    GROUP BY doc_id, seed
)"""


def duck_minhash_bands(src: str) -> str:
    """CTE chain d/th/sh/ab/mh/bands replicating the Spark MinHash-LSH
    signature math over `src`(doc_id, text) — token hashes composed into
    positional shingle hashes, affine hash family, banded keys.

    The signature prefix lives in ``duck_minhash_mh``; this adds the band
    CTEs. The final ``bands`` CTE replicates ``lsh_candidate_pairs``'
    LSH_BUCKET_CAP (smallest doc_ids kept per (band, band_key)) so every
    twin built on it tracks Spark even when the cap binds — previously
    only the QL10/QL21/QL60 twins replicated their caps, leaving the
    five MinHash consumers (ql02/ql34/ql44/ql45/ql49 and the qp
    capstones) to diverge on a >cap bucket (r8 area review).
    """
    return f"""{duck_minhash_mh(src)},
bands_raw AS (
    SELECT doc_id, seed // {dedup.ROWS_PER_BAND} AS band,
           string_agg(mh::VARCHAR, ',' ORDER BY seed) AS band_key
    FROM mh GROUP BY doc_id, seed // {dedup.ROWS_PER_BAND}
),
bands AS (
    SELECT * FROM bands_raw
    QUALIFY row_number() OVER (PARTITION BY band, band_key ORDER BY doc_id)
            <= {dedup.LSH_BUCKET_CAP}
)"""


QL02_SQL = f"""
WITH {duck_minhash_bands("documents")}
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_shared_bands
FROM bands a
JOIN bands b ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id
GROUP BY 1, 2
ORDER BY 1, 2
"""


# --- Q-L3: exact top-k cosine similarity ------------------------------------

def ql03_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = table(spark, sf_dir, "embeddings")
    probes = emb.where(F.col("vec_id") % PROBE_MOD == 0)
    return similarity.cosine_topk(emb, probes, k=5).orderBy("probe_id", "rk")


QL03_SQL = f"""
WITH e AS (
    SELECT vec_id, unnest(range(len(embedding))) AS pos,
           unnest(embedding)::DOUBLE AS v
    FROM embeddings
),
norms AS (SELECT vec_id, sqrt(sum(v * v)) AS nrm FROM e GROUP BY 1),
p AS (SELECT vec_id AS probe_id, pos, v FROM e WHERE vec_id % {PROBE_MOD} = 0),
dots AS (
    SELECT p.probe_id, e.vec_id, sum(p.v * e.v) AS dot
    FROM p JOIN e ON p.pos = e.pos AND e.vec_id <> p.probe_id
    GROUP BY 1, 2
),
sims AS (
    SELECT probe_id, d.vec_id,
           CAST(round(dot / (na.nrm * nb.nrm) * 10000) AS BIGINT) / 10000.0 AS sim
    FROM dots d
    JOIN norms na ON na.vec_id = d.probe_id
    JOIN norms nb ON nb.vec_id = d.vec_id
),
ranked AS (
    -- sim IS NOT NULL mirrors the operator's zero-norm exclusion (a
    -- zero vector's cosine is undefined; DuckDB's x/0 = NULL must not
    -- rank — r9 deep-fuzz class)
    SELECT probe_id, vec_id, sim,
           row_number() OVER (PARTITION BY probe_id ORDER BY sim DESC, vec_id) AS rk
    FROM sims WHERE sim IS NOT NULL
)
SELECT probe_id, vec_id, sim, rk FROM ranked WHERE rk <= 5
ORDER BY probe_id, rk
"""


# --- Q-L4: text stats per source ---------------------------------------------

def ql04_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    tc = text_ops.token_count("text")
    return (
        docs.groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(tc).alias("total_ws_tokens"),
            F.sum(text_ops.bpe_ish_token_count("text")).alias("total_bpe_tokens"),
            F.sum("n_chars").alias("total_chars"),
            rounding.scaled_round(F.avg(tc), 2).alias("avg_tokens"),
        )
        .orderBy("source")
    )


QL04_SQL = rf"""
SELECT source,
       count(*) AS n_docs,
       CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS total_ws_tokens,
       CAST(sum(len(regexp_extract_all(text, '{text_ops.BPE_ISH_PATTERN}'))) AS BIGINT)
           AS total_bpe_tokens,
       CAST(sum(n_chars) AS BIGINT) AS total_chars,
       CAST(round(avg(len(string_split(text, ' '))) * 100) AS BIGINT) / 100.0 AS avg_tokens
FROM documents
GROUP BY source
ORDER BY source
"""


# --- Q-L5: tokenize + term frequency (top terms per language) ----------------

def ql05_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    counts = (
        docs.select("lang", F.explode(text_ops.tokens("text")).alias("token"))
        .groupBy("lang", "token")
        .agg(F.count("*").alias("cnt"))
    )
    w = Window.partitionBy("lang").orderBy(F.desc("cnt"), F.col("token"))
    return (
        counts.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= 5)
        .orderBy("lang", "rk")
    )


QL05_SQL = """
WITH toks AS (SELECT lang, unnest(string_split(text, ' ')) AS token FROM documents),
counts AS (SELECT lang, token, count(*) AS cnt FROM toks GROUP BY 1, 2),
ranked AS (
    SELECT lang, token, cnt,
           row_number() OVER (PARTITION BY lang ORDER BY cnt DESC, token) AS rk
    FROM counts
)
SELECT lang, token, cnt, rk FROM ranked WHERE rk <= 5
ORDER BY lang, rk
"""


# --- Q-L6: vectorized pandas_udf parity --------------------------------------

def ql06_udf_norm_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = table(spark, sf_dir, "embeddings")
    return emb.select(
        "vec_id",
        rounding.scaled_round(
            similarity.l2_norm_udf(F.col("embedding"))
        ).alias("l2_norm"),
    ).orderBy("vec_id")


QL06_SQL = """
WITH e AS (SELECT vec_id, unnest(embedding)::DOUBLE AS v FROM embeddings)
SELECT vec_id, CAST(round(sqrt(sum(v * v)) * 10000) AS BIGINT) / 10000.0 AS l2_norm
FROM e GROUP BY vec_id ORDER BY vec_id
"""


# --- Q-L7: multimodal envelope ----------------------------------------------

def ql07_multimodal_envelope(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    return multimodal.as_media(docs).drop("payload").orderBy("doc_id")


QL07_SQL = """
SELECT doc_id,
       CASE WHEN doc_id % 3 = 0 THEN 'image'
            WHEN doc_id % 3 = 1 THEN 'audio'
            ELSE 'video' END AS modality,
       CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
       md5(text) AS content_md5
FROM documents
ORDER BY doc_id
"""


def ql07b_multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """mapInPandas feature extraction — rows-only check (not SQL-expressible;
    the Arrow batch plumbing is covered by unit tests)."""
    docs = table(spark, sf_dir, "documents")
    return multimodal.extract_features(multimodal.as_media(docs)).orderBy("doc_id")


def ql07c_features_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-twin check for the mapInPandas extractor (closes the last
    rows-only gap): every ql07b output field is a deterministic function of
    the payload bytes, so this query recomputes feat_dim / feat_checksum in
    PURE whole-stage codegen (the ql41 hex-slice technique: byte i of the
    payload is conv(substr(hex, 2i+1, 2), 16, 10)) and joins it against the
    Arrow/Python path, emitting the Python-path values plus a py_cg_match
    flag. The oracle recomputes the same features in DuckDB blob algebra —
    a hash mismatch now catches either path drifting.

    Scale note: the O(bytes) sequence+conv per row is parity-audit
    machinery, not the production feature path (that is the mapInPandas
    extractor); run it on samples, not the full corpus, at 100 TB.
    """
    docs = table(spark, sf_dir, "documents")
    media = multimodal.as_media(docs)
    py = multimodal.extract_features(media)
    hx = "hex(payload)"
    # empty-payload guard (r8 area review): sequence(0, -1) is the
    # DESCENDING two-element sequence [0, -1] in Spark, whose conv() of
    # an out-of-range substr is NULL — the sum (and py_cg_match) went
    # NULL instead of 0/TRUE on a zero-byte payload. The Python path
    # sums no bytes to 0, so the codegen twin must too.
    byte_sum = (
        "case when octet_length(payload) < 1 then cast(0 as bigint) else "
        f"aggregate(transform(sequence(0, octet_length(payload) - 1),"
        f" i -> cast(conv(substr({hx}, 2 * i + 1, 2), 16, 10) as bigint)),"
        " cast(0 as bigint), (acc, v) -> acc + v) end"
    )
    cg = media.select(
        "doc_id",
        F.col("n_bytes").alias("cg_n_bytes"),
        (F.col("n_bytes") % 512).cast("int").alias("cg_dim"),
        F.expr(byte_sum).alias("cg_checksum"),
    )
    return (
        py.join(cg, "doc_id")
        .select(
            "doc_id",
            "modality",
            "n_bytes",
            "feat_dim",
            "feat_checksum",
            (
                (F.col("n_bytes") == F.col("cg_n_bytes"))
                & (F.col("feat_dim") == F.col("cg_dim"))
                & (F.col("feat_checksum") == F.col("cg_checksum"))
            ).alias("py_cg_match"),
        )
        .orderBy("doc_id")
    )


QL07C_SQL = """
WITH m AS (
    SELECT doc_id,
           CASE WHEN doc_id % 3 = 0 THEN 'image'
                WHEN doc_id % 3 = 1 THEN 'audio'
                ELSE 'video' END AS modality,
           encode(text) AS payload
    FROM documents
)
SELECT doc_id, modality,
       CAST(octet_length(payload) AS BIGINT) AS n_bytes,
       CAST(octet_length(payload) % 512 AS INT) AS feat_dim,
       CAST(COALESCE(list_sum(list_transform(range(octet_length(payload)),
                i -> ('0x' || substr(hex(payload), 2 * i + 1, 2))::BIGINT)),
                0)
            AS BIGINT) AS feat_checksum,
       TRUE AS py_cg_match
FROM m
ORDER BY doc_id
"""


# --- SimHash -----------------------------------------------------------------

def ql08_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    return dedup.simhash(docs).orderBy("doc_id")


QL08_SQL = f"""
WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents),
h AS (SELECT doc_id, {DUCK_HASH.format(x="token")} AS h FROM toks)
SELECT doc_id, {dedup.simhash_oracle_expr()} AS simhash
FROM h GROUP BY doc_id ORDER BY doc_id
"""


# --- n-gram Jaccard ----------------------------------------------------------

def ql09_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    return dedup.ngram_jaccard_pairs(docs).orderBy("doc_a", "doc_b")


QL09_SQL = f"""
WITH sh AS {duck_hashed_shingle_set("documents")},
sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY 1),
-- replicate _shingle_intersection's NGRAM_SHINGLE_DF_CAP: the join input
-- drops shingles shared by more than cap documents (sizes stay FULL-set,
-- exactly like the Spark side) so the twin tracks Spark when the cap binds
shc AS (
    SELECT * FROM sh
    QUALIFY count(*) OVER (PARTITION BY shingle) <= {dedup.NGRAM_SHINGLE_DF_CAP}
),
inter AS (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_inter
    FROM shc a JOIN shc b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
    GROUP BY 1, 2
)
SELECT doc_a, doc_b, n_inter,
       CAST(round(n_inter::DOUBLE / (sa.n_sh + sb.n_sh - n_inter) * 10000) AS BIGINT)
           / 10000.0 AS jaccard
FROM inter
JOIN sizes sa ON sa.doc_id = doc_a
JOIN sizes sb ON sb.doc_id = doc_b
WHERE CAST(round(n_inter::DOUBLE / (sa.n_sh + sb.n_sh - n_inter) * 10000) AS BIGINT)
          / 10000.0 >= 0.4
ORDER BY doc_a, doc_b
"""


# --- LSH-bucketed ANN / embedding near-dup -----------------------------------

def ql10_lsh_ann_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = table(spark, sf_dir, "embeddings")
    return similarity.lsh_near_pairs(emb, threshold=0.8).orderBy("id_a", "id_b")


def _ql10_sql() -> str:
    # weights are generated out to LSH_MAX_PLANES and the ACTIVE plane
    # count is derived in SQL from a COUNT over embeddings, mirroring
    # lsh_planes_for exactly — the twin now tracks the Spark derivation
    # at ANY fixture scale instead of pinning 8 (round-5 ADVICE). The
    # ceil(log2(·)) agrees across engines: a divergence would need log2
    # to straddle an integer, which happens only at exact powers of two,
    # where log2 is exact in both.
    w = similarity.plane_weights(n_planes=similarity.LSH_MAX_PLANES)
    values = ", ".join(
        f"({p}, {d}, {w[p][d]})"
        for p in range(similarity.LSH_MAX_PLANES)
        for d in range(similarity.DIM)
    )
    return f"""
WITH e AS (
    SELECT vec_id, unnest(range(len(embedding))) AS pos,
           unnest(embedding)::DOUBLE AS v
    FROM embeddings
),
np AS (
    -- lsh_planes_for: ceil(log2(max(n / {similarity.LSH_TARGET_BUCKET_DOCS}, 1)))
    -- clamped to [{similarity.N_PLANES}, {similarity.LSH_MAX_PLANES}]
    SELECT least(greatest(CAST(ceil(log2(greatest(
               count(*) / {similarity.LSH_TARGET_BUCKET_DOCS}.0, 1.0))) AS INT),
           {similarity.N_PLANES}), {similarity.LSH_MAX_PLANES}) AS r
    FROM embeddings
),
w(p, pos, wt) AS (VALUES {values}),
dots AS (
    SELECT e.vec_id, w.p, sum(e.v * w.wt) AS dot
    FROM e JOIN w ON w.pos = e.pos
    WHERE w.p < (SELECT r FROM np)
    GROUP BY 1, 2
),
sig AS (
    SELECT vec_id,
           CAST(sum(CASE WHEN dot > 0 THEN 1 << p ELSE 0 END) AS BIGINT) AS bucket
    FROM dots GROUP BY 1
),
capped AS (
    -- replicate lsh_near_pairs' LSH_ANN_BUCKET_CAP (smallest ids survive)
    -- so Spark and the twin agree even when the cap binds
    SELECT vec_id, bucket FROM sig
    QUALIFY row_number() OVER (PARTITION BY bucket ORDER BY vec_id)
            <= {similarity.LSH_ANN_BUCKET_CAP}
),
pairs AS (
    SELECT a.vec_id AS id_a, b.vec_id AS id_b
    FROM capped a JOIN capped b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
),
pair_dots AS (
    SELECT p.id_a, p.id_b, sum(ea.v * eb.v) AS dot
    FROM pairs p
    JOIN e ea ON ea.vec_id = p.id_a
    JOIN e eb ON eb.vec_id = p.id_b AND eb.pos = ea.pos
    GROUP BY 1, 2
),
norms AS (SELECT vec_id, sqrt(sum(v * v)) AS nrm FROM e GROUP BY 1)
SELECT id_a, id_b,
       CAST(round(dot / (na.nrm * nb.nrm) * 10000) AS BIGINT) / 10000.0 AS cos_sim
FROM pair_dots
JOIN norms na ON na.vec_id = id_a
JOIN norms nb ON nb.vec_id = id_b
WHERE CAST(round(dot / (na.nrm * nb.nrm) * 10000) AS BIGINT) / 10000.0 >= 0.8
ORDER BY id_a, id_b
"""


QL10_SQL = _ql10_sql()


# --- quality scoring ---------------------------------------------------------

def ql11_quality_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    return text_ops.quality_features(docs).orderBy("doc_id")


_STOP_EN = _duck_stop_hits("en")
QL11_SQL = f"""
SELECT doc_id,
       CAST(length(text) AS BIGINT) AS n_chars_actual,
       CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
       CAST(round(length(text)::DOUBLE / len(string_split(text, ' ')) * 10000) AS BIGINT)
           / 10000.0 AS avg_token_span,
       CAST(round((length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')))::DOUBLE
             / length(text) * 10000) AS BIGINT) / 10000.0 AS punct_ratio,
       CAST(round({_STOP_EN}::DOUBLE / len(string_split(text, ' ')) * 10000) AS BIGINT)
           / 10000.0 AS stopword_ratio,
       CAST(round((least(1.0, len(string_split(text, ' ')) / 100.0) * 0.5
           + least(1.0, {_STOP_EN}::DOUBLE / len(string_split(text, ' ')) * 5.0) * 0.5)
           * 10000) AS BIGINT) / 10000.0 AS quality_score
FROM documents
ORDER BY doc_id
"""


# --- language identification -------------------------------------------------

def ql12_language_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    pred = text_ops.predict_language(text_ops.language_scores("text"))
    return (
        docs.select(F.col("lang").alias("lang_actual"), pred.alias("lang_pred"))
        .groupBy("lang_actual", "lang_pred")
        .agg(F.count("*").alias("n_docs"))
        .orderBy("lang_actual", "lang_pred")
    )


def _ql12_sql() -> str:
    langs = list(text_ops.STOPWORDS)
    scores = ",\n       ".join(f"{_duck_stop_hits(lg)} AS s_{lg}" for lg in langs)
    cases = "\n            ".join(
        f"WHEN {' AND '.join(f's_{lg} >= s_{o}' for o in langs if o != lg)} THEN '{lg}'"
        for lg in langs[:-1]
    )
    return f"""
WITH s AS (
    SELECT lang,
       {scores}
    FROM documents
)
SELECT lang AS lang_actual,
       CASE {cases}
            ELSE '{langs[-1]}' END AS lang_pred,
       count(*) AS n_docs
FROM s
GROUP BY 1, 2
ORDER BY 1, 2
"""


QL12_SQL = _ql12_sql()


# --- document fingerprint ----------------------------------------------------

def ql13_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    return text_ops.document_fingerprint(docs).orderBy("doc_id")


QL13_SQL = f"""
WITH t AS (
    SELECT doc_id,
           unnest(range(len(string_split(text, ' ')))) AS pos,
           unnest(string_split(text, ' ')) AS token
    FROM documents
)
SELECT doc_id,
       CAST(sum((({DUCK_HASH.format(x="token")} % {MOD_PRIME}) * (pos + 1)) % {MOD_PRIME})
           % {MOD_PRIME} AS BIGINT) AS fingerprint
FROM t GROUP BY doc_id ORDER BY doc_id
"""


# --- per-label centroids (vector aggregate) ----------------------------------

def ql15_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Element-wise mean embedding per label + centroid norm — the vector
    aggregate an IVF trainer / cluster-quality monitor runs. posexplode →
    (label, pos) partial-aggregating sum → re-assemble norm.

    Exactness (r8 area review — this was the file's one remaining raw
    cross-row float reduction): per-element values are quantized to
    ×1e6 integers and summed in DECIMAL(38,0), and the norm is computed
    as sqrt(Σ_pos (Σ_vec q)²) / (n · 1e6) — every cross-row aggregate is
    exact integer math, so the result is partition-order-independent and
    the only floats are one sqrt and one division on integers identical
    in both engines (a raw avg() of doubles is order-dependent on
    Spark's tree aggregation vs DuckDB's sequential sum — a half-ulp
    flap away from a 4-dp boundary flip)."""
    emb = table(spark, sf_dir, "embeddings")
    dec = "decimal(38,0)"
    by_dim = (
        emb.select("label", F.posexplode("embedding").alias("pos", "v"))
        .groupBy("label", "pos")
        .agg(
            F.sum(
                F.round(F.col("v").cast("double") * 1_000_000)
                .cast("bigint")
                .cast(dec)
            ).alias("sq"),
            F.count("*").alias("n"),
        )
    )
    return (
        by_dim.groupBy("label")
        .agg(
            rounding.scaled_round(
                F.sqrt(F.sum(F.col("sq") * F.col("sq")).cast("double"))
                / (F.max("n") * F.lit(1_000_000.0))
            ).alias("centroid_norm"),
            F.max("n").alias("n_vectors"),
        )
        .orderBy("label")
    )


QL15_SQL = """
WITH e AS (
    SELECT label, unnest(range(len(embedding))) AS pos,
           CAST(round(unnest(embedding)::DOUBLE * 1000000) AS HUGEINT) AS q
    FROM embeddings
),
by_dim AS (
    SELECT label, pos, sum(q) AS sq, count(*) AS n FROM e GROUP BY 1, 2
)
SELECT label,
       CAST(round(sqrt(sum(sq * sq)::DOUBLE) / (max(n) * 1000000.0)
                  * 10000) AS BIGINT) / 10000.0 AS centroid_norm,
       CAST(max(n) AS BIGINT) AS n_vectors
FROM by_dim GROUP BY label ORDER BY label
"""


# --- deterministic sampling --------------------------------------------------

def ql16_hash_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from streamsurfer_spark.operators.sampling import hash_sample

    docs = table(spark, sf_dir, "documents")
    sampled = hash_sample(docs, "doc_id", 10)
    return sampled.agg(
        F.count("*").alias("n_sampled"),
        F.min("doc_id").alias("min_id"),
        F.max("doc_id").alias("max_id"),
        F.sum("doc_id").alias("sum_id"),
    )


QL16_SQL = f"""
SELECT count(*) AS n_sampled,
       min(doc_id) AS min_id,
       max(doc_id) AS max_id,
       CAST(sum(doc_id) AS BIGINT) AS sum_id
FROM documents
WHERE {DUCK_HASH.format(x="doc_id::VARCHAR")} % 100 < 10
"""


def ql17_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from streamsurfer_spark.operators.sampling import stratified_sample

    docs = table(spark, sf_dir, "documents")
    return (
        stratified_sample(docs, "lang", "doc_id", 5)
        .select("lang", "doc_id")
        .orderBy("lang", "doc_id")
    )


QL17_SQL = f"""
SELECT lang, doc_id FROM (
    SELECT lang, doc_id,
           row_number() OVER (
               PARTITION BY lang
               ORDER BY {DUCK_HASH.format(x="doc_id::VARCHAR")}, doc_id
           ) AS rn
    FROM documents
) WHERE rn <= 5
ORDER BY lang, doc_id
"""


# --- Python extensibility matrix: UDAF / grouped-map / UDTF ------------------

def ql18_udaf_geo_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped-agg pandas UDAF vs the expression-equivalent oracle.

    The UDAF receives micro-nat log values computed JVM-side (see
    geo_mean_udf's numerics note — the r9 Welford-drift fix): the exact
    BIGINT sum makes the mean partition-order-independent, and the twin
    mirrors the division term-for-term.
    """
    from streamsurfer_spark.operators.udx import GEO_ZERO_SENTINEL, geo_mean_udf

    docs = table(spark, sf_dir, "documents")
    # a zero anywhere makes the geometric mean 0 by definition — marked
    # by a sentinel IN the UDAF column (grouped-agg pandas UDFs cannot
    # mix with builtin aggregates) and mirrored by the twin's count_if
    # guard; the old raw exp(avg(ln)) form collapsed silently and
    # engine-dependently (the docs fuzz feeds empty texts). ln() only
    # evaluates on the positive branch.
    micro_ln = F.when(
        F.col("n_chars") > 0,
        F.expr("cast(round(ln(cast(n_chars as double)) * 1000000) as bigint)"),
    ).otherwise(F.lit(GEO_ZERO_SENTINEL).cast("bigint"))
    return (
        docs.groupBy("lang")
        .agg(rounding.scaled_round(geo_mean_udf(micro_ln), 2).alias("geo_mean_chars"))
        .orderBy("lang")
    )


QL18_SQL = """
SELECT lang,
       -- NULL-aware zero guard (r10 ADVICE): the Spark side's
       -- when(n_chars > 0).otherwise(SENTINEL) routes NULL to the
       -- sentinel (group geo-mean 0.0); `n_chars <= 0` alone is NULL
       -- for NULL input and the FILTER would miss it while count(*)
       -- still inflates the divisor — cross-engine divergence
       CASE WHEN count(*) FILTER (WHERE n_chars <= 0 OR n_chars IS NULL) > 0 THEN 0.0
            ELSE CAST(round(exp(
                CAST(sum(CASE WHEN n_chars > 0
                              THEN CAST(round(ln(n_chars::DOUBLE) * 1000000) AS BIGINT)
                              ELSE 0 END) AS BIGINT)::DOUBLE
                / (count(*)::DOUBLE * 1000000.0)) * 100) AS BIGINT) / 100.0
       END AS geo_mean_chars
FROM documents GROUP BY lang ORDER BY lang
"""


def ql19_grouped_map_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """applyInPandas z-score per source vs window-expression oracle."""
    from streamsurfer_spark.operators.udx import zscore_by_group

    docs = table(spark, sf_dir, "documents").select("doc_id", "source", "n_chars")
    out = zscore_by_group(
        docs, "source", "n_chars", "doc_id long, source string, n_chars long, zscore double"
    )
    return out.select("doc_id", "source", "zscore").orderBy("doc_id")


QL19_SQL = """
-- exact-co-moment twin of zscore_by_group (r9, the qr26 lesson): the
-- old avg/stddev_samp window form accumulated doubles in a different
-- order than pandas and could flip the 1e-4 round on adversarial
-- values. n/Σx/Σx² are exact DECIMAL ints; every double op below
-- mirrors the pandas expression term-for-term, so z is bit-identical.
-- Degenerate groups (1 sample, or all-equal → variance numerator 0)
-- z-score to 0.0, matching the operator's guard — found by the 1-row
-- sweep (tools/empty_sweep.py one).
WITH s AS (
    SELECT source,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(n_chars) AS DECIMAL(38,0)) AS sx,
           CAST(sum(CAST(n_chars AS DECIMAL(38,0)) * n_chars) AS DECIMAL(38,0)) AS sxx
    FROM documents GROUP BY 1
)
SELECT doc_id, d.source,
       CASE WHEN n >= 2
             AND CAST(n AS DECIMAL(38,0)) * sxx - sx * sx > 0
            THEN CAST(round(
                   (CAST(n AS DECIMAL(38,0)) * n_chars - sx)::DOUBLE
                   / sqrt((CAST(n AS DECIMAL(38,0)) * sxx - sx * sx)::DOUBLE
                          * n::DOUBLE / (n::DOUBLE - 1.0))
                   * 10000) AS BIGINT) / 10000.0
            ELSE 0.0 END AS zscore
FROM documents d JOIN s USING (source)
ORDER BY doc_id
"""


def ql20_udtf_tokenize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python UDTF lateral expansion vs posexplode-equivalent oracle."""
    from streamsurfer_spark.operators.udx import TokenizeUDTF

    spark.udtf.register("tokenize_udtf", TokenizeUDTF)
    table(spark, sf_dir, "documents").createOrReplaceTempView("documents_v")
    return spark.sql(
        """
        SELECT d.doc_id, t.pos, t.token
        FROM documents_v d, LATERAL tokenize_udtf(d.text) t
        WHERE d.doc_id % 50 = 0
        ORDER BY d.doc_id, t.pos
        """
    )


QL20_SQL = """
SELECT doc_id, CAST(pos AS INTEGER) AS pos, token
FROM (
    SELECT doc_id,
           unnest(range(len(string_split(text, ' ')))) AS pos,
           unnest(string_split(text, ' ')) AS token
    FROM documents
    WHERE doc_id % 50 = 0
)
ORDER BY doc_id, pos
"""


# --- IVF approximate top-k ---------------------------------------------------

def ql14_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = table(spark, sf_dir, "embeddings")
    return similarity.ivf_topk(emb, k=3, probe_mod=PROBE_MOD).orderBy("probe_id", "rk")


QL14_SQL = f"""
WITH q AS (
    SELECT vec_id,
           [cast(round(x::DOUBLE * {similarity.QUANT_SCALE}) AS BIGINT) for x in embedding] AS qv
    FROM embeddings
),
qe AS (SELECT vec_id, unnest(range(len(qv))) AS pos, unnest(qv) AS v FROM q),
cents AS (SELECT vec_id AS cent_id, pos, v FROM qe
          WHERE vec_id % {similarity.IVF_CENTROID_MOD} = 0),
ad AS (
    SELECT qe.vec_id, c.cent_id, sum((qe.v - c.v) * (qe.v - c.v)) AS dist
    FROM qe JOIN cents c ON c.pos = qe.pos GROUP BY 1, 2
),
assign AS (
    SELECT vec_id, cent_id FROM (
        SELECT vec_id, cent_id,
               row_number() OVER (PARTITION BY vec_id ORDER BY dist, cent_id) AS rn
        FROM ad
    ) WHERE rn = 1
),
pc AS (
    SELECT probe_id, cent_id FROM (
        SELECT vec_id AS probe_id, cent_id,
               row_number() OVER (PARTITION BY vec_id ORDER BY dist, cent_id) AS rn
        FROM ad WHERE vec_id % {PROBE_MOD} = 0
    ) WHERE rn <= {similarity.IVF_NPROBE}
),
cand AS (
    SELECT pc.probe_id, a.vec_id
    FROM pc JOIN assign a ON a.cent_id = pc.cent_id
    WHERE a.vec_id <> pc.probe_id
),
dots AS (
    SELECT cand.probe_id, cand.vec_id, sum(pa.v * ca.v) AS dot
    FROM cand
    JOIN qe pa ON pa.vec_id = cand.probe_id
    JOIN qe ca ON ca.vec_id = cand.vec_id AND ca.pos = pa.pos
    GROUP BY 1, 2
),
norms AS (SELECT vec_id, sqrt(sum(v * v)::DOUBLE) AS nrm FROM qe GROUP BY 1),
sims AS (
    SELECT d.probe_id, d.vec_id,
           CAST(round(d.dot::DOUBLE / (np.nrm * nc.nrm) * 10000) AS BIGINT)
               / 10000.0 AS sim
    FROM dots d
    JOIN norms np ON np.vec_id = d.probe_id
    JOIN norms nc ON nc.vec_id = d.vec_id
),
ranked AS (
    -- sim IS NOT NULL: the operator's zero-norm exclusion (r9)
    SELECT probe_id, vec_id, sim,
           row_number() OVER (PARTITION BY probe_id ORDER BY sim DESC, vec_id) AS rk
    FROM sims WHERE sim IS NOT NULL
)
SELECT probe_id, vec_id, sim, rk FROM ranked WHERE rk <= 3
ORDER BY probe_id, rk
"""


# --- Q-L21: exact embedding-cosine near-dup pairs (blocked) -----------------

NEAR_DUP_THRESHOLD = 0.3


def ql21_cosine_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine near-dup pairs within label blocks (operators/similarity.py).

    The exact sibling of ql10's LSH-bucketed pairs: same pair semantics, but
    a semantic block (label) instead of a hash bucket, and an exact rounded
    cosine cut instead of a probabilistic candidate set.
    """
    emb = table(spark, sf_dir, "embeddings")
    return similarity.cosine_near_dup_pairs(emb, NEAR_DUP_THRESHOLD).orderBy(
        "id_a", "id_b"
    )


QL21_SQL = f"""
WITH capped AS (
    -- replicate cosine_near_dup_pairs' COSINE_BLOCK_CAP (smallest ids
    -- survive per block) so Spark and the twin agree even when it binds
    SELECT vec_id FROM embeddings
    QUALIFY row_number() OVER (PARTITION BY label ORDER BY vec_id)
            <= {similarity.COSINE_BLOCK_CAP}
),
e AS (
    SELECT vec_id, label, unnest(range(len(embedding))) AS pos,
           unnest(embedding)::DOUBLE AS v
    FROM embeddings
    WHERE vec_id IN (SELECT vec_id FROM capped)
),
norms AS (SELECT vec_id, sqrt(sum(v * v)) AS nrm FROM e GROUP BY 1),
dots AS (
    SELECT a.vec_id AS id_a, b.vec_id AS id_b, sum(a.v * b.v) AS dot
    FROM e a
    JOIN e b ON a.label = b.label AND a.pos = b.pos AND a.vec_id < b.vec_id
    GROUP BY 1, 2
),
sims AS (
    SELECT id_a, id_b,
           CAST(round(dot / (na.nrm * nb.nrm) * 10000) AS BIGINT) / 10000.0 AS sim
    FROM dots d
    JOIN norms na ON na.vec_id = d.id_a
    JOIN norms nb ON nb.vec_id = d.id_b
)
SELECT id_a, id_b, sim FROM sims
WHERE sim >= {NEAR_DUP_THRESHOLD}
ORDER BY id_a, id_b
"""


# --- Q-L22: TF-IDF top terms per document -----------------------------------

TFIDF_DOC_MOD = 20  # report every 20th doc; idf statistics use ALL docs


def ql22_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 TF-IDF terms per (sampled) document.

    Smoothed idf = ln((N+1)/(df+1)) + 1 over the FULL corpus; only the
    reported documents are sampled. The tf and df aggregates are both
    map-side-combinable groupBys on (doc, token) / token; the idf join is a
    broadcast (vocabulary ≪ corpus), and the per-doc top-k is a window
    keyed on doc_id. Ranking compares the ROUNDED score with a token
    tiebreak so order is reproducible across engines.
    """
    docs = table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.explode(F.split(F.col("text"), " ")).alias("token")
    )
    tf = toks.groupBy("doc_id", "token").agg(F.count("*").alias("tf"))
    df_t = toks.groupBy("token").agg(F.countDistinct("doc_id").alias("df"))
    n_docs = docs.agg(F.count("*").alias("n_docs"))
    scored = (
        tf.join(F.broadcast(df_t), "token")
        .crossJoin(F.broadcast(n_docs))
        .withColumn(
            "score",
            rounding.scaled_round(
                F.col("tf")
                * (F.log((F.col("n_docs") + 1) / (F.col("df") + 1)) + 1)
            ),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("score"), F.col("token"))
    return (
        scored.where(F.col("doc_id") % TFIDF_DOC_MOD == 0)
        .withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= 3)
        .select("doc_id", "rk", "token", "tf", "df", "score")
        .orderBy("doc_id", "rk")
    )


QL22_SQL = f"""
WITH toks AS (
    SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents
),
tf AS (SELECT doc_id, token, count(*) AS tf FROM toks GROUP BY 1, 2),
df_t AS (SELECT token, count(DISTINCT doc_id) AS df FROM toks GROUP BY 1),
n AS (SELECT count(*) AS n_docs FROM documents),
scored AS (
    SELECT tf.doc_id, tf.token, tf.tf, df_t.df,
           CAST(round(tf.tf * (ln((n.n_docs + 1.0) / (df_t.df + 1.0)) + 1) * 10000)
                AS BIGINT) / 10000.0 AS score
    FROM tf JOIN df_t USING (token) CROSS JOIN n
),
ranked AS (
    SELECT doc_id, token, tf, df, score,
           row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, token) AS rk
    FROM scored
    WHERE doc_id % {TFIDF_DOC_MOD} = 0
)
SELECT doc_id, rk, token, tf, df, score FROM ranked WHERE rk <= 3
ORDER BY doc_id, rk
"""


# --- Q-L23: dedup clusters = connected components of the near-dup graph -----


def ql23_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs → dedup clusters via star-contraction components.

    Consumes ql21's exact cosine pair graph and labels every member with
    min(component) — the canonical keep-one-per-cluster curation rule.
    Embedding near-dup graphs chain (a~b~c without a~c); the
    large-star/small-star contraction converges in O(log n) rounds
    whatever the chain length. The oracle recomputes reachability with a
    recursive CTE, so the Spark components are checked against a
    closed-form transitive closure.
    """
    from streamsurfer_spark.operators.graph import connected_components

    emb = table(spark, sf_dir, "embeddings")
    pairs = similarity.cosine_near_dup_pairs(emb, NEAR_DUP_THRESHOLD)
    return (
        connected_components(pairs, src="id_a", dst="id_b")
        .select(F.col("id").alias("vec_id"), "cluster_id")
        .orderBy("vec_id")
    )


QL23_SQL = f"""
WITH RECURSIVE e AS (
    SELECT vec_id, label, unnest(range(len(embedding))) AS pos,
           unnest(embedding)::DOUBLE AS v
    FROM embeddings
),
norms AS (SELECT vec_id, sqrt(sum(v * v)) AS nrm FROM e GROUP BY 1),
dots AS (
    SELECT a.vec_id AS id_a, b.vec_id AS id_b, sum(a.v * b.v) AS dot
    FROM e a
    JOIN e b ON a.label = b.label AND a.pos = b.pos AND a.vec_id < b.vec_id
    GROUP BY 1, 2
),
edges AS (
    SELECT id_a, id_b
    FROM dots d
    JOIN norms na ON na.vec_id = d.id_a
    JOIN norms nb ON nb.vec_id = d.id_b
    WHERE CAST(round(dot / (na.nrm * nb.nrm) * 10000) AS BIGINT) / 10000.0
              >= {NEAR_DUP_THRESHOLD}
),
sym AS (
    SELECT id_a AS a, id_b AS b FROM edges
    UNION ALL
    SELECT id_b AS a, id_a AS b FROM edges
),
reach(id, r) AS (
    SELECT DISTINCT a AS id, a AS r FROM sym
    UNION
    SELECT sym.a AS id, reach.r
    FROM sym JOIN reach ON sym.b = reach.id
)
SELECT id AS vec_id, min(r) AS cluster_id
FROM reach GROUP BY 1 ORDER BY 1
"""


# --- ql24: sliding-window document chunking ---------------------------------
#
# The canonical pre-training prep step: split each document into fixed-width
# token windows with overlap (context windows for an LLM). Pure per-row
# array math — sequence → slice → hash — so the stage is map-only: no
# shuffle, no Python, row count multiplies by ~n_tokens/stride (bounded,
# predictable partition growth at 100 TB).

CHUNK_W = 32  # window width (tokens)
CHUNK_S = 24  # stride (tokens) → 8-token overlap


def ql24_chunk_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    toks = "split(text, ' ')"
    starts = f"sequence(0, greatest(size({toks}) - 1, 0), {CHUNK_S})"
    return (
        docs.select(
            "doc_id",
            F.posexplode(F.expr(starts)).alias("chunk_idx", "start_tok"),
            F.expr(toks).alias("__toks"),
        )
        .select(
            "doc_id",
            "chunk_idx",
            "start_tok",
            F.expr(f"slice(__toks, start_tok + 1, {CHUNK_W})").alias("__chunk"),
        )
        .select(
            "doc_id",
            "chunk_idx",
            "start_tok",
            F.size("__chunk").alias("n_tokens"),
            F.md5(F.array_join("__chunk", " ")).alias("chunk_md5"),
        )
        .orderBy("doc_id", "chunk_idx")
    )


QL24_SQL = f"""
WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
s AS (
    SELECT doc_id, toks,
           generate_subscripts(starts, 1) - 1 AS chunk_idx,
           unnest(starts) AS start_tok
    FROM (SELECT doc_id, toks,
                 generate_series(0, greatest(len(toks) - 1, 0), {CHUNK_S}) AS starts
          FROM t)
)
SELECT doc_id, CAST(chunk_idx AS INTEGER) AS chunk_idx,
       CAST(start_tok AS INTEGER) AS start_tok,
       CAST(len(toks[start_tok + 1 : start_tok + {CHUNK_W}]) AS INTEGER) AS n_tokens,
       md5(array_to_string(toks[start_tok + 1 : start_tok + {CHUNK_W}], ' ')) AS chunk_md5
FROM s
ORDER BY doc_id, chunk_idx
"""


# --- ql25: PII redaction (regex scrub) ---------------------------------------
#
# Redaction is a map-only regexp_replace pass — the cheapest possible stage
# shape. The fixture corpus is synthetic word salad with no PII, so the
# query first stamps a *deterministic* PII footer (email + phone derived
# from doc_id) onto each document, then proves the scrubber removes exactly
# what it should: per-doc match counts plus an md5 of the redacted text,
# hash-matched against DuckDB running the same two-regex pipeline.

EMAIL_RE = "[a-z0-9._]+@[a-z0-9.-]+\\.[a-z]{2,}"
PHONE_RE = "\\d{3}-\\d{4}"


def ql25_pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    stamped = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" contact user"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com or 555-"),
            F.lpad(F.pmod(F.col("doc_id"), 10000).cast("string"), 4, "0"),
        ).alias("stamped"),
    )
    red = stamped.select(
        "doc_id",
        # Column API, not F.expr: the SQL parser would eat the regex
        # backslashes ('\d' → 'd') unless escapedStringLiterals is set.
        F.size(F.regexp_extract_all("stamped", F.lit(EMAIL_RE), F.lit(0))).alias("n_emails"),
        F.size(F.regexp_extract_all("stamped", F.lit(PHONE_RE), F.lit(0))).alias("n_phones"),
        F.regexp_replace(
            F.regexp_replace("stamped", EMAIL_RE, "<EMAIL>"), PHONE_RE, "<PHONE>"
        ).alias("redacted"),
    )
    return red.select(
        "doc_id",
        "n_emails",
        "n_phones",
        F.md5("redacted").alias("redacted_md5"),
        (~F.col("redacted").rlike(EMAIL_RE)).alias("clean"),
    ).orderBy("doc_id")


QL25_SQL = f"""
WITH stamped AS (
    SELECT doc_id,
           text || ' contact user' || doc_id ||
           '@example.com or 555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
               AS stamped
    FROM documents
),
red AS (
    SELECT doc_id,
           len(regexp_extract_all(stamped, '{EMAIL_RE}')) AS n_emails,
           len(regexp_extract_all(stamped, '{PHONE_RE}')) AS n_phones,
           regexp_replace(regexp_replace(stamped, '{EMAIL_RE}', '<EMAIL>', 'g'),
                          '{PHONE_RE}', '<PHONE>', 'g') AS redacted
    FROM stamped
)
SELECT doc_id, CAST(n_emails AS INTEGER) AS n_emails,
       CAST(n_phones AS INTEGER) AS n_phones,
       md5(redacted) AS redacted_md5,
       NOT regexp_matches(redacted, '{EMAIL_RE}') AS clean
FROM red ORDER BY doc_id
"""


# --- ql26: deterministic export-shard assignment ------------------------------
#
# Training export wants N equal-ish shards with a stable doc→shard mapping
# (reshuffling between runs would silently change batch composition).
# Shard = portable-md5(doc_id) mod N — reproducible on any engine, no RNG,
# and uniform. The aggregate per shard is the manifest a writer would use.

N_SHARDS = 16


def ql26_export_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    from streamsurfer_spark.functions.hashing import md5_long64

    docs = table(spark, sf_dir, "documents")
    shard = F.pmod(md5_long64(F.col("doc_id").cast("string")), F.lit(N_SHARDS))
    return (
        docs.select(shard.alias("shard_id"), "doc_id", "n_chars")
        .groupBy("shard_id")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
            F.min("doc_id").alias("min_doc"),
            F.max("doc_id").alias("max_doc"),
        )
        .orderBy("shard_id")
    )


QL26_SQL = f"""
SELECT ({DUCK_HASH.format(x="CAST(doc_id AS VARCHAR)")} % {N_SHARDS}) AS shard_id,
       count(*) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS total_chars,
       min(doc_id) AS min_doc, max(doc_id) AS max_doc
FROM documents
GROUP BY 1 ORDER BY 1
"""


# --- Q-L27: bigram collocations (count + lift) -------------------------------

def ql27_bigram_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top bigrams per language with PMI-style lift vs unigram independence.

    Adjacent-token pairs come from zip_with over two slices of the SAME
    token array — per-row array work inside codegen, no positional
    self-join (the naive posexplode + join-on-position approach shuffles
    the whole corpus twice). Count tables are Zipf-small relative to the
    corpus, so the unigram/total joins are broadcasts; the only real
    shuffle is the bigram groupBy. lift = cnt·N / (c1·c2) is computed from
    exact integer counts (single IEEE divide → identical across engines).
    """
    docs = table(spark, sf_dir, "documents")
    toks = docs.select("lang", text_ops.tokens("text").alias("toks"))
    bg = toks.select(
        "lang",
        F.explode(
            F.zip_with(
                F.slice("toks", 1, F.size("toks") - 1),
                F.slice("toks", 2, F.size("toks") - 1),
                lambda a, b: F.concat(a, F.lit(" "), b),
            )
        ).alias("bigram"),
    )
    uni = toks.select("lang", F.explode("toks").alias("w"))
    uni_c = uni.groupBy("lang", "w").agg(F.count("*").alias("c"))
    n_tok = uni.groupBy("lang").agg(F.count("*").alias("n"))
    bgc = (
        bg.groupBy("lang", "bigram")
        .agg(F.count("*").alias("cnt"))
        .withColumn("w1", F.split("bigram", " ")[0])
        .withColumn("w2", F.split("bigram", " ")[1])
    )
    joined = (
        bgc.join(
            F.broadcast(uni_c.select("lang", F.col("w").alias("w1"), F.col("c").alias("c1"))),
            ["lang", "w1"],
        )
        .join(
            F.broadcast(uni_c.select("lang", F.col("w").alias("w2"), F.col("c").alias("c2"))),
            ["lang", "w2"],
        )
        .join(F.broadcast(n_tok), "lang")
        .withColumn(
            "lift",
            rounding.scaled_round(
                F.col("cnt") * F.col("n") / (F.col("c1") * F.col("c2"))
            ),
        )
    )
    w = Window.partitionBy("lang").orderBy(F.desc("cnt"), F.col("bigram"))
    return (
        joined.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= 8)
        .select("lang", "bigram", "cnt", "lift", "rk")
        .orderBy("lang", "rk")
    )


QL27_SQL = """
WITH toks AS (
  SELECT lang, string_split(text, ' ') AS l FROM documents
), uni AS (
  SELECT lang, unnest(l) AS w FROM toks
), uni_c AS (
  SELECT lang, w, count(*) AS c FROM uni GROUP BY 1, 2
), n_tok AS (
  SELECT lang, count(*) AS n FROM uni GROUP BY 1
), bg AS (
  SELECT lang,
         unnest(list_transform(generate_series(1, len(l) - 1),
                               i -> l[i] || ' ' || l[i + 1])) AS bigram
  FROM toks
), bgc AS (
  SELECT lang, bigram, count(*) AS cnt FROM bg GROUP BY 1, 2
), joined AS (
  SELECT b.lang, b.bigram, b.cnt,
         CAST(round(b.cnt * n.n / (u1.c * u2.c) * 10000) AS BIGINT) / 10000.0 AS lift,
         row_number() OVER (PARTITION BY b.lang ORDER BY b.cnt DESC, b.bigram) AS rk
  FROM bgc b
  JOIN uni_c u1 ON u1.lang = b.lang AND u1.w = string_split(b.bigram, ' ')[1]
  JOIN uni_c u2 ON u2.lang = b.lang AND u2.w = string_split(b.bigram, ' ')[2]
  JOIN n_tok n ON n.lang = b.lang
)
SELECT lang, bigram, cnt, lift, rk FROM joined WHERE rk <= 8
ORDER BY lang, rk
"""


# --- Q-L28: int8 embedding quantization error --------------------------------

def ql28_quantization_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric int8 quantization of embeddings + reconstruction error.

    The 4× compression every vector store applies before ANN: per vector,
    scale = 127/max|x|, q = round(x·scale) in int8, reconstruct q/scale.
    All math is per-row array lambdas in codegen (zero shuffles until the
    per-label rollup); per-element errors are rounded to nano units and
    summed as exact ints ALL the way to the label rollup — the BIGINT
    err9 and dim totals are divided exactly ONCE at the end, so the
    aggregate is partitioning-independent for ANY embedding dimension
    (the earlier per-vector err9/dim division was exact only because
    dim=64 is a power of two — r8 area review).

    An ALL-ZERO vector quantizes exactly by definition (q = 0⃗,
    reconstruction exact) → err 0, guarded explicitly on BOTH sides: the
    unguarded 127/max|x| raised ANSI DIVIDE_BY_ZERO on Spark while the
    DuckDB twin's x/0 = NULL silently DROPPED the vector's error but
    kept its dims in the denominator — found by the r9 deep fuzz (the
    generated-embeddings pool plants zero vectors).
    Output: per label, mean reconstruction error in nano units.
    """
    emb = table(spark, sf_dir, "embeddings")
    a = F.col("embedding").cast("array<double>")
    absmax = F.array_max(F.transform(a, lambda x: F.abs(x)))
    scale = F.lit(127.0) / absmax
    q = F.transform(a, lambda x: F.round(x * scale).cast("int"))
    recon = F.transform(q, lambda v: v.cast("double") / scale)
    err9 = F.when(absmax == F.lit(0.0), F.lit(0).cast("bigint")).otherwise(
        F.aggregate(
            F.zip_with(a, recon, lambda x, y: F.round(F.abs(x - y) * 1e9).cast("bigint")),
            F.lit(0).cast("bigint"),
            lambda acc, v: acc + v,
        )
    )
    per_vec = emb.select(
        "label",
        err9.alias("err9"),
        F.size(a).cast("bigint").alias("dim"),
    )
    return (
        per_vec.groupBy("label")
        .agg(
            F.count("*").alias("n_vecs"),
            F.round(F.sum("err9") / F.sum("dim"))
            .cast("bigint")
            .alias("avg_err_nano"),
        )
        .orderBy("label")
    )


QL28_SQL = """
WITH v AS (
  SELECT label,
         list_transform(embedding, x -> x::DOUBLE) AS a
  FROM embeddings
), s AS (
  SELECT label, a,
         127.0 / list_max(list_transform(a, x -> abs(x))) AS scale
  FROM v
), r AS (
  SELECT label, a, scale,
         list_transform(a, x -> CAST(round(x * scale) AS INTEGER)) AS q
  FROM s
), e AS (
  SELECT label,
         -- all-zero vector: exact quantization, err 0 (mirrors the
         -- Spark-side absmax = 0 guard; the unguarded form silently
         -- NULLed err9 via x/0 = NULL while keeping dim — r9 deep fuzz)
         CASE WHEN list_max(list_transform(a, x -> abs(x))) = 0
              THEN CAST(0 AS BIGINT)
              ELSE CAST(list_sum(
                list_transform(
                  list_zip(a, list_transform(q, x -> x::DOUBLE / scale)),
                  z -> CAST(round(abs(z[1] - z[2]) * 1e9) AS BIGINT)
                )
              ) AS BIGINT) END AS err9,
         CAST(len(a) AS BIGINT) AS dim
  FROM r
)
SELECT label,
       count(*) AS n_vecs,
       CAST(round(CAST(sum(err9) AS BIGINT) * 1.0
                  / CAST(sum(dim) AS BIGINT)) AS BIGINT) AS avg_err_nano
FROM e GROUP BY 1 ORDER BY 1
"""


# --- Q-L29: train/val/test split manifest ------------------------------------

def ql29_split_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 80/10/10 train/val/test split of the corpus, reported
    per (split, lang): doc count, token volume, and an identity checksum.
    Assignment is a pure hash of doc_id (operators/sampling.assign_split) —
    stable under resharding/backfill, replayed exactly by the oracle.
    """
    from streamsurfer_spark.operators.sampling import assign_split

    docs = table(spark, sf_dir, "documents")
    return (
        assign_split(docs, "doc_id")
        .groupBy("split", "lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(F.size(F.split("text", " "))).alias("total_tokens"),
            F.sum("doc_id").alias("sum_ids"),
        )
        .orderBy("split", "lang")
    )


QL29_SQL = f"""
WITH assigned AS (
  SELECT lang, doc_id, len(string_split(text, ' ')) AS n_tokens,
         CASE WHEN {DUCK_HASH.format(x="doc_id::VARCHAR")} % 100 < 80 THEN 'train'
              WHEN {DUCK_HASH.format(x="doc_id::VARCHAR")} % 100 < 90 THEN 'val'
              ELSE 'test' END AS split
  FROM documents
)
SELECT split, lang,
       count(*) AS n_docs,
       CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
       CAST(sum(doc_id) AS BIGINT) AS sum_ids
FROM assigned GROUP BY 1, 2 ORDER BY 1, 2
"""


# --- Q-L30: benchmark decontamination ----------------------------------------

QL30_BENCH_SOURCES = ("src0", "src1")
QL30_THRESHOLD = 0.25


def ql30_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: flag training docs whose 3-gram shingles
    overlap a held-out benchmark set beyond a threshold.

    Dedup's symmetric pair-join won't do here — the check is ASYMMETRIC
    (corpus vs a fixed reference set). The benchmark's distinct shingle set
    is small at any corpus scale (eval suites don't grow with training
    data), so it broadcasts and the corpus side is a map-only probe +
    per-doc aggregate: no shuffle proportional to corpus².
    """
    docs = table(spark, sf_dir, "documents")
    sh = dedup.with_shingles(docs).select(
        "doc_id", "source", F.explode(F.array_distinct("shingles")).alias("shingle")
    )
    is_bench = F.col("source").isin(*QL30_BENCH_SOURCES)
    bench = sh.where(is_bench).select("shingle").distinct()
    cand = sh.where(~is_bench)
    per_doc = (
        cand.join(F.broadcast(bench.withColumn("_hit", F.lit(1))), "shingle", "left")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_shingles"),
            F.sum(F.coalesce(F.col("_hit"), F.lit(0))).alias("n_contaminated"),
        )
        .withColumn(
            "ratio",
            rounding.scaled_round(F.col("n_contaminated") / F.col("n_shingles")),
        )
    )
    return (
        per_doc.where(F.col("ratio") >= QL30_THRESHOLD)
        .orderBy("doc_id")
    )


QL30_SQL = f"""
WITH d AS (SELECT doc_id, source, string_split(text, ' ') AS toks FROM documents),
sh AS (
    SELECT DISTINCT doc_id, source, shingle
    FROM (SELECT doc_id, source, unnest({DUCK_SHINGLES}) AS shingle FROM d)
),
bench AS (
    SELECT DISTINCT shingle FROM sh
    WHERE source IN {QL30_BENCH_SOURCES!r}
),
cand AS (SELECT * FROM sh WHERE source NOT IN {QL30_BENCH_SOURCES!r}),
per_doc AS (
    SELECT c.doc_id,
           count(*) AS n_shingles,
           CAST(sum(CASE WHEN b.shingle IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_contaminated
    FROM cand c LEFT JOIN bench b ON b.shingle = c.shingle
    GROUP BY 1
)
SELECT doc_id, n_shingles, n_contaminated,
       CAST(round((n_contaminated * 1.0 / n_shingles) * 10000) AS BIGINT)
           / 10000.0 AS ratio
FROM per_doc
WHERE CAST(round((n_contaminated * 1.0 / n_shingles) * 10000) AS BIGINT) / 10000.0
          >= {QL30_THRESHOLD}
ORDER BY doc_id
"""


# --- Q-L31: intra-document repetition metrics --------------------------------

QL31_DUP_TOKEN_MAX = 0.55
QL31_TOP_SHINGLE_MAX = 0.10


def ql31_repetition_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-document repetition (Gopher-rule style): duplicate-token
    ratio and the most-frequent-3-gram share, plus the filter flag.

    Cross-doc dedup (ql01/ql02) can't see a document that repeats ITSELF;
    these are the signals that catch boilerplate loops and degenerate
    generations. Token stats are per-row lambdas (codegen, no shuffle);
    the top-shingle share needs one (doc_id, shingle) aggregate — keyed by
    doc, so it scales linearly and skew-free.
    """
    docs = table(spark, sf_dir, "documents")
    base = dedup.with_shingles(docs)
    tok = base.select(
        "doc_id",
        F.size("toks").alias("n_tokens"),
        rounding.scaled_round(
            1 - F.size(F.array_distinct("toks")) / F.size("toks")
        ).alias("dup_token_ratio"),
        "shingles",
    )
    top = (
        tok.select("doc_id", F.explode("shingles").alias("shingle"))
        .groupBy("doc_id", "shingle")
        .agg(F.count("*").alias("c"))
        .groupBy("doc_id")
        .agg(F.max("c").alias("max_c"), F.sum("c").alias("n_sh"))
    )
    return (
        tok.drop("shingles")
        .join(top, "doc_id")
        .select(
            "doc_id",
            "n_tokens",
            "dup_token_ratio",
            rounding.scaled_round(F.col("max_c") / F.col("n_sh")).alias(
                "top_shingle_ratio"
            ),
        )
        .withColumn(
            "flag_repetitive",
            (F.col("dup_token_ratio") > QL31_DUP_TOKEN_MAX)
            | (F.col("top_shingle_ratio") > QL31_TOP_SHINGLE_MAX),
        )
        .orderBy("doc_id")
    )


QL31_SQL = f"""
WITH d AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
tok AS (
    SELECT doc_id,
           len(toks) AS n_tokens,
           CAST(round((1 - len(list_distinct(toks)) * 1.0 / len(toks)) * 10000)
                AS BIGINT) / 10000.0 AS dup_token_ratio,
           {DUCK_SHINGLES} AS shingles
    FROM d
),
sh AS (SELECT doc_id, unnest(shingles) AS shingle FROM tok),
per AS (SELECT doc_id, shingle, count(*) AS c FROM sh GROUP BY 1, 2),
top AS (SELECT doc_id, max(c) AS max_c, sum(c) AS n_sh FROM per GROUP BY 1)
SELECT tok.doc_id,
       CAST(n_tokens AS INT) AS n_tokens,
       dup_token_ratio,
       CAST(round((max_c * 1.0 / n_sh) * 10000) AS BIGINT) / 10000.0
           AS top_shingle_ratio,
       (dup_token_ratio > {QL31_DUP_TOKEN_MAX}
        OR CAST(round((max_c * 1.0 / n_sh) * 10000) AS BIGINT) / 10000.0
               > {QL31_TOP_SHINGLE_MAX}) AS flag_repetitive
FROM tok JOIN top ON top.doc_id = tok.doc_id
ORDER BY tok.doc_id
"""


# --- Q-L32: BM25 lexical retrieval -------------------------------------------

BM25_TERMS = ("join", "window", "hash")


def ql32_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Okapi BM25 top-10 for a fixed query term set (operators/retrieval.py).

    Pure codegen: per-term tf via size(filter(tokens)), one 1-row
    corpus-stats aggregate broadcast back over the scan, distributed
    top-k (TakeOrderedAndProject) — no explode, no per-term shuffle.
    The oracle mirrors the arithmetic ORDER of the Spark expression so
    double rounding agrees bit-for-bit.
    """
    docs = table(spark, sf_dir, "documents")
    return retrieval.bm25_topk(docs, BM25_TERMS, k=10)


def _bm25_oracle() -> str:
    # constants interpolated from the operator (like _ql42_sql), never
    # hardcoded: a BM25_K1/BM25_B tune must move this oracle in lockstep
    # with the Spark path or the gate checks a different formula
    # (r8 area review)
    from streamsurfer_spark.operators.retrieval import BM25_B, BM25_K1

    k1b = BM25_K1 * (1 - BM25_B)
    tf_defs = ",\n         ".join(
        "CAST(len(list_filter(string_split(text, ' '), t -> t = "
        f"'{t}')) AS BIGINT) AS tf_{t}"
        for t in BM25_TERMS
    )
    df_defs = ", ".join(
        f"sum(CASE WHEN tf_{t} > 0 THEN 1 ELSE 0 END) AS df_{t}"
        for t in BM25_TERMS
    )
    term_scores = "\n           + ".join(
        f"(ln(1.0 + (n_docs - df_{t} + 0.5) / (df_{t} + 0.5))"
        f" * tf_{t} * {BM25_K1 + 1})"
        f" / (tf_{t} + {BM25_K1} * ({k1b / BM25_K1}"
        f" + ({BM25_B} * n_tokens) / avgdl))"
        for t in BM25_TERMS
    )
    tf_outs = ", ".join(f"tf_{t}" for t in BM25_TERMS)
    return f"""
WITH d AS (
  SELECT doc_id,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
         {tf_defs}
  FROM documents
),
s AS (
  SELECT count(*) AS n_docs, avg(n_tokens) AS avgdl, {df_defs} FROM d
),
scored AS (
  SELECT doc_id, n_tokens, {tf_outs},
         CAST(round((0.0
           + {term_scores}) * 10000) AS BIGINT) / 10000.0 AS score
  FROM d, s
)
SELECT * FROM scored
WHERE greatest({", ".join(f"tf_{t}" for t in BM25_TERMS)}) > 0
ORDER BY score DESC, doc_id ASC LIMIT 10
"""


QL32_SQL = _bm25_oracle()


# --- Q-L33: greedy sequence packing ------------------------------------------

def ql33_sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-window packing (operators/packing.py): greedy sequential
    fill inside bounded (lang, shard) domains via applyInPandas; the
    oracle replays the same recurrence with a recursive CTE."""
    docs = table(spark, sf_dir, "documents")
    return packing.pack_sequences(docs, capacity=256, n_shards=8).orderBy("doc_id")


QL33_SQL = """
WITH RECURSIVE d AS (
  SELECT doc_id, lang, doc_id % 8 AS shard,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
         row_number() OVER (PARTITION BY lang, doc_id % 8 ORDER BY doc_id) AS rn
  FROM documents
),
p AS (
  SELECT doc_id, lang, shard, n_tokens, rn,
         CAST(1 AS BIGINT) AS bin_id, CAST(0 AS BIGINT) AS bin_offset
  FROM d WHERE rn = 1
  UNION ALL
  SELECT d.doc_id, d.lang, d.shard, d.n_tokens, d.rn,
         CASE WHEN p.bin_offset + p.n_tokens > 0
                   AND p.bin_offset + p.n_tokens + d.n_tokens > 256
              THEN p.bin_id + 1 ELSE p.bin_id END,
         CASE WHEN p.bin_offset + p.n_tokens > 0
                   AND p.bin_offset + p.n_tokens + d.n_tokens > 256
              THEN CAST(0 AS BIGINT) ELSE p.bin_offset + p.n_tokens END
  FROM p JOIN d ON d.lang = p.lang AND d.shard = p.shard AND d.rn = p.rn + 1
)
SELECT doc_id, lang, shard, n_tokens, bin_id, bin_offset
FROM p ORDER BY doc_id
"""


# --- ql34: near-dup cluster representative selection -------------------------


def ql34_cluster_representatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Which copy survives dedup: MinHash-LSH pairs → connected components
    (min id per cluster) → keep each cluster's best-quality member
    (operators/graph.py cluster_representatives). Completes the dedup
    story: ql02 finds the pairs, ql23 clusters them, this picks the
    survivor. The oracle rebuilds the clusters with a recursive CTE and
    the quality score with ql11's SQL twin, then picks the same (max
    score, min id) representative."""
    from streamsurfer_spark.operators.graph import cluster_representatives

    docs = table(spark, sf_dir, "documents")
    pairs = dedup.lsh_candidate_pairs(docs)
    quality = text_ops.quality_features(docs).select("doc_id", "quality_score")
    return cluster_representatives(pairs, quality).orderBy("cluster_id")


QL34_SQL = f"""
WITH RECURSIVE {duck_minhash_bands("documents")},
pr AS (
    SELECT a.doc_id AS id_a, b.doc_id AS id_b
    FROM bands a
    JOIN bands b ON a.band = b.band AND a.band_key = b.band_key
                AND a.doc_id < b.doc_id
    GROUP BY 1, 2
),
sym AS (
    SELECT id_a AS a, id_b AS b FROM pr
    UNION ALL
    SELECT id_b AS a, id_a AS b FROM pr
),
reach(id, r) AS (
    SELECT DISTINCT a AS id, a AS r FROM sym
    UNION
    SELECT sym.a AS id, reach.r FROM sym JOIN reach ON sym.b = reach.id
),
clusters AS (SELECT id, min(r) AS cluster_id FROM reach GROUP BY 1),
q AS (
    SELECT doc_id,
           CAST(round((least(1.0, len(string_split(text, ' ')) / 100.0) * 0.5
               + least(1.0, {_STOP_EN}::DOUBLE / len(string_split(text, ' ')) * 5.0) * 0.5)
               * 10000) AS BIGINT) / 10000.0 AS quality_score
    FROM documents
),
m AS (
    SELECT c.cluster_id, c.id AS doc_id, q.quality_score
    FROM clusters c JOIN q ON q.doc_id = c.id
),
rep AS (
    SELECT cluster_id, doc_id, quality_score,
           row_number() OVER (PARTITION BY cluster_id
                              ORDER BY quality_score DESC, doc_id) AS rk
    FROM m
),
sz AS (SELECT cluster_id, count(*) AS n_members FROM m GROUP BY 1)
SELECT sz.cluster_id, sz.n_members,
       rep.doc_id AS rep_id, rep.quality_score AS rep_score
FROM sz JOIN rep ON rep.cluster_id = sz.cluster_id AND rep.rk = 1
ORDER BY sz.cluster_id
"""


# --- ql35: temperature-weighted domain mixture sample ------------------------

MIX_FACTOR = 4
MIX_MODULUS = 10_000


def ql35_domain_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """α=0.5 temperature mixture over `source` (operators/sampling.py
    temperature_mixture_sample): per-domain sample size ∝ sqrt(domain
    size), membership by key-hash threshold — map-only on the corpus,
    one tiny broadcast agg. The oracle replays the identical predicate."""
    docs = table(spark, sf_dir, "documents")
    return (
        sampling.temperature_mixture_sample(
            docs, "source", "doc_id", factor=MIX_FACTOR, modulus=MIX_MODULUS
        )
        .select("doc_id", "source", "n_stratum", "target_n")
        .orderBy("doc_id")
    )


QL35_SQL = f"""
WITH c AS (SELECT source, count(*) AS n_stratum FROM documents GROUP BY 1),
t AS (
    SELECT source, n_stratum,
           least(n_stratum,
                 CAST(floor(sqrt(n_stratum) * {MIX_FACTOR}) AS BIGINT)) AS target_n
    FROM c
)
SELECT d.doc_id, d.source, t.n_stratum, t.target_n
FROM documents d JOIN t ON d.source IS NOT DISTINCT FROM t.source
WHERE ('0x' || substr(md5(d.doc_id::VARCHAR), 1, 15))::BIGINT % {MIX_MODULUS}
      < CAST(floor(({MIX_MODULUS} * target_n)::DOUBLE / n_stratum) AS BIGINT)
ORDER BY d.doc_id
"""


# --- ql42: hybrid retrieval — BM25 + vector fused by RRF --------------------

RRF_K = 60
RRF_CANDIDATES = 100
RRF_QUERY_VEC_ID = 0


def ql42_hybrid_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One hybrid search request at corpus scale: top-100 lexical
    candidates (Okapi BM25, fixed term set) and top-100 vector candidates
    (exact cosine against the query embedding, items paired doc_id ↔
    vec_id) fused by reciprocal-rank fusion, final top-10.

    RRF contributions 1/(K + rank) are rounded to exact micro-units per
    retriever BEFORE the sum, so the fused score is an exact integer —
    no float-accumulation drift; ranks come from each retriever's ROUNDED
    score with the item id as deterministic tiebreak.

    Scale shape: each retriever is its own scale-audited path (BM25: one
    scan + 1-row stats broadcast + TakeOrdered heap; cosine: per-row dot
    against ONE broadcast query vector + TakeOrdered heap). Only the two
    100-row candidate lists meet — windowing over a bounded frame and a
    tiny outer join. Nothing global is ever sorted.
    """
    docs = table(spark, sf_dir, "documents")
    emb = table(spark, sf_dir, "embeddings")

    lex = retrieval.bm25_topk(docs, BM25_TERMS, k=RRF_CANDIDATES).select(
        # score is already tie-proof-rounded inside bm25_topk (r7)
        F.col("doc_id").alias("item_id"), F.col("score").alias("_ls")
    )
    w_lex = Window.orderBy(F.desc("_ls"), F.col("item_id"))
    lex = lex.withColumn("r_lex", F.row_number().over(w_lex))

    # HOF (non-unrolled) dot/norm forms: this stage is one projection over
    # the embeddings table against a single broadcast query vector — small
    # enough that the unrolled CASE's fixed codegen-compile cost exceeds
    # its per-element saving (r14 A/B: HOF ~1.2× faster here; the forms
    # are bit-identical so the result is unchanged). The unroll stays on
    # the O(pairs·d) cosine stages in operators/similarity.py.
    qvec = emb.where(F.col("vec_id") == RRF_QUERY_VEC_ID).select(
        F.col("embedding").alias("_qv"),
        F.expr(norm_sql("embedding", unroll=False)).alias("_qn"),
    )
    dot = F.expr(dot_sql("embedding", "_qv", unroll=False))
    vec = (
        emb.where(F.col("vec_id") != RRF_QUERY_VEC_ID)
        .crossJoin(F.broadcast(qvec))
        .select(
            F.col("vec_id").alias("item_id"),
            # try_divide + NULL exclusion: the zero-norm class (r9 deep
            # fuzz) — a zero corpus or query vector must drop from the
            # candidate list, not ANSI-raise or rank as NULL
            scaled_round(
                F.try_divide(
                    dot, F.expr(norm_sql("embedding", unroll=False)) * F.col("_qn")
                )
            ).alias("_vs"),
        )
        .where(F.col("_vs").isNotNull())
        .orderBy(F.desc("_vs"), F.col("item_id"))
        .limit(RRF_CANDIDATES)
    )
    w_vec = Window.orderBy(F.desc("_vs"), F.col("item_id"))
    vec = vec.withColumn("r_vec", F.row_number().over(w_vec))

    fused = (
        lex.select("item_id", "r_lex")
        .join(vec.select("item_id", "r_vec"), "item_id", "full_outer")
        .withColumn(
            "rrf_micro",
            F.coalesce(
                F.round(F.lit(1_000_000) / (F.lit(RRF_K) + F.col("r_lex"))).cast("bigint"),
                F.lit(0),
            )
            + F.coalesce(
                F.round(F.lit(1_000_000) / (F.lit(RRF_K) + F.col("r_vec"))).cast("bigint"),
                F.lit(0),
            ),
        )
    )
    return (
        fused.orderBy(F.desc("rrf_micro"), F.col("item_id"))
        .limit(10)
        .select("item_id", "r_lex", "r_vec", "rrf_micro")
    )


def _ql42_sql() -> str:
    from streamsurfer_spark.operators.retrieval import BM25_B, BM25_K1

    tf_defs = ",\n           ".join(
        "CAST(len(list_filter(string_split(text, ' '), t -> t = "
        f"'{t}')) AS BIGINT) AS tf_{t}"
        for t in BM25_TERMS
    )
    df_defs = ", ".join(
        f"sum(CASE WHEN tf_{t} > 0 THEN 1 ELSE 0 END) AS df_{t}"
        for t in BM25_TERMS
    )
    k1b = BM25_K1 * (1 - BM25_B)
    term_scores = "\n           + ".join(
        f"(ln(1.0 + (n_docs - df_{t} + 0.5) / (df_{t} + 0.5)) * tf_{t} * {BM25_K1 + 1})"
        f" / (tf_{t} + {BM25_K1} * ({k1b / BM25_K1} + ({BM25_B} * n_tokens) / avgdl))"
        for t in BM25_TERMS
    )
    return f"""
WITH tf AS (
    SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
           {tf_defs}
    FROM documents
),
stats AS (
    SELECT count(*) AS n_docs, avg(n_tokens) AS avgdl, {df_defs} FROM tf
),
lex0 AS (
    SELECT doc_id AS item_id,
           CAST(round((0.0
           + {term_scores}) * 10000) AS BIGINT) / 10000.0 AS ls
    FROM tf CROSS JOIN stats
    WHERE greatest({", ".join(f"tf_{t}" for t in BM25_TERMS)}) > 0
    ORDER BY ls DESC, item_id LIMIT {RRF_CANDIDATES}
),
lex AS (
    SELECT item_id, row_number() OVER (ORDER BY ls DESC, item_id) AS r_lex
    FROM lex0
),
q AS (
    SELECT list_transform(embedding, x -> x::DOUBLE) AS qv,
           sqrt(list_sum(list_transform(embedding, x -> x::DOUBLE * x::DOUBLE))) AS qn
    FROM embeddings WHERE vec_id = {RRF_QUERY_VEC_ID}
),
vec0 AS (
    -- vs IS NOT NULL mirrors the operator's zero-norm exclusion (r9)
    SELECT item_id, vs FROM (
        SELECT vec_id AS item_id,
               CAST(round(list_sum(list_transform(list_zip(embedding, qv),
                          z -> z[1]::DOUBLE * z[2]::DOUBLE))
                     / (sqrt(list_sum(list_transform(embedding,
                          x -> x::DOUBLE * x::DOUBLE))) * qn) * 10000) AS BIGINT)
                   / 10000.0 AS vs
        FROM embeddings CROSS JOIN q
        WHERE vec_id != {RRF_QUERY_VEC_ID}
    ) WHERE vs IS NOT NULL
    ORDER BY vs DESC, item_id LIMIT {RRF_CANDIDATES}
),
vec AS (
    SELECT item_id, row_number() OVER (ORDER BY vs DESC, item_id) AS r_vec
    FROM vec0
),
fused AS (
    SELECT coalesce(l.item_id, v.item_id) AS item_id, l.r_lex, v.r_vec,
           coalesce(CAST(round(1000000.0 / ({RRF_K} + l.r_lex)) AS BIGINT), 0)
         + coalesce(CAST(round(1000000.0 / ({RRF_K} + v.r_vec)) AS BIGINT), 0)
               AS rrf_micro
    FROM lex l FULL OUTER JOIN vec v ON l.item_id = v.item_id
)
SELECT item_id, r_lex, r_vec, rrf_micro
FROM fused
ORDER BY rrf_micro DESC, item_id LIMIT 10
"""


QL42_SQL = _ql42_sql()


# --- ql41: binary container header round-trip (codegen-side decode) ---------


def ql41_binary_header(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Build media payloads with an 8-byte BE (width, height) container
    header, then parse the header back — both directions pure whole-stage
    codegen (operators/multimodal.py with_binary_header /
    parse_binary_header). Verifies that typed metadata extraction from
    binary columns needs zero Python; the oracle rebuilds the identical
    bytes in DuckDB blob algebra."""
    docs = table(spark, sf_dir, "documents")
    media = multimodal.with_binary_header(multimodal.as_media(docs))
    parsed = multimodal.parse_binary_header(media)
    joined = parsed.join(
        media.select("doc_id", "width", "height"), "doc_id"
    )
    return (
        joined.select(
            "doc_id",
            "modality",
            "parsed_w",
            "parsed_h",
            (
                (F.col("parsed_w") == F.col("width"))
                & (F.col("parsed_h") == F.col("height"))
            ).alias("header_ok"),
            "body_md5",
            "body_bytes",
        )
        .orderBy("doc_id")
    )


QL41_SQL = """
WITH m AS (
    SELECT doc_id,
           CASE WHEN doc_id % 3 = 0 THEN 'image'
                WHEN doc_id % 3 = 1 THEN 'audio'
                ELSE 'video' END AS modality,
           64 + doc_id % 1856 AS width,
           64 + (doc_id * 7) % 1016 AS height,
           from_hex(lpad(to_hex(64 + doc_id % 1856), 8, '0'))
             || from_hex(lpad(to_hex(64 + (doc_id * 7) % 1016), 8, '0'))
             || encode(text) AS payload
    FROM documents
)
SELECT doc_id, modality,
       ('0x' || substr(hex(payload), 1, 8))::BIGINT AS parsed_w,
       ('0x' || substr(hex(payload), 9, 8))::BIGINT AS parsed_h,
       ('0x' || substr(hex(payload), 1, 8))::BIGINT = width
         AND ('0x' || substr(hex(payload), 9, 8))::BIGINT = height AS header_ok,
       md5(substr(hex(payload), 17)) AS body_md5,
       CAST(octet_length(payload) - 8 AS BIGINT) AS body_bytes
FROM m
ORDER BY doc_id
"""


# --- ql36: unigram-LM surprisal quality score -------------------------------


def ql36_unigram_surprisal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mean token surprisal per document under the corpus unigram LM
    (operators/text.py unigram_surprisal — see its float-discipline and
    100 TB notes: ln() once per distinct token rounded to integer
    micro-nats, all per-doc aggregation exact BIGINT)."""
    docs = table(spark, sf_dir, "documents")
    return text_ops.unigram_surprisal(docs).orderBy("doc_id")


QL36_SQL = """
WITH toks AS (
    SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents
),
tf AS (SELECT doc_id, token, count(*) AS tf FROM toks GROUP BY 1, 2),
vocab AS (SELECT token, CAST(sum(tf) AS BIGINT) AS cnt FROM tf GROUP BY 1),
total AS (SELECT CAST(sum(cnt) AS BIGINT) AS total FROM vocab),
costed AS (
    SELECT token,
           CAST(round(ln(total::DOUBLE / cnt) * 1000000) AS BIGINT) AS cost_micro
    FROM vocab CROSS JOIN total
)
SELECT tf.doc_id,
       CAST(sum(tf) AS BIGINT) AS n_tokens,
       CAST(sum(tf * cost_micro) AS BIGINT) AS surprisal_micro,
       CAST(round(CAST(sum(tf * cost_micro) AS BIGINT)
             / CAST(sum(tf) AS BIGINT) / 1000000.0 * 10000) AS BIGINT)
           / 10000.0 AS avg_surprisal_nats
FROM tf JOIN costed USING (token)
GROUP BY 1
ORDER BY 1
"""


# --- ql37: duplicated n-gram span coverage (substring-level dedup signal) ----


def ql37_duplicate_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fraction of each document's tokens covered by a 3-gram shared with
    another document (operators/dedup.py duplicate_span_coverage — the
    Lee-et-al substring-dedup signal; shuffle keys are the uniform
    shingle hash and (doc, pos), never a single hot key)."""
    docs = table(spark, sf_dir, "documents")
    return dedup.duplicate_span_coverage(docs).orderBy("doc_id")


QL37_SQL = f"""
WITH d AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
dth AS (
    SELECT doc_id, len(toks) AS n_tokens,
           [({DUCK_HASH.format(x="t")}) % {P31} for t in toks] AS th
    FROM d
),
sh AS (
    SELECT doc_id, n_tokens,
           unnest(range(greatest(n_tokens - 2, 1))) AS pos,
           unnest([(th[i+1] * {dedup.SHINGLE_C1}) % {dedup.P61}
                   + (coalesce(th[i+2], 0) * {dedup.SHINGLE_C2}) % {dedup.P61}
                   + coalesce(th[i+3], 0)
                   for i in range(greatest(n_tokens - 2, 1))]) AS shingle
    FROM dth
),
dup AS (
    SELECT shingle FROM sh GROUP BY 1 HAVING count(DISTINCT doc_id) >= 2
),
cov0 AS (
    SELECT s.doc_id, s.n_tokens,
           unnest(range(s.pos, least(s.pos + 3, s.n_tokens))) AS p
    FROM sh s JOIN dup USING (shingle)
),
cov AS (SELECT DISTINCT doc_id, n_tokens, p FROM cov0)
SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
       count(*) AS covered_tokens,
       CAST(round(count(*)::DOUBLE / n_tokens * 10000) AS BIGINT)
           / 10000.0 AS dup_coverage
FROM cov
GROUP BY doc_id, n_tokens
ORDER BY 1
"""


# --- ql38: k-means codebook training (2 Lloyd iterations, exact-int) --------


def ql38_kmeans_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-cluster size + exact-integer SSE after 2 Lloyd iterations on
    ×1000-quantized embeddings (operators/clustering.py — constant-k
    broadcast assign via ivf_assign's map-side min_by, k×d-keyed update)."""
    emb = table(spark, sf_dir, "embeddings")
    return clustering.kmeans_report(emb)


_KM_DIST = "list_sum(list_transform(list_zip({a}, {b}), z -> (z[1] - z[2]) * (z[1] - z[2])))"

QL38_SQL = f"""
WITH q AS (
    SELECT vec_id,
           list_transform(embedding, x -> CAST(round(x::DOUBLE * 1000) AS BIGINT)) AS qv
    FROM embeddings
),
c0 AS (SELECT vec_id AS cent_id, qv AS cqv FROM q
       ORDER BY (vec_id * {clustering.SEED_SCATTER}) % 4294967296, vec_id
       LIMIT {clustering.KMEANS_K}),
a1 AS (
    SELECT vec_id, qv, cent_id FROM (
        SELECT v.vec_id, v.qv, c.cent_id,
               row_number() OVER (
                   PARTITION BY v.vec_id
                   ORDER BY {_KM_DIST.format(a='v.qv', b='c.cqv')}, c.cent_id
               ) AS rn
        FROM q v CROSS JOIN c0 c
    ) WHERE rn = 1
),
u1 AS (
    SELECT cent_id, dim, CAST(floor(sum(x)::DOUBLE / count(*)) AS BIGINT) AS cx
    FROM (
        SELECT cent_id, unnest(qv) AS x, unnest(range(len(qv))) AS dim FROM a1
    )
    GROUP BY 1, 2
),
c1 AS (SELECT cent_id, list(cx ORDER BY dim) AS cqv FROM u1 GROUP BY 1),
a2 AS (
    SELECT vec_id, cent_id, dist FROM (
        SELECT v.vec_id, c.cent_id,
               {_KM_DIST.format(a='v.qv', b='c.cqv')} AS dist,
               row_number() OVER (
                   PARTITION BY v.vec_id
                   ORDER BY {_KM_DIST.format(a='v.qv', b='c.cqv')}, c.cent_id
               ) AS rn
        FROM q v CROSS JOIN c1 c
    ) WHERE rn = 1
)
SELECT cent_id, count(*) AS n_vecs,
       CAST(sum(dist) AS BIGINT) AS sse,
       min(vec_id) AS exemplar_id
FROM a2
GROUP BY 1
ORDER BY 1
"""


# --- ql39: product-quantization encode (ANN memory path) --------------------


def ql39_pq_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ codes + exact-int reconstruction SSE per vector
    (operators/clustering.py pq_encode — broadcast codebook keyed on the
    subspace id, no shuffle to score, m-byte codes for 1e9-vector
    in-memory ANN re-rank)."""
    emb = table(spark, sf_dir, "embeddings")
    return clustering.pq_encode(emb).orderBy("vec_id")


# m subspaces of floor(d/m) dims; the LAST slice runs to len(qv) so the
# d % m remainder dims are kept (mirrors clustering._sub_slices)
_PQ_SLICES = (
    f"[qv[s * (len(qv) // {clustering.PQ_SUBSPACES}) + 1 :"
    f" CASE WHEN s = {clustering.PQ_SUBSPACES - 1} THEN len(qv)"
    f" ELSE (s + 1) * (len(qv) // {clustering.PQ_SUBSPACES}) END]"
    f" for s in range({clustering.PQ_SUBSPACES})]"
)

QL39_SQL = f"""
WITH q AS (
    SELECT vec_id,
           list_transform(embedding, x -> CAST(round(x::DOUBLE * 1000) AS BIGINT)) AS qv
    FROM embeddings
),
subs AS (
    SELECT vec_id,
           unnest(range({clustering.PQ_SUBSPACES})) AS sub,
           unnest({_PQ_SLICES}) AS sv
    FROM q
),
cb AS (
    SELECT vec_id AS code_id,
           unnest(range({clustering.PQ_SUBSPACES})) AS sub,
           unnest({_PQ_SLICES}) AS cw
    FROM (SELECT * FROM q
          ORDER BY (vec_id * {clustering.SEED_SCATTER}) % 4294967296, vec_id
          LIMIT {clustering.PQ_CODEWORDS})
),
scored AS (
    SELECT v.vec_id, v.sub, c.code_id,
           list_sum(list_transform(list_zip(v.sv, c.cw),
                                   z -> (z[1] - z[2]) * (z[1] - z[2]))) AS dist
    FROM subs v JOIN cb c USING (sub)
),
best AS (
    SELECT vec_id, sub, code_id, dist FROM (
        SELECT *, row_number() OVER (
            PARTITION BY vec_id, sub ORDER BY dist, code_id
        ) AS rn FROM scored
    ) WHERE rn = 1
)
SELECT vec_id,
       string_agg(code_id::VARCHAR, ',' ORDER BY sub) AS pq_code,
       CAST(sum(dist) AS BIGINT) AS recon_sse
FROM best
GROUP BY 1
ORDER BY 1
"""


# --- ql43: ANN recall evaluation (IVF vs exact ground truth) ----------------


def ql43_ann_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@3 of the IVF approximate top-k against the exact cosine
    ground truth, per probe — the evaluation harness every ANN deployment
    ships with (the nprobe/centroid-budget tuning loop reads exactly this
    table). Both paths are the engine's own operators (similarity.cosine_topk
    exact float path; similarity.ivf_topk quantized route-and-rerank), so
    the driver hash-checks the composed evaluation, not a re-derivation.

    recall4 = n_hits / 3 is one IEEE division of two small exact ints →
    bit-identical across engines. Ranking on both sides is the ROUNDED
    similarity with a vec_id tiebreak, so the top-3 cut — and therefore
    the overlap count — is deterministic on both engines.

    Scale: exact ground truth is O(probes × corpus), so the probe set must
    be a CONSTANT budget, not a constant fraction — similarity.probe_modulus
    caps it at PROBE_BUDGET (the round-4 10× probe measured 21× wall-clock
    for the uncapped fraction-of-corpus version; capped, the exact pass is
    linear in the corpus). At fixture scales the modulus stays PROBE_MOD,
    so the oracle's literal % {PROBE_MOD} never diverges.
    """
    emb = table(spark, sf_dir, "embeddings")
    n = emb.count()
    mod = similarity.probe_modulus(n, PROBE_MOD)
    probes = emb.where(F.col("vec_id") % mod == 0)
    # The exact frame feeds TWO consumers (the hit join and the n_exact
    # aggregate); without an eager materialization Spark re-executes the
    # whole O(probes × corpus) exact-cosine DAG once per consumer — the
    # r11 1000× probe measured the doubled pass directly (the composed
    # eval wrote >55 GB of shuffle scratch and DNF'd on this box's disk
    # while qp03's comparable single-pass build finished in 415 s).
    # Post-top-k the frame is ≤ PROBE_BUDGET·k rows, so the checkpoint is
    # a few KB on any cluster. Gated on corpus size: at fixture scale the
    # duplicated pass costs less than the checkpoint job, so the small-n
    # plan stays checkpoint-free and the gate/sim plans never carry the
    # extra job. LAZY (r11 ADVICE): eager=True made merely CONSTRUCTING
    # the frame run the full O(probes × corpus) exact pass — explain-only
    # builds and plan audits paid the whole job; eager=False materializes
    # once at the first action and both consumers (hit join + n_exact
    # aggregate) read the stored blocks. Caveat (single-box acceptable,
    # documented for cluster use): localCheckpoint blocks are
    # non-replicated executor-local storage and lineage is truncated, so
    # on a multi-node cluster an executor loss after materialization
    # fails the query instead of recomputing — a durable checkpoint dir
    # is the multi-node variant.
    exact = similarity.cosine_topk(emb, probes, k=3).select(
        "probe_id", "vec_id"
    )
    if n > 100_000:
        exact = exact.localCheckpoint(eager=False)
    approx = similarity.ivf_topk(emb, k=3, probe_mod=mod).select(
        "probe_id", "vec_id"
    )
    hits = (
        exact.join(approx, ["probe_id", "vec_id"])
        .groupBy("probe_id")
        .agg(F.count("*").alias("n_hits"))
    )
    return (
        exact.groupBy("probe_id")
        .agg(F.count("*").alias("n_exact"))
        .join(hits, "probe_id", "left")
        .select(
            "probe_id",
            "n_exact",
            F.coalesce(F.col("n_hits"), F.lit(0)).alias("n_hits"),
            rounding.scaled_round(
                F.coalesce(F.col("n_hits"), F.lit(0)) / F.col("n_exact")
            ).alias("recall4"),
        )
        .orderBy("probe_id")
    )


def _ql43_sql() -> str:
    """Exact (float) and IVF (quantized) top-3 pipelines composed in one
    oracle query; CTE names prefixed to avoid collisions."""
    return f"""
WITH fe AS (
    SELECT vec_id, unnest(range(len(embedding))) AS pos,
           unnest(embedding)::DOUBLE AS v
    FROM embeddings
),
fnorms AS (SELECT vec_id, sqrt(sum(v * v)) AS nrm FROM fe GROUP BY 1),
fp AS (SELECT vec_id AS probe_id, pos, v FROM fe WHERE vec_id % {PROBE_MOD} = 0),
fdots AS (
    SELECT fp.probe_id, fe.vec_id, sum(fp.v * fe.v) AS dot
    FROM fp JOIN fe ON fp.pos = fe.pos AND fe.vec_id <> fp.probe_id
    GROUP BY 1, 2
),
fsims AS (
    SELECT probe_id, d.vec_id,
           CAST(round(dot / (na.nrm * nb.nrm) * 10000) AS BIGINT) / 10000.0 AS sim
    FROM fdots d
    JOIN fnorms na ON na.vec_id = d.probe_id
    JOIN fnorms nb ON nb.vec_id = d.vec_id
),
exact AS (
    -- sim IS NOT NULL: the operator's zero-norm exclusion (r9)
    SELECT probe_id, vec_id FROM (
        SELECT probe_id, vec_id,
               row_number() OVER (PARTITION BY probe_id ORDER BY sim DESC, vec_id) AS rk
        FROM fsims WHERE sim IS NOT NULL
    ) WHERE rk <= 3
),
q AS (
    SELECT vec_id,
           [cast(round(x::DOUBLE * {similarity.QUANT_SCALE}) AS BIGINT) for x in embedding] AS qv
    FROM embeddings
),
qe AS (SELECT vec_id, unnest(range(len(qv))) AS pos, unnest(qv) AS v FROM q),
cents AS (SELECT vec_id AS cent_id, pos, v FROM qe
          WHERE vec_id % {similarity.IVF_CENTROID_MOD} = 0),
ad AS (
    SELECT qe.vec_id, c.cent_id, sum((qe.v - c.v) * (qe.v - c.v)) AS dist
    FROM qe JOIN cents c ON c.pos = qe.pos GROUP BY 1, 2
),
assign AS (
    SELECT vec_id, cent_id FROM (
        SELECT vec_id, cent_id,
               row_number() OVER (PARTITION BY vec_id ORDER BY dist, cent_id) AS rn
        FROM ad
    ) WHERE rn = 1
),
pc AS (
    SELECT probe_id, cent_id FROM (
        SELECT vec_id AS probe_id, cent_id,
               row_number() OVER (PARTITION BY vec_id ORDER BY dist, cent_id) AS rn
        FROM ad WHERE vec_id % {PROBE_MOD} = 0
    ) WHERE rn <= {similarity.IVF_NPROBE}
),
cand AS (
    SELECT pc.probe_id, a.vec_id
    FROM pc JOIN assign a ON a.cent_id = pc.cent_id
    WHERE a.vec_id <> pc.probe_id
),
qdots AS (
    SELECT cand.probe_id, cand.vec_id, sum(pa.v * ca.v) AS dot
    FROM cand
    JOIN qe pa ON pa.vec_id = cand.probe_id
    JOIN qe ca ON ca.vec_id = cand.vec_id AND ca.pos = pa.pos
    GROUP BY 1, 2
),
qnorms AS (SELECT vec_id, sqrt(sum(v * v)::DOUBLE) AS nrm FROM qe GROUP BY 1),
qsims AS (
    SELECT d.probe_id, d.vec_id,
           CAST(round(d.dot::DOUBLE / (np.nrm * nc.nrm) * 10000) AS BIGINT)
               / 10000.0 AS sim
    FROM qdots d
    JOIN qnorms np ON np.vec_id = d.probe_id
    JOIN qnorms nc ON nc.vec_id = d.vec_id
),
approx AS (
    -- sim IS NOT NULL: the operator's zero-norm exclusion (r9)
    SELECT probe_id, vec_id FROM (
        SELECT probe_id, vec_id,
               row_number() OVER (PARTITION BY probe_id ORDER BY sim DESC, vec_id) AS rk
        FROM qsims WHERE sim IS NOT NULL
    ) WHERE rk <= 3
),
hits AS (
    SELECT e.probe_id, count(*) AS n_hits
    FROM exact e JOIN approx a ON a.probe_id = e.probe_id AND a.vec_id = e.vec_id
    GROUP BY 1
)
SELECT e.probe_id, count(*) AS n_exact,
       coalesce(any_value(h.n_hits), 0) AS n_hits,
       CAST(round(coalesce(any_value(h.n_hits), 0)::DOUBLE / count(*) * 10000)
            AS BIGINT) / 10000.0 AS recall4
FROM exact e LEFT JOIN hits h ON h.probe_id = e.probe_id
GROUP BY 1
ORDER BY 1
"""


QL43_SQL = _ql43_sql()


# --- ql44: train/test near-dup leakage audit --------------------------------


def ql44_split_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split-integrity audit: MinHash-LSH near-dup pairs that CROSS the
    deterministic train/val/test assignment — the leakage every eval
    pipeline must prove absent (a test document with a train near-twin
    inflates benchmark scores). Composes the hash-split (pure function of
    doc_id — sampling.assign_split) with the capped LSH candidate pairs;
    output is one row per (split_a, split_b) direction with the pair count
    and exact id checksums for drill-down.

    Scale: the pair table is the LSH family's bucketed/capped output (no
    all-pairs path); the split is a PURE FUNCTION of the doc id
    (sampling.split_col), so both lookups are per-row expressions on the
    pair table itself — r13 replaced two corpus-frame joins (and the two
    extra documents scans feeding them) with two map-only columns
    (guide §2.4). A zero-row result is the healthy state — the audit is
    the proof, and the per-pair drill-down (min_doc_a) is the triage
    pointer when not.
    """
    docs = table(spark, sf_dir, "documents")
    pairs = dedup.lsh_candidate_pairs(docs).select("doc_a", "doc_b")
    return (
        pairs.select(
            "doc_a",
            "doc_b",
            sampling.split_col("doc_a").alias("split_a"),
            sampling.split_col("doc_b").alias("split_b"),
        )
        .where(F.col("split_a") != F.col("split_b"))
        .groupBy("split_a", "split_b")
        .agg(
            F.count("*").alias("n_leaked_pairs"),
            F.min("doc_a").alias("min_doc_a"),
            F.sum(F.col("doc_a") + F.col("doc_b")).alias("id_checksum"),
        )
        .orderBy("split_a", "split_b")
    )


QL44_SQL = f"""
WITH {duck_minhash_bands("documents")},
pairs AS (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM bands a
    JOIN bands b ON a.band = b.band AND a.band_key = b.band_key
                AND a.doc_id < b.doc_id
    GROUP BY 1, 2
),
sp AS (
    SELECT doc_id,
           CASE WHEN {DUCK_HASH.format(x="doc_id::VARCHAR")} % 100 < 80 THEN 'train'
                WHEN {DUCK_HASH.format(x="doc_id::VARCHAR")} % 100 < 90 THEN 'val'
                ELSE 'test' END AS split
    FROM documents
)
SELECT sa.split AS split_a, sb.split AS split_b,
       count(*) AS n_leaked_pairs,
       min(p.doc_a) AS min_doc_a,
       CAST(sum(p.doc_a + p.doc_b) AS BIGINT) AS id_checksum
FROM pairs p
JOIN sp sa ON sa.doc_id = p.doc_a
JOIN sp sb ON sb.doc_id = p.doc_b
WHERE sa.split <> sb.split
GROUP BY 1, 2
ORDER BY 1, 2
"""


# --- ql45: MinHash estimator calibration vs exact Jaccard -------------------


def ql45_minhash_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calibration of the MinHash Jaccard ESTIMATE against the exact
    n-gram Jaccard, per LSH candidate pair — the dedup-family counterpart
    of ql43's ANN recall eval: before trusting a near-dup threshold at
    100 TB you measure what the 8-hash estimator actually does on your
    corpus. est_j = matching signature fraction; exact_j from the string
    shingle sets; err = |est − exact|, all rounded once so the comparison
    is bit-identical across engines (each value is a single IEEE division
    of small exact ints, then one round).

    Scale: every stage is restricted to the LSH CANDIDATE pairs (bucketed,
    capped — never all-pairs); the exact-Jaccard intersection joins shingle
    occurrence lists only for those pairs. The signature compare is a
    zip_with over two 8-int arrays.
    """
    docs = table(spark, sf_dir, "documents")
    pairs = dedup.lsh_candidate_pairs(docs).select("doc_a", "doc_b")
    sigs = dedup.minhash_signature(dedup.with_shingles(docs)).select(
        "doc_id", "sig"
    )
    est = (
        pairs.join(sigs.select(F.col("doc_id").alias("doc_a"), F.col("sig").alias("_sa")), "doc_a")
        .join(sigs.select(F.col("doc_id").alias("doc_b"), F.col("sig").alias("_sb")), "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.expr(
                "size(filter(zip_with(_sa, _sb, (x, y) -> x = y), b -> b))"
            ).alias("_k"),
        )
    )
    occ = dedup.with_shingles(docs).select(
        "doc_id", F.explode(F.array_distinct("shingles")).alias("shingle")
    )
    sizes = occ.groupBy("doc_id").agg(F.count("*").alias("n_sh"))
    inter = (
        pairs.join(occ.select(F.col("doc_id").alias("doc_a"), "shingle"), "doc_a")
        .join(
            occ.select(F.col("doc_id").alias("doc_b"), "shingle"),
            ["doc_b", "shingle"],
        )
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("_inter"))
    )
    n = dedup.N_MINHASH
    # est_e4 = k * (10000 // n) is exact ONLY while n divides 10000 —
    # the twin hardcodes the same quotient, so both engines drift
    # together but off the documented round(k/n, 4) if this breaks
    assert 10_000 % n == 0, "N_MINHASH must divide 10000 for est_e4"
    return (
        est.join(inter, ["doc_a", "doc_b"], "left")
        .join(sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("_na")), "doc_a")
        .join(sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("_nb")), "doc_b")
        .withColumn("_inter", F.coalesce("_inter", F.lit(0)))
        .withColumn(
            "_est_e4", (F.col("_k") * F.lit(10_000 // n)).cast("bigint")
        )
        .withColumn(
            "_exact_e4",
            F.round(
                F.col("_inter")
                / (F.col("_na") + F.col("_nb") - F.col("_inter"))
                * 10_000
            ).cast("bigint"),
        )
        .select(
            "doc_a",
            "doc_b",
            (F.col("_est_e4") / 10_000.0).alias("est_j4"),
            (F.col("_exact_e4") / 10_000.0).alias("exact_j4"),
            # err on the micro grid: |est - exact| is exact integer math,
            # so no second raw-double round is needed
            (F.abs(F.col("_est_e4") - F.col("_exact_e4")) / 10_000.0).alias(
                "err4"
            ),
        )
        .orderBy("doc_a", "doc_b")
    )


QL45_SQL = f"""
WITH {duck_minhash_bands("documents")},
pairs AS (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM bands a
    JOIN bands b ON a.band = b.band AND a.band_key = b.band_key
                AND a.doc_id < b.doc_id
    GROUP BY 1, 2
),
est AS (
    SELECT p.doc_a, p.doc_b,
           sum(CASE WHEN ma.mh = mb.mh THEN 1 ELSE 0 END) AS k
    FROM pairs p
    JOIN mh ma ON ma.doc_id = p.doc_a
    JOIN mh mb ON mb.doc_id = p.doc_b AND mb.seed = ma.seed
    GROUP BY 1, 2
),
occ AS (
    SELECT DISTINCT doc_id, shingle
    FROM (SELECT doc_id, unnest({DUCK_SHINGLES}) AS shingle FROM d)
),
sizes AS (SELECT doc_id, count(*) AS n_sh FROM occ GROUP BY 1),
inter AS (
    SELECT p.doc_a, p.doc_b, count(*) AS i
    FROM pairs p
    JOIN occ a ON a.doc_id = p.doc_a
    JOIN occ b ON b.doc_id = p.doc_b AND b.shingle = a.shingle
    GROUP BY 1, 2
)
SELECT e.doc_a, e.doc_b,
       CAST(e.k * {10_000 // dedup.N_MINHASH} AS BIGINT) / 10000.0 AS est_j4,
       CAST(round(coalesce(i.i, 0) / (sa.n_sh + sb.n_sh - coalesce(i.i, 0))::DOUBLE
                  * 10000) AS BIGINT) / 10000.0 AS exact_j4,
       abs(CAST(e.k * {10_000 // dedup.N_MINHASH} AS BIGINT)
           - CAST(round(coalesce(i.i, 0)
                        / (sa.n_sh + sb.n_sh - coalesce(i.i, 0))::DOUBLE
                        * 10000) AS BIGINT)) / 10000.0 AS err4
FROM est e
LEFT JOIN inter i ON i.doc_a = e.doc_a AND i.doc_b = e.doc_b
JOIN sizes sa ON sa.doc_id = e.doc_a
JOIN sizes sb ON sb.doc_id = e.doc_b
ORDER BY e.doc_a, e.doc_b
"""


# --- ql40: per-domain epoch/replication plan --------------------------------


def ql40_epoch_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget epoch plan per source domain (operators/sampling.py
    epoch_plan): sqrt-share targets, full epochs + hash-selected
    fractional tail, exact integer `div` arithmetic throughout (budget ×
    micro-sqrt products exceed double's 2^53 exact range)."""
    docs = table(spark, sf_dir, "documents")
    return sampling.epoch_plan(docs, "source", "doc_id").orderBy("source")


QL40_SQL = f"""
WITH toks AS (
    SELECT doc_id, source AS stratum,
           CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
    FROM documents
),
dom AS (
    SELECT stratum, count(*) AS n_docs, CAST(sum(n_tok) AS BIGINT) AS n_tokens
    FROM toks GROUP BY 1
),
dom2 AS (
    SELECT *, CAST(round(sqrt(n_tokens) * 1000000) AS BIGINT) AS s6 FROM dom
),
tot AS (
    SELECT CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
           CAST(sum(s6) AS BIGINT) AS sum_s6
    FROM dom2
),
plan AS (
    SELECT stratum, n_docs, n_tokens,
           CAST((((total_tokens::HUGEINT * {sampling.EPOCH_BUDGET_NUM})
                 // {sampling.EPOCH_BUDGET_DEN}) * s6) // sum_s6
                AS BIGINT) AS target_tokens
    FROM dom2 CROSS JOIN tot
),
plan2 AS (
    SELECT *, CAST(target_tokens // n_tokens AS BIGINT) AS full_epochs,
           CAST(target_tokens - (target_tokens // n_tokens) * n_tokens AS BIGINT)
               AS rem_tokens
    FROM plan
),
plan3 AS (
    SELECT *, CAST(({sampling.EPOCH_MODULUS} * rem_tokens) // n_tokens AS BIGINT)
               AS tail_thresh
    FROM plan2
),
tail AS (
    SELECT t.stratum, count(*) AS tail_docs,
           CAST(sum(t.n_tok) AS BIGINT) AS tail_tokens
    FROM toks t JOIN plan3 p ON t.stratum IS NOT DISTINCT FROM p.stratum
    WHERE ('0x' || substr(md5(t.doc_id::VARCHAR), 1, 15))::BIGINT
          % {sampling.EPOCH_MODULUS} < p.tail_thresh
    GROUP BY 1
)
SELECT p.stratum AS source, p.n_docs, p.n_tokens, p.target_tokens,
       p.full_epochs,
       coalesce(tail_docs, 0) AS tail_docs,
       coalesce(tail_tokens, 0) AS tail_tokens,
       CAST(p.full_epochs * p.n_tokens + coalesce(tail_tokens, 0) AS BIGINT)
           AS planned_tokens
FROM plan3 p LEFT JOIN tail ON p.stratum IS NOT DISTINCT FROM tail.stratum
ORDER BY source
"""


# --- ql50: cross-snapshot shingle novelty ------------------------------------


def ql50_snapshot_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Novel-content rate of a new crawl against the previous snapshot:
    the incremental-ingest signal that decides whether a source is worth
    re-crawling. Snapshots are simulated by doc_id parity (even = old
    crawl A, odd = new crawl B); for each source, the share of B's
    distinct 3-gram shingles that never occur anywhere in A.

    Shingles are the ql37 hashed composition (one md5 per token, 61-bit
    positional combine, never materialized as strings) so every exchange
    moves 8-byte keys. Shape at 100 TB (r13 rework, guide §2.3/§2.4): ONE
    shingle pass — the A/B branches previously each re-scanned documents
    and re-ran the per-token md5 chain (the expensive per-row work), then
    met in a LEFT ANTI join (a third shingle-keyed exchange). Now one scan
    tags each occurrence (is_a, B-source), one distinct collapses it, and
    a per-shingle window MAX computes A-membership in place; the A-side
    anti-join disappears. The per-source rollup keys on ≤ |sources| rows
    as before.
    """
    docs = table(spark, sf_dir, "documents")
    th = f"transform(toks, t -> {md5_long64_expr('t')} % {P31})"
    sh_hashes = (
        "transform(sequence(1, greatest(size(toks) - 2, 1)),"
        f" i -> (try_element_at(th_, i) * {dedup.SHINGLE_C1}) % {dedup.P61}"
        f" + (coalesce(try_element_at(th_, i + 1), 0) * {dedup.SHINGLE_C2}) % {dedup.P61}"
        " + coalesce(try_element_at(th_, i + 2), 0))"
    )
    shingled = (
        docs.withColumn("toks", F.split(F.col("text"), " "))
        .withColumn("th_", F.expr(th))
        .select(
            "doc_id",
            "source",
            F.explode(F.expr(sh_hashes)).alias("shingle"),
        )
    )
    # one distinct over (shingle, is_a, B-source): A rows collapse to one
    # (shingle, true, NULL) row per shingle; B rows reproduce the old
    # distinct (source, shingle) pairs. is_a is carried EXPLICITLY (not
    # inferred from bsrc IS NULL) so a NULL-source new-crawl doc can never
    # masquerade as old-crawl membership.
    occ = shingled.select(
        "shingle",
        (F.col("doc_id") % 2 == 0).alias("is_a"),
        F.when(F.col("doc_id") % 2 == 1, F.col("source")).alias("bsrc"),
    ).distinct()
    # join-parity for NULL shingles (NULL text under fuzz): an equi/anti
    # join key never matches NULL, so a NULL-shingle A row must NOT grant
    # membership to the NULL-shingle window partition
    in_a = F.max(
        (F.col("is_a") & F.col("shingle").isNotNull()).cast("int")
    ).over(Window.partitionBy("shingle"))
    b_rows = (
        occ.withColumn("in_a", in_a)
        .where(~F.col("is_a"))
        .select(F.col("bsrc").alias("source"), "in_a")
    )
    per_source = b_rows.groupBy("source").agg(
        F.count("*").alias("n_shingles"),
        F.sum(F.when(F.col("in_a") == 0, 1).otherwise(0)).alias("n_novel"),
    )
    n_docs = (
        docs.where(F.col("doc_id") % 2 == 1)
        .groupBy("source")
        .agg(F.count("*").alias("n_docs_new"))
    )
    return (
        n_docs.join(per_source, "source")
        .select(
            "source",
            "n_docs_new",
            "n_shingles",
            "n_novel",
            scaled_round(F.col("n_novel") / F.col("n_shingles")).alias(
                "novelty"
            ),
        )
        .orderBy("source")
    )


QL50_SQL = f"""
WITH d AS (
    SELECT doc_id, source, string_split(text, ' ') AS toks FROM documents
),
dth AS (
    SELECT doc_id, source, len(toks) AS n_tokens,
           [({DUCK_HASH.format(x="t")}) % {P31} for t in toks] AS th
    FROM d
),
sh AS (
    SELECT doc_id, source,
           unnest([(th[i+1] * {dedup.SHINGLE_C1}) % {dedup.P61}
                   + (coalesce(th[i+2], 0) * {dedup.SHINGLE_C2}) % {dedup.P61}
                   + coalesce(th[i+3], 0)
                   for i in range(greatest(n_tokens - 2, 1))]) AS shingle
    FROM dth
),
a_set AS (SELECT DISTINCT shingle FROM sh WHERE doc_id % 2 = 0),
b_set AS (SELECT DISTINCT source, shingle FROM sh WHERE doc_id % 2 = 1),
novel AS (
    SELECT b.source, b.shingle FROM b_set b
    WHERE NOT EXISTS (SELECT 1 FROM a_set a WHERE a.shingle = b.shingle)
),
nd AS (
    SELECT source, count(*) AS n_docs_new FROM documents
    WHERE doc_id % 2 = 1 GROUP BY 1
),
bc AS (SELECT source, count(*) AS n_shingles FROM b_set GROUP BY 1),
nc AS (SELECT source, count(*) AS n_novel FROM novel GROUP BY 1)
SELECT nd.source, nd.n_docs_new, bc.n_shingles,
       coalesce(nc.n_novel, 0) AS n_novel,
       CAST(round(coalesce(nc.n_novel, 0)::DOUBLE / bc.n_shingles * 10000) AS BIGINT) / 10000.0 AS novelty
FROM nd
JOIN bc USING (source)
LEFT JOIN nc USING (source)
ORDER BY source
"""


# --- ql51: hard-negative mining for contrastive training ---------------------


def ql51_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining: for each probe vector, the top-3 most
    similar vectors with a DIFFERENT label — the negatives that sit just
    outside the decision boundary, the standard curriculum for training
    contrastive/embedding models (in-batch negatives are too easy).

    Same scale shape as ql03's exact top-k (broadcast probes, salted
    two-stage top-k) with the label-mismatch predicate pushed into the
    pair join, so same-label candidates never reach the scorer.
    """
    emb = table(spark, sf_dir, "embeddings")
    probes = emb.where(F.col("vec_id") % PROBE_MOD == 0)
    return similarity.cosine_topk(
        emb,
        probes,
        k=3,
        probe_cols=("label",),
        corpus_cols=("label",),
        pair_cond=F.col("label") != F.col("probe_label"),
    ).orderBy("probe_id", "rk")


QL51_SQL = f"""
WITH e AS (
    SELECT vec_id, label, unnest(range(len(embedding))) AS pos,
           unnest(embedding)::DOUBLE AS v
    FROM embeddings
),
norms AS (SELECT vec_id, sqrt(sum(v * v)) AS nrm FROM e GROUP BY 1),
p AS (
    SELECT vec_id AS probe_id, label AS probe_label, pos, v
    FROM e WHERE vec_id % {PROBE_MOD} = 0
),
dots AS (
    SELECT p.probe_id, e.vec_id, e.label, sum(p.v * e.v) AS dot
    FROM p JOIN e ON p.pos = e.pos AND e.label <> p.probe_label
    GROUP BY 1, 2, 3
),
sims AS (
    SELECT probe_id, d.vec_id, d.label,
           CAST(round(dot / (na.nrm * nb.nrm) * 10000) AS BIGINT) / 10000.0 AS sim
    FROM dots d
    JOIN norms na ON na.vec_id = d.probe_id
    JOIN norms nb ON nb.vec_id = d.vec_id
),
ranked AS (
    -- sim IS NOT NULL: the operator's zero-norm exclusion (r9)
    SELECT probe_id, vec_id, label, sim,
           row_number() OVER (PARTITION BY probe_id ORDER BY sim DESC, vec_id) AS rk
    FROM sims WHERE sim IS NOT NULL
)
SELECT probe_id, vec_id, label, sim, rk FROM ranked WHERE rk <= 3
ORDER BY probe_id, rk
"""


# --- ql52: multimodal blob → pseudo-embedding → same-modality ANN ------------

MM_EMBED_DIM = 8
MM_PROBE_MOD = 97


def ql52_multimodal_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The multimodal retrieval composition end-to-end: binary payload →
    content digest → embedding → same-modality nearest neighbors. The
    embedding here is the deterministic STAND-IN for a real encoder
    (CLIP/CLAP would run as a Pandas UDF — the container has no model
    libs), derived entirely in whole-stage codegen from the payload's md5
    (seed-suffixed hash per dimension, centered to [-500, 500]) so the
    whole path — blob column in, ranked neighbors out — is exact and
    oracle-checkable. Swapping the stand-in for a real encoder changes
    ONE projection; the join/top-k topology is production-shaped:
    broadcast probes, modality-blocked pairs, salted two-stage top-k.
    """
    docs = table(spark, sf_dir, "documents")
    media = multimodal.as_media(docs)
    seeded_digest = hashing.seeded("md5(payload)", "j")
    dim_expr = (
        f"transform(sequence(0, {MM_EMBED_DIM - 1}),"
        f" j -> {md5_long64_expr(seeded_digest)}"
        " % 1001 - 500)"
    )
    vecs = media.select(
        "doc_id", "modality", F.expr(dim_expr).alias("mm_vec")
    )
    probes = vecs.where(F.col("doc_id") % MM_PROBE_MOD == 0)
    return (
        similarity.cosine_topk(
            vecs,
            probes,
            k=3,
            vec_col="mm_vec",
            id_col="doc_id",
            probe_cols=("modality",),
            corpus_cols=("modality",),
            pair_cond=(F.col("modality") == F.col("probe_modality"))
            & (F.col("doc_id") != F.col("probe_id")),
        )
        .select("probe_id", "modality", "doc_id", "sim", "rk")
        .orderBy("probe_id", "rk")
    )


QL52_SQL = f"""
WITH media AS (
    SELECT doc_id,
           CASE WHEN doc_id % 3 = 0 THEN 'image'
                WHEN doc_id % 3 = 1 THEN 'audio'
                ELSE 'video' END AS modality,
           md5(text) AS content_md5
    FROM documents
),
vecs AS (
    SELECT doc_id, modality,
           [('0x' || substr(md5(content_md5 || '#' || j), 1, 15))::BIGINT
            % 1001 - 500 for j in range({MM_EMBED_DIM})] AS mm_vec
    FROM media
),
e AS (
    SELECT doc_id, modality, unnest(range(len(mm_vec))) AS pos,
           unnest(mm_vec)::DOUBLE AS v
    FROM vecs
),
norms AS (SELECT doc_id, sqrt(sum(v * v)) AS nrm FROM e GROUP BY 1),
p AS (
    SELECT doc_id AS probe_id, modality, pos, v
    FROM e WHERE doc_id % {MM_PROBE_MOD} = 0
),
dots AS (
    SELECT p.probe_id, e.modality, e.doc_id, sum(p.v * e.v) AS dot
    FROM p JOIN e ON p.pos = e.pos AND e.modality = p.modality
                 AND e.doc_id <> p.probe_id
    GROUP BY 1, 2, 3
),
sims AS (
    SELECT probe_id, d.modality, d.doc_id,
           CAST(round(dot / (na.nrm * nb.nrm) * 10000) AS BIGINT) / 10000.0 AS sim
    FROM dots d
    JOIN norms na ON na.doc_id = d.probe_id
    JOIN norms nb ON nb.doc_id = d.doc_id
),
ranked AS (
    -- sim IS NOT NULL: the operator's zero-norm exclusion (r9)
    SELECT probe_id, modality, doc_id, sim,
           row_number() OVER (PARTITION BY probe_id ORDER BY sim DESC, doc_id) AS rk
    FROM sims WHERE sim IS NOT NULL
)
SELECT probe_id, modality, doc_id, sim, rk FROM ranked WHERE rk <= 3
ORDER BY probe_id, rk
"""


# --- ql53: vocabulary growth / Zipf diagnostics per source -------------------


def ql53_vocab_diagnostics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source corpus lexical diagnostics: token count, type (distinct
    token) count, type-token ratio, hapax share (tokens occurring once —
    the Heaps'-law tail that dominates tokenizer vocab growth), and the
    top token with its frequency. The health panel that catches a
    boilerplate-flooded or truncated source before training.

    Shape: one (source, token) tf groupBy (map-side combine absorbs Zipf
    skew — only counts survive), then a partial-aggregating rollup per
    source; the top token is max_by over the tf table, no window.
    """
    docs = table(spark, sf_dir, "documents")
    tf = (
        docs.select("source", F.explode(text_ops.tokens("text")).alias("token"))
        .groupBy("source", "token")
        .agg(F.count("*").alias("tf"))
    )
    return (
        tf.groupBy("source")
        .agg(
            F.sum("tf").alias("n_tokens"),
            F.count("*").alias("n_types"),
            F.sum((F.col("tf") == 1).cast("long")).alias("n_hapax"),
            F.max_by(
                F.col("token"), F.struct(F.col("tf"), F.col("token"))
            ).alias("top_token"),
            F.max("tf").alias("top_tf"),
        )
        .select(
            "source",
            "n_tokens",
            "n_types",
            rounding.scaled_round(F.col("n_types") / F.col("n_tokens")).alias(
                "type_token_ratio"
            ),
            "n_hapax",
            rounding.scaled_round(F.col("n_hapax") / F.col("n_types")).alias(
                "hapax_share"
            ),
            "top_token",
            "top_tf",
        )
        .orderBy("source")
    )


QL53_SQL = """
WITH tf AS (
    SELECT source, unnest(string_split(text, ' ')) AS token FROM documents
),
c AS (SELECT source, token, count(*) AS tf FROM tf GROUP BY 1, 2),
top AS (
    SELECT source, token AS top_token, tf AS top_tf FROM (
        SELECT *, row_number() OVER (PARTITION BY source
                                     ORDER BY tf DESC, token DESC) AS rn
        FROM c
    ) WHERE rn = 1
)
SELECT c.source,
       CAST(sum(tf) AS BIGINT) AS n_tokens,
       count(*) AS n_types,
       CAST(round(count(*)::DOUBLE / CAST(sum(tf) AS BIGINT) * 10000) AS BIGINT)
           / 10000.0 AS type_token_ratio,
       CAST(sum(CASE WHEN tf = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_hapax,
       CAST(round(CAST(sum(CASE WHEN tf = 1 THEN 1 ELSE 0 END) AS BIGINT)::DOUBLE
             / count(*) * 10000) AS BIGINT) / 10000.0 AS hapax_share,
       min(t.top_token) AS top_token,
       min(t.top_tf) AS top_tf
FROM c JOIN top t USING (source)
GROUP BY 1
ORDER BY 1
"""


# --- ql54: asymmetric containment dedup --------------------------------------

CONTAIN_THRESHOLD = 0.8


def ql54_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Containment (not Jaccard) near-dup pairs — the embedded-document
    case resemblance misses (operators/dedup.py ngram_containment_pairs,
    Broder's containment measure): a short doc quoted inside a long one
    scores J ≈ 0 but containment ≈ 1."""
    docs = table(spark, sf_dir, "documents")
    return dedup.ngram_containment_pairs(docs, threshold=CONTAIN_THRESHOLD).orderBy(
        "doc_a", "doc_b"
    )


QL54_SQL = f"""
WITH sh AS {duck_hashed_shingle_set("documents")},
sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY 1),
-- replicate _shingle_intersection's NGRAM_SHINGLE_DF_CAP: the join input
-- drops shingles shared by more than cap documents (sizes stay FULL-set,
-- exactly like the Spark side) so the twin tracks Spark when the cap binds
shc AS (
    SELECT * FROM sh
    QUALIFY count(*) OVER (PARTITION BY shingle) <= {dedup.NGRAM_SHINGLE_DF_CAP}
),
inter AS (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_inter
    FROM shc a JOIN shc b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
    GROUP BY 1, 2
),
scored AS (
    SELECT doc_a, doc_b, n_inter,
           CAST(round(n_inter::DOUBLE / sa.n_sh * 10000) AS BIGINT) / 10000.0
               AS cont_a_in_b,
           CAST(round(n_inter::DOUBLE / sb.n_sh * 10000) AS BIGINT) / 10000.0
               AS cont_b_in_a
    FROM inter
    JOIN sizes sa ON sa.doc_id = doc_a
    JOIN sizes sb ON sb.doc_id = doc_b
)
SELECT doc_a, doc_b, n_inter, cont_a_in_b, cont_b_in_a,
       CASE WHEN cont_a_in_b >= cont_b_in_a THEN doc_a ELSE doc_b END
           AS contained_id
FROM scored
WHERE greatest(cont_a_in_b, cont_b_in_a) >= {CONTAIN_THRESHOLD}
ORDER BY doc_a, doc_b
"""


# --- ql55: Gopher-style rule-based quality gate ------------------------------


def ql55_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher rule-based curation gate (Rae et al. 2021 §A.1.1, the
    MassiveWeb filter family) — per-document rule booleans + keep flag
    (operators/text.py gopher_quality_rules). Every threshold compares
    exact BIGINTs (ratio r=p/q tested as q*hits vs p*n), so the booleans
    are tie-proof cross-engine; the display ratios go through
    scaled_round. Pure per-row codegen — no shuffle, linear at 100 TB."""
    docs = table(spark, sf_dir, "documents")
    return text_ops.gopher_quality_rules(docs).orderBy("doc_id")


QL55_SQL = f"""
WITH c AS (
    SELECT doc_id,
           CAST(len(string_split(text, ' ')) AS BIGINT) AS nw,
           CAST(list_sum(list_transform(string_split(text, ' '),
                                        w -> len(w))) AS BIGINT) AS sl,
           CAST(len(list_filter(string_split(text, ' '),
                                w -> regexp_matches(w, '[A-Za-z]')))
                AS BIGINT) AS aw,
           CAST((length(text) - length(replace(text, '#', '')))
                + (length(text) - length(replace(text, '...', ''))) // 3
                AS BIGINT) AS sym,
           CAST({_duck_stop_hits("en")} AS BIGINT) AS sh
    FROM documents
)
SELECT doc_id,
       nw AS n_words,
       CAST(round(sl::DOUBLE / nw * 10000) AS BIGINT) / 10000.0 AS mean_word_len,
       CAST(round(aw::DOUBLE / nw * 10000) AS BIGINT) / 10000.0 AS alpha_ratio,
       sh AS stop_hits,
       (nw >= {text_ops.GOPHER_MIN_WORDS} AND nw <= {text_ops.GOPHER_MAX_WORDS})
           AS pass_word_count,
       (sl >= {text_ops.GOPHER_MIN_MEAN_LEN} * nw
        AND sl <= {text_ops.GOPHER_MAX_MEAN_LEN} * nw) AS pass_mean_len,
       (sym * {text_ops.GOPHER_MAX_SYMBOL_RATIO[1]}
        < nw * {text_ops.GOPHER_MAX_SYMBOL_RATIO[0]}) AS pass_symbol,
       (aw * {text_ops.GOPHER_MIN_ALPHA_RATIO[1]}
        > nw * {text_ops.GOPHER_MIN_ALPHA_RATIO[0]}) AS pass_alpha,
       (sh >= {text_ops.GOPHER_MIN_STOP_HITS}) AS pass_stopwords,
       ((nw >= {text_ops.GOPHER_MIN_WORDS} AND nw <= {text_ops.GOPHER_MAX_WORDS})
        AND (sl >= {text_ops.GOPHER_MIN_MEAN_LEN} * nw
             AND sl <= {text_ops.GOPHER_MAX_MEAN_LEN} * nw)
        AND (sym * {text_ops.GOPHER_MAX_SYMBOL_RATIO[1]}
             < nw * {text_ops.GOPHER_MAX_SYMBOL_RATIO[0]})
        AND (aw * {text_ops.GOPHER_MIN_ALPHA_RATIO[1]}
             > nw * {text_ops.GOPHER_MIN_ALPHA_RATIO[0]})
        AND (sh >= {text_ops.GOPHER_MIN_STOP_HITS})) AS keep
FROM c
ORDER BY doc_id
"""


# --- ql49: PageRank centrality of the near-dup graph -------------------------


def ql49_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-iteration exact-integer PageRank over the MinHash-LSH
    candidate-pair graph (operators/graph.py pagerank): document
    centrality in the near-duplicate neighborhood — high-rank nodes are
    template/boilerplate hubs (many near-copies point at them), a
    curation signal CC alone can't provide. 3 unrolled iterations, all
    BIGINT micro-unit arithmetic, so the DuckDB twin is bit-exact."""
    from streamsurfer_spark.operators import graph

    docs = table(spark, sf_dir, "documents")
    pairs = dedup.lsh_candidate_pairs(docs)
    pr = graph.pagerank(pairs, "doc_a", "doc_b")
    return pr.select(
        F.col("id").alias("doc_id"), "deg", "rank_micro"
    ).orderBy("doc_id")


def _ql49_sql() -> str:
    from streamsurfer_spark.operators import graph

    base = (100 - graph.PAGERANK_DAMP_PCT) * graph.PAGERANK_SCALE // 100
    d = graph.PAGERANK_DAMP_PCT
    its = []
    for i in range(1, graph.PAGERANK_ITERS + 1):
        its.append(f"""
c{i} AS (
    SELECT s.b AS id, CAST(sum(r.r // r.deg) AS BIGINT) AS s
    FROM sym s JOIN r{i - 1} r ON r.id = s.a
    GROUP BY 1
),
r{i} AS (
    SELECT d.id, d.deg,
           CAST({base} + ({d} * coalesce(c.s, 0)) // 100 AS BIGINT) AS r
    FROM r{i - 1} d LEFT JOIN c{i} c USING (id)
)""")
        # rank vector r{i} carries deg forward so every round is one join
    last = f"r{graph.PAGERANK_ITERS}"
    return f"""
WITH {duck_minhash_bands("documents")},
pr AS (
    SELECT a.doc_id AS id_a, b.doc_id AS id_b
    FROM bands a
    JOIN bands b ON a.band = b.band AND a.band_key = b.band_key
                AND a.doc_id < b.doc_id
    GROUP BY 1, 2
),
sym AS (
    SELECT DISTINCT a, b FROM (
        SELECT id_a AS a, id_b AS b FROM pr
        UNION ALL
        SELECT id_b AS a, id_a AS b FROM pr
    ) WHERE a <> b
),
deg AS (SELECT a AS id, CAST(count(*) AS BIGINT) AS deg FROM sym GROUP BY 1),
r0 AS (SELECT id, deg, CAST(1000000 AS BIGINT) AS r FROM deg),
{",".join(its)}
SELECT id AS doc_id, deg, r AS rank_micro FROM {last} ORDER BY doc_id
"""


QL49_SQL = _ql49_sql()


# --- ql46: DSIR hashed-bigram importance weights -----------------------------


def ql46_dsir_importance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance scores (Xie et al. 2023) for every document against
    an English target corpus (operators/text.py dsir_importance — see its
    float-discipline and 100 TB notes: per-bucket weights computed once on
    a CONSTANT-size bucket table and broadcast; per-doc sums exact BIGINT)."""
    docs = table(spark, sf_dir, "documents")
    return text_ops.dsir_importance(docs).orderBy("doc_id")


_B = text_ops.DSIR_BUCKETS

QL46_SQL = f"""
WITH base AS (
    SELECT doc_id, lang, string_split(text, ' ') AS toks FROM documents
),
th AS (
    SELECT doc_id, lang,
           [('0x' || substr(md5(t), 1, 15))::BIGINT % {P31} for t in toks] AS th_
    FROM base
),
bk AS (
    SELECT doc_id, lang,
           unnest([((th_[i+1] * {text_ops.DSIR_C1}) % {P31} + th_[i+2])
                   % {P31} % {_B} for i in range(len(th_) - 1)]) AS bucket
    FROM th
),
tf AS (
    SELECT doc_id, lang, bucket, count(*) AS tf FROM bk GROUP BY 1, 2, 3
),
models AS (
    SELECT bucket, CAST(sum(tf) AS BIGINT) AS cnt_r,
           CAST(sum(CASE WHEN lang = 'en' THEN tf ELSE 0 END) AS BIGINT) AS cnt_t
    FROM tf GROUP BY 1
),
tot AS (
    SELECT CAST(sum(cnt_r) AS BIGINT) AS tot_r,
           CAST(sum(cnt_t) AS BIGINT) AS tot_t
    FROM models
),
w AS (
    SELECT bucket,
           CAST(round((ln(cnt_t + 1) - ln(tot_t + {_B})
                       - ln(cnt_r + 1) + ln(tot_r + {_B})) * 1000000)
                AS BIGINT) AS w_micro
    FROM models CROSS JOIN tot
)
SELECT tf.doc_id, tf.lang,
       CAST(sum(tf) AS BIGINT) AS n_bigrams,
       CAST(sum(tf * w_micro) AS BIGINT) AS logratio_micro,
       CAST(round(CAST(sum(tf * w_micro) AS BIGINT)
             / CAST(sum(tf) AS BIGINT) / 1000000.0 * 10000) AS BIGINT)
           / 10000.0 AS avg_logratio_nats
FROM tf JOIN w USING (bucket)
GROUP BY 1, 2
ORDER BY 1
"""


# --- ql47: CCNet-style per-domain perplexity buckets -------------------------


def ql47_perplexity_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style head/middle/tail tertiles per language on the unigram
    surprisal score (Wenzek et al. 2020 bucket common-crawl by LM
    perplexity; head = most fluent third).

    Exactness: ranks use the 4-dp-rounded surprisal (bit-identical across
    engines) with doc_id tiebreak, so the tertile boundary is fully
    deterministic; bucket membership is integer arithmetic (3·rank vs n).

    100 TB note: the oracle-checkable twin ranks exactly (one sort per
    language partition). At corpus scale you would compute the two tertile
    THRESHOLDS with approx_percentile and assign membership map-only; the
    exact-rank form here is the ground truth that calibrates that
    approximation.
    """
    docs = table(spark, sf_dir, "documents")
    sur = text_ops.unigram_surprisal(docs)
    scored = sur.join(docs.select("doc_id", "lang"), "doc_id")
    w = Window.partitionBy("lang").orderBy("avg_surprisal_nats", "doc_id")
    ranked = scored.select(
        "lang",
        "n_tokens",
        "avg_surprisal_nats",
        F.row_number().over(w).alias("rn"),
        F.count("*").over(Window.partitionBy("lang")).alias("n"),
    )
    bucketed = ranked.withColumn(
        "bucket",
        F.when(F.col("rn") * 3 <= F.col("n"), F.lit("head"))
        .when(F.col("rn") * 3 <= F.col("n") * 2, F.lit("middle"))
        .otherwise(F.lit("tail")),
    )
    return (
        bucketed.groupBy("lang", "bucket")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").alias("n_tokens_total"),
            scaled_round(F.min("avg_surprisal_nats")).alias("min_surprisal"),
            scaled_round(F.max("avg_surprisal_nats")).alias("max_surprisal"),
        )
        .orderBy("lang", "bucket")
    )


QL47_SQL = """
WITH toks AS (
    SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents
),
tf AS (SELECT doc_id, token, count(*) AS tf FROM toks GROUP BY 1, 2),
vocab AS (SELECT token, CAST(sum(tf) AS BIGINT) AS cnt FROM tf GROUP BY 1),
total AS (SELECT CAST(sum(cnt) AS BIGINT) AS total FROM vocab),
costed AS (
    SELECT token,
           CAST(round(ln(total::DOUBLE / cnt) * 1000000) AS BIGINT) AS cost_micro
    FROM vocab CROSS JOIN total
),
sur AS (
    SELECT tf.doc_id,
           CAST(sum(tf) AS BIGINT) AS n_tokens,
           CAST(round(CAST(sum(tf * cost_micro) AS BIGINT)
                 / CAST(sum(tf) AS BIGINT) / 1000000.0 * 10000) AS BIGINT)
               / 10000.0 AS avg_surprisal_nats
    FROM tf JOIN costed USING (token)
    GROUP BY 1
),
scored AS (
    SELECT s.doc_id, d.lang, s.n_tokens, s.avg_surprisal_nats
    FROM sur s JOIN documents d USING (doc_id)
),
ranked AS (
    SELECT lang, n_tokens, avg_surprisal_nats,
           row_number() OVER (PARTITION BY lang
                              ORDER BY avg_surprisal_nats, doc_id) AS rn,
           count(*) OVER (PARTITION BY lang) AS n
    FROM scored
),
b AS (
    SELECT lang, n_tokens, avg_surprisal_nats,
           CASE WHEN rn * 3 <= n THEN 'head'
                WHEN rn * 3 <= n * 2 THEN 'middle'
                ELSE 'tail' END AS bucket
    FROM ranked
)
SELECT lang, bucket,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_tokens) AS BIGINT) AS n_tokens_total,
       CAST(round(min(avg_surprisal_nats) * 10000) AS BIGINT) / 10000.0 AS min_surprisal,
       CAST(round(max(avg_surprisal_nats) * 10000) AS BIGINT) / 10000.0 AS max_surprisal
FROM b
GROUP BY 1, 2
ORDER BY 1, 2
"""


# --- ql48: BPE first-merge pair statistics -----------------------------------


def ql48_bpe_pair_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The statistic behind one BPE merge iteration (Sennrich et al. 2016):
    adjacent character-pair counts over the word vocabulary, weighted by
    word frequency — the argmax pair is the tokenizer's next merge. Top 20
    with a deterministic (count desc, pair asc) order.

    Distributed shape (100 TB): word counts collapse the corpus to its
    vocabulary (groupBy on the word — map-side combine absorbs Zipf skew
    since only count survives); pair expansion runs on the VOCABULARY
    (≪ corpus, and each word contributes length-1 pairs); final top-20 is
    a TakeOrdered heap, nothing globally sorted. Iterating merges would
    re-segment the vocab table per round — each round this same plan.
    """
    docs = table(spark, sf_dir, "documents")
    words = (
        docs.select(F.explode(text_ops.tokens("text")).alias("w"))
        .groupBy("w")
        .agg(F.count("*").alias("wc"))
    )
    pairs = words.withColumn(
        "pair",
        F.explode(
            F.expr(
                "case when length(w) < 2 then cast(array() as array<string>)"
                " else transform(sequence(1, length(w) - 1),"
                " i -> substring(w, i, 2)) end"
            )
        ),
    )
    counts = pairs.groupBy("pair").agg(F.sum("wc").alias("pair_count"))
    top = counts.orderBy(F.desc("pair_count"), "pair").limit(20)
    return top.select(
        F.row_number()
        .over(Window.orderBy(F.desc("pair_count"), "pair"))
        .alias("merge_rank"),
        "pair",
        "pair_count",
    ).orderBy("merge_rank")


QL48_SQL = """
WITH words AS (
    SELECT unnest(string_split(text, ' ')) AS w FROM documents
),
wc AS (SELECT w, count(*) AS wc FROM words GROUP BY 1),
pairs AS (
    SELECT unnest([substr(w, i + 1, 2) for i in range(length(w) - 1)]) AS pair,
           wc
    FROM wc
),
counts AS (
    SELECT pair, CAST(sum(wc) AS BIGINT) AS pair_count FROM pairs GROUP BY 1
)
SELECT row_number() OVER (ORDER BY pair_count DESC, pair) AS merge_rank,
       pair, pair_count
FROM counts
ORDER BY pair_count DESC, pair
LIMIT 20
"""


# --- ql56: deterministic weighted sampling (A-ES) ----------------------------


def ql56_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """50 documents sampled WITHOUT replacement with probability ∝ n_chars
    (Efraimidis–Spirakis over content-hash uniforms — operators/sampling.
    weighted_sample). Length-weighted document sampling is the standard
    way to draw a token-budget-representative audit/eval slice; hash
    uniforms make the draw replayable across engines and re-shards.
    """
    from streamsurfer_spark.operators.sampling import weighted_sample

    docs = table(spark, sf_dir, "documents")
    picked = weighted_sample(docs, "doc_id", "n_chars", 50, seed=1)
    return picked.select("doc_id", "lang", "source", "n_chars").orderBy("doc_id")


# ln only ever runs on integer-valued doubles (h+1 ≤ P, P+1) — the
# FIXTURES.md §3 ln discipline — so the rank key is bit-identical across
# engines; it is compared, never emitted.
QL56_SQL = f"""
WITH keyed AS (
    SELECT doc_id, lang, source, n_chars,
           ({DUCK_HASH.format(x="doc_id::VARCHAR || '#ws1'")}
            % 1000000007) AS hm
    FROM documents
),
picked AS (
    SELECT doc_id, lang, source, n_chars
    FROM keyed
    ORDER BY (ln(CAST(hm + 1 AS DOUBLE)) - ln(CAST(1000000008 AS DOUBLE)))
             / CAST(n_chars AS DOUBLE) DESC, doc_id
    LIMIT 50
)
SELECT doc_id, lang, source, n_chars FROM picked ORDER BY doc_id
"""


# --- ql57: embedding dimension correlation diagnostic ------------------------


def ql57_embedding_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise Pearson correlation between the 8 highest-variance
    embedding dimensions (operators/similarity.embedding_corr_pairs) —
    the drift/collapse diagnostic over an embedding column. Exact-integer
    moments over ×1000-quantized values; the pair pass crossJoins the
    28-row broadcast pair frame (map-only, no row-id shuffle).
    """
    from streamsurfer_spark.operators.similarity import embedding_corr_pairs

    emb = table(spark, sf_dir, "embeddings")
    return embedding_corr_pairs(emb, top_dims=8)


QL57_SQL = f"""
WITH ex AS (
    SELECT vec_id, unnest(range(len(embedding))) AS dim,
           CAST(round(unnest(embedding)::DOUBLE * 1000) AS BIGINT) AS qd
    FROM embeddings
),
stats AS (
    SELECT dim,
           CAST(count(*) AS HUGEINT) AS n,
           sum(CAST(qd AS HUGEINT)) AS s,
           sum(CAST(qd AS HUGEINT) * CAST(qd AS HUGEINT)) AS ss
    FROM ex GROUP BY 1
),
vx AS (SELECT dim, s, n * ss - s * s AS var_num FROM stats),
top AS (SELECT dim, s, var_num FROM vx ORDER BY var_num DESC, dim LIMIT 8),
pairs AS (
    SELECT a.dim AS dim_i, b.dim AS dim_j, a.s AS s_i, b.s AS s_j,
           a.var_num AS vn_i, b.var_num AS vn_j
    FROM top a, top b WHERE a.dim < b.dim
),
prod AS (
    SELECT p.dim_i, p.dim_j,
           CAST(count(*) AS HUGEINT) AS n,
           sum(
               CAST(round(embedding[CAST(p.dim_i AS INTEGER) + 1]::DOUBLE
                          * 1000) AS HUGEINT)
             * CAST(round(embedding[CAST(p.dim_j AS INTEGER) + 1]::DOUBLE
                          * 1000) AS HUGEINT)
           ) AS s_ij
    FROM embeddings, pairs p
    GROUP BY 1, 2
)
SELECT dim_i, dim_j, CAST(n AS BIGINT) AS n_rows,
       {scaled_round_sql(
           "(n * s_ij - s_i * s_j)::DOUBLE"
           " / (sqrt(vn_i::DOUBLE) * sqrt(vn_j::DOUBLE))"
       )} AS corr
FROM prod JOIN pairs USING (dim_i, dim_j)
ORDER BY dim_i, dim_j
"""


# --- ql58: character-entropy quality signal ----------------------------------


def ql58_char_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-level unigram entropy per document
    (operators/text.char_entropy — see its float-discipline and 100 TB
    notes: ln() only on integer-valued counts, immediately rounded to
    micro-nats, per-doc aggregation exact BIGINT; the char explode
    map-side-combines to ≤ |alphabet| rows per doc before the wire)."""
    docs = table(spark, sf_dir, "documents")
    return text_ops.char_entropy(docs).orderBy("doc_id")


QL58_SQL = f"""
WITH chars AS (
    SELECT doc_id, unnest(string_split(text, '')) AS ch
    FROM documents WHERE length(text) > 0
),
cf AS (SELECT doc_id, ch, count(*) AS cf FROM chars GROUP BY 1, 2),
per AS (
    SELECT doc_id,
           CAST(sum(cf) AS BIGINT) AS n_chars_counted,
           CAST(count(*) AS BIGINT) AS distinct_chars,
           CAST(sum(cf * CAST(round(ln(cf::DOUBLE) * 1000000) AS BIGINT))
                AS BIGINT) AS clnc_micro
    FROM cf GROUP BY 1
)
SELECT doc_id, n_chars_counted, distinct_chars,
       {scaled_round_sql(
           "(CAST(round(ln(n_chars_counted::DOUBLE) * 1000000) AS BIGINT)"
           " * n_chars_counted - clnc_micro)"
           " / n_chars_counted::DOUBLE / 1000000.0"
       )} AS entropy_nats
FROM per
ORDER BY doc_id
"""


# --- ql59: median/MAD robust length outliers ---------------------------------


def ql59_robust_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source median/MAD outlier screen over document lengths
    (operators/profile.robust_outliers — discrete percentiles, exact
    BIGINT throughout, corpus never shuffles: two |sources|-row
    aggregates broadcast back). Returns the flagged rows."""
    from streamsurfer_spark.operators.profile import robust_outliers

    docs = table(spark, sf_dir, "documents")
    return (
        robust_outliers(docs, "n_chars", "source", k=2)
        .where(F.col("is_outlier"))
        .select("doc_id", "source", "n_chars", "med", "mad", "abs_dev")
        .orderBy("doc_id")
    )


QL59_SQL = """
WITH med AS (
    SELECT source, CAST(quantile_disc(n_chars, 0.5) AS BIGINT) AS med
    FROM documents GROUP BY 1
),
dev AS (
    SELECT d.doc_id, d.source, d.n_chars, m.med,
           abs(d.n_chars - m.med) AS abs_dev
    FROM documents d JOIN med m USING (source)
),
mad AS (
    SELECT source, CAST(quantile_disc(abs_dev, 0.5) AS BIGINT) AS mad
    FROM dev GROUP BY 1
)
SELECT dev.doc_id, dev.source, dev.n_chars, dev.med, mad.mad, dev.abs_dev
FROM dev JOIN mad USING (source)
WHERE dev.abs_dev > 2 * mad.mad
ORDER BY dev.doc_id
"""


# --- ql60: SimHash hamming near-dup pairs (Manku pigeonhole banding) ---------


def ql60_simhash_hamming(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All pairs within hamming distance 3 over the 48-bit SimHash
    (operators/dedup.simhash_hamming_pairs — Manku et al. 2007 pigeonhole
    banding: 4 × 12-bit bands, equality self-joins, capped buckets, exact
    bit_count(xor) check on candidates only). The third near-dup
    signature family next to MinHash-LSH and exact cosine."""
    docs = table(spark, sf_dir, "documents")
    return dedup.simhash_hamming_pairs(docs).orderBy("doc_a", "doc_b")


QL60_SQL = f"""
WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents),
h AS (SELECT doc_id, {DUCK_HASH.format(x="token")} AS h FROM toks),
sig AS (SELECT doc_id, {dedup.simhash_oracle_expr()} AS simhash
        FROM h GROUP BY doc_id),
banded AS (
    SELECT doc_id, simhash, CAST(i AS INT) AS band,
           (simhash >> ({dedup.SIMHAM_BAND_BITS} * i))
             & {(1 << dedup.SIMHAM_BAND_BITS) - 1} AS bv
    FROM sig, (SELECT unnest(range({dedup.SIMHAM_BANDS})) AS i)
),
capped AS (
    SELECT * FROM banded
    QUALIFY row_number() OVER (PARTITION BY band, bv ORDER BY doc_id)
            <= {dedup.SIMHAM_BAND_CAP}
),
cand AS (
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
           a.simhash AS sig_a, b.simhash AS sig_b
    FROM capped a JOIN capped b
      ON a.band = b.band AND a.bv = b.bv AND a.doc_id < b.doc_id
)
SELECT doc_a, doc_b, CAST(bit_count(xor(sig_a, sig_b)) AS INT) AS hamming
FROM cand
WHERE bit_count(xor(sig_a, sig_b)) <= {dedup.SIMHAM_K}
ORDER BY doc_a, doc_b
"""


# --- ql61: Matryoshka prefix-energy diagnostic -------------------------------


def ql61_matryoshka_energy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mean fraction of embedding energy in each vector prefix, per label
    (operators/similarity.matryoshka_energy) — the measurement that
    decides whether Matryoshka-style truncation to 8/16/32 dims is safe
    for the ANN serving index. Map-only codegen + one tiny aggregate."""
    emb = table(spark, sf_dir, "embeddings")
    return similarity.matryoshka_energy(emb)


QL61_SQL = f"""
WITH q AS (
    SELECT label,
           list_transform(embedding,
                          x -> CAST(round(x::DOUBLE * {similarity.QUANT_SCALE})
                                    AS BIGINT)) AS qv
    FROM embeddings
),
per AS (
    SELECT label, d AS prefix_dim,
           list_sum(list_transform(qv[1:d], v -> v * v)) AS num,
           list_sum(list_transform(qv, v -> v * v)) AS den
    FROM q, (SELECT unnest([{", ".join(str(d) for d in similarity.MATRYOSHKA_DIMS)}]) AS d)
),
m AS (
    SELECT label, prefix_dim,
           CASE WHEN den > 0
                THEN CAST(round((num * 1000000)::DOUBLE / den::DOUBLE) AS BIGINT)
           END AS micro
    FROM per
)
SELECT label, prefix_dim, CAST(count(micro) AS BIGINT) AS n_vecs,
       {scaled_round_sql("sum(micro)::DOUBLE / (count(micro) * 1000000.0)", 6)}
           AS avg_energy_frac
FROM m GROUP BY 1, 2 ORDER BY 1, 2
"""


# --- ql62: simplified silhouette vs label centroids ---------------------------


def ql62_label_silhouette(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label mean simplified silhouette against label centroids
    (operators/similarity.label_silhouette — exact DECIMAL(38,0) distance
    numerators, corpus-side pass shuffle-free via a one-row broadcast
    centroid frame). The cluster-geometry score tracked next to
    ql38/ql28's kmeans diagnostics."""
    emb = table(spark, sf_dir, "embeddings")
    return similarity.label_silhouette(emb)


QL62_SQL = f"""
WITH q AS (
    SELECT vec_id, label,
           list_transform(embedding,
                          x -> CAST(round(x::DOUBLE * {similarity.QUANT_SCALE})
                                    AS BIGINT)) AS qv
    FROM embeddings
),
ex AS (
    SELECT vec_id, label, unnest(qv) AS qd, unnest(range(len(qv))) AS dim FROM q
),
cent AS (
    SELECT label AS cl, dim, sum(CAST(qd AS HUGEINT)) AS s,
           CAST(count(*) AS HUGEINT) AS n
    FROM ex GROUP BY 1, 2
),
d2 AS (
    SELECT e.vec_id, e.label AS own, c.cl, c.n,
           sum((c.n * e.qd - c.s) * (c.n * e.qd - c.s)) AS dnum
    FROM ex e JOIN cent c USING (dim)
    GROUP BY 1, 2, 3, 4
),
dist AS (SELECT vec_id, own, cl, sqrt(dnum::DOUBLE) / n::DOUBLE AS dist FROM d2),
ab AS (
    SELECT vec_id, own,
           max(CASE WHEN cl = own THEN dist END) AS a,
           min(CASE WHEN cl <> own THEN dist END) AS b
    FROM dist GROUP BY 1, 2
),
m AS (
    SELECT own,
           CASE WHEN b IS NULL THEN NULL
                WHEN greatest(a, b) > 0
                THEN CAST(round((b - a) / greatest(a, b) * 1000000) AS BIGINT)
                ELSE 0 END AS micro
    FROM ab
)
SELECT own AS label, CAST(count(micro) AS BIGINT) AS n_vecs,
       {scaled_round_sql("sum(micro)::DOUBLE / (count(micro) * 1000000.0)", 6)}
           AS avg_silhouette
FROM m GROUP BY 1 ORDER BY 1
"""


# --- ql63: quality-threshold retention sweep ---------------------------------

# exactly-representable halves: the tau literals cross the engines as
# DECIMAL→DOUBLE casts, which double-round for general constants (the r6
# finding) but are exact for x.0/x.5 — so the >= comparisons are on
# bit-identical doubles by construction
ENTROPY_TAUS = (2.0, 2.5, 3.0, 3.5, 4.0)


def ql63_entropy_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retention curve of the character-entropy quality gate: for each
    candidate threshold τ, how many documents survive and what they look
    like — the table a pipeline owner reads before PICKING the ql58/qp09
    threshold, instead of guessing one. Docs with no entropy row (empty
    text) fail every τ via the NULL coalesce.

    Plan/scale: one entropy pass (ql58's bounded-explode shape), then a
    |taus|-way map-only expansion and a |taus|-group aggregate — the
    sweep costs |taus| extra rows per doc on the wire, nothing else.
    """
    docs = table(spark, sf_dir, "documents")
    e = text_ops.char_entropy(docs).select("doc_id", "entropy_nats")
    d = docs.select("doc_id", "n_chars").join(e, "doc_id", "left")
    sw = d.select(
        "n_chars",
        "entropy_nats",
        F.explode(F.array(*[F.lit(t) for t in ENTROPY_TAUS])).alias("tau"),
    )
    kept = F.coalesce(F.col("entropy_nats") >= F.col("tau"), F.lit(False))
    n_kept = F.sum(F.col("kept").cast("long"))
    return (
        sw.select("tau", "n_chars", kept.alias("kept"))
        .groupBy("tau")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            n_kept.cast("bigint").alias("n_kept"),
            scaled_round(F.try_divide(n_kept, F.count("*")), 4).alias("keep_pct"),
            scaled_round(
                F.try_divide(
                    F.sum(F.when(F.col("kept"), F.col("n_chars"))), n_kept
                ),
                2,
            ).alias("mean_kept_chars"),
        )
        .orderBy("tau")
    )


_QL63_TAU_LIST = ", ".join(f"{t}::DOUBLE" for t in ENTROPY_TAUS)

QL63_SQL = f"""
WITH chars AS (
    SELECT doc_id, unnest(string_split(text, '')) AS ch
    FROM documents WHERE length(text) > 0
),
cf AS (SELECT doc_id, ch, count(*) AS cf FROM chars GROUP BY 1, 2),
per AS (
    SELECT doc_id,
           CAST(sum(cf) AS BIGINT) AS n_chars_counted,
           CAST(sum(cf * CAST(round(ln(cf::DOUBLE) * 1000000) AS BIGINT))
                AS BIGINT) AS clnc_micro
    FROM cf GROUP BY 1
),
e AS (
    SELECT doc_id,
           {scaled_round_sql(
               "(CAST(round(ln(n_chars_counted::DOUBLE) * 1000000) AS BIGINT)"
               " * n_chars_counted - clnc_micro)"
               " / n_chars_counted::DOUBLE / 1000000.0"
           )} AS entropy_nats
    FROM per
),
sw AS (
    SELECT d.n_chars, t.tau,
           coalesce(e.entropy_nats >= t.tau, FALSE) AS kept
    FROM documents d
    LEFT JOIN e USING (doc_id)
    CROSS JOIN (SELECT unnest([{_QL63_TAU_LIST}]) AS tau) t
)
SELECT tau,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       {scaled_round_sql(
           "sum(CASE WHEN kept THEN 1 ELSE 0 END)::DOUBLE / count(*)", 4)}
           AS keep_pct,
       {scaled_round_sql(
           "sum(CASE WHEN kept THEN n_chars END)::DOUBLE"
           " / sum(CASE WHEN kept THEN 1 ELSE 0 END)", 2)}
           AS mean_kept_chars
FROM sw GROUP BY 1 ORDER BY 1
"""


# --- ql64: leakage-proof cluster-aware split ----------------------------------


def ql64_cluster_aware_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/val/test split that CANNOT leak near-duplicates across
    splits: documents are first clustered by the SimHash near-dup graph
    (ql60's pairs → connected components, singletons stay themselves),
    then the whole CLUSTER is hash-assigned via the ql29 split contract
    — membership is a pure function of min(cluster), so backfills and
    re-runs agree, and every near-dup pair lands on one side by
    construction. This is the FIX for what ql44's leakage audit detects.

    The report also quantifies the counterfactual: ``naive_leak_pairs``
    is how many near-dup pairs a doc_id-hash split (ql29's rule applied
    per document) would have straddled across splits — attributed to
    doc_a's naive split. Zero on the cluster-aware assignment by
    construction; the column shows what the operator buys.

    Scale: ql60's capped banding topology + the O(log n)-round star
    contraction (graph.py) + per-row hash assignment; the naive-leak
    join keys on unique doc ids.
    """
    from streamsurfer_spark.operators.graph import connected_components
    from streamsurfer_spark.operators.sampling import assign_split

    docs = table(spark, sf_dir, "documents")
    # lazy localCheckpoint (the ql57 pattern): the edge frame feeds BOTH
    # the CC fixpoint and the naive-leak join — without it the whole
    # simhash pipeline (tokenize → 48 counters → band self-join)
    # re-executes for the second consumer (A/B warm loops at sf0.1:
    # 8.7-10.4 s without the checkpoint vs 6.3-7.3 s with it). Lazy, so
    # building the frame runs no job.
    edges = (
        dedup.simhash_hamming_pairs(docs)
        .select("doc_a", "doc_b")
        .localCheckpoint(eager=False)
    )
    cc = connected_components(edges, src="doc_a", dst="doc_b")
    d = (
        docs.select("doc_id")
        .join(
            cc.select(F.col("id").alias("doc_id"), "cluster_id"), "doc_id", "left"
        )
        .withColumn("cluster_id", F.coalesce("cluster_id", F.col("doc_id")))
    )
    d = assign_split(d, "cluster_id")
    naive = assign_split(docs.select("doc_id"), "doc_id").withColumnRenamed(
        "split", "naive_split"
    )
    leaks = (
        edges.join(
            naive.select(
                F.col("doc_id").alias("doc_a"), F.col("naive_split").alias("split_a")
            ),
            "doc_a",
        )
        .join(
            naive.select(
                F.col("doc_id").alias("doc_b"), F.col("naive_split").alias("split_b")
            ),
            "doc_b",
        )
        .where(F.col("split_a") != F.col("split_b"))
        .groupBy(F.col("split_a").alias("split"))
        .agg(F.count("*").alias("leak"))
    )
    agg = d.groupBy("split").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.countDistinct("cluster_id").cast("bigint").alias("n_clusters"),
    )
    return (
        agg.join(leaks, "split", "left")
        .select(
            "split",
            "n_docs",
            "n_clusters",
            F.coalesce("leak", F.lit(0)).cast("bigint").alias("naive_leak_pairs"),
        )
        .orderBy("split")
    )


def _ql64_sql() -> str:
    split_case = (
        f"CASE WHEN {DUCK_HASH.format(x='{k}::VARCHAR')} % 100 < 80 THEN 'train' "
        f"WHEN {DUCK_HASH.format(x='{k}::VARCHAR')} % 100 < 90 THEN 'val' "
        f"ELSE 'test' END"
    )
    return f"""
WITH RECURSIVE
toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents),
h AS (SELECT doc_id, {DUCK_HASH.format(x="token")} AS h FROM toks),
sig AS (SELECT doc_id, {dedup.simhash_oracle_expr()} AS simhash
        FROM h GROUP BY doc_id),
banded AS (
    SELECT doc_id, simhash, CAST(i AS INT) AS band,
           (simhash >> ({dedup.SIMHAM_BAND_BITS} * i))
             & {(1 << dedup.SIMHAM_BAND_BITS) - 1} AS bv
    FROM sig, (SELECT unnest(range({dedup.SIMHAM_BANDS})) AS i)
),
capped AS (
    SELECT * FROM banded
    QUALIFY row_number() OVER (PARTITION BY band, bv ORDER BY doc_id)
            <= {dedup.SIMHAM_BAND_CAP}
),
cand AS (
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
           a.simhash AS sig_a, b.simhash AS sig_b
    FROM capped a JOIN capped b
      ON a.band = b.band AND a.bv = b.bv AND a.doc_id < b.doc_id
),
edges AS (
    SELECT doc_a, doc_b FROM cand
    WHERE bit_count(xor(sig_a, sig_b)) <= {dedup.SIMHAM_K}
),
sym AS (
    SELECT doc_a AS a, doc_b AS b FROM edges
    UNION ALL
    SELECT doc_b AS a, doc_a AS b FROM edges
),
reach(id, r) AS (
    SELECT DISTINCT a AS id, a AS r FROM sym
    UNION
    SELECT sym.a AS id, reach.r FROM sym JOIN reach ON sym.b = reach.id
),
cc AS (SELECT id AS doc_id, min(r) AS cluster_id FROM reach GROUP BY 1),
d AS (
    SELECT d.doc_id, coalesce(cc.cluster_id, d.doc_id) AS cluster_id
    FROM documents d LEFT JOIN cc USING (doc_id)
),
assigned AS (
    SELECT doc_id, cluster_id, {split_case.format(k="cluster_id")} AS split
    FROM d
),
naive AS (
    SELECT doc_id, {split_case.format(k="doc_id")} AS nsplit FROM documents
),
leaks AS (
    SELECT na.nsplit AS split, CAST(count(*) AS BIGINT) AS leak
    FROM edges e
    JOIN naive na ON na.doc_id = e.doc_a
    JOIN naive nb ON nb.doc_id = e.doc_b
    WHERE na.nsplit <> nb.nsplit
    GROUP BY 1
),
agg AS (
    SELECT split, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(count(DISTINCT cluster_id) AS BIGINT) AS n_clusters
    FROM assigned GROUP BY 1
)
SELECT split, n_docs, n_clusters,
       coalesce(l.leak, 0) AS naive_leak_pairs
FROM agg LEFT JOIN leaks l USING (split)
ORDER BY split
"""


QL64_SQL = _ql64_sql()


# --- ql65: cross-source containment matrix ------------------------------------


def ql65_source_overlap_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise shingle-containment between SOURCES — the corpus-forensics
    matrix that answers "which feeds copy from each other" before any
    per-document dedup runs (mirror detection, syndication, scraper
    overlap). For each source pair: distinct-shingle set sizes, common
    shingles, and containment = |A∩B| / min(|A|,|B|).

    Scale: the (source, shingle) distinct level carries ≤ |sources| rows
    per shingle, so unlike the document-pair families the shingle
    self-join needs NO df cap — per-key fan-out is bounded by |sources|²
    (≤ 190 pairs at 20 sources) regardless of corpus size, and the join
    key is the uniform 61-bit hashed shingle. Two hash exchanges total.
    """
    docs = table(spark, sf_dir, "documents")
    # r13 (guide §2.4): hashed_shingle_set is generic over its id column,
    # so the (source, shingle) distinct level is computed DIRECTLY — the
    # old form built the doc-level distinct (a corpus exchange), joined
    # documents back on doc_id to recover source (two more exchanges),
    # then re-distinct'ed at the source level.
    # r14 (guide §2.4, the r13-ADVICE leftover): ONE evaluation of the
    # shingle chain total. The old shape evaluated it FOUR times — the
    # two self-join sides plus a sizes aggregate referenced by two
    # broadcast joins. Now the per-source set size rides every shingle
    # row (window over the distinct frame, counted BEFORE the pair
    # helper's NULL-key drop — same as the r13 _shingle_intersection
    # sizes carry) and lands in the pair groupBy keys (functionally
    # dependent on the sources); the self-join becomes
    # grouped_pair_expand on the shingle key (membership per shingle is
    # bounded by |sources|, no cap needed).
    src = dedup.hashed_shingle_set(docs, id_col="source").select(
        "source", "shingle"
    )
    sized = src.withColumn(
        "n_sh", F.count("*").over(Window.partitionBy("source")).cast("bigint")
    )
    pairs = (
        grouped_pair_expand(sized, ["shingle"], ["source", "n_sh"])
        .groupBy(
            F.col("_pa.source").alias("source_a"),
            F.col("_pa.n_sh").alias("shingles_a"),
            F.col("_pb.source").alias("source_b"),
            F.col("_pb.n_sh").alias("shingles_b"),
        )
        .agg(F.count("*").cast("bigint").alias("n_common"))
    )
    return pairs.select(
        "source_a",
        "source_b",
        "shingles_a",
        "shingles_b",
        "n_common",
        scaled_round(
            F.try_divide(F.col("n_common"), F.least("shingles_a", "shingles_b"))
        ).alias("containment"),
    ).orderBy("source_a", "source_b")


QL65_SQL = f"""
WITH ss AS (
    SELECT DISTINCT d.source, s.shingle
    FROM {duck_hashed_shingle_set("documents")} s
    JOIN documents d USING (doc_id)
),
sizes AS (SELECT source, CAST(count(*) AS BIGINT) AS n_sh FROM ss GROUP BY 1),
pairs AS (
    SELECT a.source AS source_a, b.source AS source_b,
           CAST(count(*) AS BIGINT) AS n_common
    FROM ss a JOIN ss b ON a.shingle = b.shingle AND a.source < b.source
    GROUP BY 1, 2
)
SELECT source_a, source_b,
       sa.n_sh AS shingles_a, sb.n_sh AS shingles_b, n_common,
       {scaled_round_sql("n_common::DOUBLE / least(sa.n_sh, sb.n_sh)::DOUBLE")}
           AS containment
FROM pairs
JOIN sizes sa ON sa.source = source_a
JOIN sizes sb ON sb.source = source_b
ORDER BY source_a, source_b
"""


# --- ql66: per-source merged MinHash vs exact Jaccard -------------------------


def ql66_source_minhash_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Source-pair Jaccard ESTIMATED from per-source merged MinHash
    signatures, next to the exact set Jaccard — the mergeable-sketch
    formulation of ql65's forensics at 100 TB: a source's signature is
    the component-wise min over its documents' signatures (min is
    associative, so the merge is map-side combinable and the shuffled
    state is |sources|·N_MINHASH longs — the corpus never pairs up).
    The exact column is what the estimate converges to; with N_MINHASH=8
    the estimate is deliberately coarse (eighths) and the report shows
    exactly that tradeoff (ql45 calibrates the same family per-doc).

    Both columns are deterministic cross-engine: the signature chain is
    ql02's seed-pinned affine family over P31 shingle hashes; the exact
    sets are the P61 hashed shingles shared with ql65.
    """
    docs = table(spark, sf_dir, "documents")
    sig = dedup.minhash_signature(docs.withColumn("toks", F.split("text", " ")))
    # lazy lineage truncation (r14): the crossJoin below references the
    # merged-signature frame on BOTH sides, so without it the whole
    # corpus signature chain evaluates twice for a |sources|-row result
    ssig = (
        sig.groupBy("source")
        .agg(
            F.array(
                *[
                    F.min(F.element_at("sig", i + 1))
                    for i in range(dedup.N_MINHASH)
                ]
            ).alias("ssig")
        )
        .localCheckpoint(eager=False)
    )
    a = ssig.select(F.col("source").alias("source_a"), F.col("ssig").alias("sig_a"))
    bq = ssig.select(F.col("source").alias("source_b"), F.col("ssig").alias("sig_b"))
    matches = F.expr("size(filter(zip_with(sig_a, sig_b, (x, y) -> x = y), v -> v))")
    est = (
        a.crossJoin(F.broadcast(bq))
        .where(F.col("source_a") < F.col("source_b"))
        .select(
            "source_a",
            "source_b",
            scaled_round(
                F.try_divide(matches, F.lit(dedup.N_MINHASH))
            ).alias("est_jaccard"),
        )
    )
    # source-level shingle sets computed directly (the ql65 r13 rework —
    # no doc-level distinct, no doc_id join-back).
    # r14 (guide §2.4): the shingle chain evaluates TWICE total instead
    # of four times — grouped_pair_expand replaces the self-join (one
    # evaluation), and the sizes aggregate is lineage-truncated (lazy
    # localCheckpoint of a |sources|-row frame) so its two broadcast
    # join references read the same materialization. Unlike ql65 the
    # sizes can't ride the pair rows: est enumerates ALL source pairs
    # (exact_jaccard is defined at n_common = 0), so the size lookup
    # must cover pairs with no common shingle.
    sh = dedup.hashed_shingle_set(docs, id_col="source").select(
        "source", "shingle"
    )
    sizes = (
        sh.groupBy("source")
        .agg(F.count("*").cast("bigint").alias("n_sh"))
        .localCheckpoint(eager=False)
    )
    common = (
        grouped_pair_expand(sh, ["shingle"], ["source"])
        .groupBy(
            F.col("_pa.source").alias("source_a"),
            F.col("_pb.source").alias("source_b"),
        )
        .agg(F.count("*").cast("bigint").alias("n_common"))
    )
    return (
        est.join(common, ["source_a", "source_b"], "left")
        .join(
            F.broadcast(
                sizes.select(
                    F.col("source").alias("source_a"), F.col("n_sh").alias("na")
                )
            ),
            "source_a",
        )
        .join(
            F.broadcast(
                sizes.select(
                    F.col("source").alias("source_b"), F.col("n_sh").alias("nb")
                )
            ),
            "source_b",
        )
        .select(
            "source_a",
            "source_b",
            F.coalesce("n_common", F.lit(0)).cast("bigint").alias("n_common"),
            "est_jaccard",
            scaled_round(
                F.try_divide(
                    F.coalesce("n_common", F.lit(0)),
                    F.col("na") + F.col("nb") - F.coalesce("n_common", F.lit(0)),
                )
            ).alias("exact_jaccard"),
        )
        .orderBy("source_a", "source_b")
    )


QL66_SQL = f"""
WITH
{duck_minhash_mh("documents")},
smh AS (
    SELECT doc.source, m.seed, min(m.mh) AS mh
    FROM mh m JOIN documents doc USING (doc_id)
    GROUP BY 1, 2
),
est AS (
    SELECT a.source AS source_a, b.source AS source_b,
           sum(CASE WHEN a.mh = b.mh THEN 1 ELSE 0 END) AS matches
    FROM smh a JOIN smh b ON a.seed = b.seed AND a.source < b.source
    GROUP BY 1, 2
),
ss AS (
    SELECT DISTINCT d.source, s.shingle
    FROM {duck_hashed_shingle_set("documents")} s
    JOIN documents d USING (doc_id)
),
sizes AS (SELECT source, CAST(count(*) AS BIGINT) AS n_sh FROM ss GROUP BY 1),
cmn AS (
    SELECT a.source AS source_a, b.source AS source_b,
           CAST(count(*) AS BIGINT) AS n_common
    FROM ss a JOIN ss b ON a.shingle = b.shingle AND a.source < b.source
    GROUP BY 1, 2
)
SELECT e.source_a, e.source_b,
       coalesce(c.n_common, 0) AS n_common,
       {scaled_round_sql(f"matches::DOUBLE / {dedup.N_MINHASH}::DOUBLE")}
           AS est_jaccard,
       {scaled_round_sql(
           "coalesce(c.n_common, 0)::DOUBLE"
           " / (sa.n_sh + sb.n_sh - coalesce(c.n_common, 0))::DOUBLE")}
           AS exact_jaccard
FROM est e
LEFT JOIN cmn c USING (source_a, source_b)
JOIN sizes sa ON sa.source = e.source_a
JOIN sizes sb ON sb.source = e.source_b
ORDER BY e.source_a, e.source_b
"""


# --- ql67: language-ID classifier QA metrics ----------------------------------


def ql67_langid_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language recall/precision of the ql12 language-ID heuristic
    against the stored ground-truth label — the classifier-QA summary a
    pipeline tracks per snapshot before TRUSTING a filter that routes
    documents by predicted language (a recall drop on one language means
    that language is silently leaking out of its pipeline). ql12 is the
    raw confusion matrix; this is its derived metrics view.

    All counts exact; recall = diag/n_actual and precision = diag/n_pred
    are single exact-int divisions through scaled_round (try_divide:
    a never-predicted language has NULL precision, not a divide error).
    Map-only scoring + two tiny grouped passes over the |langs|² matrix.
    """
    docs = table(spark, sf_dir, "documents")
    pred = text_ops.predict_language(text_ops.language_scores("text"))
    cm = (
        docs.select(F.col("lang").alias("lt"), pred.alias("lp"))
        .groupBy("lt", "lp")
        .agg(F.count("*").alias("n"))
    )
    per_true = cm.groupBy(F.col("lt").alias("lang")).agg(
        F.sum("n").cast("bigint").alias("n_actual"),
        F.sum(F.when(F.col("lt") == F.col("lp"), F.col("n")).otherwise(0))
        .cast("bigint")
        .alias("n_correct"),
    )
    per_pred = cm.groupBy(F.col("lp").alias("lang")).agg(
        F.sum("n").cast("bigint").alias("n_pred")
    )
    return (
        per_true.join(per_pred, "lang", "left")
        .select(
            "lang",
            "n_actual",
            "n_correct",
            F.coalesce("n_pred", F.lit(0)).cast("bigint").alias("n_pred"),
            scaled_round(F.try_divide(F.col("n_correct"), F.col("n_actual"))).alias(
                "recall"
            ),
            scaled_round(F.try_divide(F.col("n_correct"), F.col("n_pred"))).alias(
                "precision"
            ),
        )
        .orderBy("lang")
    )


def _ql67_sql() -> str:
    langs = list(text_ops.STOPWORDS)
    scores = ",\n       ".join(f"{_duck_stop_hits(lg)} AS s_{lg}" for lg in langs)
    cases = "\n            ".join(
        f"WHEN {' AND '.join(f's_{lg} >= s_{o}' for o in langs if o != lg)} THEN '{lg}'"
        for lg in langs[:-1]
    )
    return f"""
WITH s AS (
    SELECT lang,
       {scores}
    FROM documents
),
cm AS (
    SELECT lang AS lt,
           CASE {cases}
                ELSE '{langs[-1]}' END AS lp,
           count(*) AS n
    FROM s GROUP BY 1, 2
),
per_true AS (
    SELECT lt AS lang,
           CAST(sum(n) AS BIGINT) AS n_actual,
           CAST(sum(CASE WHEN lt = lp THEN n ELSE 0 END) AS BIGINT) AS n_correct
    FROM cm GROUP BY 1
),
per_pred AS (
    SELECT lp AS lang, CAST(sum(n) AS BIGINT) AS n_pred FROM cm GROUP BY 1
)
SELECT t.lang, t.n_actual, t.n_correct,
       coalesce(p.n_pred, 0) AS n_pred,
       {scaled_round_sql("t.n_correct::DOUBLE / t.n_actual::DOUBLE")} AS recall,
       {scaled_round_sql("t.n_correct::DOUBLE / p.n_pred::DOUBLE")} AS precision
FROM per_true t LEFT JOIN per_pred p USING (lang)
ORDER BY t.lang
"""


QL67_SQL = _ql67_sql()


QUERIES: dict[str, QuerySpec] = {
    "ql01_exact_dedup": QuerySpec(ql01_exact_dedup, QL01_SQL, "Q-L1 exact dedup groups"),
    "ql02_minhash_lsh_pairs": QuerySpec(ql02_minhash_lsh_pairs, QL02_SQL, "Q-L2 MinHash-LSH candidates"),
    "ql03_cosine_topk": QuerySpec(ql03_cosine_topk, QL03_SQL, "Q-L3 exact top-k cosine"),
    "ql04_text_stats": QuerySpec(ql04_text_stats, QL04_SQL, "Q-L4 text stats per source"),
    "ql05_top_terms": QuerySpec(ql05_top_terms, QL05_SQL, "Q-L5 tokenize + top terms"),
    "ql06_udf_norm_parity": QuerySpec(ql06_udf_norm_parity, QL06_SQL, "Q-L6 pandas_udf parity"),
    "ql07_multimodal_envelope": QuerySpec(ql07_multimodal_envelope, QL07_SQL, "Q-L7 multimodal envelope"),
    "ql07b_multimodal_features": QuerySpec(ql07b_multimodal_features, None, "Q-L7 mapInPandas features (rows-only)"),
    "ql07c_features_parity": QuerySpec(
        ql07c_features_parity,
        QL07C_SQL,
        "Q-L7 extractor exact twin: Python path vs codegen byte-sum, hash-checked",
    ),
    "ql08_simhash": QuerySpec(ql08_simhash, QL08_SQL, "SimHash signatures"),
    "ql09_ngram_jaccard": QuerySpec(ql09_ngram_jaccard, QL09_SQL, "n-gram Jaccard pairs"),
    "ql10_lsh_ann_pairs": QuerySpec(ql10_lsh_ann_pairs, QL10_SQL, "LSH-bucketed ANN pairs"),
    "ql11_quality_features": QuerySpec(ql11_quality_features, QL11_SQL, "quality scoring features"),
    "ql12_language_id": QuerySpec(ql12_language_id, QL12_SQL, "language-ID histogram"),
    "ql13_fingerprint": QuerySpec(ql13_fingerprint, QL13_SQL, "document fingerprints"),
    "ql14_ivf_topk": QuerySpec(ql14_ivf_topk, QL14_SQL, "IVF approximate top-k (quantized)"),
    "ql15_label_centroids": QuerySpec(ql15_label_centroids, QL15_SQL, "per-label embedding centroids"),
    "ql16_hash_sample": QuerySpec(ql16_hash_sample, QL16_SQL, "deterministic hash sampling"),
    "ql17_stratified_sample": QuerySpec(ql17_stratified_sample, QL17_SQL, "stratified hash sampling"),
    "ql18_udaf_geo_mean": QuerySpec(ql18_udaf_geo_mean, QL18_SQL, "grouped-agg pandas UDAF"),
    "ql19_grouped_map_zscore": QuerySpec(ql19_grouped_map_zscore, QL19_SQL, "applyInPandas grouped map"),
    "ql20_udtf_tokenize": QuerySpec(ql20_udtf_tokenize, QL20_SQL, "Python UDTF lateral expansion"),
    "ql21_cosine_near_dup": QuerySpec(
        ql21_cosine_near_dup, QL21_SQL, "exact embedding-cosine near-dup pairs (blocked)"
    ),
    "ql22_tfidf_top_terms": QuerySpec(
        ql22_tfidf_top_terms, QL22_SQL, "TF-IDF top terms per document"
    ),
    "ql23_dedup_clusters": QuerySpec(
        ql23_dedup_clusters, QL23_SQL, "connected-components dedup clusters"
    ),
    "ql24_chunk_windows": QuerySpec(
        ql24_chunk_windows, QL24_SQL, "sliding-window document chunking (context windows)"
    ),
    "ql25_pii_redaction": QuerySpec(
        ql25_pii_redaction, QL25_SQL, "PII regex redaction with match accounting"
    ),
    "ql26_export_shards": QuerySpec(
        ql26_export_shards, QL26_SQL, "deterministic export-shard assignment manifest"
    ),
    "ql27_bigram_collocations": QuerySpec(
        ql27_bigram_collocations, QL27_SQL, "bigram collocations: count + PMI-style lift"
    ),
    "ql28_quantization_error": QuerySpec(
        ql28_quantization_error, QL28_SQL, "int8 embedding quantization + reconstruction error"
    ),
    "ql29_split_manifest": QuerySpec(
        ql29_split_manifest, QL29_SQL, "deterministic train/val/test split manifest"
    ),
    "ql30_decontamination": QuerySpec(
        ql30_decontamination, QL30_SQL, "benchmark decontamination via broadcast shingle probe"
    ),
    "ql31_repetition_metrics": QuerySpec(
        ql31_repetition_metrics, QL31_SQL, "intra-document repetition metrics + filter flag"
    ),
    "ql32_bm25_topk": QuerySpec(
        ql32_bm25_topk, QL32_SQL, "Okapi BM25 lexical retrieval top-k"
    ),
    "ql33_sequence_packing": QuerySpec(
        ql33_sequence_packing, QL33_SQL, "greedy context-window sequence packing"
    ),
    "ql34_cluster_representatives": QuerySpec(
        ql34_cluster_representatives,
        QL34_SQL,
        "best-quality survivor per near-dup cluster",
    ),
    "ql35_domain_mixture": QuerySpec(
        ql35_domain_mixture, QL35_SQL, "temperature-weighted domain mixture sample"
    ),
    "ql36_unigram_surprisal": QuerySpec(
        ql36_unigram_surprisal,
        QL36_SQL,
        "unigram-LM mean token surprisal (perplexity-proxy quality score)",
    ),
    "ql37_duplicate_spans": QuerySpec(
        ql37_duplicate_spans,
        QL37_SQL,
        "duplicated n-gram span coverage (substring-dedup signal)",
    ),
    "ql38_kmeans_clusters": QuerySpec(
        ql38_kmeans_clusters,
        QL38_SQL,
        "exact-int Lloyd k-means codebook report (2 iterations)",
    ),
    "ql39_pq_encode": QuerySpec(
        ql39_pq_encode,
        QL39_SQL,
        "product-quantization codes + exact reconstruction SSE",
    ),
    "ql43_ann_recall": QuerySpec(
        ql43_ann_recall,
        QL43_SQL,
        "recall@3 of IVF vs exact cosine ground truth, per probe",
    ),
    "ql44_split_leakage": QuerySpec(
        ql44_split_leakage,
        QL44_SQL,
        "train/test near-dup leakage audit (LSH pairs crossing the hash split)",
    ),
    "ql45_minhash_calibration": QuerySpec(
        ql45_minhash_calibration,
        QL45_SQL,
        "MinHash Jaccard estimate vs exact, per LSH candidate pair",
    ),
    "ql46_dsir_importance": QuerySpec(
        ql46_dsir_importance,
        QL46_SQL,
        "DSIR hashed-bigram importance weights vs 'en' target",
    ),
    "ql47_perplexity_buckets": QuerySpec(
        ql47_perplexity_buckets,
        QL47_SQL,
        "CCNet-style per-language surprisal tertiles",
    ),
    "ql48_bpe_pair_stats": QuerySpec(
        ql48_bpe_pair_stats,
        QL48_SQL,
        "BPE first-merge adjacent-pair statistics (top 20)",
    ),
    "ql49_pagerank": QuerySpec(
        ql49_pagerank,
        QL49_SQL,
        "exact-int PageRank centrality over the LSH near-dup graph",
    ),
    "ql50_snapshot_novelty": QuerySpec(
        ql50_snapshot_novelty,
        QL50_SQL,
        "cross-snapshot shingle novelty per source (hashed anti-join)",
    ),
    "ql51_hard_negatives": QuerySpec(
        ql51_hard_negatives,
        QL51_SQL,
        "hard-negative mining: top-3 cross-label cosine per probe",
    ),
    "ql52_multimodal_ann": QuerySpec(
        ql52_multimodal_ann,
        QL52_SQL,
        "multimodal blob → codegen pseudo-embedding → same-modality ANN",
    ),
    "ql53_vocab_diagnostics": QuerySpec(
        ql53_vocab_diagnostics,
        QL53_SQL,
        "per-source vocabulary diagnostics: types, hapax share, top token",
    ),
    "ql54_containment_pairs": QuerySpec(
        ql54_containment_pairs,
        QL54_SQL,
        "asymmetric containment dedup (embedded-document case)",
    ),
    "ql55_gopher_rules": QuerySpec(
        ql55_gopher_rules,
        QL55_SQL,
        "Gopher rule-based quality gate (exact-int thresholds)",
    ),
    "ql56_weighted_sample": QuerySpec(
        ql56_weighted_sample,
        QL56_SQL,
        "A-ES weighted sampling without replacement (hash uniforms)",
    ),
    "ql57_embedding_corr": QuerySpec(
        ql57_embedding_corr,
        QL57_SQL,
        "top-variance embedding dimension correlation diagnostic",
    ),
    "ql58_char_entropy": QuerySpec(
        ql58_char_entropy,
        QL58_SQL,
        "character-entropy boilerplate/noise quality signal",
    ),
    "ql59_robust_outliers": QuerySpec(
        ql59_robust_outliers,
        QL59_SQL,
        "median/MAD robust document-length outlier screen",
    ),
    "ql60_simhash_hamming": QuerySpec(
        ql60_simhash_hamming,
        QL60_SQL,
        "SimHash hamming<=3 near-dup pairs via pigeonhole banding",
    ),
    "ql61_matryoshka_energy": QuerySpec(
        ql61_matryoshka_energy,
        QL61_SQL,
        "Matryoshka prefix-energy truncation diagnostic",
    ),
    "ql62_label_silhouette": QuerySpec(
        ql62_label_silhouette,
        QL62_SQL,
        "simplified silhouette vs label centroids (exact-int distances)",
    ),
    "ql63_entropy_threshold_sweep": QuerySpec(
        ql63_entropy_threshold_sweep,
        QL63_SQL,
        "retention curve over char-entropy quality thresholds",
    ),
    "ql64_cluster_aware_split": QuerySpec(
        ql64_cluster_aware_split,
        QL64_SQL,
        "leakage-proof split: near-dup clusters hash-assigned whole",
    ),
    "ql65_source_overlap_matrix": QuerySpec(
        ql65_source_overlap_matrix,
        QL65_SQL,
        "cross-source shingle-containment matrix (mirror/syndication forensics)",
    ),
    "ql66_source_minhash_jaccard": QuerySpec(
        ql66_source_minhash_jaccard,
        QL66_SQL,
        "mergeable per-source MinHash sketch vs exact source-pair Jaccard",
    ),
    "ql67_langid_quality": QuerySpec(
        ql67_langid_quality,
        QL67_SQL,
        "language-ID recall/precision vs ground truth (classifier QA)",
    ),
    "ql40_epoch_plan": QuerySpec(
        ql40_epoch_plan,
        QL40_SQL,
        "per-domain token-budget epoch/replication plan",
    ),
    "ql41_binary_header": QuerySpec(
        ql41_binary_header,
        QL41_SQL,
        "binary container header round-trip (codegen-side decode)",
    ),
    "ql42_hybrid_rrf": QuerySpec(
        ql42_hybrid_rrf,
        QL42_SQL,
        "hybrid retrieval: BM25 + vector candidates fused by RRF",
    ),
}
