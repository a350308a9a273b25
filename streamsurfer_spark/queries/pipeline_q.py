"""The composed curation-pipeline query (flagship, SURVEY §2.3 D capstone).

One oracle query exercising the full chained plan: language-ID → quality
gate → exact dedup → MinHash-LSH near-dup pruning → per-language token
accounting. The DuckDB oracle replays every stage (including the identical
LSH hash family), so a hash-match proves the *composition*, not just the
parts.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from streamsurfer_spark.functions.rounding import scaled_round
from streamsurfer_spark.operators import similarity as _sim
from streamsurfer_spark.operators import text as text_ops
from streamsurfer_spark.pipelines import (
    QUALITY_MAX_PUNCT_RATIO,
    QUALITY_MIN_TOKENS,
    curation_report,
)
from streamsurfer_spark.queries import QuerySpec
from streamsurfer_spark.queries.llm_q import _duck_stop_hits, duck_minhash_bands
from streamsurfer_spark.session import table


def qp01_curation_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    return curation_report(table(spark, sf_dir, "documents"))


def _qp01_sql() -> str:
    langs = list(text_ops.STOPWORDS)
    scores = ",\n       ".join(f"{_duck_stop_hits(lg)} AS s_{lg}" for lg in langs)
    cases = "\n            ".join(
        f"WHEN {' AND '.join(f's_{lg} >= s_{o}' for o in langs if o != lg)} THEN '{lg}'"
        for lg in langs[:-1]
    )
    return f"""
WITH s AS (
    SELECT doc_id, text,
       {scores},
       len(string_split(text, ' ')) AS n_tokens,
       (length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')))::DOUBLE
           / length(text) AS punct_ratio
    FROM documents
),
g AS (
    SELECT doc_id, text, n_tokens,
           CASE {cases}
                ELSE '{langs[-1]}' END AS lang_pred,
           CAST(round((least(1.0, n_tokens / 100.0) * 0.5
               + least(1.0, s_en::DOUBLE / n_tokens * 5.0) * 0.5) * 10000) AS BIGINT)
               / 10000.0 AS quality_score
    FROM s
    WHERE n_tokens >= {QUALITY_MIN_TOKENS} AND punct_ratio <= {QUALITY_MAX_PUNCT_RATIO}
),
e AS (
    SELECT doc_id, text, n_tokens, lang_pred, quality_score FROM (
        SELECT *, row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn FROM g
    ) WHERE rn = 1
),
{duck_minhash_bands("e").lstrip()},
losers AS (
    SELECT DISTINCT b.doc_id
    FROM bands a JOIN bands b
      ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id
),
surv AS (
    SELECT e.* FROM e LEFT JOIN losers l ON l.doc_id = e.doc_id
    WHERE l.doc_id IS NULL
)
SELECT lang_pred,
       count(*) AS n_docs,
       CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
       -- exact mean (r9): round(score*1e4) recovers the per-doc grid
       -- integer; BIGINT sum then one division — mirrors the Spark side
       -- term-for-term (the qp04 q4 pattern)
       CAST(round(CAST(sum(CAST(round(quality_score * 10000) AS BIGINT)) AS BIGINT)
             / count(*) / 10000.0 * 10000) AS BIGINT) / 10000.0 AS avg_quality
FROM surv GROUP BY 1 ORDER BY 1
"""


QP01_SQL = _qp01_sql()


def qp02_vector_index_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-side capstone: the vector-index BUILD as one composed plan.

    quantize → training-free budgeted centroid selection → IVF assignment
    (broadcast + map-side partial-agg argmin) → per-cluster occupancy report:
    vector count, label diversity, mean/max L2² distance to the centroid
    (exact integer distances — the same math ql14's search path runs). This
    is the operational health check a 100 TB vector index ships with:
    oversized or high-radius clusters are where ANN recall dies.
    """
    import pyspark.sql.functions as F

    from streamsurfer_spark.operators import similarity

    emb = table(spark, sf_dir, "embeddings")
    q = similarity.quantize(emb).select("vec_id", "label", "qv")
    # budgeted centroid sampling: mod == IVF_CENTROID_MOD until the count
    # would exceed IVF_MAX_CENTROIDS (the count() is the index-build pass)
    n = q.count()
    mod = similarity.centroid_modulus(n)
    cents = q.where(F.col("vec_id") % mod == 0).select("vec_id", "qv")
    assigned = similarity.ivf_assign(q, cents, n_centroids=n // mod)
    cent_vecs = cents.select(
        F.col("vec_id").alias("cent_id"), F.col("qv").alias("cent_qv")
    )
    dist = F.expr(
        "aggregate(zip_with(qv, cent_qv, (x, y) -> (x - y) * (x - y)),"
        " cast(0 as bigint), (acc, v) -> acc + v)"
    )
    return (
        assigned.join(F.broadcast(cent_vecs), "cent_id")
        .withColumn("dist", dist)
        .groupBy("cent_id")
        .agg(
            F.count("*").alias("n_vectors"),
            F.countDistinct("label").alias("n_labels"),
            scaled_round(F.sum("dist") / F.count("*"), 2).alias("avg_dist"),
            F.max("dist").alias("max_dist"),
        )
        .orderBy("cent_id")
    )


QP02_SQL = f"""
WITH q AS (
    SELECT vec_id, label,
           [cast(round(x::DOUBLE * {_sim.QUANT_SCALE}) AS BIGINT) for x in embedding] AS qv
    FROM embeddings
),
qe AS (SELECT vec_id, unnest(range(len(qv))) AS pos, unnest(qv) AS v FROM q),
cents AS (SELECT vec_id AS cent_id, pos, v FROM qe
          WHERE vec_id % {_sim.IVF_CENTROID_MOD} = 0),
ad AS (
    SELECT qe.vec_id, c.cent_id, sum((qe.v - c.v) * (qe.v - c.v)) AS dist
    FROM qe JOIN cents c ON c.pos = qe.pos GROUP BY 1, 2
),
assign AS (
    SELECT vec_id, cent_id, dist FROM (
        SELECT vec_id, cent_id, dist,
               row_number() OVER (PARTITION BY vec_id ORDER BY dist, cent_id) AS rn
        FROM ad
    ) WHERE rn = 1
)
SELECT a.cent_id,
       count(*) AS n_vectors,
       CAST(count(DISTINCT q.label) AS BIGINT) AS n_labels,
       CAST(round(CAST(sum(a.dist) AS BIGINT) * 1.0 / count(*) * 100) AS BIGINT)
           / 100.0 AS avg_dist,
       CAST(max(a.dist) AS BIGINT) AS max_dist
FROM assign a JOIN q ON q.vec_id = a.vec_id
GROUP BY 1 ORDER BY 1
"""


def qp03_ivfpq_build_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ index build as one composed plan (capstone 3): k-means coarse
    quantizer (2 Lloyd iterations, exact-int) → per-vector RESIDUAL against
    its centroid (exact integer subtraction) → product-quantization of the
    residuals (broadcast codebook argmin) → per-cluster compression report:
    occupancy, distinct PQ codes, total exact-int PQ reconstruction SSE.

    This is the actual production ANN index recipe (IVF-PQ à la Faiss):
    coarse cells bound the search, PQ codes bound the memory. Residual
    encoding is what makes PQ codebooks tight — residuals live near the
    origin regardless of which cell a vector is in. Everything downstream
    of quantize() is integer math, so the composed 3-stage pipeline
    hash-matches the oracle exactly — proving the composition, not just
    the parts.

    Scale: kmeans_fit's assign is a broadcast + map-side argmin (O(n)
    wire); the residual join is a broadcast of ≤ k centroid rows; PQ
    scores against an m×k broadcast codebook with no shuffle; the report
    groups on the tiny cent_id key space.
    """
    import pyspark.sql.functions as F

    from streamsurfer_spark.operators import clustering

    emb = table(spark, sf_dir, "embeddings")
    assigned, cents, _cached = clustering.kmeans_fit(emb)
    cent_vecs = cents.select(
        F.col("vec_id").alias("cent_id"), F.col("qv").alias("cent_qv")
    )
    resid = (
        assigned.join(F.broadcast(cent_vecs), "cent_id")
        .select(
            "vec_id",
            "cent_id",
            F.expr("zip_with(qv, cent_qv, (x, y) -> x - y)").alias("qv"),
        )
    )
    # cent_id rides the PQ aggregation's group keys (functionally
    # dependent on the unique vec_id — identical groups) instead of being
    # re-attached by a corpus-sized codes ⋈ resid self-join on vec_id,
    # which also re-executed the whole residual subtree a second time
    # (r13, guide §2.4)
    codes = clustering.pq_encode_quantized(
        resid.select("vec_id", "cent_id", "qv"), carry=("cent_id",)
    )
    return (
        codes.groupBy("cent_id")
        .agg(
            F.count("*").alias("n_vectors"),
            F.countDistinct("pq_code").alias("n_codes"),
            F.sum("recon_sse").alias("pq_sse"),
        )
        .orderBy("cent_id")
    )


def _qp03_sql() -> str:
    from streamsurfer_spark.operators import clustering
    from streamsurfer_spark.queries.llm_q import _KM_DIST

    m, ck = clustering.PQ_SUBSPACES, clustering.PQ_CODEWORDS
    # last slice runs to len(qv): remainder dims kept (clustering._sub_slices)
    slices = (
        f"[qv[s * (len(qv) // {m}) + 1 :"
        f" CASE WHEN s = {m - 1} THEN len(qv)"
        f" ELSE (s + 1) * (len(qv) // {m}) END]"
        f" for s in range({m})]"
    )
    seed = f"ORDER BY (vec_id * {clustering.SEED_SCATTER}) % 4294967296, vec_id"
    return f"""
WITH q AS (
    SELECT vec_id,
           list_transform(embedding, x -> CAST(round(x::DOUBLE * 1000) AS BIGINT)) AS qv
    FROM embeddings
),
c0 AS (SELECT vec_id AS cent_id, qv AS cqv FROM q
       {seed} LIMIT {clustering.KMEANS_K}),
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
    SELECT vec_id, qv, cent_id FROM (
        SELECT v.vec_id, v.qv, c.cent_id,
               row_number() OVER (
                   PARTITION BY v.vec_id
                   ORDER BY {_KM_DIST.format(a='v.qv', b='c.cqv')}, c.cent_id
               ) AS rn
        FROM q v CROSS JOIN c1 c
    ) WHERE rn = 1
),
resid AS (
    SELECT a.vec_id, a.cent_id,
           list_transform(list_zip(a.qv, c.cqv), z -> z[1] - z[2]) AS qv
    FROM a2 a JOIN c1 c USING (cent_id)
),
subs AS (
    SELECT vec_id, unnest(range({m})) AS sub, unnest({slices}) AS sv FROM resid
),
cb AS (
    SELECT vec_id AS code_id, unnest(range({m})) AS sub, unnest({slices}) AS cw
    FROM (SELECT * FROM resid {seed} LIMIT {ck})
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
),
codes AS (
    SELECT vec_id,
           string_agg(code_id::VARCHAR, ',' ORDER BY sub) AS pq_code,
           CAST(sum(dist) AS BIGINT) AS recon_sse
    FROM best GROUP BY 1
)
SELECT r.cent_id,
       count(*) AS n_vectors,
       CAST(count(DISTINCT c.pq_code) AS BIGINT) AS n_codes,
       CAST(sum(c.recon_sse) AS BIGINT) AS pq_sse
FROM codes c JOIN resid r USING (vec_id)
GROUP BY 1
ORDER BY 1
"""


QP03_SQL = _qp03_sql()


def qp04_quality_dashboard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain corpus quality dashboard (capstone 4): three independent
    quality lenses — unigram-LM surprisal, duplicated-span coverage, and
    the composite quality score — joined per document and rolled up per
    source domain. This is the per-slice triage view a curation run ships:
    which domains are boilerplate-heavy (low surprisal, high dup share),
    which are noise (high surprisal, low quality).

    Float discipline at the rollup: per-document doubles are never summed.
    Surprisal and span coverage aggregate their underlying exact BIGINTs
    (micro-nats, covered-token counts); the composite quality score —
    already ROUND(x, 4) per doc — is rescaled to an exact integer
    (×10 000) per doc BEFORE the domain sum, so every domain mean is one
    division of exact integers.

    Scale: TWO corpus-sized aggregating passes (surprisal, span coverage —
    each individually scale-audited in its own operator), joined on the
    unique doc key, rolled up to the tiny domain key — partial aggregation
    collapses everything map-side. The quality score is map-only per doc,
    so it is FUSED into the base projection (r13: it was previously a
    third corpus scan joined back on doc_id — a removable self-join,
    guide §2.4; plans/r13/qp04_quality_dashboard_{before,after}.txt show
    one fewer documents scan and one fewer doc_id join exchange).
    """
    import pyspark.sql.functions as F

    from streamsurfer_spark.operators import dedup as dedup_ops
    from streamsurfer_spark.operators import text as t_ops

    docs = table(spark, sf_dir, "documents")
    surp = t_ops.unigram_surprisal(docs).select(
        "doc_id", "n_tokens", "surprisal_micro"
    )
    spans = dedup_ops.duplicate_span_coverage(docs).select(
        "doc_id", F.col("covered_tokens")
    )
    q4 = (
        F.round(t_ops.quality_score_col("text") * 10_000)
        .cast("bigint")
        .alias("q4")
    )
    per_doc = (
        docs.select("doc_id", "source", q4)
        .join(surp, "doc_id")
        .join(spans, "doc_id", "left")
        .withColumn("covered_tokens", F.coalesce("covered_tokens", F.lit(0)))
    )
    return (
        per_doc.groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").alias("n_tokens"),
            scaled_round(
                F.sum("surprisal_micro") / F.sum("n_tokens") / 1e6
            ).alias("avg_surprisal_nats"),
            scaled_round(F.sum("q4") / F.count("*") / 10_000.0).alias(
                "avg_quality"
            ),
            scaled_round(
                F.sum("covered_tokens") / F.sum("n_tokens")
            ).alias("dup_token_share"),
        )
        .orderBy("source")
    )


from streamsurfer_spark.functions.hashing import P31 as _P31
from streamsurfer_spark.operators.dedup import P61 as _P61
from streamsurfer_spark.operators.dedup import SHINGLE_C1 as _C1
from streamsurfer_spark.operators.dedup import SHINGLE_C2 as _C2
from streamsurfer_spark.queries.llm_q import DUCK_HASH as _DUCK_HASH
from streamsurfer_spark.queries.llm_q import _duck_stop_hits as _stop_hits

QP04_SQL = f"""
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
surp AS (
    SELECT tf.doc_id,
           CAST(sum(tf) AS BIGINT) AS n_tokens,
           CAST(sum(tf * cost_micro) AS BIGINT) AS surprisal_micro
    FROM tf JOIN costed USING (token) GROUP BY 1
),
d AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
dth AS (
    SELECT doc_id, len(toks) AS n_toks,
           [({_DUCK_HASH.format(x="t")}) % {_P31} for t in toks] AS th
    FROM d
),
sh AS (
    SELECT doc_id, n_toks,
           unnest(range(greatest(n_toks - 2, 1))) AS pos,
           unnest([(th[i+1] * {_C1}) % {_P61}
                   + (coalesce(th[i+2], 0) * {_C2}) % {_P61}
                   + coalesce(th[i+3], 0)
                   for i in range(greatest(n_toks - 2, 1))]) AS shingle
    FROM dth
),
dup AS (SELECT shingle FROM sh GROUP BY 1 HAVING count(DISTINCT doc_id) >= 2),
cov0 AS (
    SELECT s.doc_id, unnest(range(s.pos, least(s.pos + 3, s.n_toks))) AS p
    FROM sh s JOIN dup USING (shingle)
),
cov AS (
    SELECT doc_id, count(*) AS covered_tokens
    FROM (SELECT DISTINCT doc_id, p FROM cov0) GROUP BY 1
),
qual AS (
    SELECT doc_id,
           CAST(round((least(1.0, len(string_split(text, ' ')) / 100.0) * 0.5
               + least(1.0, {_stop_hits("en")}::DOUBLE / len(string_split(text, ' ')) * 5.0) * 0.5)
               * 10000) AS BIGINT) AS q4
    FROM documents
)
SELECT dd.source,
       count(*) AS n_docs,
       CAST(sum(s.n_tokens) AS BIGINT) AS n_tokens,
       CAST(round(CAST(sum(s.surprisal_micro) AS BIGINT)
             / CAST(sum(s.n_tokens) AS BIGINT) / 1000000.0 * 10000) AS BIGINT)
           / 10000.0 AS avg_surprisal_nats,
       CAST(round(CAST(sum(q.q4) AS BIGINT) / count(*) / 10000.0 * 10000) AS BIGINT)
           / 10000.0 AS avg_quality,
       CAST(round(CAST(sum(coalesce(c.covered_tokens, 0)) AS BIGINT)
             / CAST(sum(s.n_tokens) AS BIGINT) * 10000) AS BIGINT)
           / 10000.0 AS dup_token_share
FROM documents dd
JOIN surp s USING (doc_id)
JOIN qual q USING (doc_id)
LEFT JOIN cov c USING (doc_id)
GROUP BY 1
ORDER BY 1
"""


# tokens per export shard: fixture-scaled so manifests have >1 shard per
# (split, lang) slice; production sets this to the trainer's shard size
EXPORT_SHARD_TOKENS = 4096


def qp05_export_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The END of the pipeline (capstone 5): what actually ships to the
    trainer. Full curation (language-ID → quality gate → exact dedup →
    LSH near-dup pruning, pipelines.curate) → benchmark decontamination
    (drop held-out-source docs AND training docs whose shingle overlap
    with them crosses the ql30 threshold) → deterministic hash split →
    per-(split, lang) export manifest: docs, exact token totals, id
    checksum, and the shard count at EXPORT_SHARD_TOKENS per shard
    (exact ceiling division).

    A hash-match here proves the COMPOSITION of five families end-to-end —
    gates, dedup, asymmetric contamination probe, split hash, integer
    shard math — not just each stage.

    Scale: curate() is the audited curation chain (capped LSH, one window
    per content hash); the benchmark shingle set broadcasts (eval suites
    don't grow with the corpus); the split is a per-row hash; the manifest
    groupBy keys on (split, lang) — map-side collapse everywhere.
    """
    import pyspark.sql.functions as F

    from streamsurfer_spark.operators import dedup as dedup_ops
    from streamsurfer_spark.operators import sampling
    from streamsurfer_spark.pipelines import curate
    from streamsurfer_spark.queries.llm_q import QL30_BENCH_SOURCES, QL30_THRESHOLD

    docs = table(spark, sf_dir, "documents")
    # carry `source` through the curation chain (free — per-row gates and
    # windows over full rows) instead of re-joining the documents scan on
    # doc_id afterward to recover it (r13, guide §2.4: one fewer corpus
    # self-join + one fewer documents scan)
    surv = curate(docs, carry=("source",)).select(
        "doc_id", "lang_pred", "n_tokens", "source"
    )

    sh = dedup_ops.with_shingles(docs).select(
        "doc_id", "source", F.explode(F.array_distinct("shingles")).alias("shingle")
    )
    is_bench = F.col("source").isin(*QL30_BENCH_SOURCES)
    bench = sh.where(is_bench).select("shingle").distinct()
    contaminated = (
        sh.where(~is_bench)
        .join(F.broadcast(bench.withColumn("_hit", F.lit(1))), "shingle", "left")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("_n"),
            F.sum(F.coalesce(F.col("_hit"), F.lit(0))).alias("_c"),
        )
        .where(scaled_round(F.col("_c") / F.col("_n")) >= QL30_THRESHOLD)
        .select("doc_id")
    )
    clean = surv.where(~is_bench).join(contaminated, "doc_id", "left_anti")
    split = sampling.assign_split(clean, "doc_id")
    return (
        split.groupBy("split", "lang_pred")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").alias("total_tokens"),
            F.sum("doc_id").alias("id_checksum"),
        )
        .withColumn(
            "n_shards",
            F.expr(f"(total_tokens + {EXPORT_SHARD_TOKENS} - 1) div {EXPORT_SHARD_TOKENS}"),
        )
        .orderBy("split", "lang_pred")
    )


def _qp05_sql() -> str:
    from streamsurfer_spark.queries.llm_q import (
        DUCK_HASH,
        DUCK_SHINGLES,
        QL30_BENCH_SOURCES,
        QL30_THRESHOLD,
        duck_minhash_bands,
    )

    langs = list(text_ops.STOPWORDS)
    scores = ",\n       ".join(f"{_stop_hits(lg)} AS s_{lg}" for lg in langs)
    cases = "\n            ".join(
        f"WHEN {' AND '.join(f's_{lg} >= s_{o}' for o in langs if o != lg)} THEN '{lg}'"
        for lg in langs[:-1]
    )
    return f"""
WITH s AS (
    SELECT doc_id, text, source,
       {scores},
       len(string_split(text, ' ')) AS n_tokens,
       (length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')))::DOUBLE
           / length(text) AS punct_ratio
    FROM documents
),
g AS (
    SELECT doc_id, text, source, n_tokens,
           CASE {cases}
                ELSE '{langs[-1]}' END AS lang_pred
    FROM s
    WHERE n_tokens >= {QUALITY_MIN_TOKENS} AND punct_ratio <= {QUALITY_MAX_PUNCT_RATIO}
),
e AS (
    SELECT doc_id, text, source, n_tokens, lang_pred FROM (
        SELECT *, row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn FROM g
    ) WHERE rn = 1
),
{duck_minhash_bands("e").lstrip()},
losers AS (
    SELECT DISTINCT b.doc_id
    FROM bands a JOIN bands b
      ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id
),
surv AS (
    SELECT e.* FROM e LEFT JOIN losers l ON l.doc_id = e.doc_id
    WHERE l.doc_id IS NULL
),
dall AS (SELECT doc_id, source, string_split(text, ' ') AS toks FROM documents),
shd AS (
    SELECT DISTINCT doc_id, source, shingle
    FROM (SELECT doc_id, source, unnest({DUCK_SHINGLES}) AS shingle
          FROM (SELECT doc_id, source, toks FROM dall) _x)
),
bench AS (
    SELECT DISTINCT shingle FROM shd WHERE source IN {QL30_BENCH_SOURCES!r}
),
contaminated AS (
    SELECT doc_id FROM (
        SELECT c.doc_id, count(*) AS _n,
               sum(CASE WHEN b.shingle IS NOT NULL THEN 1 ELSE 0 END) AS _c
        FROM shd c LEFT JOIN bench b USING (shingle)
        WHERE c.source NOT IN {QL30_BENCH_SOURCES!r}
        GROUP BY 1
    ) WHERE CAST(round(_c::DOUBLE / _n * 10000) AS BIGINT) / 10000.0
                >= {QL30_THRESHOLD}
),
clean AS (
    SELECT s.doc_id, s.lang_pred, s.n_tokens,
           CASE WHEN {DUCK_HASH.format(x="s.doc_id::VARCHAR")} % 100 < 80 THEN 'train'
                WHEN {DUCK_HASH.format(x="s.doc_id::VARCHAR")} % 100 < 90 THEN 'val'
                ELSE 'test' END AS split
    FROM surv s
    WHERE s.source NOT IN {QL30_BENCH_SOURCES!r}
      AND s.doc_id NOT IN (SELECT doc_id FROM contaminated)
)
SELECT split, lang_pred,
       count(*) AS n_docs,
       CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
       CAST(sum(doc_id) AS BIGINT) AS id_checksum,
       CAST((sum(n_tokens) + {EXPORT_SHARD_TOKENS} - 1) // {EXPORT_SHARD_TOKENS}
            AS BIGINT) AS n_shards
FROM clean
GROUP BY 1, 2
ORDER BY 1, 2
"""


QP05_SQL = _qp05_sql()


# --- qp06: SemDeDup semantic-dedup capstone ---------------------------------

# Within-cell cosine threshold. Fixture embeddings are near-orthogonal
# (p99.9 of random-pair cosine ≈ 0.38), so 0.45 isolates the genuinely
# correlated tail inside each k-means cell; real text embeddings cluster
# much tighter and would use τ ≈ 0.9+ (Abbas et al. use model-specific τ).
SEMDEDUP_TAU = 0.45


def qp06_semdedup_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (Abbas et al. 2023) as one composed plan (capstone 6):
    k-means cluster the embedding corpus (exact-int Lloyd, 2 iterations)
    → exact cosine pairs WITHIN each cluster above τ (the cluster is the
    block, so the quadratic stage is bounded per cell and capped by
    COSINE_BLOCK_CAP) → connected components of the near-dup graph →
    keep the minimum id per component, drop the rest → per-cell report:
    occupancy, duplicate groups, dropped count/checksum, survivors.

    This is the production semantic-dedup recipe: clustering makes the
    all-pairs stage tractable (O(Σ cell²) not O(n²)), and the component
    step prevents chain-duplicates from being double-kept. Everything
    through the pair cut is reproducible arithmetic (integer k-means,
    4-dp-rounded cosine), so the composed 4-stage pipeline hash-matches
    the oracle exactly.

    Scale (100 TB): kmeans assign is broadcast + map-side argmin; the pair
    stage shuffles once on cent_id with per-block membership capped; CC
    rounds are join+groupBy on uniform ids (near-dup components are tiny);
    the report is one groupBy on the constant cell key space.
    """
    import pyspark.sql.functions as F

    from streamsurfer_spark.operators import clustering, graph, similarity

    emb = table(spark, sf_dir, "embeddings")
    # carry the raw embedding through the (map-only) k-means assign so the
    # pair stage reads it straight off the assignment frame — previously
    # `emb ⋈ assigned ON vec_id` re-attached it with a corpus self-join,
    # and `blocked` is referenced twice (pair stage + report), so the join
    # executed TWICE per run (r13, guide §2.4)
    assigned, _cents, _cached = clustering.kmeans_fit(
        emb, carry=("embedding",)
    )
    blocked = assigned.select("vec_id", "embedding", "cent_id")
    pairs = similarity.cosine_near_dup_pairs(
        blocked, SEMDEDUP_TAU, block_col="cent_id"
    )
    comp = graph.connected_components(pairs, "id_a", "id_b").select(
        F.col("id").alias("vec_id"), "cluster_id"
    )
    dropped = (F.col("cluster_id").isNotNull()) & (
        F.col("vec_id") != F.col("cluster_id")
    )
    return (
        blocked.join(comp, "vec_id", "left")
        .groupBy("cent_id")
        .agg(
            F.count("*").alias("n_vectors"),
            F.countDistinct("cluster_id").alias("n_dup_groups"),
            F.sum(dropped.cast("long")).alias("n_dropped"),
            (F.count("*") - F.sum(dropped.cast("long"))).alias("n_kept"),
            F.sum(F.when(dropped, F.col("vec_id")).otherwise(F.lit(0))).alias(
                "dropped_id_sum"
            ),
        )
        .orderBy("cent_id")
    )


def _qp06_sql() -> str:
    from streamsurfer_spark.operators import clustering, similarity
    from streamsurfer_spark.queries.llm_q import _KM_DIST

    seed = f"ORDER BY (vec_id * {clustering.SEED_SCATTER}) % 4294967296, vec_id"
    return f"""
WITH RECURSIVE q AS (
    SELECT vec_id,
           list_transform(embedding, x -> CAST(round(x::DOUBLE * 1000) AS BIGINT)) AS qv
    FROM embeddings
),
c0 AS (SELECT vec_id AS cent_id, qv AS cqv FROM q
       {seed} LIMIT {clustering.KMEANS_K}),
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
    SELECT vec_id, cent_id FROM (
        SELECT v.vec_id, c.cent_id,
               row_number() OVER (
                   PARTITION BY v.vec_id
                   ORDER BY {_KM_DIST.format(a='v.qv', b='c.cqv')}, c.cent_id
               ) AS rn
        FROM q v CROSS JOIN c1 c
    ) WHERE rn = 1
),
e AS (
    SELECT m.vec_id, a2.cent_id, unnest(range(len(m.embedding))) AS pos,
           unnest(m.embedding)::DOUBLE AS v
    FROM embeddings m JOIN a2 ON a2.vec_id = m.vec_id
),
norms AS (SELECT vec_id, sqrt(sum(v * v)) AS nrm FROM e GROUP BY 1),
capped AS (
    -- replicate cosine_near_dup_pairs' COSINE_BLOCK_CAP (smallest ids
    -- survive per cell) so Spark and the twin agree even when a skewed
    -- cell crosses the cap
    SELECT vec_id FROM a2
    QUALIFY row_number() OVER (PARTITION BY cent_id ORDER BY vec_id)
            <= {similarity.COSINE_BLOCK_CAP}
),
dots AS (
    SELECT a.vec_id AS id_a, b.vec_id AS id_b, sum(a.v * b.v) AS dot
    FROM e a
    JOIN e b ON a.cent_id = b.cent_id AND a.pos = b.pos AND a.vec_id < b.vec_id
    WHERE a.vec_id IN (SELECT vec_id FROM capped)
      AND b.vec_id IN (SELECT vec_id FROM capped)
    GROUP BY 1, 2
),
pr AS (
    SELECT id_a, id_b FROM (
        SELECT id_a, id_b,
               CAST(round(dot / (na.nrm * nb.nrm) * 10000) AS BIGINT)
                   / 10000.0 AS sim
        FROM dots d
        JOIN norms na ON na.vec_id = d.id_a
        JOIN norms nb ON nb.vec_id = d.id_b
    ) WHERE sim >= {SEMDEDUP_TAU}
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
clusters AS (SELECT id AS vec_id, min(r) AS cluster_id FROM reach GROUP BY 1),
m AS (
    SELECT a2.vec_id, a2.cent_id, c.cluster_id,
           (c.cluster_id IS NOT NULL AND a2.vec_id <> c.cluster_id) AS dropped
    FROM a2 LEFT JOIN clusters c USING (vec_id)
)
SELECT cent_id,
       CAST(count(*) AS BIGINT) AS n_vectors,
       CAST(count(DISTINCT cluster_id) AS BIGINT) AS n_dup_groups,
       CAST(sum(CASE WHEN dropped THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped,
       CAST(count(*) - sum(CASE WHEN dropped THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       CAST(sum(CASE WHEN dropped THEN vec_id ELSE 0 END) AS BIGINT) AS dropped_id_sum
FROM m
GROUP BY 1
ORDER BY 1
"""


QP06_SQL = _qp06_sql()


# --- qp07: training-mix capstone (dedup → DSIR → perplexity cut → targets) ---


# A checkpointed survivor manifest is broadcast back onto the corpus only
# under this row cap (~32 MB of framed doc_ids — the session's 64 MB
# broadcast standard): lineage truncation hides the manifest's size from
# AQE (stats on a LogicalRDD default to "huge"), so without the explicit
# gated hint every manifest join would plan as a corpus-wide sort-merge —
# the r10-measured 3× trap that kept qp07 monolithic until r14. Above the
# cap the planner's shuffle join runs unchanged (a 100 TB survivor
# manifest is never broadcast).
MANIFEST_BROADCAST_ROW_CAP = 4_000_000


def _training_mix_stages(
    spark: SparkSession, sf_dir: str, checkpoint
) -> DataFrame:
    """The 4-stage training-mix selection shared by qp07/qp07b: exact
    dedup (min-id survivor per content hash) → DSIR gate (keep documents
    whose hashed-bigram log-ratio vs the 'en' target is positive —
    compared on the exact BIGINT micro-nat sum, no float threshold) →
    CCNet-style per-language perplexity cut (drop the worst tertile by
    unigram surprisal, deterministic integer-rank boundary) →
    per-source √-temperature sampling targets (ql35's formula).

    ``checkpoint(df, name) -> DataFrame`` truncates lineage at each
    stage's survivor doc_id manifest — the capstone's one degree of
    freedom (r13 verdict item 1). qp07 passes a localCheckpoint (executor
    blocks, no storage round-trip); qp07b passes a parquet write+readback
    (the durable-manifest 100 TB shape). Either way each stage is one
    pruned corpus scan + one manifest join instead of a re-derivation of
    every upstream stage (~24 corpus scans in the r13 monolithic plan).

    Returns ``keep``: the stage-3 survivor rows (doc_id, source,
    n_tokens) ready for the stage-4 aggregation.
    """
    import pyspark.sql.functions as F
    from pyspark.sql import Window

    from streamsurfer_spark.operators import text as text_ops

    # Each stage's twice-referenced tf frame is lineage-truncated in
    # executor blocks (lazy localCheckpoint) — without it the per-token
    # md5 chain over the pruned corpus evaluates twice per stage
    # (phase-measured: stage 2 was ~55% of qp07's wall with the double
    # evaluation). Intra-stage and strategy-independent, so both the
    # localCheckpoint (qp07) and durable-manifest (qp07b) variants use it.
    tf_ck = lambda d: d.localCheckpoint(eager=False)  # noqa: E731

    docs = table(spark, sf_dir, "documents")

    # stage 1: exact dedup → manifest
    m1 = checkpoint(
        docs.groupBy(F.md5("text").alias("h"))
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id"),
        "stage1_exact_dedup",
    )

    # stage 2: DSIR gate over the stage-1 survivors → manifest
    base = docs.join(m1, "doc_id")
    m2 = checkpoint(
        text_ops.dsir_importance(base, materialize=tf_ck)
        .where(F.col("logratio_micro") > 0)
        .select("doc_id"),
        "stage2_dsir_gate",
    )

    # stage 3: per-language perplexity cut over the stage-2 survivors.
    # m2 ⊆ m1 (stage 2 scored only stage-1 survivors), so docs ⋈ m2 is
    # exactly the old base ⋈ ds frame — one manifest join, not two.
    # lang/source ride the surprisal aggregation keys (carry) instead of
    # a corpus join-back on doc_id (guide §2.4).
    base2 = docs.join(m2, "doc_id")
    sur = text_ops.unigram_surprisal(
        base2, carry=("lang", "source"), materialize=tf_ck
    )
    w = Window.partitionBy("lang").orderBy("avg_surprisal_nats", "doc_id")
    ranked = sur.select(
        "doc_id",
        "source",
        "n_tokens",
        F.row_number().over(w).alias("rn"),
        F.count("*").over(Window.partitionBy("lang")).alias("n"),
    )
    return ranked.where(F.col("rn") * 3 <= F.col("n") * 2).select(
        "doc_id", "source", "n_tokens"
    )


def _mix_targets(keep: DataFrame) -> DataFrame:
    """Stage 4: per-source √-temperature sampling targets (shared)."""
    import pyspark.sql.functions as F

    from streamsurfer_spark.queries.llm_q import MIX_FACTOR

    return (
        keep.groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").alias("n_tokens"),
        )
        .select(
            "source",
            "n_docs",
            F.col("n_tokens").cast("long").alias("n_tokens"),
            F.least(
                F.col("n_docs"),
                F.floor(F.sqrt(F.col("n_docs")) * MIX_FACTOR).cast("long"),
            ).alias("target_n"),
        )
        .orderBy("source")
    )


def qp07_training_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The round-4 data-selection recipe (capstone 7) — see
    ``_training_mix_stages`` for the 4 stages. A hash-match proves the
    composition end to end: every stage's population is exactly the
    previous stage's survivors.

    Scale: each stage is individually audited (ql01 / ql46 / ql47 / ql35
    scale notes); composing them adds joins on the unique doc_id only.
    The only global sort is the per-language rank — the documented
    approx_percentile swap at corpus scale (see ql47).

    Lineage note (r13 → r14): expressed as ONE declarative plan, every
    downstream reuse of a stage re-derived its upstream (~24 corpus
    scans). r14 applies the documented production shape IN PLACE: each
    survivor manifest is localCheckpoint'ed (lazy — materialized once at
    the first action, a few KB of executor blocks at fixture scale) and
    re-attached with a row-count-gated broadcast hint
    (MANIFEST_BROADCAST_ROW_CAP) because truncated lineage hides the
    manifest's true size from AQE. The count that feeds the gate runs on
    the already-materialized blocks. Results are bit-identical: the
    checkpoint changes physical execution only.
    """
    import pyspark.sql.functions as F

    def local_manifest(df: DataFrame, name: str) -> DataFrame:
        ck = df.localCheckpoint(eager=False)
        if ck.count() <= MANIFEST_BROADCAST_ROW_CAP:
            return F.broadcast(ck)
        return ck

    return _mix_targets(_training_mix_stages(spark, sf_dir, local_manifest))


def _qp07_sql() -> str:
    from streamsurfer_spark.functions.hashing import P31
    from streamsurfer_spark.operators import text as text_ops
    from streamsurfer_spark.queries.llm_q import MIX_FACTOR

    b = text_ops.DSIR_BUCKETS
    return f"""
WITH kept AS (
    SELECT min(doc_id) AS doc_id FROM documents GROUP BY md5(text)
),
base AS (
    SELECT d.doc_id, d.lang, d.source, d.text
    FROM documents d JOIN kept USING (doc_id)
),
bth AS (
    SELECT doc_id, lang,
           [('0x' || substr(md5(t), 1, 15))::BIGINT % {P31}
            for t in string_split(text, ' ')] AS th_
    FROM base
),
bk AS (
    SELECT doc_id, lang,
           unnest([((th_[i+1] * {text_ops.DSIR_C1}) % {P31} + th_[i+2])
                   % {P31} % {b} for i in range(len(th_) - 1)]) AS bucket
    FROM bth
),
btf AS (SELECT doc_id, lang, bucket, count(*) AS tf FROM bk GROUP BY 1, 2, 3),
models AS (
    SELECT bucket, CAST(sum(tf) AS BIGINT) AS cnt_r,
           CAST(sum(CASE WHEN lang = 'en' THEN tf ELSE 0 END) AS BIGINT) AS cnt_t
    FROM btf GROUP BY 1
),
tot AS (
    SELECT CAST(sum(cnt_r) AS BIGINT) AS tot_r,
           CAST(sum(cnt_t) AS BIGINT) AS tot_t
    FROM models
),
wt AS (
    SELECT bucket,
           CAST(round((ln(cnt_t + 1) - ln(tot_t + {b})
                       - ln(cnt_r + 1) + ln(tot_r + {b})) * 1000000)
                AS BIGINT) AS w_micro
    FROM models CROSS JOIN tot
),
dsir AS (
    SELECT btf.doc_id
    FROM btf JOIN wt USING (bucket)
    GROUP BY 1
    HAVING CAST(sum(tf * w_micro) AS BIGINT) > 0
),
base2 AS (SELECT b.* FROM base b JOIN dsir USING (doc_id)),
toks AS (
    SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM base2
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
    SELECT s.doc_id, b.lang, b.source, s.n_tokens, s.avg_surprisal_nats
    FROM sur s JOIN base2 b USING (doc_id)
),
ranked AS (
    SELECT source, n_tokens,
           row_number() OVER (PARTITION BY lang
                              ORDER BY avg_surprisal_nats, doc_id) AS rn,
           count(*) OVER (PARTITION BY lang) AS n
    FROM scored
),
agg AS (
    SELECT source, count(*) AS n_docs, CAST(sum(n_tokens) AS BIGINT) AS n_tokens
    FROM ranked WHERE rn * 3 <= n * 2
    GROUP BY 1
)
SELECT source, n_docs, n_tokens,
       least(n_docs, CAST(floor(sqrt(n_docs) * {MIX_FACTOR}) AS BIGINT)) AS target_n
FROM agg
ORDER BY source
"""


QP07_SQL = _qp07_sql()


def qp07b_training_mix_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """qp07's documented 100 TB recipe as TESTED code: the same 4-stage
    training-mix selection, but each stage CHECKPOINTS its survivor
    doc_id manifest to parquet and the next stage starts from one pruned
    corpus scan + one manifest join — instead of one declarative plan
    that re-derives every upstream stage (~24 corpus re-scans at fixture
    scale, see qp07's lineage note).

    Trade being demonstrated: at fixture scale the monolithic plan wins
    (AQE sees live stats; persist/checkpoint hides them), so qp07 stays
    the headline. At 100 TB the manifest variant wins — each stage is a
    separate job whose inputs are bounded (corpus scan + doc_id list),
    failure recovery restarts one stage not four, and the manifest IS the
    audit artifact (qp05's export pattern). Shares QP07_SQL as its
    oracle: a hash match proves the two formulations compute the same
    selection, which is exactly the equivalence the 100 TB migration
    relies on.

    The manifests land in a process-scoped scratch dir (reclaimed at
    exit); at real scale they'd be object-store paths.

    r14: shares ``_training_mix_stages`` with qp07 (the checkpoint
    strategy is the ONLY difference — r13 verdict item 1's "parameter,
    not duplicate code path"). The stage-3 manifest now carries
    (doc_id, source, n_tokens) so stage 4 aggregates straight off the
    manifest — at 100 TB the targets job reads no corpus at all, and at
    fixture scale the old stage-4 corpus re-join (plus its recompute of
    n_tokens from the text) disappears. n_tokens is identical either
    way: sum(tf) over a doc's tokens = size(split(text)).
    """
    from streamsurfer_spark.scratch import scratch_dir

    root = scratch_dir("qp07b_manifests_")

    def durable_manifest(df: DataFrame, name: str) -> DataFrame:
        """Write a survivor manifest and read it back: truncates lineage
        at a durable artifact, exactly what separate jobs at scale would
        do. The parquet round-trip hands the planner REAL size stats, so
        the manifest join broadcasts at fixture scale and degrades to a
        shuffle join at 100 TB with no gating code."""
        path = os.path.join(root, name)
        df.write.mode("overwrite").parquet(path)
        return spark.read.parquet(path)

    keep = _training_mix_stages(spark, sf_dir, durable_manifest)
    return _mix_targets(durable_manifest(keep, "stage3_perplexity_cut"))


# --- qp08: unified canonical-duplicate map (capstone 8) ----------------------


def qp08_canonical_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THE deliverable of a dedup system: one canonical-id mapping table
    unifying all three duplicate signals — byte-exact copies (md5
    groups), MinHash-LSH near-duplicates, and asymmetric containment
    (short doc embedded in long) — as one edge set, collapsed by
    connected components, canonical = min id per component. Downstream
    jobs join this table once to re-point every duplicate at its
    survivor; a hash match proves the three signal paths AND the
    component collapse compose exactly.

    Scale: exact edges come from a window-min over the uniform md5 key
    (no group materialization); the LSH and containment pair paths carry
    their own caps (bucket cap, shingle-df cap); CC is the audited
    O(log n)-round contraction. The union of edge sets is the only new
    plumbing — everything else is reused, which is the point.
    """
    import pyspark.sql.functions as F
    from pyspark.sql import Window

    from streamsurfer_spark.operators import dedup, graph
    from streamsurfer_spark.queries.llm_q import CONTAIN_THRESHOLD

    docs = table(spark, sf_dir, "documents")
    w = Window.partitionBy(F.md5("text"))
    exact_e = (
        docs.select("doc_id", F.min("doc_id").over(w).alias("mn"))
        .where(F.col("doc_id") != F.col("mn"))
        .select(F.col("doc_id").alias("src"), F.col("mn").alias("dst"))
    )
    lsh_e = dedup.lsh_candidate_pairs(docs).select(
        F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
    )
    cont_e = dedup.ngram_containment_pairs(
        docs, threshold=CONTAIN_THRESHOLD
    ).select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
    edges = exact_e.unionByName(lsh_e).unionByName(cont_e)
    cc = graph.connected_components(edges, "src", "dst")
    sizes = cc.groupBy("cluster_id").agg(F.count("*").alias("cluster_size"))
    return (
        cc.join(sizes, "cluster_id")
        .select(
            F.col("id").alias("doc_id"),
            F.col("cluster_id").alias("canonical_id"),
            "cluster_size",
        )
        .orderBy("doc_id")
    )


def _qp08_sql() -> str:
    from streamsurfer_spark.operators.dedup import P61, SHINGLE_C1, SHINGLE_C2
    from streamsurfer_spark.queries.llm_q import (
        CONTAIN_THRESHOLD,
        duck_minhash_bands,
    )

    return f"""
WITH RECURSIVE {duck_minhash_bands("documents")},
exact_e AS (
    SELECT doc_id AS a, mn AS b FROM (
        SELECT doc_id, min(doc_id) OVER (PARTITION BY md5(text)) AS mn
        FROM documents
    ) WHERE doc_id <> mn
),
lsh_e AS (
    SELECT a.doc_id AS a, b.doc_id AS b
    FROM bands a
    JOIN bands b ON a.band = b.band AND a.band_key = b.band_key
                AND a.doc_id < b.doc_id
    GROUP BY 1, 2
),
csh AS (
    -- hashed twin of dedup.hashed_shingle_set, reusing the bands
    -- fragment's per-token hash CTE (th) in the wider P61 domain
    SELECT DISTINCT doc_id, shingle FROM (
        SELECT doc_id,
               unnest([(th[i+1] * {SHINGLE_C1}) % {P61}
                       + (coalesce(th[i+2], 0) * {SHINGLE_C2}) % {P61}
                       + coalesce(th[i+3], 0)
                       for i in range(greatest(len(th) - 2, 1))]) AS shingle
        FROM th
    )
),
csizes AS (SELECT doc_id, count(*) AS n_sh FROM csh GROUP BY 1),
cinter AS (
    SELECT a.doc_id AS a, b.doc_id AS b, count(*) AS n_inter
    FROM csh a JOIN csh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
    GROUP BY 1, 2
),
cont_e AS (
    SELECT a, b FROM (
        SELECT a, b,
               CAST(round(n_inter::DOUBLE / sa.n_sh * 10000) AS BIGINT)
                   / 10000.0 AS cab,
               CAST(round(n_inter::DOUBLE / sb.n_sh * 10000) AS BIGINT)
                   / 10000.0 AS cba
        FROM cinter
        JOIN csizes sa ON sa.doc_id = a
        JOIN csizes sb ON sb.doc_id = b
    ) WHERE greatest(cab, cba) >= {CONTAIN_THRESHOLD}
),
alledges AS (
    SELECT a, b FROM exact_e
    UNION SELECT a, b FROM lsh_e
    UNION SELECT a, b FROM cont_e
),
sym AS (
    SELECT a, b FROM alledges
    UNION SELECT b AS a, a AS b FROM alledges
),
reach(id, r) AS (
    SELECT DISTINCT a AS id, a AS r FROM sym
    UNION
    SELECT sym.a AS id, reach.r FROM sym JOIN reach ON sym.b = reach.id
),
clusters AS (SELECT id, min(r) AS cluster_id FROM reach GROUP BY 1),
sizes AS (
    SELECT cluster_id, CAST(count(*) AS BIGINT) AS cluster_size
    FROM clusters GROUP BY 1
)
SELECT c.id AS doc_id, c.cluster_id AS canonical_id, s.cluster_size
FROM clusters c JOIN sizes s USING (cluster_id)
ORDER BY doc_id
"""


QP08_SQL = _qp08_sql()


# Bounded-pass staging calibration (r11 verdict item 3 — the 100 TB
# recipe must not need a human to pick the knobs). The one cheap corpus
# statistic that tracks the shingle exchange is TOTAL TEXT CHARS: each
# char contributes ~1/6 of a shingle row (avg token ~6 chars incl.
# space), and each shingle row costs ~1 KB of peak scratch across the
# pass's distinct + df-cap window + self-join (shuffle write + sort
# spill + read, before ContextCleaner frees it). Calibrated on the r11
# 1000× probe: ~2.3e9 chars ran green at n_passes=8 under a 54.8 GB
# peak — 160 B/char ÷ 48 GB reproduces exactly that operating point
# (2.3e9·160/48e9 = 7.7 → 8 passes), with the measured peak sitting
# ~14% over budget (the spooled partials ride on top). Fixture scales
# derive 1 pass (sf0.1 is ~1.5e6 chars → 0.2 GB ≪ budget), so gate
# plans never multi-pass. Override the budget for a box with more or
# less scratch via SPARK_GRAFT_QP08_SCRATCH_GB.
QP08_EXCHANGE_BYTES_PER_CHAR = 160


def derived_qp08_passes(total_chars: int, scratch_budget_gb: float) -> int:
    """ceil(estimated exchange bytes / scratch budget), floored at 1 —
    split out from qp08_canonical_map_bounded so the derivation rule is
    unit-testable without a corpus."""
    import math

    est = total_chars * QP08_EXCHANGE_BYTES_PER_CHAR
    return max(1, math.ceil(est / (scratch_budget_gb * 1e9)))


def qp08_canonical_map_bounded(
    spark: SparkSession, sf_dir: str, n_passes: int | None = None
) -> DataFrame:
    """qp08's canonical map with the containment family's corpus-linear
    shingle exchange partitioned into ``n_passes`` bounded passes — the
    qv10 bounded-spool recipe applied to a SHUFFLE instead of a spool
    scan, and the literal 100 TB single-job-too-big answer: stage
    manifests between jobs, bound each job's exchange.

    ``n_passes=None`` (default since r12) derives the pass count from
    the corpus: ceil(total_chars × QP08_EXCHANGE_BYTES_PER_CHAR ÷
    scratch budget) — see the calibration note on the module constant.
    The derived count reproduces the r11 1000× green operating point
    (8 passes) and collapses to 1 at fixture scale, so the recipe is
    callable with no human-picked knobs; an explicit int still
    overrides for probes.

    Pass p runs dedup.shingle_intersection_partials over the slice
    pmod(shingle, n_passes) == p (the distinct, the df-cap window, and
    the self-join are all shingle-keyed, so each slice is self-contained
    and EXACTLY the global computation restricted to its shingles) and —
    since r13 (r12 verdict item 4) — dedup.lsh_candidate_pairs over
    the bucket-key slice pmod(xxhash64(band, band_key), n_passes) == p.

    Partials are FOLDED into running accumulators between passes
    (generation directories: read gen g ∪ pass p's partials →
    groupBy-sum → write gen g+1, delete gen g) rather than appended as
    per-pass spool files. The append design looked like "tiny frames"
    but was the real post-r11 scratch floor: a near-dup pair shares
    MANY shingles and bands, so it reappears in ~every slice and the
    appended spool grew ~linearly with pass count (attributed by the
    instrumented 300× probe series, BASELINE.md Round 13 — r12 had
    blamed the band exchange; slicing it moved nothing). The fold
    bounds the spool at the DISTINCT pair table regardless of pass
    count, at the cost of re-aggregating the accumulator once per pass
    — the same passes-vs-scratch trade the slices themselves make
    (CPU/IO scales out on a cluster; scratch disk is the single-box
    ceiling). Completed passes drop their DataFrame references and
    force a JVM GC so ContextCleaner releases the pass's shuffle files
    before the next pass starts; peak scratch is therefore
    ~1/n_passes of both corpus-linear exchanges + two generations of
    the bounded accumulator tables.

    Incremental folding computes the same sums the one-shot final
    aggregation did (n_inter = Σ_p, n_sh = Σ_p, n_shared_bands = Σ_p —
    integer partial sums over disjoint shingle/bucket sets are
    associative), so the final stage just READS the last generation —
    no re-aggregation exchange — scores containment exactly as
    operators/dedup.ngram_containment_pairs does, and reuses qp08's
    exact-dup edge family verbatim — output is hash-identical to
    qp08_canonical_map (pinned by tests/test_qp08_bounded.py at sf0.001
    and sf0.01, incl. pass counts that do not divide either key space
    evenly). Not a registry entry: same operator, different execution
    staging; the registry gates the monolithic plan, this function
    carries the scale probe.
    """
    import os

    import pyspark.sql.functions as F
    from pyspark.sql import Window

    from streamsurfer_spark.operators import dedup, graph
    from streamsurfer_spark.queries.llm_q import CONTAIN_THRESHOLD
    from streamsurfer_spark.scratch import scratch_dir

    docs = table(spark, sf_dir, "documents")
    if n_passes is None:
        # derive the pass count from the corpus (module constant above):
        # one single-column aggregate — O(corpus) but column-pruned to
        # n_chars (or a length() scan when the stat column is absent),
        # trivial next to even one pass's exchange
        if "n_chars" in docs.columns:
            stat = docs.agg(F.sum("n_chars"))
        else:
            stat = docs.agg(F.sum(F.length("text")))
        total_chars = stat.first()[0] or 0
        budget_gb = float(os.environ.get("SPARK_GRAFT_QP08_SCRATCH_GB", "48"))
        n_passes = derived_qp08_passes(total_chars, budget_gb)
    spool = scratch_dir("qp08_bounded_")

    def fold(family: str, new_df: DataFrame, keys: list[str], val: str, p: int) -> None:
        """Fold pass p's partials into the family's running accumulator:
        gen p = groupBy-sum(gen p-1 ∪ partials_p), then delete gen p-1.
        The write is an action, so the old generation is never both read
        and overwritten by one job. shutil is correct here because the
        spool is driver-local scratch (local mode / single-box probes);
        on a shared-FS cluster the same recipe works with the FS client."""
        import shutil

        prev = os.path.join(spool, f"{family}/g={p - 1}")
        acc = new_df
        if p > 0:
            acc = spark.read.parquet(prev).unionByName(new_df)
        # sortWithinPartitions + zstd: accumulator rows are (int64 key*,
        # int64 sum) — sorted, parquet's delta-binary-packed encoding
        # collapses the key columns, measured ~5× smaller than the
        # unsorted/snappy write; the sort is per-partition (no exchange)
        acc.groupBy(*keys).agg(F.sum(val).alias(val)).sortWithinPartitions(
            *keys
        ).write.mode("overwrite").option("compression", "zstd").parquet(
            os.path.join(spool, f"{family}/g={p}")
        )
        if p > 0:
            shutil.rmtree(prev, ignore_errors=True)

    for p in range(n_passes):
        inter_p, sizes_p = dedup.shingle_intersection_partials(
            docs, part=p, n_parts=n_passes
        )
        fold("inter", inter_p, ["doc_a", "doc_b"], "n_inter", p)
        fold("sizes", sizes_p, ["doc_id"], "n_sh", p)
        # the band exchange rides the same pass index: both slicers are
        # uniform hashes over disjoint key spaces, so one loop bounds
        # both corpus-linear exchanges at ~1/n_passes each (r12 verdict
        # item 4)
        lsh_p = dedup.lsh_candidate_pairs(docs, slice_of=(p, n_passes))
        fold("lsh", lsh_p, ["doc_a", "doc_b"], "n_shared_bands", p)
        # release this pass's shuffle files before the next pass: drop
        # the only references, then ask the JVM to GC so ContextCleaner
        # deletes them — without this the passes' scratch ADDS instead
        # of replacing and the bound is lost. EMPIRICAL RULE (r11
        # verdict item 4): "a System.gc() makes ContextCleaner enqueue
        # and delete dead shuffles promptly" is observed behavior, not
        # documented API, and `_jvm` is private — the rule is
        # version-sentineled in tests/test_properties_r12.py and listed
        # in the empirical-rule inventory (test_properties_r11).
        del inter_p, sizes_p, lsh_p
        spark.sparkContext._jvm.System.gc()

    last = f"g={n_passes - 1}"
    inter = spark.read.parquet(os.path.join(spool, f"inter/{last}"))
    sizes = spark.read.parquet(os.path.join(spool, f"sizes/{last}"))
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("n_b"))
    cont_e = (
        inter.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn(
            "cab", scaled_round(F.col("n_inter").cast("double") / F.col("n_a"))
        )
        .withColumn(
            "cba", scaled_round(F.col("n_inter").cast("double") / F.col("n_b"))
        )
        .where(F.greatest(F.col("cab"), F.col("cba")) >= CONTAIN_THRESHOLD)
        .select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
    )

    w = Window.partitionBy(F.md5("text"))
    exact_e = (
        docs.select("doc_id", F.min("doc_id").over(w).alias("mn"))
        .where(F.col("doc_id") != F.col("mn"))
        .select(F.col("doc_id").alias("src"), F.col("mn").alias("dst"))
    )
    # a pair can surface in several slices (one per shared band); the
    # per-pass folds already summed them, so the accumulator holds
    # lsh_candidate_pairs' distinct pair set exactly — read-only here
    lsh_e = spark.read.parquet(os.path.join(spool, f"lsh/{last}")).select(
        F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
    )
    edges = exact_e.unionByName(lsh_e).unionByName(cont_e)
    cc = graph.connected_components(edges, "src", "dst")
    csizes = cc.groupBy("cluster_id").agg(F.count("*").alias("cluster_size"))
    return (
        cc.join(csizes, "cluster_id")
        .select(
            F.col("id").alias("doc_id"),
            F.col("cluster_id").alias("canonical_id"),
            "cluster_size",
        )
        .orderBy("doc_id")
    )



# --- qp09: intake quality gate capstone (round-8 signal composition) ---------

# 4-dp entropy threshold in nats: the shipped fixtures span ~2.55-2.93,
# so 2.7 exercises both branches of the gate. Compared against the
# scaled_round-ed per-doc value, which is hash-identical on both engines
# — the threshold compare is therefore symmetric even exactly at 2.7.
INTAKE_ENTROPY_TAU = 2.7
INTAKE_MAD_K = 2


def qp09_intake_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-intake quality gate: per-source admission report composing
    the round-8 signal set — Gopher rule keep (ql55), character-entropy
    boilerplate floor (ql58), and the median/MAD length-outlier screen
    (ql59) — each signal the engine's own operator, the composition one
    declarative plan.

    A doc is admitted iff it passes ALL THREE. Empty docs (no entropy
    row — char_entropy filters length 0) fail the entropy floor via the
    NULL coalesce. Distributed shape (r13 rework, guide §2.4): the Gopher
    gate is map-only per row and the MAD screen's corpus side is map-only
    after two |sources|-row broadcasts — both previously came back as
    separate per-doc frames JOINED on doc_id (two removable corpus
    self-joins + two extra documents scans). They now fuse into ONE base
    pass: robust_outliers' output IS the corpus frame (docs + broadcast
    med/mad + is_outlier), the gopher keep lands as a column expression
    on the same scan, and the only corpus-keyed join left is the entropy
    frame (genuinely aggregated per doc — its exchange carries one narrow
    row per doc). Then one |sources|-row rollup.
    """
    import pyspark.sql.functions as F

    from streamsurfer_spark.operators.profile import robust_outliers

    docs = table(spark, sf_dir, "documents")
    e = text_ops.char_entropy(docs).select("doc_id", "entropy_nats")
    base = robust_outliers(docs, "n_chars", "source", k=INTAKE_MAD_K).select(
        "doc_id",
        "source",
        "n_chars",
        "is_outlier",
        text_ops.gopher_keep_col("text").alias("gopher_keep"),
    )
    j = base.join(e, "doc_id", "left")
    entropy_ok = (
        F.coalesce(F.col("entropy_nats"), F.lit(0.0))
        >= F.lit(INTAKE_ENTROPY_TAU)
    )
    admitted = F.col("gopher_keep") & entropy_ok & ~F.col("is_outlier")
    return (
        j.select(
            "source",
            "n_chars",
            F.col("gopher_keep"),
            entropy_ok.alias("entropy_ok"),
            "is_outlier",
            admitted.alias("admitted"),
        )
        .groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.count(F.when(~F.col("gopher_keep"), 1)).alias("n_gopher_fail"),
            F.count(F.when(~F.col("entropy_ok"), 1)).alias("n_low_entropy"),
            F.count(F.when(F.col("is_outlier"), 1)).alias("n_outliers"),
            F.count(F.when(F.col("admitted"), 1)).alias("n_admitted"),
            F.sum(
                F.when(F.col("admitted"), F.col("n_chars")).otherwise(F.lit(0))
            ).alias("chars_admitted"),
        )
        .orderBy("source")
    )


_G = text_ops
QP09_SQL = f"""
WITH gopher AS (
    SELECT doc_id,
           ((nw >= {_G.GOPHER_MIN_WORDS} AND nw <= {_G.GOPHER_MAX_WORDS})
            AND (sl >= {_G.GOPHER_MIN_MEAN_LEN} * nw
                 AND sl <= {_G.GOPHER_MAX_MEAN_LEN} * nw)
            AND (sym * {_G.GOPHER_MAX_SYMBOL_RATIO[1]}
                 < nw * {_G.GOPHER_MAX_SYMBOL_RATIO[0]})
            AND (aw * {_G.GOPHER_MIN_ALPHA_RATIO[1]}
                 > nw * {_G.GOPHER_MIN_ALPHA_RATIO[0]})
            AND (sh >= {_G.GOPHER_MIN_STOP_HITS})) AS gopher_keep
    FROM (
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
               CAST({{stop_hits}} AS BIGINT) AS sh
        FROM documents
    )
),
cf AS (
    SELECT doc_id, ch, count(*) AS cf
    FROM (SELECT doc_id, unnest(string_split(text, '')) AS ch
          FROM documents WHERE length(text) > 0)
    GROUP BY 1, 2
),
ent AS (
    SELECT doc_id,
           CAST(round(
               ((CAST(round(ln(n::DOUBLE) * 1000000) AS BIGINT) * n - clnc)
                / n::DOUBLE / 1000000.0) * 10000) AS BIGINT) / 10000.0
               AS entropy_nats
    FROM (SELECT doc_id, CAST(sum(cf) AS BIGINT) AS n,
                 CAST(sum(cf * CAST(round(ln(cf::DOUBLE) * 1000000) AS BIGINT))
                      AS BIGINT) AS clnc
          FROM cf GROUP BY 1)
),
med AS (
    SELECT source, CAST(quantile_disc(n_chars, 0.5) AS BIGINT) AS med
    FROM documents GROUP BY 1
),
dev AS (
    SELECT d.doc_id, d.source, d.n_chars,
           abs(d.n_chars - m.med) AS abs_dev
    FROM documents d JOIN med m USING (source)
),
mad AS (
    SELECT source, CAST(quantile_disc(abs_dev, 0.5) AS BIGINT) AS mad
    FROM dev GROUP BY 1
),
flags AS (
    SELECT dev.source, dev.n_chars,
           g.gopher_keep,
           COALESCE(e.entropy_nats, 0.0) >= {INTAKE_ENTROPY_TAU}
               AS entropy_ok,
           dev.abs_dev > {INTAKE_MAD_K} * mad.mad AS is_outlier
    FROM dev
    JOIN mad USING (source)
    JOIN gopher g USING (doc_id)
    LEFT JOIN ent e USING (doc_id)
)
SELECT source,
       count(*) AS n_docs,
       count(CASE WHEN NOT gopher_keep THEN 1 END) AS n_gopher_fail,
       count(CASE WHEN NOT entropy_ok THEN 1 END) AS n_low_entropy,
       count(CASE WHEN is_outlier THEN 1 END) AS n_outliers,
       count(CASE WHEN gopher_keep AND entropy_ok AND NOT is_outlier
             THEN 1 END) AS n_admitted,
       CAST(sum(CASE WHEN gopher_keep AND entropy_ok AND NOT is_outlier
                THEN n_chars ELSE 0 END) AS BIGINT) AS chars_admitted
FROM flags
GROUP BY source
ORDER BY source
""".replace("{stop_hits}", _duck_stop_hits("en"))

# --- qp10: sequential filter retention waterfall ------------------------------

QP10_LANG_ALLOW = ("de", "en", "es", "fr")  # latin-script target set


def qp10_retention_waterfall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retention waterfall of the curation pipeline: how many documents
    survive each SEQUENTIAL stage — Gopher rules (ql55's gate), exact
    dedup (canonical = min doc_id per md5, among gopher survivors),
    SimHash near-dup pruning (ql60's pair search run ON the exact-dedup
    survivors; the GREATER doc of every ≤3-bit pair drops), then a
    language allowlist. The per-stage drop table is the first chart of
    any pipeline report (RefinedWeb/FineWeb-style).

    Stage nesting is real, not cosmetic: the SimHash band caps and
    signatures are computed over the stage-2 survivor set, so the
    candidate graph is the one the production run would see. Each doc is
    annotated once with its first failing stage; the waterfall is a
    single one-row aggregate exploded to 5 rows — the corpus is scanned
    once per signal, never once per stage-pair.

    Scale: gopher is per-row codegen; canonical is one hash exchange on
    md5(text) (uniform); the simhash stage inherits ql60's capped-bucket
    topology; flags join on the unique doc_id key. Ratios are exact-int
    divisions through scaled_round/try_divide.
    """
    import pyspark.sql.functions as F
    from pyspark.sql import Window

    from streamsurfer_spark.operators import dedup

    docs = table(spark, sf_dir, "documents")
    # r13 (guide §2.4): the gopher gate is a map-only column expression —
    # fused into the base projection instead of a gopher_quality_rules
    # frame joined back on doc_id; and the survivor/canonical flags come
    # back by UNION (window-annotated survivors ∪ gopher-fail rows with
    # canonical NULL) instead of the previous d1 ⋈ canon corpus self-join
    # on doc_id. Plan effect: two fewer corpus-keyed exchanges and one
    # fewer documents scan; the fail branch is a map-only pruned re-scan.
    d1 = docs.select(
        "doc_id",
        "text",
        "lang",
        text_ops.gopher_keep_col("text").alias("gopher_keep"),
    )
    s1 = d1.where("gopher_keep")
    w = Window.partitionBy(F.md5("text")).orderBy("doc_id")
    canon = s1.withColumn("canonical", F.row_number().over(w) == 1)
    s2 = canon.where("canonical").select("doc_id", "text")
    losers = (
        dedup.simhash_hamming_pairs(s2)
        .select(F.col("doc_b").alias("doc_id"))
        .distinct()
        .withColumn("neardup_loser", F.lit(True))
    )
    lang_list = ", ".join(f"'{x}'" for x in QP10_LANG_ALLOW)
    # the complement of s1's TRUE-only filter is "NOT TRUE" (false OR
    # NULL) — a bare ~gopher_keep would silently drop NULL-keep rows
    # (NULL text under fuzz) that the old left join kept with canonical
    # NULL
    annotated = canon.select("doc_id", "lang", "gopher_keep", "canonical").union(
        d1.where(~F.coalesce(F.col("gopher_keep"), F.lit(False))).select(
            "doc_id",
            "lang",
            "gopher_keep",
            F.lit(None).cast("boolean").alias("canonical"),
        )
    )
    flags = (
        annotated
        .join(losers, "doc_id", "left")
        .select(
            F.expr(
                # lang IS NULL drops at stage 4 too: an allowlist that
                # lets un-identified languages through is not a filter
                "CASE WHEN NOT gopher_keep THEN 1 "
                "WHEN NOT canonical THEN 2 "
                "WHEN neardup_loser THEN 3 "
                f"WHEN lang IS NULL OR lang NOT IN ({lang_list}) THEN 4 "
                "ELSE 9 END"
            ).alias("fail_stage")
        )
    )
    surv = lambda i: F.sum((F.col("fail_stage") > i).cast("long"))  # noqa: E731
    a = flags.agg(
        F.count("*").alias("n0"),
        surv(1).alias("k1"),
        surv(2).alias("k2"),
        surv(3).alias("k3"),
        surv(4).alias("k4"),
    )
    rows = a.select(
        F.explode(
            F.expr(
                "array("
                "named_struct('stage', 0, 'stage_name', 'intake', 'docs_in', n0, 'docs_kept', n0), "
                "named_struct('stage', 1, 'stage_name', 'gopher_rules', 'docs_in', n0, 'docs_kept', k1), "
                "named_struct('stage', 2, 'stage_name', 'exact_dedup', 'docs_in', k1, 'docs_kept', k2), "
                "named_struct('stage', 3, 'stage_name', 'simhash_neardup', 'docs_in', k2, 'docs_kept', k3), "
                "named_struct('stage', 4, 'stage_name', 'lang_filter', 'docs_in', k3, 'docs_kept', k4))"
            )
        ).alias("s")
    ).select("s.*")
    return rows.withColumn(
        "keep_ratio",
        scaled_round(F.try_divide(F.col("docs_kept"), F.col("docs_in")), 4),
    ).orderBy("stage")


def _qp10_sql() -> str:
    from streamsurfer_spark.functions.rounding import scaled_round_sql
    from streamsurfer_spark.operators import dedup
    from streamsurfer_spark.queries.llm_q import DUCK_HASH

    t = text_ops
    lang_list = ", ".join(f"'{x}'" for x in QP10_LANG_ALLOW)
    return f"""
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
),
g AS (
    SELECT doc_id,
           ((nw >= {t.GOPHER_MIN_WORDS} AND nw <= {t.GOPHER_MAX_WORDS})
            AND (sl >= {t.GOPHER_MIN_MEAN_LEN} * nw
                 AND sl <= {t.GOPHER_MAX_MEAN_LEN} * nw)
            AND (sym * {t.GOPHER_MAX_SYMBOL_RATIO[1]}
                 < nw * {t.GOPHER_MAX_SYMBOL_RATIO[0]})
            AND (aw * {t.GOPHER_MIN_ALPHA_RATIO[1]}
                 > nw * {t.GOPHER_MIN_ALPHA_RATIO[0]})
            AND (sh >= {t.GOPHER_MIN_STOP_HITS})) AS gopher_keep
    FROM c
),
d1 AS (
    SELECT d.doc_id, d.text, d.lang, g.gopher_keep
    FROM documents d JOIN g USING (doc_id)
),
s1 AS (SELECT * FROM d1 WHERE gopher_keep),
canon AS (
    SELECT doc_id,
           row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) = 1
               AS canonical
    FROM s1
),
s2 AS (SELECT s1.doc_id, s1.text FROM s1 JOIN canon USING (doc_id) WHERE canonical),
toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM s2),
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
losers AS (
    SELECT DISTINCT doc_b AS doc_id FROM cand
    WHERE bit_count(xor(sig_a, sig_b)) <= {dedup.SIMHAM_K}
),
flags AS (
    SELECT CASE WHEN NOT d1.gopher_keep THEN 1
                WHEN NOT cn.canonical THEN 2
                WHEN l.doc_id IS NOT NULL THEN 3
                WHEN d1.lang IS NULL OR d1.lang NOT IN ({lang_list}) THEN 4
                ELSE 9 END AS fail_stage
    FROM d1
    LEFT JOIN canon cn USING (doc_id)
    LEFT JOIN losers l USING (doc_id)
),
a AS (
    SELECT CAST(count(*) AS BIGINT) AS n0,
           CAST(sum(CASE WHEN fail_stage > 1 THEN 1 ELSE 0 END) AS BIGINT) AS k1,
           CAST(sum(CASE WHEN fail_stage > 2 THEN 1 ELSE 0 END) AS BIGINT) AS k2,
           CAST(sum(CASE WHEN fail_stage > 3 THEN 1 ELSE 0 END) AS BIGINT) AS k3,
           CAST(sum(CASE WHEN fail_stage > 4 THEN 1 ELSE 0 END) AS BIGINT) AS k4
    FROM flags
),
wf AS (
    SELECT 0 AS stage, 'intake' AS stage_name, n0 AS docs_in, n0 AS docs_kept FROM a
    UNION ALL
    SELECT 1, 'gopher_rules', n0, k1 FROM a
    UNION ALL
    SELECT 2, 'exact_dedup', k1, k2 FROM a
    UNION ALL
    SELECT 3, 'simhash_neardup', k2, k3 FROM a
    UNION ALL
    SELECT 4, 'lang_filter', k3, k4 FROM a
)
SELECT stage, stage_name, docs_in, docs_kept,
       {scaled_round_sql("docs_kept::DOUBLE / docs_in::DOUBLE", 4)} AS keep_ratio
FROM wf ORDER BY stage
"""


QP10_SQL = _qp10_sql()


QUERIES: dict[str, QuerySpec] = {
    "qp01_curation_report": QuerySpec(
        qp01_curation_report, QP01_SQL, "composed curation pipeline (capstone)"
    ),
    "qp02_vector_index_report": QuerySpec(
        qp02_vector_index_report, QP02_SQL, "composed vector-index build report (capstone 2)"
    ),
    "qp03_ivfpq_build_report": QuerySpec(
        qp03_ivfpq_build_report,
        QP03_SQL,
        "composed IVF-PQ build: k-means coarse + residual PQ (capstone 3)",
    ),
    "qp04_quality_dashboard": QuerySpec(
        qp04_quality_dashboard,
        QP04_SQL,
        "per-domain quality dashboard: surprisal + dup-span + quality (capstone 4)",
    ),
    "qp05_export_manifest": QuerySpec(
        qp05_export_manifest,
        QP05_SQL,
        "end-of-pipeline export manifest: curate → decontaminate → split → shards (capstone 5)",
    ),
    "qp06_semdedup_report": QuerySpec(
        qp06_semdedup_report,
        QP06_SQL,
        "SemDeDup: k-means cells → within-cell cosine pairs → CC → survivors (capstone 6)",
    ),
    "qp07_training_mix": QuerySpec(
        qp07_training_mix,
        QP07_SQL,
        "training mix: dedup → DSIR gate → perplexity cut → √-temperature targets (capstone 7)",
    ),
    "qp07b_training_mix_manifest": QuerySpec(
        qp07b_training_mix_manifest,
        QP07_SQL,
        "qp07 via checkpointed survivor manifests (the 100 TB recipe, same oracle)",
    ),
    "qp08_canonical_map": QuerySpec(
        qp08_canonical_map,
        QP08_SQL,
        "canonical-duplicate map: exact ∪ LSH ∪ containment edges → CC (capstone 8)",
    ),
    "qp09_intake_gate": QuerySpec(
        qp09_intake_gate,
        QP09_SQL,
        "intake quality gate: Gopher ∧ entropy floor ∧ MAD screen (capstone 9)",
    ),
    "qp10_retention_waterfall": QuerySpec(
        qp10_retention_waterfall,
        QP10_SQL,
        "sequential filter retention waterfall: gopher → exact → simhash → lang",
    ),
}
