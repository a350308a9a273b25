"""Connected components over candidate-pair graphs (dedup clustering).

No counterpart in the reference (/root/reference/main.go:1-312 — SURVEY
§2.2); engine-side capability: near-duplicate PAIRS (MinHash-LSH, cosine,
n-gram Jaccard — operators/dedup.py, operators/similarity.py) become
deduplication CLUSTERS by taking connected components of the pair graph,
labeling each document with its cluster's minimum id (the canonical
"keep the smallest id, drop the rest" curation rule).

One implementation, two execution paths chosen by the observed edge
count. The edge set is canonicalized once (hi, lo), deduplicated and
persisted; then

- at or under ``CC_DRIVER_EDGE_CAP`` edges, one bounded Arrow collect and
  an exact driver union-find label every node (min id per component);
- above it, the large-star/small-star contraction (Kiveris et al.,
  "Connected Components in MapReduce and Beyond", SoCC'14) runs on the
  cluster. Each round is a few join/groupBy stages on the node id;
  large-star hangs every node off its neighborhood minimum, small-star
  flattens the resulting trees, so long paths halve per round and
  convergence takes O(log n) rounds whatever the graph's diameter. At the
  fixpoint the edge set IS the star (node → component min), so both paths
  emit the identical label set.

Convergence is detected by a set checksum (count + decimal sum of
xxhash64(a, b) — type-generic and overflow-proof): an unchanged checksum
means an unchanged edge set. Each round lazily localCheckpoints its edges
and the checksum materializes them in the same job, so lineage stays one
round deep. A graph that has not converged after ``CC_MAX_ROUNDS`` rounds
raises.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from streamsurfer_spark.session import arrow_enabled

# Edge-count ceiling for the driver union-find path: a contraction ROUND
# costs ~5 exchanges + one convergence action no matter how small the
# graph, so a near-dup edge set that is broadcast-class anyway (1M edges
# of two longs ≈ 16 MB on the wire — the same size class as the session's
# 64 MB autoBroadcastJoinThreshold and similarity.py's ≤34 MB centroid
# collect) is solved exactly in one bounded Arrow collect + O(E α(E))
# union-find + one createDataFrame, instead of O(log n) rounds of
# full-width distributed jobs. Above the cap the contraction runs, so
# 100 TB pair graphs never touch the driver. Tests monkeypatch it (-1
# forces the contraction).
CC_DRIVER_EDGE_CAP = 1_000_000

# Round budget of the star contraction. It needs O(log n) rounds in
# practice (a 64-node path converges within 10), so 25 leaves wide
# headroom; tests monkeypatch it.
CC_MAX_ROUNDS = 25


def _driver_components(edge_rows, extra_nodes=()) -> dict:
    """Union-find with min-label extraction over an in-memory edge list.

    Returns {node: component_min}. Self-loops register the node; ordering
    uses plain ``<`` — identical to Spark's ordering for the id types the
    pair generators emit (integers, and strings, whose UTF8 binary order
    equals codepoint order).
    """
    parent: dict = {}

    def find(x):
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:  # path compression
            parent[x], x = root, parent[x]
        return root

    def add(x):
        if x not in parent:
            parent[x] = x

    for a, b in edge_rows:
        add(a)
        add(b)
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[rb] = ra
    for x in extra_nodes:
        add(x)
    mins: dict = {}
    for x in parent:
        r = find(x)
        m = mins.get(r)
        if m is None or x < m:
            mins[r] = x
    return {x: mins[find(x)] for x in parent}


def _cc_driver_result(
    spark, labels: dict, id_type
) -> DataFrame:
    """(id, cluster_id) DataFrame from a driver-solved label map, with the
    exact schema the contraction path emits."""
    import pandas as pd
    from pyspark.sql.types import StructField, StructType

    schema = StructType(
        [
            StructField("id", id_type, True),
            StructField("cluster_id", id_type, True),
        ]
    )
    if not labels:
        return spark.createDataFrame([], schema)
    ids = list(labels.keys())
    pdf = pd.DataFrame({"id": ids, "cluster_id": [labels[i] for i in ids]})
    with arrow_enabled(spark):
        return spark.createDataFrame(pdf, schema)


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Label every node of the undirected pair graph with min(component).

    Returns (id, cluster_id), still persisted (callers looping over it may
    unpersist when done). Raises if the contraction has not converged
    after ``CC_MAX_ROUNDS`` rounds.

    Each contraction round runs both operations of Kiveris et al.
    (SoCC'14 §3) on the edge set:

    - large-star: group the symmetrized edges by node u; every neighbor
      v > u re-attaches to m = min(Γ(u) ∪ {u}). Long paths fold onto
      their local minima.
    - small-star: orient edges (hi → lo), group by the high node; the
      node and all its smaller neighbors attach to the minimum. Trees
      of depth 2 flatten to stars.

    Both are one groupBy + one join on the node id, plus a distinct() to
    keep the edge set canonical. Edge count never grows (each operation
    emits at most one edge per input edge), and the component minimum is
    preserved — at the fixpoint the edge set IS the star (node →
    component-min). Hash-sum collisions of the convergence checksum on a
    changed set are ~2^-64.
    """
    # nodes whose ONLY edges are self-loops are filtered out of `e` below
    # and would VANISH from the output — keep them as singleton clusters
    # and re-attach at the end. Near-dup pair generators emit id_a < id_b
    # (no self-loops), so this side is typically empty and the anti-join
    # below is over an empty build side.
    #
    # ONE canonicalized distinct feeds BOTH e and selfers: deriving
    # selfers from raw `edges` would re-execute the caller's ENTIRE
    # pair-generation pipeline a second time — the upstream
    # LSH/cosine/containment stages are far more expensive than the edge
    # list they emit. A self-loop (x, x) canonicalizes to (x, x), so
    # filtering the cached distinct by a = b yields exactly the distinct
    # selfer set.
    eall = (
        edges.select(
            F.greatest(F.col(src), F.col(dst)).alias("a"),
            F.least(F.col(src), F.col(dst)).alias("b"),
        )
        .distinct()
        .persist()
    )
    selfers = eall.where(F.col("a") == F.col("b")).select(
        F.col("a").alias("id")
    )
    e = eall.where(F.col("a") != F.col("b"))

    def checksum(d: DataFrame) -> tuple:
        row = d.agg(
            F.count("*").alias("n"),
            # decimal sum: int64 hash values overflow long addition under ANSI
            F.sum(F.xxhash64("a", "b").cast("decimal(38,0)")).alias("h"),
        ).collect()[0]
        return (row.n, row.h)

    prev = checksum(e)
    if prev[0] <= CC_DRIVER_EDGE_CAP:
        # broadcast-class graph: solve exactly on the driver (module
        # constant above). The checksum that gates this already
        # materialized the persisted edge set, so the collect reads
        # cached blocks; selfers is collected under the same cap with a
        # loud fallback (limit cap+1) since its size is not yet known.
        selfer_rows = selfers.limit(CC_DRIVER_EDGE_CAP + 1).collect()
        if len(selfer_rows) <= CC_DRIVER_EDGE_CAP:
            with arrow_enabled(edges.sparkSession):
                pdf = e.toPandas()
            labels = _driver_components(
                zip(pdf["a"].tolist(), pdf["b"].tolist()),
                extra_nodes=[r[0] for r in selfer_rows],
            )
            id_type = e.schema["a"].dataType
            out = _cc_driver_result(edges.sparkSession, labels, id_type)
            eall.unpersist()
            return out
    for _ in range(CC_MAX_ROUNDS):
        # ---- large-star: neighbors above u hang off min(Γ(u) ∪ {u})
        sym = e.union(e.select(F.col("b").alias("a"), F.col("a").alias("b")))
        mins = sym.groupBy("a").agg(
            F.least(F.min("b"), F.first("a")).alias("m")
        )
        large = (
            sym.join(mins, "a")
            .where(F.col("b") > F.col("a"))
            .select(F.col("b").alias("a"), F.col("m").alias("b"))
            .where(F.col("a") != F.col("b"))
            .distinct()
        )
        # ---- small-star: orient hi→lo, attach u and its low neighbors
        # to the minimum of the low neighborhood
        smins = large.groupBy("a").agg(F.min("b").alias("m"))
        small = (
            large.join(smins, "a")
            .select(F.col("b").alias("a"), F.col("m").alias("b"))
            .union(smins.select(F.col("a"), F.col("m").alias("b")))
            .where(F.col("a") != F.col("b"))
            .distinct()
        ).localCheckpoint(eager=False)
        # lazy checkpoint EVERY round, materialized by the checksum action
        # (one job per round, not two): each star round references the edge
        # set ~8x (sym twice, large three times), so without per-round
        # truncation the logical plan grows 8^rounds
        cur = checksum(small)
        # eall stays cached for the whole loop: selfers filters it at the
        # END (convergence branch), and re-deriving selfers from raw
        # `edges` there would re-run the caller's pair pipeline. Round-1's
        # `e` is a plain filter over it, so this unpersist is a no-op
        # then and releases the per-round checkpoint afterwards.
        e.unpersist()
        e = small
        if cur == prev:
            roots = e.select("b").distinct().select(
                F.col("b").alias("id"), F.col("b").alias("cluster_id")
            )
            labeled = e.select(
                F.col("a").alias("id"), F.col("b").alias("cluster_id")
            ).union(roots)
            # eagerly materialized (tiny: self-loop-only nodes) so eall
            # can be released NOW — a lazy anti-join would read it at
            # result-materialization time, after the unpersist
            singles = (
                selfers.join(labeled, "id", "left_anti")
                .select(F.col("id"), F.col("id").alias("cluster_id"))
                .localCheckpoint(eager=True)
            )
            eall.unpersist()
            return labeled.union(singles)
        prev = cur

    eall.unpersist()
    raise RuntimeError(
        f"connected_components did not converge in {CC_MAX_ROUNDS} rounds"
    )


PAGERANK_ITERS = 3
PAGERANK_DAMP_PCT = 85  # 0.85 damping as an integer percentage
PAGERANK_SCALE = 1_000_000  # ranks in micro-units


def pagerank(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    iters: int = PAGERANK_ITERS,
    damp_pct: int = PAGERANK_DAMP_PCT,
) -> DataFrame:
    """Fixed-iteration PageRank over the undirected pair graph, in EXACT
    integer arithmetic so every engine lands on identical ranks.

    Ranks live in micro-units (init 1e6 per node); one iteration is

        r'(v) = (1-d)·1e6 + (d · Σ_{u∈Γ(v)} r(u) div deg(u)) div 100

    with d as an integer percentage and `div` integer division — no
    floats anywhere, so results are independent of summation order and
    bit-identical on DuckDB (which unrolls the same ``iters`` rounds).
    Integer div truncation loses ≤ deg(u) micro-units of mass per node
    per round — a ~1e-6 relative perturbation, far below any ranking
    decision, in exchange for exactness of the oracle gate.

    Isolated nodes never enter (edges define the node set); dangling
    nodes cannot exist in a symmetrized graph (every node has deg ≥ 1).

    Scale (100 TB): each iteration is one equi-join of ranks to the
    symmetrized edges plus one groupBy on the neighbor id — both shuffle
    on the uniform node key and reuse the same partitioning; iterations
    are a FIXED count, each round lazily localCheckpointed and
    materialized by a 1-row checksum so lineage stays one round deep
    (the CC fixpoint discipline). Degree skew (a celebrity node) is a
    hot REDUCE key absorbed by partial aggregation of the contribution
    sum — only (node, partial-sum) rows cross the wire.
    """
    sym = (
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .union(edges.select(F.col(dst).alias("a"), F.col(src).alias("b")))
        .where(F.col("a") != F.col("b"))
        .distinct()
        .persist()
    )
    deg = sym.groupBy("a").agg(F.count("*").alias("deg"))
    ranks = deg.select(
        F.col("a").alias("id"),
        "deg",
        F.lit(PAGERANK_SCALE).cast("long").alias("rank_micro"),
    )
    base = (100 - damp_pct) * PAGERANK_SCALE // 100
    for _ in range(iters):
        contrib = (
            sym.join(ranks, sym["a"] == ranks["id"])
            .select(
                F.col("b").alias("id"),
                F.expr("rank_micro div deg").alias("c"),
            )
            .groupBy("id")
            .agg(F.sum("c").alias("s"))
        )
        ranks = (
            ranks.select("id", "deg")
            .join(contrib, "id", "left")
            .select(
                "id",
                "deg",
                F.expr(
                    f"{base} + ({damp_pct} * coalesce(s, 0)) div 100"
                ).alias("rank_micro"),
            )
        ).localCheckpoint(eager=False)
        ranks.agg(F.count("*")).collect()  # materialize, truncate lineage
    sym.unpersist()
    return ranks


def cluster_representatives(
    pairs: DataFrame,
    scores: DataFrame,
    src: str = "doc_a",
    dst: str = "doc_b",
    id_col: str = "doc_id",
    score_col: str = "quality_score",
) -> DataFrame:
    """Pick the best-quality member of every near-dup cluster — the
    curation rule that decides WHICH copy survives deduplication.

    ``pairs`` is a near-dup pair graph (LSH / cosine / Jaccard);
    ``scores`` maps ``id_col`` → ``score_col``. Components become
    clusters; each cluster's representative is its max-score member
    (ties broken toward the smallest id, so the choice is deterministic).

    Returns (cluster_id, n_members, rep_id, rep_score) — one row per
    multi-member cluster.

    Scale shape: connected_components does the heavy lifting (see module
    doc); the representative pick is a single partial-aggregating groupBy
    on cluster_id — ``max_by`` over a (score, -id) struct collapses
    map-side, no window over skewed cluster partitions.
    """
    cc = connected_components(pairs, src=src, dst=dst)
    members = cc.join(scores, cc["id"] == scores[id_col]).select(
        F.col("cluster_id"), F.col(id_col), F.col(score_col)
    )
    # min_by over (-score, id): largest score, ties toward the smallest
    # id. Negating the SCORE (numeric by contract) instead of the ID keeps
    # the tiebreak valid for string/any orderable id types — unary minus
    # on a string id was an ANSI analysis error (r7 review).
    return members.groupBy("cluster_id").agg(
        F.count("*").alias("n_members"),
        F.min_by(
            F.col(id_col),
            F.struct((-F.col(score_col)).alias("ns"), F.col(id_col)),
        ).alias("rep_id"),
        F.max(score_col).alias("rep_score"),
    )
