"""Edge-semantics tests for connected components (operators/graph.py).

The oracle suite (ql23) proves parity with DuckDB's recursive-CTE
transitive closure on fixture data; these pin convergence behavior on
crafted graph shapes, on both execution paths (driver union-find and the
distributed star contraction).
"""

from __future__ import annotations

import pytest

from streamsurfer_spark.operators import graph
from streamsurfer_spark.operators.graph import connected_components


def _cc(spark, edges, schema="src long, dst long"):
    df = spark.createDataFrame(edges, schema)
    return {r.id: r.cluster_id for r in connected_components(df).collect()}


@pytest.fixture
def force_distributed(monkeypatch):
    """Route connected_components past the driver union-find path so the
    distributed star contraction stays covered."""
    monkeypatch.setattr(graph, "CC_DRIVER_EDGE_CAP", -1)


def test_two_components(spark):
    got = _cc(spark, [(1, 2), (2, 3), (10, 11)])
    assert got == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10}


def test_chain_longer_than_checkpoint_interval(spark, force_distributed):
    # a 9-node path needs several contraction rounds, each truncating
    # lineage through its localCheckpoint
    edges = [(i, i + 1) for i in range(1, 9)]
    got = _cc(spark, edges)
    assert got == {i: 1 for i in range(1, 10)}


def test_direction_does_not_matter(spark):
    # label flows against edge direction too (undirected semantics)
    got = _cc(spark, [(5, 1), (5, 9)])
    assert got == {1: 1, 5: 1, 9: 1}


def test_max_iter_exceeded_raises(spark, force_distributed, monkeypatch):
    # a 64-node path needs ~log2(64) contraction rounds; 2 cannot finish it
    monkeypatch.setattr(graph, "CC_MAX_ROUNDS", 2)
    edges = [(i, i + 1) for i in range(1, 64)]
    df = spark.createDataFrame(edges, "src long, dst long")
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(df)


def test_driver_fastpath_matches_distributed(spark, monkeypatch):
    """The driver union-find path must label EXACTLY like the star
    contraction — same node set, same min-id clusters — across the
    crafted shapes (mixed components, self-loop-only node,
    reversed/duplicate edges, a long chain, string ids)."""
    longs = "src long, dst long"
    shapes = [
        ([(1, 2), (2, 3), (3, 1), (10, 11), (20, 21), (21, 22), (22, 23), (40, 41)], longs),
        ([(7, 7), (1, 2)], longs),
        ([(5, 1), (1, 5), (5, 9), (9, 5), (9, 5)], longs),
        ([(i, i + 1) for i in range(1, 20)], longs),
        # string ids: UTF8 binary order == codepoint order, so the driver
        # min matches Spark's min
        ([("b", "a"), ("b", "c")], "src string, dst string"),
    ]
    for edges, schema in shapes:
        monkeypatch.setattr(graph, "CC_DRIVER_EDGE_CAP", 10_000)
        fast = _cc(spark, edges, schema)
        monkeypatch.setattr(graph, "CC_DRIVER_EDGE_CAP", -1)
        slow = _cc(spark, edges, schema)
        assert fast == slow, edges[:3]
    assert fast == {"a": "a", "b": "a", "c": "a"}  # last shape: string ids


def test_driver_fastpath_schema_and_empty(spark):
    """Fast-path output schema must equal the distributed schema (id,
    cluster_id with the edge id type), and an empty edge frame yields an
    empty result, not an error."""
    df = spark.createDataFrame([(1, 2)], "src long, dst long")
    out = connected_components(df)
    assert [f.name for f in out.schema.fields] == ["id", "cluster_id"]
    assert [f.dataType.simpleString() for f in out.schema.fields] == ["bigint", "bigint"]
    empty = spark.createDataFrame([], "src long, dst long")
    assert connected_components(empty).count() == 0


def test_star_adversarial_long_chain_converges_in_log_rounds(
    spark, force_distributed, monkeypatch
):
    # a 64-node path has diameter 63, but the star contraction halves
    # path length every round, so 10 rounds (~log2(64) + slack) suffice
    monkeypatch.setattr(graph, "CC_MAX_ROUNDS", 10)
    edges = [(i, i + 1) for i in range(1, 64)]
    got = _cc(spark, edges)
    assert got == {i: 1 for i in range(1, 65)}


def test_star_direction_and_duplicates(spark):
    # reversed + duplicate edges collapse to the same canonical set
    got = _cc(spark, [(5, 1), (1, 5), (5, 9), (9, 5), (9, 5)])
    assert got == {1: 1, 5: 1, 9: 1}


def test_star_keeps_selfloop_only_nodes(spark, force_distributed):
    """A node whose only edge is a self-loop is filtered out of the
    contracted edge set; it must come back as a singleton cluster."""
    got = _cc(spark, [(7, 7), (1, 2)])
    assert got == {7: 7, 1: 1, 2: 1}


def test_label_checksum_survives_huge_ids(spark, force_distributed):
    """The per-round convergence checksum sums in DECIMAL(38,0): raw long
    sums of 64-bit hash-style values overflow under ANSI after a handful
    of rows."""
    big = 9_100_000_000_000_000_000
    got = _cc(spark, [(big, big - 1), (big - 1, big - 2)])
    assert got == {big: big - 2, big - 1: big - 2, big - 2: big - 2}


def test_cluster_representatives_string_ids(spark):
    """The max-score/min-id tiebreak negates the SCORE, not the id, so
    string ids work (unary minus on a string id was an ANSI analysis
    error — r7 review)."""
    from streamsurfer_spark.operators.graph import cluster_representatives

    pairs = spark.createDataFrame(
        [("a", "b"), ("b", "c")], "doc_a string, doc_b string"
    )
    scores = spark.createDataFrame(
        [("a", 0.5), ("b", 0.9), ("c", 0.9)], "doc_id string, quality_score double"
    )
    got = cluster_representatives(pairs, scores).collect()
    assert len(got) == 1
    # max score 0.9 tied between b and c -> smallest id 'b'
    assert got[0].rep_id == "b" and got[0].n_members == 3
