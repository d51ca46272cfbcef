"""connected_components: min-label propagation must find exact
components on chains (worst-case diameter), cliques, and singletons."""

from __future__ import annotations


def test_connected_components_shapes(spark):
    from ontoea_spark.operators.graph import connected_components

    nodes = spark.createDataFrame([(i,) for i in range(12)], "id long")
    # chain 0-1-2-3-4, clique {6,7,8}, pair {9,11}; 5 and 10 singletons
    pairs = spark.createDataFrame(
        [
            (1, 0), (1, 2), (2, 3), (3, 4),
            (6, 7), (7, 8), (6, 8),
            (11, 9),
        ],
        "id1 long, id2 long",
    )
    got = {
        r.id: r.component
        for r in connected_components(nodes, pairs, id_col="id").collect()
    }
    want = {0: 0, 1: 0, 2: 0, 3: 0, 4: 0, 5: 5, 6: 6, 7: 6, 8: 6, 9: 9, 10: 10, 11: 9}
    assert got == want


def test_connected_components_long_chain(spark):
    """Pointer jumping must converge a 200-node chain (diameter 199)
    well inside the default 25-round cap — plain 1-hop min propagation
    would need 199 rounds and previously returned wrong labels."""
    from ontoea_spark.operators.graph import connected_components

    n = 200
    nodes = spark.createDataFrame([(i,) for i in range(n)], "id long")
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "id1 long, id2 long"
    )
    got = {
        r.id: r.component
        for r in connected_components(nodes, pairs, id_col="id").collect()
    }
    assert got == {i: 0 for i in range(n)}


def test_cc_ignores_pair_endpoints_outside_nodes(spark):
    """Pair endpoints absent from `nodes` must neither appear in the
    output nor perturb convergence (r6 review: the restructured round
    briefly emitted them with a NULL changed-flag)."""
    from ontoea_spark.operators.graph import connected_components

    nodes = spark.createDataFrame([(9,), (7,)], "id long")
    pairs = spark.createDataFrame([(9, 5), (7, 9)], "id1 long, id2 long")
    out = {r["id"]: r["component"] for r in connected_components(nodes, pairs).collect()}
    # id 5 is undeclared: no output row for it, and 9 must not learn a
    # label through it; 7-9 are connected within the declared set
    assert out == {7: 7, 9: 7}


def test_pagerank_empty_edges(spark):
    """No edges give an empty [id, pagerank] frame, not 1/0."""
    from ontoea_spark.operators.graph import pagerank

    edges = spark.createDataFrame([], "src string, dst string")
    out = pagerank(edges)
    assert out.columns == ["id", "pagerank"]
    assert out.collect() == []


def test_pagerank_drops_null_endpoints(spark):
    """An edge with a NULL endpoint is dropped before the vertex count:
    no NULL id row, and the other ranks are those of the graph without
    it."""
    from ontoea_spark.operators.graph import pagerank

    clean = [("a", "b"), ("b", "c"), ("c", "a"), ("a", "c")]
    dirty = clean + [("a", None), (None, "b"), (None, None)]
    ranks = [
        {r.id: r.pagerank for r in pagerank(
            spark.createDataFrame(rows, "src string, dst string")
        ).collect()}
        for rows in (clean, dirty)
    ]
    assert ranks[1] == ranks[0]
    assert set(ranks[0]) == {"a", "b", "c"}
