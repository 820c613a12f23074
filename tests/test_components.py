"""Connected components (large-star/small-star) vs a plain union-find oracle."""

from __future__ import annotations

import random

import pytest

from tslib_spark.operators.components import connected_components, dedup_keep_canonical


def _union_find(n_nodes: list[int], edges: list[tuple[int, int]]) -> dict[int, int]:
    parent = {u: u for u in n_nodes}
    for a, b in edges:
        parent.setdefault(a, a)
        parent.setdefault(b, b)

    def find(x: int) -> int:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    # component = min id: one more sweep so every root is its tree's min
    return {u: min(v for v in parent if find(v) == find(u)) for u in parent}


def _labels(spark, edges, nodes=None, **kw) -> dict[int, int]:
    pairs = spark.createDataFrame(edges or [(0, 0)], "id_a long, id_b long")
    if not edges:
        pairs = pairs.filter("id_a < 0")
    ndf = spark.createDataFrame([(u,) for u in nodes], "doc_id long") if nodes else None
    out = connected_components(pairs, nodes=ndf, **kw).collect()
    return {r["id"]: r["component"] for r in out}


def test_random_graphs_match_union_find(spark):
    rng = random.Random(7)
    for trial in range(4):
        n = 60 + trial * 40
        edges = [
            (rng.randrange(n), rng.randrange(n))
            for _ in range(n // 2)  # sparse → many components
        ]
        nodes = list(range(n))
        want = _union_find(nodes, edges)
        got = _labels(spark, edges, nodes=nodes)
        assert got == want


def test_long_chain_converges_logarithmically(spark):
    # a 300-node path is the adversarial diameter case for label
    # propagation (O(n) rounds); large/small-star must do it in O(log n)
    edges = [(i, i + 1) for i in range(299)]
    got = _labels(spark, edges, max_iter=12)
    assert set(got.values()) == {0} and len(got) == 300


def test_isolated_nodes_and_duplicate_reversed_edges(spark):
    edges = [(5, 3), (3, 5), (3, 3), (8, 9)]
    got = _labels(spark, edges, nodes=[1, 3, 5, 8, 9])
    assert got == {1: 1, 3: 3, 5: 3, 8: 8, 9: 8}


def test_empty_edges(spark):
    got = _labels(spark, [], nodes=[4, 7])
    assert got == {4: 4, 7: 7}


def test_nonconvergence_raises(spark):
    edges = [(i, i + 1) for i in range(64)]
    pairs = spark.createDataFrame(edges, "id_a long, id_b long")
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(pairs, max_iter=1)


def test_empty_checkpoint_dir_rejected(spark):
    pairs = spark.createDataFrame([(1, 2)], "id_a long, id_b long")
    with pytest.raises(ValueError, match="checkpoint_dir"):
        connected_components(pairs, checkpoint_dir="")


def test_dedup_keep_canonical(spark):
    docs = spark.createDataFrame(
        [(i, f"doc {i}") for i in range(8)], "doc_id long, text string"
    )
    # clusters: {0,1,2} (chain), {5,6}; 3,4,7 isolated
    pairs = spark.createDataFrame([(1, 0), (1, 2), (6, 5)], "id_a long, id_b long")
    out = dedup_keep_canonical(docs, "doc_id", pairs).collect()
    got = {r["doc_id"]: r["cluster_size"] for r in out}
    assert got == {0: 3, 3: 1, 4: 1, 5: 2, 7: 1}
    assert all(r["text"] == f"doc {r['doc_id']}" for r in out)
