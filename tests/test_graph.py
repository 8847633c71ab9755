"""connected_components: the operator behind near-dup clustering."""

import random

import pytest
from pyspark.sql import functions as F

from duckdb_behavioral_spark.operators.graph import (
    ConvergenceError,
    connected_components,
)


def _edges(spark, pairs):
    return spark.createDataFrame(pairs, "src long, dst long")


def _comp_map(df):
    return {r["node"]: r["comp"] for r in df.collect()}


def test_two_components(spark):
    out = _comp_map(
        connected_components(_edges(spark, [(1, 2), (2, 3), (10, 11)]))
    )
    assert out == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10}


def test_path_graph_needs_pointer_jumping(spark):
    # a 12-node path has diameter 11: plain min-propagation would need
    # 11 rounds; propagation+jumping must converge well under the cap
    n = 12
    out = _comp_map(
        connected_components(_edges(spark, [(i, i + 1) for i in range(n)]), max_iter=6)
    )
    assert out == {i: 0 for i in range(n + 1)}


def test_duplicate_and_reversed_edges(spark):
    out = _comp_map(
        connected_components(_edges(spark, [(2, 1), (1, 2), (2, 1), (3, 2)]))
    )
    assert out == {1: 1, 2: 1, 3: 1}


def test_self_loop_singleton(spark):
    out = _comp_map(connected_components(_edges(spark, [(5, 5)])))
    assert out == {5: 5}


def test_empty_edges(spark):
    assert connected_components(_edges(spark, [])).count() == 0


def test_star_converges_round_one(spark):
    out = _comp_map(
        connected_components(
            _edges(spark, [(100, k) for k in (7, 8, 9)]), max_iter=3
        )
    )
    assert out == {100: 7, 7: 7, 8: 7, 9: 7}


def test_convergence_cap_raises(spark):
    with pytest.raises(ConvergenceError):
        connected_components(_edges(spark, [(i, i + 1) for i in range(40)]), max_iter=1)


def _random_edges(seed):
    """Several components (chains, stars, random trees with extra
    edges) over shuffled ids, one long chain whose minimum sits at its
    far end, duplicate and reversed edges, and explicit self-loops
    (one of them an isolated node)."""
    rng = random.Random(seed)
    ids = iter(rng.sample(range(1, 100_000), 400))
    edges = []
    for _ in range(rng.randint(2, 6)):
        nodes = [next(ids) for _ in range(rng.randint(2, 40))]
        shape = rng.choice(("chain", "star", "tree"))
        if shape == "chain":
            edges += zip(nodes, nodes[1:])
        elif shape == "star":
            edges += [(nodes[0], n) for n in nodes[1:]]
        else:
            edges += [(n, nodes[rng.randrange(i)]) for i, n in enumerate(nodes) if i]
            edges += [tuple(rng.sample(nodes, 2)) for _ in range(len(nodes) // 4)]
    chain = sorted((next(ids) for _ in range(rng.randint(12, 40))), reverse=True)
    edges += zip(chain, chain[1:])
    edges += rng.sample(edges, 5) + [(d, s) for s, d in rng.sample(edges, 5)]
    nodes = sorted({n for e in edges for n in e})
    edges += [(n, n) for n in rng.sample(nodes, 3)] + [(next(ids),) * 2]
    rng.shuffle(edges)
    return edges


def _union_find(edges):
    """node -> min id of its component, in pure Python."""
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for s, d in edges:
        a, b = find(s), find(d)
        parent[max(a, b)] = min(a, b)
    return {n: find(n) for n in parent}


@pytest.mark.parametrize("seed", range(20))
def test_matches_union_find_on_random_graphs(spark, seed):
    edges = _random_edges(seed)
    assert _comp_map(connected_components(_edges(spark, edges))) == _union_find(edges)


def test_random_graphs_need_three_rounds(spark):
    # the generator's long chain (12+ nodes, minimum at the far end)
    # takes more than two rounds, so the comparison covers round >= 3
    with pytest.raises(ConvergenceError):
        connected_components(_edges(spark, _random_edges(0)), max_iter=2)


def test_dedup_clusters_transitive_chain(spark):
    """a~b and b~c verified but (a,c) below threshold -> one cluster.

    doc2 = 24 tokens; doc1/doc3 = 18-token prefix/suffix. Adjacent
    jaccard = 16/22 ~ 0.73 (>= 0.6); jaccard(1,3) = 10/22 ~ 0.45
    (< 0.6), so the (1,3) edge genuinely comes from transitivity.
    """
    from duckdb_behavioral_spark.functions.dedup import dedup_clusters, dedup_ngram_jaccard

    words = ["alpha", "bravo", "charlie", "delta", "echo", "foxtrot", "golf",
             "hotel", "india", "juliet", "kilo", "lima", "mike", "november",
             "oscar", "papa", "quebec", "romeo", "sierra", "tango", "uniform",
             "victor", "whiskey", "xray"]
    docs = spark.createDataFrame(
        [
            (1, " ".join(words[:18])),
            (2, " ".join(words)),
            (3, " ".join(words[6:])),
            (4, "completely different text about spark parquet files engines"),
        ],
        "doc_id long, text string",
    )
    edges = sorted((r["doc_a"], r["doc_b"]) for r in dedup_ngram_jaccard(docs).collect())
    assert edges == [(1, 2), (2, 3)]  # no direct (1,3) edge
    out = {r["doc_id"]: (r["cluster_id"], r["is_canonical"]) for r in dedup_clusters(docs).collect()}
    assert out == {1: (1, True), 2: (1, False), 3: (1, False), 4: (4, True)}
