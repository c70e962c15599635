"""Connected-components unit semantics: transitive closure, chain
diameter, singleton handling, non-convergence guard."""

from __future__ import annotations

import pytest

from funding_monitoring_spark.operators.components import (
    connected_components,
    dedup_cluster_assignment,
)


def _pairs(spark, edges):
    return spark.createDataFrame(edges, "id_a long, id_b long")


def test_transitive_closure(spark):
    # A~B, B~C, plus D~E: two clusters through transitivity
    comp = connected_components(_pairs(spark, [(1, 2), (2, 3), (10, 11)]))
    got = {r["id"]: r["cluster_id"] for r in comp.collect()}
    assert got == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10}


def test_long_chain_converges(spark):
    # path graph 0-1-2-...-9: diameter 9 — needs several propagation
    # rounds, well within the default cap
    comp = connected_components(_pairs(spark, [(i, i + 1) for i in range(9)]))
    labels = {r["cluster_id"] for r in comp.collect()}
    assert labels == {0}


def test_non_convergence_raises(spark):
    with pytest.raises(RuntimeError, match="no convergence"):
        connected_components(
            _pairs(spark, [(i, i + 1) for i in range(9)]), max_iter=2
        )


def test_assignment_covers_singletons(spark):
    docs = spark.createDataFrame(
        [(i, f"d{i}") for i in range(6)], "doc_id long, text string"
    )
    out = dedup_cluster_assignment(docs, _pairs(spark, [(0, 1), (1, 4)]))
    rows = {r["doc_id"]: (r["cluster_id"], r["is_canonical"]) for r in out.collect()}
    assert rows[0] == (0, True) and rows[1] == (0, False) and rows[4] == (0, False)
    # untouched docs are their own canonical singletons
    assert rows[2] == (2, True) and rows[3] == (3, True) and rows[5] == (5, True)
    # exactly one canonical per cluster
    assert sum(1 for c, canon in rows.values() if canon) == 4


def test_random_graphs_match_union_find(spark):
    """Property check: hash-min propagation equals a driver-side
    union-find on random graphs (seeded) — exercises merges of
    provisional clusters, multi-component graphs, and self-loops."""
    import random

    rng = random.Random(42)
    for _ in range(5):
        n = rng.randint(5, 40)
        edges = [
            (rng.randint(0, n - 1), rng.randint(0, n - 1))
            for _ in range(rng.randint(1, 60))
        ]
        parent = list(range(n))

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for u, v in edges:
            parent[find(u)] = find(v)
        nodes_in_edges = {x for e in edges for x in e}
        expected = {
            x: min(y for y in nodes_in_edges if find(y) == find(x))
            for x in nodes_in_edges
        }
        comp = connected_components(
            _pairs(spark, [(u, v) for u, v in edges])
        )
        got = {r["id"]: r["cluster_id"] for r in comp.collect()}
        assert got == expected, (edges, got, expected)


def test_pagerank_symmetric_pair_is_uniform(spark):
    from funding_monitoring_spark.operators.components import pagerank_fixed

    edges = spark.createDataFrame(
        [("a", "b"), ("b", "a")], "src string, dst string"
    )
    ranks = {r["node"]: r["rank"] for r in pagerank_fixed(edges).collect()}
    assert abs(ranks["a"] - 0.5) < 1e-12
    assert abs(ranks["b"] - 0.5) < 1e-12


def test_pagerank_mass_conserved_and_hub_wins(spark):
    from funding_monitoring_spark.operators.components import pagerank_fixed

    # undirected star: hub h touches 3 leaves (symmetrized edges)
    pairs = [("h", "l1"), ("h", "l2"), ("h", "l3")]
    edges = spark.createDataFrame(
        pairs + [(b, a) for a, b in pairs], "src string, dst string"
    )
    ranks = {r["node"]: r["rank"] for r in pagerank_fixed(edges).collect()}
    # no dangling nodes → total mass stays 1 every iteration
    assert abs(sum(ranks.values()) - 1.0) < 1e-9
    assert all(ranks["h"] > ranks[f"l{i}"] for i in (1, 2, 3))


def test_star_cc_matches_hash_min_on_general_graph(spark):
    from funding_monitoring_spark.operators.components import (
        connected_components_star,
    )

    edges = [(1, 2), (2, 3), (10, 11), (5, 5), (7, 3), (20, 21), (21, 22)]
    a = {
        r["id"]: r["cluster_id"]
        for r in connected_components(_pairs(spark, edges)).collect()
    }
    b = {
        r["id"]: r["cluster_id"]
        for r in connected_components_star(_pairs(spark, edges)).collect()
    }
    # hash-min keeps self-loop-only nodes; star drops self loops, so
    # compare on the shared node set plus check the self-loop singleton
    assert b == {k: v for k, v in a.items() if k != 5}


def test_star_cc_converges_where_hash_min_cannot(spark):
    """The property VERDICT r2 asked for: a path graph of length >>
    hash-min's max_iter=20 cap. Hash-min must fail loudly (rounds =
    diameter); star CC must converge (rounds ~ log n) to one cluster."""
    from funding_monitoring_spark.operators.components import (
        connected_components_star,
    )

    chain = _pairs(spark, [(i, i + 1) for i in range(60)])
    with pytest.raises(RuntimeError, match="no convergence"):
        connected_components(chain)  # diameter 60 > DEFAULT_MAX_ITER
    comp = connected_components_star(chain)
    rows = {r["id"]: r["cluster_id"] for r in comp.collect()}
    assert len(rows) == 61
    assert set(rows.values()) == {0}


def test_star_cc_empty_and_nonconvergence_guard(spark):
    from funding_monitoring_spark.operators.components import (
        connected_components_star,
    )

    assert connected_components_star(_pairs(spark, [])).count() == 0
    with pytest.raises(RuntimeError, match="no convergence"):
        connected_components_star(
            _pairs(spark, [(i, i + 1) for i in range(40)]), max_iter=1
        )


# -- k-core decomposition --------------------------------------------------


def _kcore_brute(edges, k):
    from collections import defaultdict

    adj = defaultdict(set)
    for u, v in edges:
        if u != v:
            adj[u].add(v)
            adj[v].add(u)
    a = {u: set(vs) for u, vs in adj.items()}
    while True:
        doomed = [u for u, vs in a.items() if len(vs) < k]
        if not doomed:
            break
        for u in doomed:
            for v in a[u]:
                a[v].discard(u)
            del a[u]
    return {u: len(vs) for u, vs in a.items()}


def test_kcore_matches_brute_force_random(spark):
    import random

    from funding_monitoring_spark.operators.components import (
        kcore_decomposition,
    )

    rng = random.Random(71)
    for trial in range(4):
        n = 40
        edges = set()
        # a planted dense clique + sparse periphery hanging off it
        clique = list(range(8))
        for i in clique:
            for j in clique:
                if i < j and rng.random() < 0.9:
                    edges.add((i, j))
        for u in range(8, n):
            for _ in range(rng.randint(1, 3)):
                edges.add((u, rng.randrange(u)))
        k = rng.choice([2, 3, 4])
        df = spark.createDataFrame(
            [(u, v) for u, v in edges], "src long, dst long"
        )
        got = {
            r.node: r.core_deg
            for r in kcore_decomposition(df, k).collect()
        }
        assert got == _kcore_brute(edges, k), (trial, k)


def test_kcore_duplicate_and_selfloop_edges_ignored(spark):
    from funding_monitoring_spark.operators.components import (
        kcore_decomposition,
    )

    # triangle with duplicated edges (both directions) + self-loop:
    # multiplicity must not inflate degree
    rows = [(1, 2), (2, 1), (2, 3), (3, 1), (1, 1), (2, 3)]
    df = spark.createDataFrame(rows, "src long, dst long")
    got = {
        r.node: r.core_deg
        for r in kcore_decomposition(df, 2).collect()
    }
    assert got == {1: 2, 2: 2, 3: 2}
    assert kcore_decomposition(df, 3).count() == 0


def test_kcore_cascade_bound_raises(spark):
    import pytest

    from funding_monitoring_spark.operators.components import (
        kcore_decomposition,
    )

    # a 12-node path peels one layer per end per round with k=2 —
    # needs 6 rounds; a tight bound must refuse loudly
    path = [(i, i + 1) for i in range(12)]
    df = spark.createDataFrame(path, "src long, dst long")
    with pytest.raises(ValueError, match="did not converge"):
        kcore_decomposition(df, 2, max_rounds=3)
    # and with room it converges to the empty core
    assert kcore_decomposition(df, 2, max_rounds=12).count() == 0
    with pytest.raises(ValueError, match="k must be"):
        kcore_decomposition(df, 0)
