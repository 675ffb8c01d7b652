"""Connected components vs a plain union-find on the same edges."""

import random

from pyspark.sql import functions as F

from gobblin_spark.functions import graph as G


def _uf_components(edges, nodes):
    parent = {n: n for n in nodes}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    # canonicalize to the min id of each set
    comp = {}
    for n in nodes:
        r = find(n)
        comp.setdefault(r, []).append(n)
    return {n: min(comp[find(n)]) for n in nodes}


def test_components_match_union_find_on_random_graph(spark):
    rng = random.Random(7)
    nodes = list(range(60))
    edges = [(rng.choice(nodes), rng.choice(nodes)) for _ in range(45)]
    edges = [(a, b) for a, b in edges if a != b]
    df = spark.createDataFrame(edges, "id_a long, id_b long")
    got = {r.id: r.component
           for r in G.connected_components(df).collect()}
    touched = sorted({n for e in edges for n in e})
    want = _uf_components(edges, touched)
    assert got == {n: want[n] for n in touched}


def test_long_chain_needs_multiple_iterations(spark):
    # a 30-node path: diameter 29, forces real multi-round propagation
    edges = [(i, i + 1) for i in range(30)]
    df = spark.createDataFrame(edges, "id_a long, id_b long")
    got = {r.id: r.component for r in G.connected_components(df, max_iter=40).collect()}
    assert set(got.values()) == {0} and len(got) == 31


def test_keep_one_per_component_transitive(spark):
    # A~B, B~C: only one of {1,2,3} survives even though (1,3) is no pair
    docs = spark.createDataFrame(
        [(1, "x"), (2, "x'"), (3, "x''"), (9, "y")], "doc_id long, t string")
    pairs = spark.createDataFrame([(1, 2), (2, 3)], "id_a long, id_b long")
    out = sorted(r.doc_id for r in
                 G.keep_one_per_component(docs, pairs, "doc_id").collect())
    assert out == [1, 9]


def test_components_string_ids_exercise_old_label_carry(spark):
    """r14: the per-iteration convergence check rides the label fold
    (each node's previous label carried as max(_old) through the
    aggregate) instead of a second label⟗label join per round. String
    ids exercise the typed null literal that pads the neighbor rows
    and the min/max fold on a non-numeric component type."""
    edges = [("b", "c"), ("a", "b"), ("x", "y")]
    df = spark.createDataFrame(edges, "id_a string, id_b string")
    got = {r.id: r.component
           for r in G.connected_components(df).collect()}
    assert got == {"a": "a", "b": "a", "c": "a", "x": "x", "y": "x"}


def test_convergence_guard_raises(spark):
    edges = [(i, i + 1) for i in range(30)]
    df = spark.createDataFrame(edges, "id_a long, id_b long")
    import pytest as _pt
    with _pt.raises(RuntimeError, match="convergence"):
        G.connected_components(df, max_iter=2)


def test_components_release_superseded_checkpoints(spark):
    """Each round's label table is released once the next has
    materialized, and the edge table on return: a call pins at most
    one RDD, the returned labels — a chain of 12 runs a dozen rounds."""
    sc = spark._jsc.sc()
    df = spark.createDataFrame([(i, i + 1) for i in range(12)],
                               "id_a long, id_b long")
    before = sc.getPersistentRDDs().size()
    kept = [G.connected_components(df) for _ in range(3)]
    assert sc.getPersistentRDDs().size() <= before + 3
    for cc in kept:
        assert {r.component for r in cc.collect()} == {0}


def _pr_reference(edges, iterations=3, d=0.85):
    # plain-Python reference: undirected, rank' = (1-d)/N + d*sum(in)/deg
    adj = {}
    for a, b in edges:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    n = len(adj)
    rank = {x: 1.0 / n for x in adj}
    for _ in range(iterations):
        nxt = {}
        for x in adj:
            s = sum(rank[y] / len(adj[y]) for y in adj[x])
            nxt[x] = (1.0 - d) / n + d * s
        rank = nxt
    return rank


def test_pagerank_matches_python_reference(spark):
    rng = random.Random(11)
    edges = {(rng.randrange(40), rng.randrange(40)) for _ in range(60)}
    edges = [(a, b) for a, b in edges if a != b]
    df = spark.createDataFrame(edges, "id_a long, id_b long")
    got = {r.id: r["rank"] for r in G.pagerank_undirected(df).collect()}
    want = _pr_reference(edges)
    assert set(got) == set(want)
    for k in want:
        assert abs(got[k] - want[k]) < 1e-12, (k, got[k], want[k])


def test_pagerank_mass_conserved_and_star_center_wins(spark):
    # star: center 0 linked to 1..9 — center must outrank every leaf,
    # total mass must stay 1.0 each round
    edges = [(0, i) for i in range(1, 10)]
    df = spark.createDataFrame(edges, "id_a long, id_b long")
    rows = G.pagerank_undirected(df, iterations=5).collect()
    total = sum(r["rank"] for r in rows)
    assert abs(total - 1.0) < 1e-9
    ranks = {r.id: r["rank"] for r in rows}
    assert all(ranks[0] > ranks[i] for i in range(1, 10))
    # leaves are symmetric -> identical ranks
    leaf = {round(ranks[i], 12) for i in range(1, 10)}
    assert len(leaf) == 1


def test_pagerank_empty_edges_returns_empty(spark):
    """Audit r9: an empty pair list must return an empty (id, rank)
    frame, not ZeroDivisionError from the teleport term."""
    from gobblin_spark.functions.graph import pagerank_undirected

    empty = spark.createDataFrame([], "id_a long, id_b long")
    out = pagerank_undirected(empty)
    assert out.columns == ["id", "rank"] and out.count() == 0


def test_pagerank_dedup_edges_false_equals_default_on_disjoint_ids(spark):
    """dedup_edges=False (guide §2.4: the caller proves the bidirected
    expansion duplicate-free, the operator skips one full edge-table
    shuffle) must be bit-identical to the safe default on a bipartite
    graph with disjoint id spaces — the exact contract the
    pagerank_partsupp headline query relies on."""
    edges = [(2 * p, 2 * s + 1) for p in range(6) for s in range(4)
             if (p + s) % 3]
    df = spark.createDataFrame(edges, "id_a long, id_b long")
    safe = {r.id: r["rank"]
            for r in G.pagerank_undirected(df, iterations=3).collect()}
    fast = {r.id: r["rank"]
            for r in G.pagerank_undirected(
                df, iterations=3, dedup_edges=False).collect()}
    assert safe == fast
