"""Connected components (large-star/small-star) vs a union-find oracle,
PageRank vs its integer Python twin, and redirect-chain resolution."""

from __future__ import annotations

import random

from pyspark.sql import functions as F

from predicate_finder_spark.operators.graph import (
    _release,
    connected_components,
    pagerank,
    resolve_chains,
)


def _union_find_components(n_nodes, edges):
    """node -> component minimum, for the nodes that appear in ``edges``."""
    parent = list(range(n_nodes))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    # fold to the true minimum per component
    roots = {}
    for v in range(n_nodes):
        r = find(v)
        roots.setdefault(r, []).append(v)
    seen = {v for e in edges for v in e}
    out = {}
    for members in roots.values():
        m = min(members)
        for v in members:
            if v in seen:
                out[v] = m
    return out


def _spark_components(spark, edges):
    df = spark.createDataFrame(edges or [(0, 0)], "id_a long, id_b long")
    if not edges:
        df = df.filter(F.lit(False))
    got = connected_components(df)
    return {r["node"]: r["component"] for r in got.collect()}


def _new_persisted(spark, before):
    return set(spark.sparkContext._jsc.getPersistentRDDs().keySet()) - before


def _unpersist(spark, ids):
    for i in ids:
        spark.sparkContext._jsc.getPersistentRDDs().get(i).unpersist(False)


def test_two_components_and_chain(spark):
    edges = [(0, 1), (1, 2), (2, 3), (10, 11), (11, 12)]
    got = _spark_components(spark, edges)
    assert got == {0: 0, 1: 0, 2: 0, 3: 0, 10: 10, 11: 10, 12: 10}


def test_connected_components_releases_superseded_rounds(spark):
    """Each round's edge checkpoint is released once the next one is
    taken: a call leaves one newly persisted RDD, the result."""
    df = spark.createDataFrame([(i, i + 1) for i in range(30)], "id_a long, id_b long")
    before = set(spark.sparkContext._jsc.getPersistentRDDs().keySet())
    got = connected_components(df)
    left = _new_persisted(spark, before)
    assert len(left) == 1, f"{len(left)} RDDs left persisted"
    assert {r["node"]: r["component"] for r in got.collect()} == {i: 0 for i in range(31)}
    _release(got)


def test_long_chain_converges_fast(spark):
    # a 60-node path is the worst case for naive min-propagation
    # (60 rounds); large-star/small-star must finish in O(log^2).
    edges = [(i, i + 1) for i in range(60)]
    got = _spark_components(spark, edges)
    assert got == {i: 0 for i in range(61)}


def test_random_graphs_match_union_find(spark):
    rng = random.Random(7)
    for trial in range(3):
        n = 40 + 20 * trial
        edges = [
            (rng.randrange(n), rng.randrange(n))
            for _ in range(int(n * 0.8))
        ]
        edges = [(a, b) for a, b in edges if a != b]
        want = _union_find_components(n, edges)
        got = _spark_components(spark, edges)
        assert got == want, f"trial {trial} mismatch"


def test_empty_pairs(spark):
    assert _spark_components(spark, []) == {}


# --- pagerank ------------------------------------------------------------

def _pagerank_py(edges, n_iter=5, damping=85, scale=10**12):
    """Pure-python twin of operators/graph.pagerank's integer recurrence."""
    from collections import Counter, defaultdict

    e = sorted(set(edges))
    nodes = sorted({u for u, _ in e} | {v for _, v in e})
    n = len(nodes)
    deg = Counter(u for u, _ in e)
    teleport = ((100 - damping) * scale) // (100 * n)
    r = {v: scale // n for v in nodes}
    for _ in range(n_iter):
        contrib = defaultdict(int)
        for u, v in e:
            contrib[v] += r[u] // deg[u]
        dang = sum(r[v] for v in nodes if deg.get(v, 0) == 0)
        share = dang // n
        r = {
            v: teleport + (damping * (contrib.get(v, 0) + share)) // 100
            for v in nodes
        }
    return r


def _spark_pagerank(spark, edges, **kw):
    df = spark.createDataFrame(edges, "src string, dst string")
    return {
        r["node"]: r["rank_units"]
        for r in pagerank(df, **kw).collect()
    }


def test_pagerank_matches_python_twin(spark):
    # deterministic pseudo-random digraph with hubs, chains and danglers
    random.seed(7)
    edges = [(f"n{random.randrange(30)}", f"n{random.randrange(30)}") for _ in range(120)]
    edges += [(f"n{i}", "hub") for i in range(10)]        # hub in-links
    edges += [("hub", "sink")]                            # sink dangles
    got = _spark_pagerank(spark, edges, n_iter=5)
    want = _pagerank_py(edges, n_iter=5)
    assert got == want


def test_pagerank_hub_ranks_highest(spark):
    # every spoke links to hub; hub spreads back across all spokes, so its
    # in-mass (8 whole ranks) dwarfs any spoke's (1/8 of hub's)
    edges = [(f"n{i}", "hub") for i in range(8)]
    edges += [("hub", f"n{i}") for i in range(8)]
    got = _spark_pagerank(spark, edges, n_iter=10)
    assert max(got, key=got.get) == "hub"
    assert got == _pagerank_py(edges, n_iter=10)


def test_pagerank_partition_invariant(spark):
    """The integer-units design goal: identical rank_units regardless of
    input partitioning (float PageRank cannot promise this)."""
    random.seed(11)
    edges = [(f"n{random.randrange(40)}", f"n{random.randrange(40)}") for _ in range(200)]
    df = spark.createDataFrame(edges, "src string, dst string")
    a = {r["node"]: r["rank_units"] for r in pagerank(df, n_iter=4).collect()}
    b = {
        r["node"]: r["rank_units"]
        for r in pagerank(df.repartition(13), n_iter=4).collect()
    }
    assert a == b


def test_pagerank_releases_superseded_checkpoints(spark):
    """The node, edge and per-iteration rank checkpoints are released once
    superseded: a call leaves one newly persisted RDD, the returned ranks."""
    edges = [(f"n{i}", f"n{(i * 7 + 3) % 25}") for i in range(25)] + [("n1", "sink")]
    df = spark.createDataFrame(edges, "src string, dst string")
    before = set(spark.sparkContext._jsc.getPersistentRDDs().keySet())
    got = pagerank(df, n_iter=5)
    left = _new_persisted(spark, before)
    assert len(left) == 1, f"{len(left)} RDDs left persisted"
    assert {r["node"]: r["rank_units"] for r in got.collect()} == _pagerank_py(edges, n_iter=5)
    _unpersist(spark, left)


# --- redirect chain resolution / canonicalization -------------------------

def test_resolve_chains_terminal_targets(spark):
    m = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "d"),      # 3-link chain
         ("x", "y"),                               # 1-link
         ("p", "q"), ("q", "p")],                  # cycle: dropped
        "src string, dst string",
    )
    got = {(r.src, r.target) for r in resolve_chains(m).collect()}
    assert got == {("a", "d"), ("b", "d"), ("c", "d"), ("x", "y")}


def test_resolve_chains_long_chain_within_doubling(spark):
    # 6 doubling rounds resolve chains of up to 64 links
    links = [(f"n{i}", f"n{i+1}") for i in range(64)]
    m = spark.createDataFrame(links, "src string, dst string")
    got = {r.src: r.target for r in resolve_chains(m).collect()}
    assert got == {f"n{i}": "n64" for i in range(64)}


def test_resolve_chains_releases_superseded_rounds(spark):
    """Each doubling round's checkpoint is released once the next one is
    taken: a call leaves one newly persisted RDD, the last round's."""
    links = [(f"n{i}", f"n{i+1}") for i in range(10)]
    m = spark.createDataFrame(links, "src string, dst string")
    before = set(spark.sparkContext._jsc.getPersistentRDDs().keySet())
    got = resolve_chains(m)
    left = _new_persisted(spark, before)
    assert len(left) == 1, f"{len(left)} RDDs left persisted"
    assert {r.src: r.target for r in got.collect()} == {f"n{i}": "n10" for i in range(10)}
    _unpersist(spark, left)
