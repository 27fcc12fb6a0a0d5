"""Distributed connected components, PageRank and chain resolution.

Why connected components exists: the dedup family (operators/dedup.py)
emits verified near-duplicate PAIRS.  Dropping ``id_b`` per pair is only
correct when every non-minimum cluster member appears as some pair's
larger side — false in general (cluster {1,2,3} with edges (1,3),(2,3)
only: node 2 is never an ``id_b``, so 1 AND 2 both survive even though
they are transitively near-duplicates via 3).  Cluster-level dedup needs
the connected components of the pair graph (q65), then one survivor per
component.

Algorithm: alternating large-star / small-star (Kiveris et al.,
"Connected Components in MapReduce and Beyond", SoCC'14) — converges in
O(log^2 n) rounds on any graph (O(log n) in practice), vs O(diameter)
for naive min-label propagation, which degrades to thousands of rounds
on chain-shaped duplicate clusters (crawl mirrors produce exactly those).

Every round is two shuffle-shaped primitives, both 100 TB-safe:

- per-node minimum: ``groupBy(src).agg(min(dst))`` — partial aggregation
  combines map-side, so a hub node's edges reduce to one (node, min) row
  per map partition before the shuffle;
- edge re-pointing: an equi-join of the edge list against that (node, min)
  frame.  No ``collect_list`` adjacency materialization anywhere — a node
  with 10^8 neighbors never assembles them in one task's memory.

Skew: the component-minimum node's degree grows as stars form; the join
key distribution is exactly what AQE skew-join splitting handles, and the
groupBy side is immune (partial agg).  Lineage: each round ends in
``localCheckpoint`` — 2x-per-round plan growth would otherwise blow the
driver's analyzer stack by round ~15.

Reference scope note: the reference (dbpedia/predicate-finder) has no
graph clustering; this is part of the training-data-pipeline extension
surface (SURVEY.md §6), composed with operators/dedup.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# Runaway bounds and fixed parameters of the iterative operators below.
_CC_MAX_ROUNDS = 50
_PR_DAMPING_PCT = 85
_PR_SCALE = 10**12
_CHAIN_DOUBLINGS = 6


def _symmetric(edges: DataFrame) -> DataFrame:
    """Both directions, self-loops dropped, deduped: canonical edge state."""
    fwd = edges.select(F.col("src").cast("long").alias("src"), F.col("dst").cast("long").alias("dst"))
    rev = fwd.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    return fwd.union(rev).filter(F.col("src") != F.col("dst")).distinct()


def _node_min(edges: DataFrame) -> DataFrame:
    """(node, m) where m = min(neighbors(node) ∪ {node}).  Edges symmetric."""
    return edges.groupBy("src").agg(
        F.least(F.min("dst"), F.first("src")).alias("m")
    )


def _large_star(edges: DataFrame) -> DataFrame:
    """Connect every strictly-larger neighbor of u to m(u).

    For each symmetric edge (u, v) with v > u: emit (v, m(u)).  Smaller
    neighbors are covered from v's own perspective (the edge list is
    symmetric).  Output is re-symmetrized by the round driver.
    """
    m = _node_min(edges)
    return (
        edges.filter(F.col("dst") > F.col("src"))
        .join(m, "src")
        .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
    )


def _small_star(edges: DataFrame) -> DataFrame:
    """Connect every smaller-or-equal neighbor of u — and u itself — to m(u)."""
    m = _node_min(edges)
    to_smaller = (
        edges.filter(F.col("dst") <= F.col("src"))
        .join(m, "src")
        .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
    )
    self_edge = m.select(F.col("src"), F.col("m").alias("dst"))
    return to_smaller.union(self_edge)


def _state_digest(edges: DataFrame) -> tuple[int, int]:
    """Order-independent fingerprint of the edge set for convergence checks.

    (count, bit_xor of xxhash64(src,dst)) — one tiny aggregate per round; an
    unchanged digest on a deduped edge set means an unchanged set (up to a
    hash-collision probability ~2^-64 per round, irrelevant here).  XOR
    instead of SUM: overflow-free under ANSI mode at any row count, and the
    edge set is ``distinct()`` so XOR's duplicate-cancellation can't fire.
    """
    row = edges.agg(
        F.count(F.lit(1)).alias("n"),
        F.coalesce(F.bit_xor(F.xxhash64("src", "dst")), F.lit(0)).alias("h"),
    ).first()
    return int(row["n"]), int(row["h"])


def _release(checkpoint: DataFrame) -> None:
    """Drop the blocks of an eager ``localCheckpoint``.  The checkpoint is
    a persisted RDD under the frame's ``LogicalRDD`` node, which
    ``DataFrame.unpersist`` (a catalog-cache operation) leaves in place."""
    checkpoint._jdf.queryExecution().analyzed().rdd().unpersist(False)


def connected_components(pairs: DataFrame) -> DataFrame:
    """Connected components of the undirected pair graph ``pairs(id_a,
    id_b)``.

    Returns ``(node, component)`` (both long) for every node that appears
    in ``pairs``, where ``component`` is the MINIMUM node id in the
    component — deterministic, so downstream survivor selection and the
    DuckDB recursive-CTE oracle agree exactly.

    Raises after 50 alternating rounds without a fixpoint — the
    algorithm's bound is O(log^2 n), so 50 covers any real graph and a
    non-convergence is a bug, not a tuning problem.
    """
    edges = _symmetric(pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst")))
    edges = edges.localCheckpoint(eager=True)
    digest = _state_digest(edges)
    for _ in range(_CC_MAX_ROUNDS):
        stars = _small_star(_symmetric(_large_star(edges)))
        new_edges = _symmetric(stars).localCheckpoint(eager=True)
        new_digest = _state_digest(new_edges)
        _release(edges)
        edges, digest_prev, digest = new_edges, digest, new_digest
        if digest == digest_prev:
            break
    else:
        raise RuntimeError(f"connected_components: no fixpoint in {_CC_MAX_ROUNDS} rounds")
    # At the fixpoint every edge is (member, component_min) or its mirror;
    # keep the downward direction and fold each node to its minimum target.
    comp = (
        edges.filter(F.col("dst") < F.col("src"))
        .groupBy("src")
        .agg(F.min("dst").alias("component"))
        .select(F.col("src").alias("node"), "component")
    )
    # component minima map to themselves
    mins = comp.select(F.col("component").alias("node")).distinct().withColumn(
        "component", F.col("node")
    )
    result = comp.union(mins).groupBy("node").agg(F.min("component").alias("component"))
    result = result.localCheckpoint(eager=True)
    _release(edges)
    return result


def pagerank(edges: DataFrame, n_iter: int = 5) -> DataFrame:
    """PageRank over a directed edge list ``edges(src, dst)`` ->
    ``(node, rank_units, rank)`` for every node that appears in an edge.

    Entity-salience ranking for the materialized KG (plans/pipeline.py
    materialize_graph edges): which entities anchor the graph.  The
    reference has no graph analytics; this extends the training-data
    surface (SURVEY.md §6) the same way connected_components does.

    Determinism at any parallelism — the property float PageRank cannot
    give: ranks live in LONG micro-units (1e12 per unit mass) and every
    per-iteration reduction is an integer sum, so partition order cannot
    change a single bit.  Per-edge contribution uses exact integer
    division (``r div deg`` — floor mass loss <= deg units per node per
    iteration, ~1e-12 of total mass); with damping d = 85 (percent) and
    scale = 1e12 the update is

        r'(v) = (100-d)*scale // (100*n)
                + d * (sum_contrib(v) + dangling_sum // n) // 100

    mirroring the float recurrence exactly up to the documented floors.
    This makes the WHOLE k-iteration computation value-exact expressible
    in ANSI SQL (the q72 oracle unrolls it), not tolerance-checked.

    100 TB shape: per iteration ONE equi-join of the edge list against the
    rank frame (both shuffled on node id; AQE splits hub-key skew) and ONE
    partial-agg groupBy(dst) — no adjacency materialization, no windows,
    no driver-side loops over rows.  The only driver scalars are n (once)
    and the 1-row dangling-mass aggregate per iteration, whose set of
    nodes with out-edges is read from the checkpointed edge list.  Edge
    list and rank state are localCheckpointed so the plan stays
    iteration-sized, and each superseded checkpoint is released once its
    successor exists, so a call leaves one persisted RDD behind: the
    returned ranks.

    Self-loops contribute to their own node (counted in out-degree);
    multi-edges are deduped.
    """
    e = edges.select("src", "dst").distinct()
    nodes = (
        e.select(F.col("src").alias("node"))
        .union(e.select(F.col("dst").alias("node")))
        .distinct()
    )
    nodes = nodes.localCheckpoint(eager=True)
    n = nodes.count()
    if n == 0:
        return nodes.select(
            "node", F.lit(0).cast("long").alias("rank_units"),
            F.lit(0.0).alias("rank"),
        )
    deg = e.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    ed = e.join(deg, "src").localCheckpoint(eager=True)
    teleport = ((100 - _PR_DAMPING_PCT) * _PR_SCALE) // (100 * n)
    ranks = nodes.select("node", F.lit(_PR_SCALE // n).cast("long").alias("r"))
    has_out = ed.select(F.col("src").alias("node")).distinct()
    for i in range(n_iter):
        contrib = (
            ed.join(ranks, ed["src"] == ranks["node"])
            .select(F.col("dst").alias("node"), F.expr("r div deg").alias("c"))
            .groupBy("node")
            .agg(F.sum("c").alias("contrib"))
        )
        dang_row = (
            ranks.join(has_out, "node", "left_anti").agg(F.sum("r")).first()[0]
        )
        dang_share = (dang_row or 0) // n
        new_ranks = (
            nodes.join(contrib, "node", "left")
            .select(
                "node",
                (
                    F.lit(teleport)
                    + F.expr(
                        f"{_PR_DAMPING_PCT} * (coalesce(contrib, 0L) + {dang_share}L) div 100"
                    )
                ).cast("long").alias("r"),
            )
            .localCheckpoint(eager=True)
        )
        if i:
            _release(ranks)
        ranks = new_ranks
    _release(ed)
    if n_iter:
        _release(nodes)
    return ranks.select(
        "node",
        F.col("r").alias("rank_units"),
        (F.col("r").cast("double") / F.lit(float(_PR_SCALE))).alias("rank"),
    )


def resolve_chains(mapping: DataFrame) -> DataFrame:
    """Resolve redirect/sameAs chains to their terminal target by pointer
    doubling: ``(src, target)`` for every source in ``mapping(src, dst)``.

    Entity canonicalization at KG scale — Wikipedia-style redirect tables
    are chains (A -> B -> C), and triples must land on the canonical id.
    Naive chase is O(chain length) joins; pointer doubling composes the
    mapping with itself (``m[x] = m[m[x]]`` where defined), so ``k``
    rounds resolve chains up to 2^k links — the 6 rounds run here cover
    length-64 chains, far beyond real redirect data — in ``k`` self-joins
    of a DICTIONARY-SIZED frame.  Each round is one equi-join + coalesce;
    no loops over rows, no recursion on the driver.  Each round's
    localCheckpoint is released once the next one exists, so a call
    leaves one persisted RDD behind: the last round's.

    Cycles (A -> B -> A) never terminate at a sink; after the final
    round any src whose target still has an outgoing edge is dropped,
    with the same left_anti shape the dedup family uses (a cyclic
    redirect is data corruption — the caller decides policy; dropping is
    the conservative default, documented).
    """
    m = mapping.select(
        F.col("src").cast("string").alias("src"),
        F.col("dst").cast("string").alias("dst"),
    ).filter(F.col("src") != F.col("dst")).distinct()
    for i in range(_CHAIN_DOUBLINGS):
        nxt = m.select(F.col("src").alias("_s"), F.col("dst").alias("_d"))
        new_m = (
            m.join(nxt, m["dst"] == nxt["_s"], "left")
            .select("src", F.coalesce("_d", "dst").alias("dst"))
            .localCheckpoint(eager=True)
        )
        if i:
            _release(m)
        m = new_m
    # drop unresolved (cyclic) sources: their target still redirects
    heads = m.select(F.col("src").alias("_h")).distinct()
    resolved = m.join(heads, m["dst"] == heads["_h"], "left_anti")
    return resolved.select("src", F.col("dst").alias("target"))
