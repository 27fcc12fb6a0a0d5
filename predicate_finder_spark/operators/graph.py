"""Distributed connected components and cluster-level deduplication.

Why this operator exists: the dedup family (operators/dedup.py) emits
verified near-duplicate PAIRS.  Dropping ``id_b`` per pair is only correct
when every non-minimum cluster member appears as some pair's larger side —
false in general (cluster {1,2,3} with edges (1,3),(2,3) only: node 2 is
never an ``id_b``, so 1 AND 2 both survive even though they are
transitively near-duplicates via 3).  Cluster-level dedup needs the
connected components of the pair graph, then one survivor per component.

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


def connected_components(
    pairs: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    vertices: DataFrame | None = None,
    id_col: str = "doc_id",
    max_iter: int = 50,
) -> DataFrame:
    """Connected components of an undirected pair graph.

    Returns ``(node, component)`` (both long) where ``component`` is the
    MINIMUM node id in the component — deterministic, so downstream
    survivor selection and the DuckDB recursive-CTE oracle agree exactly.

    ``vertices``: optional frame of all node ids (``id_col``); isolated
    vertices (no pair) come back as their own singleton component.  Without
    it, only nodes appearing in ``pairs`` are returned.

    Raises after ``max_iter`` alternating rounds without a fixpoint —
    the algorithm's bound is O(log^2 n), so 50 covers any real graph and a
    non-convergence is a bug, not a tuning problem.
    """
    edges = _symmetric(pairs.select(F.col(src).alias("src"), F.col(dst).alias("dst")))
    edges = edges.localCheckpoint(eager=True)
    digest = _state_digest(edges)
    for _ in range(max_iter):
        stars = _small_star(_symmetric(_large_star(edges)))
        new_edges = _symmetric(stars).localCheckpoint(eager=True)
        new_digest = _state_digest(new_edges)
        _release(edges)
        edges, digest_prev, digest = new_edges, digest, new_digest
        if digest == digest_prev:
            break
    else:
        raise RuntimeError(f"connected_components: no fixpoint in {max_iter} rounds")
    # At the fixpoint every edge is (member, component_min) or its mirror;
    # keep the downward direction and fold each node to its minimum target.
    comp = (
        edges.filter(F.col("dst") < F.col("src"))
        .groupBy("src")
        .agg(F.min("dst").alias("component"))
        .select(F.col("src").alias("node"), "component")
    )
    # component minima (and any isolated vertices) map to themselves
    members = comp
    mins = comp.select(F.col("component").alias("node")).distinct().withColumn(
        "component", F.col("node")
    )
    out = members.union(mins)
    if vertices is not None:
        verts = vertices.select(F.col(id_col).cast("long").alias("node")).distinct()
        isolated = verts.join(out.select("node"), "node", "left_anti").withColumn(
            "component", F.col("node")
        )
        out = out.union(isolated)
    result = out.groupBy("node").agg(F.min("component").alias("component"))
    result = result.localCheckpoint(eager=True)
    _release(edges)
    return result


def cluster_dedup(
    docs: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    src: str = "id_a",
    dst: str = "id_b",
) -> DataFrame:
    """Cluster-level dedup: one survivor (the minimum id) per connected
    component of the verified near-dup pair graph; docs in no pair survive.

    This is the transitive-closure-correct victim policy — see the module
    docstring for the 3-node counterexample to per-pair dropping.  The
    victim set is ``components where node != component``, dropped with one
    ``left_anti`` equi-join; the components frame is pair-graph-sized
    (O(duplicates), not O(corpus)).
    """
    comp = connected_components(pairs, src=src, dst=dst)
    victims = comp.filter(F.col("node") != F.col("component")).select(
        F.col("node").alias(id_col)
    )
    return docs.join(victims, id_col, "left_anti")


def pagerank(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    n_iter: int = 5,
    damping_pct: int = 85,
    scale: int = 10**12,
    vertices: DataFrame | None = None,
    id_col: str = "id",
) -> DataFrame:
    """PageRank over a directed edge list -> ``(node, rank_units, rank)``.

    Entity-salience ranking for the materialized KG (plans/pipeline.py
    materialize_graph edges): which entities anchor the graph.  The
    reference has no graph analytics; this extends the training-data
    surface (SURVEY.md §6) the same way connected_components does.

    Determinism at any parallelism — the property float PageRank cannot
    give: ranks live in LONG micro-units (``scale`` = 1e12 per unit mass)
    and every per-iteration reduction is an integer sum, so partition
    order cannot change a single bit.  Per-edge contribution uses exact
    integer division (``r div deg`` — floor mass loss <= deg units per
    node per iteration, ~1e-12 of total mass); the update is

        r'(v) = (100-d)*scale // (100*n)
                + d * (sum_contrib(v) + dangling_sum // n) // 100

    mirroring the float recurrence exactly up to the documented floors.
    This makes the WHOLE k-iteration computation value-exact expressible
    in ANSI SQL (the q72 oracle unrolls it), not tolerance-checked.

    100 TB shape: per iteration ONE equi-join of the edge list against the
    rank frame (both shuffled on node id; AQE splits hub-key skew) and ONE
    partial-agg groupBy(dst) — no adjacency materialization, no windows,
    no driver-side loops over rows.  The only driver scalars are n (once)
    and the 1-row dangling-mass aggregate per iteration.  Edge list and
    rank state are localCheckpointed so the plan stays iteration-sized.

    Self-loops contribute to their own node (counted in out-degree);
    multi-edges are deduped.  ``vertices`` adds isolated nodes (rank =
    teleport share only).
    """
    e = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst")).distinct()
    nodes = (
        e.select(F.col("src").alias("node"))
        .union(e.select(F.col("dst").alias("node")))
        .distinct()
    )
    if vertices is not None:
        nodes = nodes.union(
            vertices.select(F.col(id_col).alias("node"))
        ).distinct()
    nodes = nodes.localCheckpoint(eager=True)
    n = nodes.count()
    if n == 0:
        return nodes.select(
            "node", F.lit(0).cast("long").alias("rank_units"),
            F.lit(0.0).alias("rank"),
        )
    deg = e.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    ed = e.join(deg, "src").localCheckpoint(eager=True)
    teleport = ((100 - damping_pct) * scale) // (100 * n)
    ranks = nodes.select("node", F.lit(scale // n).cast("long").alias("r"))
    has_out = deg.select(F.col("src").alias("node"))
    for _ in range(n_iter):
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
        ranks = (
            nodes.join(contrib, "node", "left")
            .select(
                "node",
                (
                    F.lit(teleport)
                    + F.expr(
                        f"{damping_pct} * (coalesce(contrib, 0L) + {dang_share}L) div 100"
                    )
                ).cast("long").alias("r"),
            )
            .localCheckpoint(eager=True)
        )
    return ranks.select(
        "node",
        F.col("r").alias("rank_units"),
        (F.col("r").cast("double") / F.lit(float(scale))).alias("rank"),
    )


def resolve_chains(mapping: DataFrame, max_doubling: int = 6) -> DataFrame:
    """Resolve redirect/sameAs chains to their terminal target by pointer
    doubling: ``(src, target)`` for every source in ``mapping(src, dst)``.

    Entity canonicalization at KG scale — Wikipedia-style redirect tables
    are chains (A -> B -> C), and triples must land on the canonical id.
    Naive chase is O(chain length) joins; pointer doubling composes the
    mapping with itself (``m[x] = m[m[x]]`` where defined), so ``k``
    rounds resolve chains up to 2^k links — 6 rounds cover length-64
    chains, far beyond real redirect data — in ``k`` self-joins of a
    DICTIONARY-SIZED frame.  Each round is one equi-join + coalesce; no
    loops over rows, no recursion on the driver.

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
    for _ in range(max_doubling):
        nxt = m.select(F.col("src").alias("_s"), F.col("dst").alias("_d"))
        m = (
            m.join(nxt, m["dst"] == nxt["_s"], "left")
            .select("src", F.coalesce("_d", "dst").alias("dst"))
            .localCheckpoint(eager=True)
        )
    # drop unresolved (cyclic) sources: their target still redirects
    heads = m.select(F.col("src").alias("_h")).distinct()
    resolved = m.join(heads, m["dst"] == heads["_h"], "left_anti")
    return resolved.select("src", F.col("dst").alias("target"))
