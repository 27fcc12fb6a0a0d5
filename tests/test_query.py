"""BGP matcher (operators/query.py) vs a brute-force python evaluator."""

from __future__ import annotations

import itertools

import pytest

from predicate_finder_spark.operators.query import bgp_match

TRIPLES = [
    ("alice", "knows", "bob"),
    ("alice", "knows", "carol"),
    ("bob", "knows", "carol"),
    ("carol", "knows", "alice"),
    ("alice", "works_at", "acme"),
    ("bob", "works_at", "acme"),
    ("carol", "works_at", "globex"),
    ("acme", "located_in", "springfield"),
    ("globex", "located_in", "shelbyville"),
    ("dave", "knows", "dave"),
]


def _brute(patterns, select=None, distinct=True):
    """Naive BGP evaluation: try every triple for every pattern slot."""
    results = []
    for combo in itertools.product(TRIPLES, repeat=len(patterns)):
        env: dict[str, str] = {}
        ok = True
        for (s, p, o), triple in zip(patterns, combo):
            for term, val in zip((s, p, o), triple):
                if term.startswith("?"):
                    name = term[1:]
                    if env.get(name, val) != val:
                        ok = False
                        break
                    env[name] = val
                elif term != val:
                    ok = False
                    break
            if not ok:
                break
        if ok:
            order = []
            for pat in patterns:
                for term in pat:
                    if term.startswith("?") and term[1:] not in order:
                        order.append(term[1:])
            keys = select if select is not None else order
            results.append(tuple(env[k] for k in keys))
    return set(results) if distinct else sorted(results)


@pytest.fixture(scope="module")
def triples_df(spark):
    return spark.createDataFrame(TRIPLES, ["subj", "pred", "obj"])


def _rows(df):
    return {tuple(r) for r in df.collect()}


def test_single_pattern_constant_pred(spark, triples_df):
    out = bgp_match(triples_df, [("?x", "works_at", "?y")])
    assert _rows(out) == _brute([("?x", "works_at", "?y")])


def test_two_hop_chain(spark, triples_df):
    pats = [("?p", "works_at", "?c"), ("?c", "located_in", "?t")]
    out = bgp_match(triples_df, pats)
    assert _rows(out) == _brute(pats)
    assert out.columns == ["p", "c", "t"]


def test_three_pattern_star_and_select(spark, triples_df):
    pats = [
        ("?a", "knows", "?b"),
        ("?a", "works_at", "?c"),
        ("?b", "works_at", "?c"),
    ]
    out = bgp_match(triples_df, pats, select=["a", "b"])
    assert _rows(out) == _brute(pats, select=["a", "b"])


def test_same_variable_twice_in_one_pattern(spark, triples_df):
    pats = [("?x", "knows", "?x")]
    out = bgp_match(triples_df, pats)
    assert _rows(out) == {("dave",)}


def test_all_constant_pattern_gates_existence(spark, triples_df):
    hit = bgp_match(
        triples_df, [("?x", "works_at", "acme"), ("acme", "located_in", "springfield")]
    )
    assert _rows(hit) == {("alice",), ("bob",)}
    miss = bgp_match(
        triples_df, [("?x", "works_at", "acme"), ("acme", "located_in", "shelbyville")]
    )
    assert miss.count() == 0


def test_disconnected_patterns_refused(spark, triples_df):
    pats = [("?x", "located_in", "?y"), ("?a", "knows", "carol")]
    with pytest.raises(ValueError, match="cartesian"):
        bgp_match(triples_df, pats)


def test_bag_semantics(spark, triples_df):
    # ?who knows someone who works at acme: alice knows bob(acme) and
    # carol(globex) -> bag keeps one row per binding of the JOIN, distinct
    # collapses equal projections
    pats = [("?who", "knows", "?other"), ("?other", "works_at", "acme")]
    bag = bgp_match(triples_df, pats, select=["who"], distinct=False)
    st = bgp_match(triples_df, pats, select=["who"])
    assert sorted(r[0] for r in bag.collect()) == sorted(
        t[0] for t in _brute(pats, select=["who"], distinct=False)
    )
    assert _rows(st) == _brute(pats, select=["who"])


def test_select_unbound_variable_raises(spark, triples_df):
    with pytest.raises(ValueError, match="not bound"):
        bgp_match(triples_df, [("?x", "knows", "?y")], select=["z"])


def test_join_order_seeds_most_selective(spark, triples_df):
    # regardless of pattern list order, results are identical (the greedy
    # planner is an optimization, never a semantics change)
    pats = [("?p", "works_at", "?c"), ("?c", "located_in", "?t")]
    out_fwd = bgp_match(triples_df, pats)
    out_rev = bgp_match(triples_df, list(reversed(pats)), select=["p", "c", "t"])
    assert _rows(out_fwd) == _rows(out_rev)


def test_optional_pattern_left_joins(spark, triples_df):
    # every worker, plus where their employer is located IF known
    out = bgp_match(
        triples_df,
        [("?p", "works_at", "?c")],
        optional=[("?c", "located_in", "?t")],
    )
    rows = _rows(out)
    assert ("alice", "acme", "springfield") in rows
    assert ("carol", "globex", "shelbyville") in rows
    # now an optional that misses: nobody locates 'acme' in 'nowhere'
    out2 = bgp_match(
        triples_df,
        [("?p", "works_at", "?c")],
        optional=[("?c", "knows", "?z")],  # companies know nobody
    )
    assert all(r[2] is None for r in out2.collect())
    assert out2.count() == 3


def test_optional_must_anchor(spark, triples_df):
    with pytest.raises(ValueError, match="unanchored"):
        bgp_match(
            triples_df, [("?p", "works_at", "?c")],
            optional=[("?x", "located_in", "?y")],
        )


def test_where_filter(spark, triples_df):
    out = bgp_match(
        triples_df,
        [("?p", "works_at", "?c"), ("?c", "located_in", "?t")],
        select=["p"],
        where="t = 'springfield'",
    )
    assert _rows(out) == {("alice",), ("bob",)}


def _py_reach(edges, max_hops):
    adj = {}
    for s, d in edges:
        adj.setdefault(s, set()).add(d)
    out = set()
    for start in adj:
        frontier = {start}
        for _ in range(max_hops):
            frontier = set().union(*(adj.get(x, set()) for x in frontier)) if frontier else set()
            out |= {(start, d) for d in frontier}
    return out


@pytest.mark.parametrize("max_hops", [1, 2, 3, 4, 5])
def test_transitive_pairs_exact_bound(spark, max_hops):
    from predicate_finder_spark.operators.query import transitive_pairs

    # a 6-chain plus a cycle and a branch — lengths beyond the bound must
    # NOT appear (the binary-decomposition bound is exact, not power-of-2)
    edges = [
        ("n1", "n2"), ("n2", "n3"), ("n3", "n4"), ("n4", "n5"), ("n5", "n6"),
        ("c1", "c2"), ("c2", "c1"),
        ("n2", "b1"),
    ]
    df = spark.createDataFrame(
        [(s, "next", o) for s, o in edges], ["subj", "pred", "obj"]
    )
    got = _rows(transitive_pairs(df, "next", max_hops))
    assert got == _py_reach(edges, max_hops)


@pytest.mark.parametrize("max_hops", [1, 4, 7, None])
def test_transitive_pairs_releases_superseded_levels(spark, max_hops):
    """Each doubling round checkpoints a new level; the levels it
    supersedes are released, so one call leaves exactly one newly
    persisted RDD (the returned level), and the answer is unchanged."""
    from predicate_finder_spark.operators.graph import _release
    from predicate_finder_spark.operators.query import transitive_pairs

    edges = [(f"v{i:02d}", f"v{i + 1:02d}") for i in range(39)]  # a 40-node chain
    df = spark.createDataFrame(
        [(s, "next", o) for s, o in edges], ["subj", "pred", "obj"]
    )
    before = set(spark.sparkContext._jsc.getPersistentRDDs().keySet())
    reach = transitive_pairs(df, "next", max_hops)
    left = set(spark.sparkContext._jsc.getPersistentRDDs().keySet()) - before
    assert len(left) == 1, f"{len(left)} RDDs left persisted"
    want = _py_closure(edges) if max_hops is None else _py_reach(edges, max_hops)
    assert _rows(reach) == want
    _release(reach)


def test_transitive_pairs_filters_pred(spark, triples_df):
    from predicate_finder_spark.operators.query import transitive_pairs

    got = _rows(transitive_pairs(triples_df, "knows", 2))
    knows = [(s, o) for s, p, o in TRIPLES if p == "knows"]
    assert got == _py_reach(knows, 2)


def test_path_pattern_in_bgp(spark, triples_df):
    # everyone transitively known (<=16 hops) who works somewhere
    out = bgp_match(
        triples_df,
        [("alice", "knows+", "?x"), ("?x", "works_at", "?c")],
    )
    reach = _py_reach(
        [(s, o) for s, p, o in TRIPLES if p == "knows"], 16
    )
    expect = {
        (x, c)
        for (a, x) in reach
        if a == "alice"
        for s, p, c in TRIPLES
        if p == "works_at" and s == x
    }
    assert _rows(out) == expect


def test_sparql_select_basic(spark, triples_df):
    from predicate_finder_spark.operators.query import sparql_select

    out = sparql_select(
        triples_df,
        'SELECT ?p ?t WHERE { ?p <works_at> ?c . ?c <located_in> ?t . }',
    )
    pats = [("?p", "works_at", "?c"), ("?c", "located_in", "?t")]
    got = sorted(tuple(r) for r in out.collect())
    assert got == _brute(pats, select=["p", "t"], distinct=False)
    assert out.columns == ["p", "t"]


def test_sparql_select_distinct_filter_limit(spark, triples_df):
    from predicate_finder_spark.operators.query import sparql_select

    out = sparql_select(
        triples_df,
        """SELECT DISTINCT ?p WHERE {
             ?p <works_at> ?c . ?c <located_in> ?t .
             FILTER (?t = 'springfield' && ?p != 'bob')
           } LIMIT 5""",
    )
    assert _rows(out) == {("alice",)}


def test_sparql_optional_and_star(spark, triples_df):
    from predicate_finder_spark.operators.query import sparql_select

    out = sparql_select(
        triples_df,
        "SELECT * WHERE { ?p works_at ?c . OPTIONAL { ?c located_in ?t . } }",
    )
    rows = _rows(out)
    assert ("alice", "acme", "springfield") in rows
    assert out.columns == ["p", "c", "t"]


def test_sparql_path_pattern(spark, triples_df):
    from predicate_finder_spark.operators.query import sparql_select

    out = sparql_select(
        triples_df,
        "SELECT DISTINCT ?x WHERE { alice knows+ ?x . }",
    )
    reach = _py_reach([(s, o) for s, p, o in TRIPLES if p == "knows"], 16)
    assert _rows(out) == {(x,) for a, x in reach if a == "alice"}


def test_sparql_rejects_unsupported(spark, triples_df):
    from predicate_finder_spark.operators.query import parse_sparql

    with pytest.raises(ValueError, match="unsupported query shape"):
        parse_sparql("ASK { ?x ?p ?y }")
    with pytest.raises(ValueError, match="OPTIONAL must be followed"):
        parse_sparql("SELECT ?x WHERE { ?x a ?y . OPTIONAL ?y b ?z }")


def test_sparql_reference_lookup_shape(spark, triples_df):
    """The reference's literal query shape (query_dbpedia.py): all
    predicates between two fixed entities."""
    from predicate_finder_spark.operators.query import sparql_select

    out = sparql_select(
        triples_df, "SELECT ?pr WHERE { <alice> ?pr <bob> . }"
    )
    assert sorted(r[0] for r in out.collect()) == ["knows"]


def test_no_cartesian_in_plan(spark, triples_df):
    """Connected BGPs must compile to equi-joins only."""
    pats = [
        ("?a", "knows", "?b"),
        ("?b", "works_at", "?c"),
        ("?c", "located_in", "?t"),
    ]
    plan = bgp_match(triples_df, pats)._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan


# ---------------------------------------------------------------------------
# round-5 additions: OPTIONAL groups, UNION, unbounded closure, guard rails
# ---------------------------------------------------------------------------

def _py_closure(edges):
    """Full transitive closure (unbounded) by python fixpoint."""
    reach = set(edges)
    while True:
        new = reach | {(a, d) for a, b in reach for c, d in reach if b == c}
        if new == reach:
            return reach
        reach = new


def test_optional_group_matches_as_unit(spark, triples_df):
    """The ADVICE counterexample: OPTIONAL { ?c located_in ?t . ?t knows ?r }
    — located_in matches for every company but no town knows anyone, so
    SPARQL leaves BOTH ?t and ?r unbound.  A per-pattern left join would
    wrongly bind ?t and NULL only ?r."""
    out = bgp_match(
        triples_df,
        [("?p", "works_at", "?c")],
        optional=[[("?c", "located_in", "?t"), ("?t", "knows", "?r")]],
    )
    rows = out.collect()
    assert out.columns == ["p", "c", "t", "r"]
    assert len(rows) == 3
    assert all(r["t"] is None and r["r"] is None for r in rows)
    # and a group that DOES match binds both
    out2 = bgp_match(
        triples_df,
        [("?p", "works_at", "?c")],
        optional=[[("?c", "located_in", "?t"), ("?p", "knows", "?r")]],
    )
    got = _rows(out2)
    assert ("alice", "acme", "springfield", "bob") in got
    assert ("alice", "acme", "springfield", "carol") in got


def test_sparql_optional_group_unit(spark, triples_df):
    from predicate_finder_spark.operators.query import sparql_select

    out = sparql_select(
        triples_df,
        "SELECT * WHERE { ?p works_at ?c . "
        "OPTIONAL { ?c located_in ?t . ?t knows ?r } }",
    )
    assert all(r["t"] is None and r["r"] is None for r in out.collect())


def test_filter_quoted_literals_untouched(spark, triples_df):
    from predicate_finder_spark.operators.query import _translate_filter, sparql_select

    assert _translate_filter("?x = '?foo'") == "x = '?foo'"
    assert _translate_filter("?x = 'a && b' && ?y != '||'") == (
        "x = 'a && b'  AND  y != '||'"
    )
    with pytest.raises(ValueError, match="unterminated"):
        _translate_filter("?x = 'oops")
    # end-to-end: a value containing '?' compares correctly
    df = spark.createDataFrame(
        [("q1", "asks", "?what"), ("q2", "asks", "plain")],
        ["subj", "pred", "obj"],
    )
    out = sparql_select(
        df, "SELECT ?s WHERE { ?s asks ?o . FILTER (?o = '?what') }"
    )
    assert _rows(out) == {("q1",)}


def test_sparql_union_basic(spark, triples_df):
    from predicate_finder_spark.operators.query import sparql_select

    out = sparql_select(
        triples_df,
        "SELECT DISTINCT ?a ?b WHERE { "
        "{ ?a knows ?b } UNION { ?b knows ?a } }",
    )
    knows = {(s, o) for s, p, o in TRIPLES if p == "knows"}
    assert _rows(out) == knows | {(o, s) for s, o in knows}


def test_sparql_union_null_pads_branch_only_vars(spark, triples_df):
    from predicate_finder_spark.operators.query import sparql_select

    out = sparql_select(
        triples_df,
        "SELECT ?p ?c ?t WHERE { ?p works_at ?c . "
        "{ ?c located_in ?t } UNION { ?p knows ?c } }",
    )
    rows = _rows(out)
    # branch 1 binds t; branch 2 (never matches here: nobody knows a
    # company) contributes nothing — but alignment must not error
    assert ("alice", "acme", "springfield") in rows
    assert out.columns == ["p", "c", "t"]
    # a branch that DOES fire with an unbound var NULL-pads it
    out2 = sparql_select(
        triples_df,
        "SELECT ?p ?x ?t WHERE { "
        "{ ?p works_at ?x . ?x located_in ?t } UNION { ?p knows ?x } }",
    )
    got = _rows(out2)
    assert ("alice", "acme", "springfield") in got
    assert ("alice", "bob", None) in got


def test_sparql_union_rejects_second_chain(spark):
    from predicate_finder_spark.operators.query import parse_sparql

    with pytest.raises(ValueError, match="one UNION chain"):
        parse_sparql(
            "SELECT * WHERE { { ?a p ?b } UNION { ?b p ?a } "
            "{ ?a q ?c } UNION { ?c q ?a } }"
        )
    with pytest.raises(ValueError, match="without UNION"):
        parse_sparql("SELECT * WHERE { { ?a p ?b } }")


def test_transitive_pairs_fixpoint(spark, triples_df):
    from predicate_finder_spark.operators.query import transitive_pairs

    knows = [(s, o) for s, p, o in TRIPLES if p == "knows"]
    got = _rows(transitive_pairs(triples_df, "knows", None))
    assert got == _py_closure(knows)


def test_star_path_reflexive_closure(spark, triples_df):
    """pred* = fixpoint closure + zero-length paths for every graph node."""
    out = bgp_match(triples_df, [("alice", "knows*", "?x")])
    knows = [(s, o) for s, p, o in TRIPLES if p == "knows"]
    reach = {x for a, x in _py_closure(knows) if a == "alice"}
    assert _rows(out) == {(x,) for x in reach | {"alice"}}
    # a node with NO knows edges still self-matches via the zero-hop path
    out2 = bgp_match(triples_df, [("acme", "knows*", "?x")])
    assert _rows(out2) == {("acme",)}


def test_sparql_star_path(spark, triples_df):
    from predicate_finder_spark.operators.query import sparql_select

    out = sparql_select(
        triples_df, "SELECT DISTINCT ?x WHERE { alice knows* ?x . }"
    )
    knows = [(s, o) for s, p, o in TRIPLES if p == "knows"]
    reach = {x for a, x in _py_closure(knows) if a == "alice"}
    assert _rows(out) == {(x,) for x in reach | {"alice"}}


def test_sparql_select_product_refusal(spark, triples_df):
    """VERDICT r4 item 7: the cartesian refusal must fire from the string
    front end, not just bgp_match."""
    from predicate_finder_spark.operators.query import sparql_select

    with pytest.raises(ValueError, match="cartesian product"):
        sparql_select(
            triples_df,
            "SELECT * WHERE { ?a knows ?b . ?c works_at ?d . }",
        ).collect()
    # and through a UNION branch too
    with pytest.raises(ValueError, match="cartesian product"):
        sparql_select(
            triples_df,
            "SELECT * WHERE { ?a knows ?b . "
            "{ ?c works_at ?d } UNION { ?a works_at ?d } }",
        ).collect()


def test_inverse_path(spark, triples_df):
    from predicate_finder_spark.operators.query import sparql_select

    out = bgp_match(triples_df, [("?c", "^works_at", "?p")])
    expect = {(c, p) for p, pr, c in TRIPLES if pr == "works_at"}
    assert _rows(out) == expect
    # inverse composes with closure: ^knows+ = inverse of the closure
    out2 = bgp_match(triples_df, [("?x", "^knows+", "alice")])
    knows = [(s, o) for s, p, o in TRIPLES if p == "knows"]
    reach = {x for a, x in _py_closure(knows) if a == "alice"}
    assert _rows(out2) == {(x,) for x in reach}
    # and through the string front end
    out3 = sparql_select(
        triples_df, "SELECT ?c ?p WHERE { ?c ^works_at ?p . }"
    )
    assert _rows(out3) == expect


def test_predicate_alternation(spark, triples_df):
    from predicate_finder_spark.operators.query import sparql_select

    out = bgp_match(triples_df, [("?a", "knows|works_at", "?b")])
    expect = {(s, o) for s, p, o in TRIPLES if p in ("knows", "works_at")}
    assert _rows(out) == expect
    out2 = sparql_select(
        triples_df,
        "SELECT DISTINCT ?a ?b WHERE { ?a knows|works_at ?b . }",
    )
    assert _rows(out2) == expect
    with pytest.raises(ValueError, match="alternation"):
        bgp_match(triples_df, [("?a", "knows|works_at+", "?b")]).collect()
    with pytest.raises(ValueError, match="alternation"):
        bgp_match(triples_df, [("?a", "knows|^works_at", "?b")]).collect()
