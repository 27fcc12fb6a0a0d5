"""Basic-graph-pattern (BGP) queries over the constructed KG.

The reference's read path is DBpedia's public SPARQL endpoint — every
predicate lookup is a one-triple-pattern SPARQL query shipped over HTTPS
(reference query_dbpedia.py:14-60 builds ``select ?p where { <s> ?p <o> }``
strings).  This module closes the loop on the engine's OWN output: the
SPARQL-core conjunctive fragment (a basic graph pattern — a set of
(subj, pred, obj) patterns with shared ``?variables``) evaluated over the
triples table the pipeline materialized, as a chain of Catalyst equi-joins.

Scale shape (what .explain should show):
  - each pattern is a filtered projection of the SAME triples scan —
    constant slots become pushed-down parquet filters, variable slots
    become projected columns, so a pattern like ("?x", "director", "?y")
    reads only the matching row group bytes;
  - patterns join pairwise on their shared variables (inner equi-join) —
    Catalyst broadcasts the small side, AQE splits skewed bindings;
  - join ORDER is chosen greedily: start from the most-constant (most
    selective) pattern, always extend with a pattern that shares a bound
    variable — the classic BGP heuristic that keeps intermediate bindings
    small and avoids products;
  - a pattern set that cannot be connected through shared variables is a
    cartesian product of its components; that's almost always a query bug
    at 10^12-triple scale, so it raises.

The triples frame has the columns ``COLS`` = (subj, pred, obj).
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .graph import _release, _state_digest

COLS = ("subj", "pred", "obj")

__all__ = ["bgp_match", "transitive_pairs", "parse_sparql", "sparql_select"]


def _is_var(term: str) -> bool:
    return isinstance(term, str) and term.startswith("?")


def _pattern_frame(
    triples: DataFrame, pattern: tuple[str, str, str], path_max_hops: int | None = 16,
) -> tuple[DataFrame, list[str]]:
    """One pattern -> (bindings frame, bound variable names).

    Constant slots filter (pushed to the scan); variable slots project,
    aliased to the variable name.  The same variable twice in ONE pattern
    (e.g. ("?x", "knows", "?x")) is a row-local equality filter.

    A constant predicate ending in ``+`` is a SPARQL property path: the
    pattern matches over :func:`transitive_pairs` (bounded at
    ``path_max_hops``; ``None`` = run the closure to its fixpoint) instead
    of the raw edge set.  A predicate ending in ``*`` is the
    reflexive-transitive closure — always evaluated to the fixpoint, with
    the zero-length paths contributed by every node of the graph (subject
    or object of ANY triple, the standard engine reading of SPARQL's
    zero-hop semantics over the queried graph).

    Two more SPARQL path forms: ``^pred`` (inverse path — evaluated by
    swapping the subject/object terms, composes with ``+``/``*`` since the
    inverse of a closure is the closure of the inverse; a leading ``^``
    applies to the WHOLE remaining path term, i.e. ``^a|b`` reads
    ``^(a|b)`` here — parenthesise-by-splitting if you need SPARQL's
    ``(^a)|b``) and ``a|b|c`` (alternation of PLAIN predicates — one isin
    filter on the same scan, exactly as selective as a constant;
    alternatives carrying ``^``/``+``/``*`` modifiers raise, since the
    unparenthesised mix is ambiguous)."""
    if len(pattern) != 3:
        raise ValueError(f"pattern must be (subj, pred, obj), got {pattern!r}")
    df = triples
    p_term = pattern[1]
    if not _is_var(p_term) and p_term is not None and p_term.startswith("^") and len(p_term) > 1:
        inv, inv_names = _pattern_frame(
            triples, (pattern[2], p_term[1:], pattern[0]), path_max_hops
        )
        # the recursion saw (obj, pred, subj), so its binding order is
        # flipped — restore the caller's subject-first order
        want = []
        for term in (pattern[0], pattern[2]):
            if _is_var(term) and term[1:] in inv_names and term[1:] not in want:
                want.append(term[1:])
        if want != inv_names:
            inv = inv.select(*want)
        return inv, want
    alts = None
    if not _is_var(p_term) and p_term is not None and "|" in p_term:
        alts = p_term.split("|")
        if any((not a) or a[-1] in "+*" or a.startswith("^") for a in alts):
            raise ValueError(
                f"predicate alternation {p_term!r} must list plain predicates "
                "(no ^/+/* modifiers inside an unparenthesised alternation)"
            )
        df = df.filter(F.col(COLS[1]).isin(*alts))
    if not _is_var(p_term) and p_term is not None and len(p_term) > 1 and p_term[-1] in "+*":
        base, star = p_term[:-1], p_term.endswith("*")
        reach = transitive_pairs(triples, base, None if star else path_max_hops)
        if star:
            nodes = (
                triples.select(F.col(COLS[0]).alias("src"))
                .unionByName(triples.select(F.col(COLS[2]).alias("src")))
                .distinct()
            )
            reach = reach.unionByName(
                nodes.select("src", F.col("src").alias("dst"))
            ).distinct()
        reach = reach.select(
            F.col("src").alias(COLS[0]),
            F.lit(base).alias(COLS[1]),
            F.col("dst").alias(COLS[2]),
        )
        return _pattern_frame(reach, (pattern[0], base, pattern[2]))
    var_slot: dict[str, str] = {}
    for slot, term in zip(COLS, pattern):
        if slot == COLS[1] and alts is not None:
            continue  # alternation already filtered the predicate slot
        if _is_var(term):
            name = term[1:]
            if not name:
                raise ValueError(f"empty variable name in pattern {pattern!r}")
            if name in var_slot:
                df = df.filter(F.col(slot) == F.col(var_slot[name]))
            else:
                var_slot[name] = slot
        else:
            df = df.filter(F.col(slot) == F.lit(term))
    names = list(var_slot)
    sel = [F.col(var_slot[n]).alias(n) for n in names]
    if not sel:
        # all-constant pattern = existence test: a 0/1-row marker frame the
        # planner semi-gates the result on (limit 1 — never a full scan
        # materialization)
        return df.limit(1).select(F.lit(1).alias("__exists")), []
    return df.select(*sel), names


def transitive_pairs(
    triples: DataFrame,
    pred: str,
    max_hops: int | None,
) -> DataFrame:
    """SPARQL property-path ``pred+``: every (src, dst) pair connected by
    1..max_hops edges of ``pred``; ``max_hops=None`` runs to the FIXPOINT
    (the full transitive closure — unbounded ``pred+``/``pred*``).

    Pointer doubling, not per-hop BFS: round i holds all pairs within
    2^i hops (reach_2k = reach_k UNION reach_k JOIN reach_k), so a
    k-hop bound costs ceil(log2 k) self equi-join + distinct rounds —
    the same O(log diameter) shape as graph.resolve_chains /
    connected_components, and the only shuffles are on the join key.
    State is localCheckpointed per round to keep lineage flat, and each
    superseded level is released once its successor is checkpointed, so a
    call leaves exactly one persisted RDD behind: the returned level.

    The bound is EXACT for any max_hops, not just powers of two: doubling
    builds levels L_i = reach(<= 2^i), and the result composes the levels
    picked by max_hops' binary digits (reach(<=a) composed with
    reach(<=b) = both unions plus their join = reach(<=a+b)).

    The fixpoint run converges by the same order-independent digest the CC
    / chain-resolution operators use (graph._state_digest: count + xor of
    xxhash64 over the deduped pair set) — one tiny aggregate per doubling
    round, O(log diameter) rounds total, 40 doubling rounds as the runaway
    backstop (2^40 hops covers any real graph's diameter)."""
    if max_hops is not None and max_hops < 1:
        raise ValueError("max_hops must be >= 1 (or None for the fixpoint)")
    s, p, o = COLS
    max_doubling = 40

    def compose(x: DataFrame, y: DataFrame) -> DataFrame:
        xy = (
            x.alias("a")
            .join(y.alias("b"), F.col("a.dst") == F.col("b.src"))
            .select(F.col("a.src").alias("src"), F.col("b.dst").alias("dst"))
        )
        return (
            x.unionByName(y).unionByName(xy).distinct().localCheckpoint(eager=True)
        )

    level = (
        triples.filter(F.col(p) == F.lit(pred))
        .select(F.col(s).alias("src"), F.col(o).alias("dst"))
        .distinct()
        .localCheckpoint(eager=True)
    )  # reach(<= 1)
    if max_hops is None:
        digest = _state_digest(level)
        for _ in range(max_doubling):
            new_level = compose(level, level)  # reach(<= 2^i) -> reach(<= 2^(i+1))
            new_digest = _state_digest(new_level)
            if new_digest == digest:
                _release(new_level)
                return level
            _release(level)
            level, digest = new_level, new_digest
        raise RuntimeError(
            f"transitive closure did not converge in {max_doubling} doubling rounds"
        )
    acc = level if max_hops & 1 else None
    remaining = max_hops >> 1
    while remaining:
        prev, level = level, compose(level, level)  # the level's span doubles
        if prev is not acc:
            _release(prev)
        if remaining & 1:
            if acc is None:
                acc = level
            else:
                prev, acc = acc, compose(acc, level)
                _release(prev)
        remaining >>= 1
    if level is not acc:
        _release(level)
    return acc


def bgp_match(
    triples: DataFrame,
    patterns: list[tuple[str, str, str]],
    select: list[str] | None = None,
    distinct: bool = True,
    optional: list | None = None,
    where=None,
    path_max_hops: int | None = 16,
) -> DataFrame:
    """Evaluate a conjunctive graph pattern over ``triples``.

    ``patterns``: list of (subj, pred, obj) terms; a term starting with
    ``?`` is a variable, anything else matches literally.  Returns one row
    per distinct variable binding (SPARQL set semantics; ``distinct=False``
    keeps bag semantics), with one column per variable.

    ``select``: variables to project (without the ``?``); default = every
    variable, in first-appearance order.

    Disconnected pattern groups (a cartesian product of their bindings)
    raise — see module docstring.

    ``optional``: SPARQL OPTIONAL — a list of optional GROUPS; each group
    is a list of (s, p, o) patterns that matches AS A UNIT (a bare 3-tuple
    element is shorthand for a single-pattern group).  The group's patterns
    are joined together (seeded with the required bindings of the shared
    variables, so patterns that connect only through required variables
    stay product-free), then the whole group left-joins the required
    bindings on the shared variables — so a group whose first
    pattern matches but whose second doesn't leaves ALL the group's
    optional-only variables NULL, per SPARQL's LeftJoin semantics (a
    per-pattern left join would bind the first pattern's variables and NULL
    only the rest — silently wrong).  Every group must share at least one
    variable with the required patterns (an unanchored OPTIONAL is a
    product).

    ``where``: SPARQL FILTER — a pyspark Column or SQL string over the
    variable columns, applied after optionals and BEFORE projection, so
    it may reference variables that are not selected.
    """
    if not patterns:
        raise ValueError("empty pattern list")
    frames: list[tuple[DataFrame, list[str], int]] = []
    order: list[str] = []  # variables in first-appearance order
    n_const: list[int] = []
    for i, pat in enumerate(patterns):
        df, names = _pattern_frame(triples, pat, path_max_hops)
        frames.append((df, names, i))
        n_const.append(sum(1 for t in pat if not _is_var(t)))
        for n in names:
            if n not in order:
                order.append(n)

    # greedy join order: seed with the most-constant pattern, then always
    # extend with the remaining pattern sharing the most bound variables
    # (ties: more constants, then original index — deterministic)
    remaining = list(range(len(frames)))
    seed = max(remaining, key=lambda i: (n_const[i], -i))
    remaining.remove(seed)
    acc, bound, _ = frames[seed]
    bound = set(bound)
    while remaining:
        scored = [
            (len(bound & set(frames[i][1])), n_const[i], -i, i) for i in remaining
        ]
        shared, _, _, pick = max(scored)
        remaining.remove(pick)
        df, names, _ = frames[pick]
        if shared == 0 and not (bound == set() or not names):
            raise ValueError(
                f"pattern {patterns[pick]!r} shares no variable with the "
                "patterns joined so far — a cartesian product"
            )
        if not names:
            # existence gate: empty marker frame zeroes the result
            acc = acc.crossJoin(F.broadcast(df)).drop("__exists")
        else:
            on = sorted(bound & set(names))
            acc = acc.join(df, on=on) if on else acc.crossJoin(df)
        bound |= set(names)

    for grp in optional or []:
        # bare 3-tuple of terms = single-pattern group (back-compat)
        if (
            isinstance(grp, tuple)
            and len(grp) == 3
            and all(isinstance(t, str) for t in grp)
        ):
            grp = [grp]
        if not grp:
            raise ValueError("empty OPTIONAL group")
        gframes = [_pattern_frame(triples, pat, path_max_hops) for pat in grp]
        names = []
        for _, ns in gframes:
            for n_ in ns:
                if n_ not in names:
                    names.append(n_)
        if not names:
            raise ValueError(f"all-constant OPTIONAL group {grp!r} is meaningless")
        on = sorted(bound & set(names))
        if not on:
            raise ValueError(
                f"OPTIONAL group {grp!r} shares no variable with the "
                "required patterns — an unanchored optional is a product"
            )
        if len(gframes) == 1:
            df = gframes[0][0]
        else:
            # SPARQL algebra: LeftJoin(acc, eval(group)) — but eval'ing the
            # group standalone can be a product when its patterns connect
            # only THROUGH required variables.  Equivalent and product-free:
            # seed the group join with the distinct required bindings of the
            # shared variables, extend greedily (every extension must share
            # a bound variable — through the seed if need be), then one left
            # join of the result back onto acc.
            gacc = acc.select(*on).distinct()
            gbound = set(on)
            gleft = list(range(len(gframes)))
            while gleft:
                scored = [
                    (len(gbound & set(gframes[i][1])), -i, i) for i in gleft
                ]
                shared, _, pick = max(scored)
                if shared == 0:
                    raise ValueError(
                        f"OPTIONAL group {grp!r} is internally disconnected "
                        "(a product) even through the required variables"
                    )
                gleft.remove(pick)
                gdf, gnames = gframes[pick]
                gacc = gacc.join(gdf, on=sorted(gbound & set(gnames)))
                gbound |= set(gnames)
            df = gacc
        acc = acc.join(df, on=on, how="left")
        for n in names:
            if n not in order:
                order.append(n)
        bound |= set(names)

    if where is not None:
        acc = acc.filter(F.expr(where) if isinstance(where, str) else where)

    out_cols = select if select is not None else order
    missing = [c for c in out_cols if c not in bound]
    if missing:
        raise ValueError(f"select variables {missing} not bound by any pattern")
    acc = acc.select(*out_cols)
    return acc.distinct() if distinct else acc


# ---------------------------------------------------------------------------
# SPARQL-subset front end
# ---------------------------------------------------------------------------

_SELECT_RE = re.compile(
    r"^\s*SELECT\s+(?P<distinct>DISTINCT\s+)?(?P<proj>\*|(?:\?\w+[\s,]*)+)"
    r"\s*WHERE\s*\{(?P<body>.*)\}\s*(?:LIMIT\s+(?P<limit>\d+))?\s*$",
    re.IGNORECASE | re.DOTALL,
)
_TERM_RE = re.compile(
    r"""\s*(?:(\?\w+)|<([^>]*)>|"([^"]*)"|'([^']*)'|([^\s.{}()]+))"""
)


def _read_term(body: str, pos: int) -> tuple[str, int]:
    m = _TERM_RE.match(body, pos)
    if not m:
        raise ValueError(f"expected a term at ...{body[pos:pos + 40]!r}")
    var_, iri, dq, sq, bare = m.groups()
    return var_ or iri or dq or sq or bare, m.end()


def _read_patterns(body: str, pos: int, stop: str) -> tuple[list, int]:
    """Parse `s p o .` triples until ``stop`` ('}' or end); returns
    (patterns, position AFTER the stop character)."""
    pats = []
    n = len(body)
    while True:
        while pos < n and body[pos].isspace():
            pos += 1
        if pos >= n:
            if stop == "}":
                raise ValueError("unterminated group: missing '}'")
            return pats, pos
        if body[pos] == stop:
            return pats, pos + 1
        s, pos = _read_term(body, pos)
        p, pos = _read_term(body, pos)
        o, pos = _read_term(body, pos)
        pats.append((s, p, o))
        while pos < n and body[pos].isspace():
            pos += 1
        if pos < n and body[pos] == ".":
            pos += 1
    return pats, pos


def _translate_filter(expr: str) -> str:
    """SPARQL FILTER expression -> Spark SQL: ``?x`` -> column ``x``,
    ``&&``/``||`` -> AND/OR — substituting ONLY outside quoted string
    literals, so a literal like ``'?foo'`` or ``'a && b'`` passes through
    byte-identical (rewriting inside literals silently changes the
    comparison value)."""
    out: list[str] = []
    i, n = 0, len(expr)
    while i < n:
        ch = expr[i]
        if ch in "'\"":
            j = i + 1
            while j < n and expr[j] != ch:
                j += 1
            if j >= n:
                raise ValueError(f"unterminated string literal in FILTER: {expr!r}")
            out.append(expr[i : j + 1])
            i = j + 1
        else:
            j = i
            while j < n and expr[j] not in "'\"":
                j += 1
            seg = expr[i:j]
            seg = re.sub(r"\?(\w+)", r"\1", seg)
            seg = seg.replace("&&", " AND ").replace("||", " OR ")
            out.append(seg)
            i = j
    return "".join(out)


def parse_sparql(query: str) -> dict:
    """Parse the SPARQL-subset this engine executes: ``SELECT [DISTINCT]
    ?vars|* WHERE { triples . OPTIONAL { ... } FILTER (...)
    { ... } UNION { ... } } [LIMIT n]``.

    Terms: ``?var``, ``<iri>`` (angle brackets stripped — the KG stores
    plain strings), quoted literals, or bare tokens; a predicate written
    ``p+`` is the bounded property path (:func:`transitive_pairs`),
    ``p*`` the unbounded reflexive-transitive closure, ``^p`` the inverse
    path, and ``a|b`` plain-predicate alternation (see
    :func:`_pattern_frame` for the modifier-combination rules).  FILTER
    expressions
    are translated to Spark SQL (``?x`` -> column ``x``, ``&&``/``||`` ->
    AND/OR, quoted literals untouched) and handed to ``F.expr`` —
    equality, comparison, and string functions that exist in both dialects
    work.  Each OPTIONAL group is kept together (it matches as a unit —
    see :func:`bgp_match`).  One ``{...} UNION {...} [UNION {...}]`` chain
    of plain-pattern groups is supported per query (a second chain or
    nested OPTIONAL/FILTER inside a branch raises — documented subset).

    Returns the kwargs dict for :func:`bgp_match` plus ``limit`` and
    ``union_groups``."""
    m = _SELECT_RE.match(query)
    if not m:
        raise ValueError(
            "unsupported query shape: expected SELECT [DISTINCT] ?vars|* "
            "WHERE { ... } [LIMIT n]"
        )
    proj = m.group("proj").strip()
    select = None if proj == "*" else [
        v[1:] for v in re.findall(r"\?\w+", proj)
    ]
    body = m.group("body")
    patterns: list = []
    optional: list = []
    filters: list[str] = []
    union_groups: list[list] = []
    pos, n = 0, len(body)
    kw = re.compile(r"(OPTIONAL|FILTER|UNION)\b", re.IGNORECASE)
    while pos < n:
        while pos < n and (body[pos].isspace() or body[pos] == "."):
            pos += 1
        if pos >= n:
            break
        km = kw.match(body, pos)
        if body[pos] == "{":
            # group-graph-pattern: only meaningful here as a UNION chain
            if union_groups:
                raise ValueError(
                    "only one UNION chain per query is supported"
                )
            grp, pos = _read_patterns(body, pos + 1, "}")
            union_groups.append(grp)
            while True:
                while pos < n and body[pos].isspace():
                    pos += 1
                um = kw.match(body, pos)
                if not (um and um.group(1).upper() == "UNION"):
                    break
                pos = um.end()
                while pos < n and body[pos].isspace():
                    pos += 1
                if pos >= n or body[pos] != "{":
                    raise ValueError("UNION must be followed by { ... }")
                grp, pos = _read_patterns(body, pos + 1, "}")
                union_groups.append(grp)
            if len(union_groups) < 2:
                raise ValueError(
                    "bare { ... } group without UNION — write the patterns "
                    "at the top level instead"
                )
        elif km and km.group(1).upper() == "OPTIONAL":
            pos = km.end()
            while pos < n and body[pos].isspace():
                pos += 1
            if pos >= n or body[pos] != "{":
                raise ValueError("OPTIONAL must be followed by { ... }")
            grp, pos = _read_patterns(body, pos + 1, "}")
            if not grp:
                raise ValueError("empty OPTIONAL group")
            optional.append(grp)
        elif km and km.group(1).upper() == "FILTER":
            pos = km.end()
            while pos < n and body[pos].isspace():
                pos += 1
            if pos >= n or body[pos] != "(":
                raise ValueError("FILTER must be followed by ( ... )")
            depth, start = 1, pos + 1
            pos += 1
            while pos < n and depth:
                if body[pos] == "(":
                    depth += 1
                elif body[pos] == ")":
                    depth -= 1
                pos += 1
            if depth:
                raise ValueError("unbalanced FILTER parentheses")
            filters.append(f"({_translate_filter(body[start:pos - 1])})")
        else:
            s, pos = _read_term(body, pos)
            p, pos = _read_term(body, pos)
            o, pos = _read_term(body, pos)
            patterns.append((s, p, o))
    return {
        "patterns": patterns,
        "optional": optional or None,
        "where": " AND ".join(filters) if filters else None,
        "select": select,
        "distinct": bool(m.group("distinct")) or select is None,
        "limit": int(m.group("limit")) if m.group("limit") else None,
        "union_groups": union_groups or None,
    }


def sparql_select(
    triples: DataFrame,
    query: str,
    path_max_hops: int | None = 16,
) -> DataFrame:
    """Run a SPARQL-subset SELECT (see :func:`parse_sparql`) over the
    triples table — the string front end to :func:`bgp_match`, giving the
    engine the same read interface the reference consumed remotely.

    A UNION chain evaluates each branch as (required patterns + branch
    patterns) with OPTIONALs attached, aligns the branch bindings on the
    union of their variables (a variable unbound in a branch is NULL —
    SPARQL's union-of-solution-sequences), unions them, and applies
    FILTERs over the aligned result.  The cartesian-product refusal
    (:func:`bgp_match`) fires per branch, so a disconnected pattern raises
    from this front end too.

    Note: plain SELECT (no DISTINCT) is executed with set semantics
    anyway when the projection is ``*`` (bag duplicates of full bindings
    are join artifacts, not information); an explicit variable list
    without DISTINCT keeps bag semantics like SPARQL."""
    q = parse_sparql(query)
    if q["union_groups"]:
        branch_dfs = []
        all_vars: list[str] = []
        for grp in q["union_groups"]:
            pats = q["patterns"] + list(grp)
            bdf = bgp_match(
                triples, pats, select=None, distinct=False,
                optional=q["optional"], where=None, path_max_hops=path_max_hops,
            )
            branch_dfs.append(bdf)
            for c in bdf.columns:
                if c not in all_vars:
                    all_vars.append(c)
        out = None
        for bdf in branch_dfs:
            for c in all_vars:
                if c not in bdf.columns:
                    bdf = bdf.withColumn(c, F.lit(None).cast("string"))
            bdf = bdf.select(*all_vars)
            out = bdf if out is None else out.unionByName(bdf)
        if q["where"] is not None:
            out = out.filter(F.expr(q["where"]))
        sel = q["select"] if q["select"] is not None else all_vars
        missing = [c for c in sel if c not in all_vars]
        if missing:
            raise ValueError(f"select variables {missing} not bound by any branch")
        out = out.select(*sel)
        if q["distinct"]:
            out = out.distinct()
    else:
        out = bgp_match(
            triples,
            q["patterns"],
            select=q["select"],
            distinct=q["distinct"],
            optional=q["optional"],
            where=q["where"],
            path_max_hops=path_max_hops,
        )
    return out.limit(q["limit"]) if q["limit"] else out
