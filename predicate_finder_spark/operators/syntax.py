"""Dependency syntax-path feature (C9; reference
pretreatment/syntactic_tree.py:24-80).

The reference calls a CoreNLP server socket per question
(syntactic_tree.py:7,10-21) to get a dependency parse, then walks the tree:
ancestor chain of the subject token (:32-43), object token walked up to the
first common ancestor (:45-66), emitting
``[deprel(sub), token, deprel, token, ...]`` along the path (:75-80), with a
dead-loop guard when the parse is cyclic/broken (:41-43, :60-62).

Spark re-expression: no server — a deterministic heuristic parser
(`heuristic_parse`) produces (heads, deprels) for template-ish sentences,
and the LCA walk (`shortest_path`) is a pure function; both run inside one
Arrow-batched pandas UDF over token arrays.  A real parser (spaCy etc.)
would replace `heuristic_parse` inside `make_syntax_path_udf` — the walk
and the Spark plumbing do not change.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql import types as T

_VERBS = {"has", "is", "was", "are", "were", "had", "have"}
_ADPS = {"of", "in", "at", "on", "by", "to", "from"}


def heuristic_parse(tokens: list[str]) -> tuple[list[int], list[str]]:
    """Deterministic dependency-parse heuristic.

    Root = first verb (else first token).  Adpositions attach to the
    following content word; other words attach to the nearest verb on
    their left (else the root).  Returns (heads, deprels) with heads as
    0-based indices, -1 for root — enough structure for path features on
    the corpus templates, and fully deterministic (no model, no server).
    """
    n = len(tokens)
    if n == 0:
        return [], []
    lower = [t.lower() for t in tokens]
    root = next((i for i, t in enumerate(lower) if t in _VERBS), 0)
    heads = [root] * n
    deprels = ["dep"] * n
    heads[root], deprels[root] = -1, "root"
    last_verb = root
    for i, t in enumerate(lower):
        if i == root:
            continue
        if t in _VERBS:
            heads[i], deprels[i] = root, "conj"
            last_verb = i
        elif t in _ADPS:
            # attach to next non-adp token (prep of the following phrase)
            j = i + 1
            while j < n and lower[j] in _ADPS:
                j += 1
            heads[i] = j if j < n else root
            deprels[i] = "case"
        else:
            heads[i], deprels[i] = last_verb, "nsubj" if i < root else "obj"
    return heads, deprels


def shortest_path(
    tokens: list[str],
    heads: list[int],
    deprels: list[str],
    src: int,
    dst: int,
) -> list[str]:
    """LCA walk between two token indices -> interleaved [deprel, token, ...].

    Mirrors the reference's two-phase walk (ancestors of src, then dst up to
    the first common ancestor) including the dead-loop guard
    (syntactic_tree.py:41-43,60-62): a cyclic parse terminates after
    64 steps instead of hanging.
    """
    max_steps = 64
    n = len(tokens)
    if not (0 <= src < n and 0 <= dst < n):
        return []
    anc = []
    seen = set()
    i = src
    steps = 0
    while i != -1 and i not in seen and steps < max_steps:
        anc.append(i)
        seen.add(i)
        i = heads[i] if 0 <= heads[i] < n else -1
        steps += 1
    anc_pos = {node: k for k, node in enumerate(anc)}
    path_up = []
    j = dst
    steps = 0
    seen_dst = set()
    while j not in anc_pos and j != -1 and j not in seen_dst and steps < max_steps:
        path_up.append(j)
        seen_dst.add(j)
        j = heads[j] if 0 <= heads[j] < n else -1
        steps += 1
    if j == -1 or j not in anc_pos:
        return []  # disconnected / cyclic parse: no path (reference returns fallback)
    lca = j
    out: list[str] = []
    for node in anc[: anc_pos[lca] + 1]:
        out.append(deprels[node])
        out.append(tokens[node])
    for node in reversed(path_up):
        out.append(deprels[node])
        out.append(tokens[node])
    return out


def make_syntax_path_udf():
    """(tokens array<string>, src int, dst int) -> array<string> path UDF
    over :func:`heuristic_parse`."""

    @F.pandas_udf(T.ArrayType(T.StringType()))
    def syntax_path_udf(tokens: pd.Series, src: pd.Series, dst: pd.Series) -> pd.Series:
        out = []
        for toks, s, d in zip(tokens, src, dst):
            toks = list(toks) if toks is not None else []
            if not toks or s is None or d is None:
                out.append([])
                continue
            heads, deprels = heuristic_parse(toks)
            out.append(shortest_path(toks, heads, deprels, int(s), int(d)))
        return pd.Series(out)

    return syntax_path_udf
