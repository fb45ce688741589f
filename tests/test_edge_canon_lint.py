"""Lint: ``graph/build.simple_edges`` is the one place that decides
what the undirected simple graph of an edge list is (src < dst, no
self-loops, no NULL endpoint, each pair once).

A function in another ``graph/`` module that calls ``F.least`` and
``F.greatest`` on the same two columns is canonicalizing an edge list
by hand; it must call ``simple_edges`` instead, or be listed in the
ALLOWLIST below with the reason it needs its own rule. The detector
reads the source with ``ast``, so it is independent of formatting.
"""

from __future__ import annotations

import ast
import os

from social_link_prediction_spark import graph

GRAPH_DIR = os.path.dirname(graph.__file__)

ALLOWLIST = {
    "matching.py:contract_matching":
        "parallel edges are the multiplicity its weight sums, so its "
        "canonical edges must not be deduplicated",
}


def _least_greatest_pairs(tree: ast.AST) -> list[str]:
    """Names of the top-level functions (``module``-level code is
    reported as ``<module>``) that call ``F.least`` and ``F.greatest``
    with the same argument set."""
    found = []
    scopes = [(n.name, n) for n in tree.body if isinstance(n, ast.FunctionDef)]
    scopes.append(("<module>", ast.Module(
        body=[n for n in tree.body if not isinstance(n, ast.FunctionDef)],
        type_ignores=[],
    )))
    for name, scope in scopes:
        seen: dict[str, set[frozenset[str]]] = {"least": set(), "greatest": set()}
        for node in ast.walk(scope):
            if (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr in seen
                and isinstance(node.func.value, ast.Name)
                and node.func.value.id == "F"
            ):
                seen[node.func.attr].add(frozenset(ast.dump(a) for a in node.args))
        if seen["least"] & seen["greatest"]:
            found.append(name)
    return found


def _graph_sites() -> set[str]:
    sites = set()
    for fn in sorted(os.listdir(GRAPH_DIR)):
        if not fn.endswith(".py") or fn == "build.py":
            continue
        with open(os.path.join(GRAPH_DIR, fn)) as f:
            tree = ast.parse(f.read())
        sites.update(f"{fn}:{name}" for name in _least_greatest_pairs(tree))
    return sites


def test_detector_flags_a_hand_rolled_canonicalizer():
    src = (
        "def canon(e, a, b):\n"
        "    return e.select(F.least(F.col(a), F.col(b)).alias('u'),\n"
        "                    F.greatest(F.col(a), F.col(b)).alias('v'))\n"
        "def clamp(x):\n"
        "    return F.greatest(F.col(x), F.lit(0)), F.least(F.col(x), F.lit(9))\n"
    )
    assert _least_greatest_pairs(ast.parse(src)) == ["canon"]


def test_no_graph_module_canonicalizes_edges_outside_build():
    sites = _graph_sites()
    extra = sites - set(ALLOWLIST)
    assert not extra, (
        f"{sorted(extra)} build canonical edges with F.least/F.greatest; "
        "use graph.build.simple_edges, or add the site to ALLOWLIST with "
        "the reason it needs its own rule"
    )
    stale = set(ALLOWLIST) - sites
    assert not stale, f"ALLOWLIST entries {sorted(stale)} no longer match; remove them"
