"""Catalog structure guards: the queries.py facade over the family
modules catalog/c01..c07.py, which register into the one registry of
catalog/_base.py."""

import ast
import builtins
import glob
import os
import symtable

import pytest

import social_link_prediction_spark
from social_link_prediction_spark import queries as q

ROOT = os.path.dirname(social_link_prediction_spark.__file__)
CATALOG = os.path.join(ROOT, "catalog")
PKG = "social_link_prediction_spark.catalog"
FACADE = "social_link_prediction_spark.queries"
FAMILIES = [f"c{i:02d}" for i in range(1, 8)]


def _catalog_sources():
    paths = sorted(glob.glob(os.path.join(CATALOG, "*.py")))
    paths.append(os.path.join(ROOT, "queries.py"))
    return {os.path.relpath(p, ROOT): open(p).read() for p in paths}


def test_registry_complete_and_paired():
    assert len(q.QUERIES) >= 500
    assert set(q.ORACLES) == set(q.QUERIES)  # every entry oracle-paired
    assert all(callable(f) for f in q.QUERIES.values())


def test_facade_reexports_helpers():
    # the driver contract and tests reach helpers through the facade
    for name in ("_t", "_trunc_ntz", "_partsupp_edges", "query",
                 "pricing_summary", "QUERIES", "ORACLES"):
        assert hasattr(q, name), name


def test_no_catalog_module_exceeds_8k_lines():
    for path in glob.glob(os.path.join(CATALOG, "c*.py")):
        n = sum(1 for _ in open(path))
        assert n < 8000, f"{path}: {n} lines"


def test_catalog_modules_import_what_they_use():
    sources = _catalog_sources()
    for rel, src in sources.items():
        tree = ast.parse(src)
        # 1. nothing copies a namespace
        for node in ast.walk(tree):
            if isinstance(node, ast.Call) and isinstance(node.func, ast.Name):
                assert node.func.id not in ("globals", "vars"), (
                    f"{rel}:{node.lineno} calls {node.func.id}()"
                )
        # 2. a family module imports only _base, earlier families, or
        #    modules outside the catalog (never the queries facade)
        mod = os.path.splitext(os.path.basename(rel))[0]
        if mod in FAMILIES:
            earlier = {"_base", *FAMILIES[: FAMILIES.index(mod)]}
            for node in ast.walk(tree):
                if isinstance(node, ast.ImportFrom):
                    target = node.module or ""
                    if node.level:
                        target = f"{PKG}.{target}" if target else PKG
                    names = [a.name for a in node.names]
                    assert target != FACADE and not (
                        target == "social_link_prediction_spark" and "queries" in names
                    ), f"{rel}:{node.lineno} imports the queries facade"
                    if target.startswith(PKG + "."):
                        names = [target[len(PKG) + 1:]]
                    elif target != PKG:
                        names = []
                    for name in names:
                        assert name in earlier, f"{rel}:{node.lineno} imports {name}"
                elif isinstance(node, ast.Import):
                    for a in node.names:
                        assert not a.name.startswith((PKG, FACADE)), (
                            f"{rel} imports {a.name}"
                        )
        # 3. every global a catalog module reads is bound at module
        #    level or is a builtin (a missing import would otherwise
        #    fail only when that one query runs)
        top = symtable.symtable(src, rel, "exec")
        bound = {
            s.get_name()
            for s in top.get_symbols()
            if s.is_assigned() or s.is_imported() or s.is_namespace()
        }
        read = {s.get_name() for s in top.get_symbols() if s.is_referenced()}
        stack = list(top.get_children())
        while stack:
            t = stack.pop()
            read |= {
                s.get_name()
                for s in t.get_symbols()
                if s.is_global() and s.is_referenced()
            }
            stack.extend(t.get_children())
        missing = sorted(n for n in read - bound if not hasattr(builtins, n))
        assert not missing, f"{rel} reads unbound globals {missing}"


def test_query_refuses_a_second_registration():
    from social_link_prediction_spark.catalog._base import query

    before = (dict(q.QUERIES), dict(q.ORACLES))
    with pytest.raises(ValueError, match="pricing_summary"):
        query("pricing_summary", "SELECT 1")(lambda spark, sf_dir: None)
    assert (q.QUERIES, q.ORACLES) == before
    assert q.QUERIES["pricing_summary"] is q.pricing_summary
