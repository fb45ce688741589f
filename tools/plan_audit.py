"""Physical-plan audit: summarizes every headline query's plan —
join strategies, shuffle (Exchange) count, parquet pushdown/pruning —
and flags scale red-flags (cartesian products, non-broadcast NLJ,
un-pushed scans). Writes PLANS.md.

Usage: python3 tools/plan_audit.py [sf_dir]
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import HEADLINE  # noqa: E402
from social_link_prediction_spark import queries as catalog  # noqa: E402
from social_link_prediction_spark.session import get_spark  # noqa: E402

JOIN_OPS = (
    "BroadcastHashJoin", "SortMergeJoin", "ShuffledHashJoin",
    "BroadcastNestedLoopJoin", "CartesianProduct",
)
# operators that run Python workers: each is one Python task per input
# partition every time the plan executes
PYTHON_OPS = ("ArrowEvalPython", "BatchEvalPython", "MapInPandas")


def audit(plan: str) -> dict:
    # Count UNIQUE numbered operator nodes from the formatted-explain
    # detail section: "(12) Exchange". Raw token grepping over the whole
    # string double-counts every node (tree + detail) and re-counts the
    # cached subtree that InMemoryRelation reprints per reference —
    # work that executes once, not once per reference.
    nodes = dict(re.findall(r"^\((\d+)\) (\w+)", plan, re.M))
    counts: dict[str, int] = {}
    for op in nodes.values():
        counts[op] = counts.get(op, 0) + 1
    out = {op: counts.get(op, 0) for op in JOIN_OPS}
    out["Exchange"] = counts.get("Exchange", 0)
    out["python_eval"] = sum(counts.get(op, 0) for op in PYTHON_OPS)
    # a Python-RDD scan (createDataFrame over driver rows) is a "Scan"
    # node too, so it is matched on its full name
    out["existing_rdd_scans"] = len(
        re.findall(r"^\(\d+\) Scan ExistingRDD\b", plan, re.M)
    )
    out["scans"] = re.findall(r"PushedFilters: (\[[^\]]*\])", plan)
    out["schemas"] = [
        len(s.split(",")) for s in re.findall(r"ReadSchema: struct<([^>]*)>", plan)
    ]
    flags = []
    if out["CartesianProduct"]:
        flags.append("CARTESIAN")
    # BroadcastNestedLoopJoin is fine only for tiny literal sides
    if out["BroadcastNestedLoopJoin"] > 1:
        flags.append("NLJ>1")
    out["flags"] = flags
    return out


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"
    )
    spark = get_spark("plan-audit")
    spark.sparkContext.setLogLevel("ERROR")
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")

    lines = [
        "# PLANS — physical-plan audit of the headline queries",
        "",
        f"Scale dir: `{sf_dir}`. Columns: join operators chosen by",
        "Catalyst/AQE, shuffle count, parquet scans (pushed filters /",
        "projected column count). Flags: CARTESIAN = unbounded cross",
        "product; NLJ>1 = repeated nested-loop joins.",
        "",
        "| query | joins | exchanges | scans (pushed / cols) | flags |",
        "|---|---|---|---|---|",
    ]
    audited = list(HEADLINE) + sorted(
        n for n in catalog.QUERIES if n.startswith("tpch_") and n not in HEADLINE
    )
    for name in audited:
        fn = catalog.QUERIES.get(name)
        if fn is None:
            continue
        df = fn(spark, sf_dir)
        plan = df._jdf.queryExecution().explainString(mode)
        a = audit(plan)
        joins = ", ".join(
            f"{op}×{n}" if n > 1 else op
            for op in JOIN_OPS
            if (n := a[op]) > 0
        ) or "—"
        scans = "; ".join(
            f"{p if p != '[]' else 'none'}/{c}cols"
            for p, c in zip(a["scans"], a["schemas"])
        )[:120] or "—"
        flags = ", ".join(a["flags"]) or "ok"
        lines.append(f"| {name} | {joins} | {a['Exchange']} | {scans} | {flags} |")
    lines += [
        "",
        "## Notes",
        "",
        "- Iterative queries (pagerank, hits, randomwalk, sssp's",
        "  frontier, kcore) localCheckpoint per round, so the final",
        "  explain shows only the last round's plan — per-round shape",
        "  is documented in the operator docstrings (one keyed join +",
        "  agg per round, edge partitioning reused, score frames",
        "  broadcast under an explicit row guard). Depth-bounded",
        "  betweenness and k-truss use lazy persist, so their rows",
        "  show the WHOLE multi-round DAG in one plan (hence the high",
        "  join/exchange counts — that is 3+ rounds of triangle or",
        "  BFS joins, not one bad join).",
        "- Blocked numpy scorers (mutual_nn_pairs, mmd_embeddings,",
        "  knn_graph_embeddings) appear as FlatMapGroupsInPandas over",
        "  one side-tagged union shuffle — Arrow-batched, never",
        "  BatchEvalPython, never CartesianProduct.",
        "- BroadcastNestedLoopJoin flags on 1-row bounds frames",
        "  (gapfill grids, day spines, sigma/threshold scalars) are",
        "  broadcast scalar joins, not scale hazards: range predicates",
        "  cannot hash and the broadcast side is O(1).",
        "",
    ]
    out_path = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "PLANS.md")
    # Preserve the accumulated narrative: everything from the sentinel
    # comment onward survives a table refresh (the pre-r7 tool overwrote
    # the whole file and embedded stale r3/r4 notes). The sentinel is
    # written by THIS tool — unlike matching "## Round" prose headings,
    # it can't be duplicated into the regenerated static block or
    # spoofed by table text (ADVICE r7). Legacy files without the
    # sentinel fall back to the old prose-heading scan once; the
    # rewrite then installs the sentinel.
    sentinel = "<!-- round-notes: everything below survives plan_audit refreshes -->"
    tail = ""
    try:
        old = open(out_path).read()
        at = old.find(sentinel)
        if at != -1:
            tail = old[at + len(sentinel):].lstrip("\n")
        else:
            marks = [m for m in (old.find("## Round"), old.find("**Round")) if m != -1]
            if marks:
                tail = old[min(marks):]
    except OSError:
        pass
    with open(out_path, "w") as f:
        f.write("\n".join(lines) + "\n" + sentinel + "\n\n" + tail)
    print(f"wrote {out_path}")
    spark.stop()


if __name__ == "__main__":
    main()
