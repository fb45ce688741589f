"""Minimum spanning tree by distributed Boruvka.

Boruvka (1926) is THE MapReduce/Spark MST algorithm (Lattanzi et al.,
"Filtering: a method for solving graph problems in MapReduce"): every
round each component selects its minimum-weight outgoing edge (one
keyed min-aggregation over the edge list), the chosen edges merge
components (a connected-components pass over the COMPONENT-count-sized
merge graph), and the component count at least halves — O(log V)
rounds total, each a constant number of shuffles over the edge list.
Prim/Kruskal are inherently sequential (one edge / one heap at a
time); Boruvka is the shape that survives a 100 TB edge list.

Uniqueness discipline: edges are ordered by the TOTAL order
(w, u, v) — min-aggregated as a struct — so the MST is unique and an
oracle running sequential Prim with the same tie-break reproduces the
identical edge set.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from social_link_prediction_spark.graph.build import vertices
from social_link_prediction_spark.graph.pagerank import connected_components


def boruvka_mst(
    edges: DataFrame,
    src: str = "u",
    dst: str = "v",
    weight: str = "w",
    max_rounds: int = 16,
) -> DataFrame:
    """Minimum spanning forest of an undirected weighted graph.

    ``edges``: one row per undirected edge (u < v recommended; self
    loops dropped, duplicates deduped). Returns the spanning-forest
    edge set (u, v, w) — |V| - #components rows.

    Per round: (1) label each edge endpoint with its current
    component (two joins against the |V|-row component frame), (2)
    per-component min over struct(w, u, v, cu, cv) — a map-side
    combinable aggregation, (3) contract chosen edges with the
    large-star/small-star CC pass (graph/pagerank.py:249) on the
    merge graph, which is COMPONENT-count-sized and halves every
    round. The edge list is checkpointed once and re-joined per
    round; crossing edges strictly shrink as components merge.
    """
    # not build.simple_edges: each orientation keeps its own weight row
    e = (
        edges.select(
            F.col(src).alias("u"), F.col(dst).alias("v"), F.col(weight).alias("w")
        )
        .filter(F.col("u") != F.col("v"))
        .dropDuplicates(["u", "v"])
        .localCheckpoint()
    )
    comp = (
        vertices(e, "u", "v")
        .select("id", F.col("id").alias("comp"))
        .localCheckpoint()
    )
    mst: DataFrame | None = None
    for _ in range(max_rounds):
        ec = (
            e.join(
                comp.select(F.col("id").alias("u"), F.col("comp").alias("cu")),
                "u",
            )
            .join(
                comp.select(F.col("id").alias("v"), F.col("comp").alias("cv")),
                "v",
            )
            .filter(F.col("cu") != F.col("cv"))
            .localCheckpoint()
        )
        if ec.isEmpty():
            break
        pk = F.struct("w", "u", "v", "cu", "cv").alias("pk")
        cand = ec.select(F.col("cu").alias("c"), pk).unionByName(
            ec.select(F.col("cv").alias("c"), pk)
        )
        chosen = (
            cand.groupBy("c")
            .agg(F.min("pk").alias("pk"))
            .select("pk.*")
            .dropDuplicates(["u", "v"])
            .localCheckpoint()
        )
        picked = chosen.select("u", "v", "w")
        mst = picked if mst is None else mst.unionByName(picked)
        # contract: new label = component of the merge graph (nodes =
        # component ids, edges = chosen); CC is O(log) rounds on a
        # frame that halves every Boruvka round
        lbl = connected_components(
            chosen.select(F.col("cu").alias("src"), F.col("cv").alias("dst"))
        )
        comp = (
            comp.join(
                lbl.select(F.col("id").alias("comp"), "component"),
                "comp",
                "left",
            )
            .select("id", F.coalesce("component", "comp").alias("comp"))
            .localCheckpoint()
        )
    if mst is None:
        return e.select("u", "v", "w").limit(0)
    return mst.localCheckpoint()
