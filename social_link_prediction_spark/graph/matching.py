"""Maximal matching — the edge-wise twin of Luby MIS and the
coarsening primitive of multilevel graph partitioning (METIS-style):
matched pairs contract into super-nodes, the graph halves, repeat.

Deterministic local-minimum rounds (Israeli & Itai 1986 shape): each
round every live edge draws a key k(e) = (hash60(u‖v, salt_r), u, v)
— the (u, v) suffix makes keys UNIQUE, so "local minimum" is
well-defined even under hash collisions — and an edge enters the
matching iff its key is the minimum among all edges incident to
EITHER endpoint. Winners' endpoints leave the graph; fixed rounds for
oracle replay, leftover edges reported honestly.

Per round: one endpoint explode (2 rows/edge), one per-node min
aggregate (map-side combinable), two keyed joins back, one semi-join
eviction. Frontier only shrinks.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from social_link_prediction_spark.graph.build import simple_edges
from social_link_prediction_spark.ml.linksplit import hash60


def maximal_matching(
    edges: DataFrame,
    rounds: int = 3,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """(u, v, round) for every matched edge of the undirected simple
    graph — no two matched edges share an endpoint (validated by the
    property test); ``round`` is the round the pair matched in.
    Canonicalizes to u < v first. Maximality holds when the round
    budget clears the graph; unmatched-but-matchable edges simply
    yield no row (callers needing the residual re-derive it by
    anti-joining endpoints)."""
    if rounds < 1:
        raise ValueError("rounds must be >= 1")
    live = simple_edges(edges, src, dst).toDF("u", "v").localCheckpoint()
    out: DataFrame | None = None
    for r in range(rounds):
        keyed = live.withColumn(
            "k",
            F.struct(
                hash60(
                    F.concat_ws("-", F.col("u"), F.col("v")), F.lit(f"mm{r}")
                ).alias("p"),
                F.col("u").alias("ku"),
                F.col("v").alias("kv"),
            ),
        )
        inc = keyed.select(F.col("u").alias("node"), "k").unionAll(
            keyed.select(F.col("v").alias("node"), "k")
        )
        mk = inc.groupBy("node").agg(F.min("k").alias("mk"))
        winners = (
            keyed.join(
                mk.select(F.col("node").alias("u"), F.col("mk").alias("mu")), "u"
            )
            .join(
                mk.select(F.col("node").alias("v"), F.col("mk").alias("mv")), "v"
            )
            .filter((F.col("k") == F.col("mu")) & (F.col("k") == F.col("mv")))
            .select("u", "v")
            .localCheckpoint()
        )
        step = winners.withColumn("round", F.lit(r))
        out = step if out is None else out.unionAll(step)
        out = out.localCheckpoint()
        matched_nodes = (
            winners.select(F.col("u").alias("node"))
            .unionAll(winners.select(F.col("v").alias("node")))
            .dropDuplicates()
        )
        live = (
            live.join(matched_nodes.select(F.col("node").alias("u")), "u", "anti")
            .join(matched_nodes.select(F.col("node").alias("v")), "v", "anti")
            .localCheckpoint()
        )
    return out


def contract_matching(
    edges: DataFrame,
    matching: DataFrame,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """One multilevel coarsening step: map every matched pair to its
    min endpoint as super-node, rewrite edges through the mapping,
    drop collapsed self-loops, and sum multiplicities into a weight —
    the contraction METIS-style partitioners alternate with matching.
    Returns (src, dst, weight) with src < dst canonicalized."""
    mapping = matching.select(
        F.col("u").alias("node"), F.col("u").alias("super")
    ).unionAll(matching.select(F.col("v").alias("node"), F.col("u").alias("super")))
    # not build.simple_edges: parallel edges are the multiplicity the
    # weight sums, so this canonicalization must not deduplicate
    e = edges.select(
        F.least(src, dst).alias("u"), F.greatest(src, dst).alias("v")
    ).filter(F.col("u") != F.col("v"))
    remap = (
        e.join(mapping.withColumnRenamed("node", "u"), "u", "left")
        .withColumn("su", F.coalesce("super", F.col("u")))
        .drop("super")
        .join(
            mapping.withColumnRenamed("node", "v").withColumnRenamed(
                "super", "super_v"
            ),
            "v",
            "left",
        )
        .withColumn("sv", F.coalesce("super_v", F.col("v")))
    )
    return (
        remap.select(
            F.least("su", "sv").alias("src"), F.greatest("su", "sv").alias("dst")
        )
        .filter(F.col("src") != F.col("dst"))
        .groupBy("src", "dst")
        .agg(F.count(F.lit(1)).alias("weight"))
    )
