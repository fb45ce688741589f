"""Community detection: synchronous label propagation (LPA).

Raghavan et al., "Near linear time algorithm to detect community
structures in large-scale networks" (2007), in the deterministic
synchronous variant: every round, each vertex adopts the most
frequent label among its neighbors, ties broken by the smallest
label, all vertices updating simultaneously from the previous round's
labels. Initial label = own id. Deterministic by construction (no
random visit order), so a fixed round count is exactly replayable by
the SQL oracle — the asynchronous classic converges faster but is
order-dependent, which is the wrong trade for a reproducible data
pipeline.

Not in the reference (its structure analysis stops at components /
wedges); added as the standard community pass over the social graph.

Shape per round: one neighbor-label join keyed on the edge endpoint +
one (node, label) count aggregation + one per-node argmax — all
shuffle on the vertex key, so the edge table's partitioning is reused
round over round; labels localCheckpoint each round (same lineage
discipline as the PageRank loop).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from social_link_prediction_spark.graph.build import simple_edges, undirected


def label_propagation(
    edges: DataFrame,
    rounds: int = 3,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Synchronous LPA over the undirected simple graph. Returns
    (id, label) after exactly ``rounds`` rounds — fixed rounds rather
    than convergence detection because synchronous LPA can oscillate
    on bipartite-ish structures (the documented failure mode of the
    sync variant); 3-5 rounds is the standard operating range.
    """
    und = undirected(simple_edges(edges, src, dst)).toDF("u", "v").localCheckpoint()
    labels = (
        und.select(F.col("u").alias("id"))
        .dropDuplicates()
        .withColumn("label", F.col("id"))
        .localCheckpoint()
    )
    for _ in range(rounds):
        nbr = und.join(
            labels.select(F.col("id").alias("v"), "label"), "v"
        ).select(F.col("u").alias("id"), "label")
        counts = nbr.groupBy("id", "label").agg(F.count(F.lit(1)).alias("c"))
        w = Window.partitionBy("id").orderBy(F.col("c").desc(), F.col("label").asc())
        labels = (
            counts.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .select("id", "label")
            .localCheckpoint()
        )
    return labels
