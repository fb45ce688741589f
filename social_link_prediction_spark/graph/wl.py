"""Weisfeiler-Lehman label refinement (1-WL color refinement).

Weisfeiler & Lehman (1968); the modern use is Shervashidze et al.,
"Weisfeiler-Lehman graph kernels" (JMLR 2011): iteratively re-label
every vertex with a hash of (own label, sorted multiset of neighbor
labels). After k rounds two vertices share a label iff their k-hop
unfolded neighborhoods are isomorphic — the signature family behind
WL graph kernels and the expressiveness ceiling of message-passing
GNNs (Xu et al., "How powerful are GNNs?", ICLR 2019). As a
link-prediction feature it complements the wedge CN/AA features in
ml/predict.py: same-label vertices are structurally interchangeable.

Determinism/oracle: the re-label hash is ml.linksplit.hash60 (md5),
whose DuckDB twin computes the identical value, and the neighbor
multiset is serialized as a lexicographically sorted comma join — so
each round is exactly replayable in SQL (string_agg ORDER BY = Spark
array_sort + concat_ws over ASCII digit strings).

Shape per round: one join keyed on the edge endpoint + one
(id, sorted-neighbor-concat) aggregation + the relabel hash — all
JVM-side; the edge table's partitioning is reused round over round.
Vertices with no out-edges drop from the refined set (refinement is
defined over vertices that have neighbors; symmetric graphs lose
nothing).

Neighbor-concat row width is O(degree · label width); on hub-heavy
graphs cap it the way the LSH/wedge paths do (max_neighbor_degree
pre-filter) or hash the multiset incrementally via a sorted
aggregate-of-hashes instead of a string join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from social_link_prediction_spark.graph.build import vertices
from social_link_prediction_spark.ml.linksplit import hash60


def wl_refinement_history(
    edges: DataFrame,
    iterations: int = 2,
    src: str = "src",
    dst: str = "dst",
) -> list[DataFrame]:
    """Run ``iterations`` rounds of 1-WL refinement from the uniform
    initial coloring. Returns [labels_0, labels_1, ...], each
    (id, label string) — round 0 is the uniform coloring over all
    endpoint vertices, round 1 therefore refines by degree class.
    """
    e = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst")).persist()
    labels = (
        vertices(e)
        .withColumn("label", F.lit("1"))
        .localCheckpoint()
    )
    history = [labels]
    for _ in range(iterations):
        nbrs = (
            e.join(labels.select(F.col("id").alias("dst"), "label"), "dst")
            .groupBy(F.col("src").alias("id"))
            .agg(
                F.concat_ws(",", F.array_sort(F.collect_list("label"))).alias(
                    "nbrs"
                )
            )
        )
        labels = (
            labels.join(nbrs, "id")
            .select(
                "id",
                hash60(F.col("label"), F.col("nbrs")).cast("string").alias("label"),
            )
            .localCheckpoint()
        )
        history.append(labels)
    return history
