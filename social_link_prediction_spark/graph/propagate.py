"""Neighborhood feature propagation — the message-passing forward
pass of a GNN, as pure DataFrame algebra.

Each layer computes, for every node v,

    h_{k+1}(v) = (1 - alpha) * h_k(v) + alpha * mean_{(u,v) in E} h_k(u)

— the GraphSAGE-mean aggregator with identity weight matrices /
SGC-style simplified graph convolution (Hamilton et al. 2017; Wu et
al. 2019 "Simplifying Graph Convolutional Networks"). With learned
weights stripped, propagation is exactly one keyed join + one keyed
aggregate per layer per feature column, so Catalyst sees the whole
forward pass declaratively and the edge table's src-hash partitioning
is reused across layers.

This complements the substituted link-prediction stack (SURVEY
§7.4.3: wedge features + MLlib replace the reference's torch GNN,
reference core/ai/gnn_architecture.py:13-96): propagated features ARE
GNN-style node embeddings, computed engine-side with no tensor
library, and feed the same downstream scorers (ml/predict.py).

Scale shape: per layer, the feature frame (|V| rows, narrow) joins
the edge list on src — at 100 TB the features are the small side and
broadcast under the graph/iterate.py guard, else both sides
hash-shuffle on the node id once and every subsequent layer reuses
that partitioning.
Isolated nodes (no in-edges) keep their own features (coalesce to
h_k, the standard convention for mean aggregation over an empty
neighborhood).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from social_link_prediction_spark.graph.build import simple_edges, undirected
from social_link_prediction_spark.graph.iterate import hint


def propagate_features(
    edges: DataFrame,
    feats: DataFrame,
    cols: Sequence[str],
    layers: int = 2,
    alpha: float = 0.5,
    id_col: str = "id",
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Run ``layers`` rounds of mean-aggregation message passing over
    the numeric feature columns ``cols`` of ``feats`` (one row per
    node, keyed by ``id_col``). Returns the final (id, *cols) frame.

    The feature frame is |V| rows; under the graph/iterate.py guard it
    is broadcast into both per-layer joins (the edge table never
    shuffles), past the guard the layers run shuffle-based — on a
    billion-node graph the features are no longer the small side.
    """
    if not 0.0 <= alpha <= 1.0:
        raise ValueError(f"alpha must be in [0, 1], got {alpha}")
    e = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
    h = feats.select(F.col(id_col).alias("id"), *[F.col(c).cast("double") for c in cols])
    n = feats.count()
    for _ in range(layers):
        msg = (
            hint(h, n).join(e, h["id"] == e["src"])
            .groupBy(F.col("dst").alias("id"))
            .agg(*[F.avg(c).alias(f"nbr_{c}") for c in cols])
        )
        h = (
            h.join(hint(msg, n), "id", "left")
            .select(
                "id",
                *[
                    (
                        F.lit(1.0 - alpha) * F.col(c)
                        + F.lit(alpha) * F.coalesce(F.col(f"nbr_{c}"), F.col(c))
                    ).alias(c)
                    for c in cols
                ],
            )
            # eager lineage truncation; previous layers' blocks are
            # GC-reclaimable (persist would pin one |V|-row frame per
            # layer in the cache for the life of the session).
            .localCheckpoint()
        )
    return h


def label_spreading(
    edges: DataFrame,
    seeds: DataFrame,
    rounds: int = 3,
    id_col: str = "id",
    label_col: str = "label",
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Semi-supervised harmonic label propagation (Zhu et al. 2003):
    seed nodes carry a CLAMPED score in [0, 1] (their known label);
    every other node iteratively takes the mean of its neighbors'
    scores, initialized at 0.5 (maximal uncertainty). After ``rounds``
    synchronous rounds, returns (id, score, is_seed) — score is the
    diffused label affinity, monotone in proximity to positive seeds.

    The transductive cousin of LPA: LPA hardens to the argmax label
    each round (community detection); spreading keeps the soft
    harmonic average (node scoring / weak supervision). Fixed rounds
    for oracle replay. Per round: one keyed join + one mean-aggregate
    over the undirected edge list, then the seed clamp — the same
    loop discipline as pagerank, with the score frame |V|-sized."""
    und = undirected(simple_edges(edges, src, dst)).toDF("u", "v").localCheckpoint()
    nodes = und.select(F.col("u").alias("id")).dropDuplicates()
    sd = seeds.select(
        F.col(id_col).alias("id"), F.col(label_col).cast("double").alias("seed")
    )
    state = (
        nodes.join(sd, "id", "left")
        .select(
            "id",
            F.coalesce("seed", F.lit(0.5)).alias("score"),
            F.col("seed").isNotNull().cast("int").alias("is_seed"),
            F.col("seed"),
        )
        .localCheckpoint()
    )
    for _ in range(rounds):
        nbr = (
            und.join(
                state.select(F.col("id").alias("v"), F.col("score").alias("sv")),
                "v",
            )
            .groupBy(F.col("u").alias("id"))
            .agg(F.avg("sv").alias("mean_nbr"))
        )
        state = (
            state.join(nbr, "id", "left")
            .select(
                "id",
                F.when(F.col("is_seed") == 1, F.col("seed"))
                .otherwise(F.coalesce("mean_nbr", F.col("score")))
                .alias("score"),
                "is_seed",
                "seed",
            )
            .localCheckpoint()
        )
    return state.select("id", "score", "is_seed")
