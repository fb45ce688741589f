"""Deterministic layered neighbor sampling (GNN minibatch loader, M6).

Reference: train_model.py uses LinkNeighborLoader to draw a bounded
number of neighbors per node per hop for minibatch GNN training. The
feature-based model in ml/predict.py replaced the GNN itself
(SURVEY §7.4.3), but the SAMPLER is independently useful — bounded
per-hop expansion is how any per-node computation (feature wedges,
embedding aggregation, subgraph export) caps hub blowup at corpus
scale — so it ships as a first-class operator.

Determinism: neighbor choice is rank-by-hash, not RNG — for node u at
hop h, keep the fanout-k neighbors minimizing
hash60(u, v, h, tag) (md5-based, ml/linksplit.hash60), ties broken by
v. Same sample every run, same sample in the SQL oracle, and changing
``tag`` redraws independently (epoch re-sampling).

Shape per hop: one join keyed on the frontier node + one per-node
row_number window over candidate neighbors (partitioned by the same
key — no extra shuffle beyond the join's), frontier = distinct sampled
dst. Memory is bounded by |frontier| x fanout per hop, never by hub
degree.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from social_link_prediction_spark.graph.build import vertices
from social_link_prediction_spark.ml.linksplit import hash60


def neighbor_sample(
    edges: DataFrame,
    seeds: DataFrame,
    fanouts: list[int],
    tag: str = "ns",
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Layered neighbor sampling from ``seeds`` (column ``id``).
    Returns the sampled block edges (hop, src, dst) — hop 0 expands
    the seeds with fanouts[0] neighbors each, hop 1 expands those
    neighbors, etc. Frontier nodes are deduplicated between hops (a
    node reached twice is expanded once, like the PyG loaders)."""
    e = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst")).persist()
    frontier = seeds.select(F.col("id").alias("src")).dropDuplicates()
    layers = []
    for hop, k in enumerate(fanouts):
        cand = frontier.join(e, "src")
        w = Window.partitionBy("src").orderBy(
            hash60(
                F.col("src").cast("string"),
                F.col("dst").cast("string"),
                F.lit(str(hop)),
                F.lit(tag),
            ).asc(),
            F.col("dst").asc(),
        )
        layer = (
            cand.withColumn("__r", F.row_number().over(w))
            .filter(F.col("__r") <= k)
            .select(F.lit(hop).alias("hop"), "src", "dst")
            .localCheckpoint()
        )
        layers.append(layer)
        frontier = layer.select(F.col("dst").alias("src")).dropDuplicates()
    out = layers[0]
    for part in layers[1:]:
        out = out.unionByName(part)
    return out


def export_training_blocks(
    blocks: DataFrame,
    node_features: DataFrame,
    path: str,
) -> dict[str, str]:
    """The M6 -> external-trainer seam (SURVEY §7.4.3 "pluggable
    embeddings"): materialize sampled blocks + the features of exactly
    the nodes they touch as the M3 partitioned tensor layout —

    - ``<path>/edges``  (src, dst) partitioned by ``hop``: each hop is
      one directory of parquet shards, i.e. one adjacency tensor per
      GNN layer, loadable independently (PyG-style bipartite blocks);
    - ``<path>/nodes``  the node feature table through the M12
      embedding store (``ml.predict.write_embeddings`` — partitioned by
      ``type`` when present), semi-joined down to nodes appearing in
      the blocks so the export is minibatch-sized, not corpus-sized.

    An external torch stage reads both directories with any parquet
    reader; ``ml.predict.read_embeddings`` round-trips the node side
    for Spark-side scoring. Returns the two directory paths.
    """
    from social_link_prediction_spark.ml.predict import write_embeddings

    edges_path = f"{path.rstrip('/')}/edges"
    nodes_path = f"{path.rstrip('/')}/nodes"
    blocks.select("hop", "src", "dst").write.mode("overwrite").partitionBy(
        "hop"
    ).parquet(edges_path)
    touched = vertices(blocks)
    write_embeddings(node_features.join(touched, "id", "left_semi"), nodes_path)
    return {"edges": edges_path, "nodes": nodes_path}
