"""k-truss decomposition — triangle-support edge peeling.

A k-truss (Cohen 2008, "Trusses: cohesive subgraphs for social
network analysis") is the maximal subgraph in which every edge is
supported by at least k-2 triangles. Peeling alternates triangle
counting and edge dropping until a fixed point — the edge-level
analog of k-core's vertex peeling (graph/../queries kcore), and the
standard community-core extractor for dense social graphs.

Round shape, all DataFrame algebra on the canonical (src < dst)
edge list:

  triangles  compact-forward enumeration (a<b<c exactly once, the
             same discipline as graph/motifs.py): (a,b) ⋈ (a,c) with
             b<c, closed by (b,c) membership.
  support    each triangle contributes to its three edges; one
             groupBy over the union of the three projections.
  peel       keep edges with support >= k-2 (left join + coalesce 0,
             so triangle-free edges drop too).

Scale shape: the triangle join is the cost driver and shrinks
monotonically every round (edges only ever drop). The rounds run
through graph/iterate.fixpoint, which stops when the edge count
reaches a fixed point — on small-world graphs the peel depth is a
handful of rounds. At 100 TB pre-bucket the edge table by src so the
(a,a) self-join stage reuses the layout.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from social_link_prediction_spark.graph.build import simple_edges
from social_link_prediction_spark.graph.iterate import fixpoint, measure_changed


def edge_support(e: DataFrame) -> DataFrame:
    """Per-edge triangle support over a canonical (src<dst) edge list:
    (src, dst, support) — edges in no triangle get no row."""
    ab = e.select(F.col("src").alias("a"), F.col("dst").alias("b"))
    ac = e.select(F.col("src").alias("a2"), F.col("dst").alias("c"))
    bc = e.select(F.col("src").alias("b2"), F.col("dst").alias("c2"))
    tri = (
        ab.join(ac, (F.col("a") == F.col("a2")) & (F.col("b") < F.col("c")))
        .join(bc, (F.col("b2") == F.col("b")) & (F.col("c2") == F.col("c")))
        .select("a", "b", "c")
    )
    sides = (
        tri.select(F.col("a").alias("src"), F.col("b").alias("dst"))
        .unionAll(tri.select(F.col("a").alias("src"), F.col("c").alias("dst")))
        .unionAll(tri.select(F.col("b").alias("src"), F.col("c").alias("dst")))
    )
    return sides.groupBy("src", "dst").agg(F.count(F.lit(1)).alias("support"))


def ktruss(
    edges: DataFrame,
    k: int = 4,
    max_rounds: int = 30,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Peel to the k-truss fixed point; returns the surviving canonical
    edges with their within-truss triangle support
    (src, dst, support)."""
    if k < 3:
        raise ValueError(f"k-truss requires k >= 3, got {k}")
    e = simple_edges(edges, src, dst).persist()
    try:
        # Each state carries the support its edges had before the peel
        # that kept them; edges only drop, so an unchanged edge count is
        # the fixed point, where that support is the final one.
        t, settled = fixpoint(
            e,
            lambda t: _supported(t).filter(F.col("support") >= k - 2),
            measure_changed(DataFrame.count, e.count()),
            max_rounds,
            "ktruss",
        )
    finally:
        e.unpersist()
    # at the round cap the last peel dropped edges after their support
    # was counted, so count it again over the survivors
    return t if settled else _supported(t)


def _supported(e: DataFrame) -> DataFrame:
    """(src, dst, support) for every canonical edge, 0 in no triangle."""
    e = e.select("src", "dst")
    return e.join(edge_support(e), ["src", "dst"], "left").select(
        "src", "dst", F.coalesce(F.col("support"), F.lit(0)).alias("support")
    )
