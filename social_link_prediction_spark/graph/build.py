"""Graph construction (G1) and edge-weight precompute (G2).

Reference: transformer.py:279-349 builds an igraph object by mapping
Q-IDs to dense indices and dropping unmatched endpoints;
core/algorithms/bfs.py:15-90 precomputes hub/age-penalty weights.
Here both are DataFrame transformations; "the graph" is just
(vertices, edges) with a contract: edges.src/dst ⊆ vertices.id.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from social_link_prediction_spark.operators.aggregates import in_degree

INF = float("inf")


def build_graph(
    nodes: DataFrame,
    edges: DataFrame,
    node_id: str = "id",
    src: str = "person",
    dst: str = "object",
    rel: str = "relationship_label",
) -> tuple[DataFrame, DataFrame]:
    """G1: inner-join edge endpoints against the node table (unmatched
    endpoints dropped — the reference's ``dropna`` after Series.map,
    transformer.py:311-319). Returns (vertices, edges) with canonical
    column names. No dense index is needed: Spark joins on the id
    directly; a dense index (pyg_id) exists separately for ML export.
    """
    ids = nodes.select(F.col(node_id).alias("id"))
    e = (
        edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"), F.col(rel).alias("rel"))
        .join(ids.withColumnRenamed("id", "src"), "src", "inner")
        .join(ids.withColumnRenamed("id", "dst"), "dst", "inner")
        .select("src", "dst", "rel")
    )
    v = nodes.withColumnRenamed(node_id, "id")
    return v, e


def edge_weights(
    vertices: DataFrame,
    edges: DataFrame,
    blacklist_rels: tuple[str, ...] = ("influenced_by",),
    age_gap_tolerance: int = 15,
    age_gap_scale: float = 5.0,
) -> DataFrame:
    """G2: weight = log(in_degree(dst)+1) hub penalty, plus an age-gap
    penalty of (|Δbirth_year| − tolerance)/scale beyond the tolerance
    when both endpoints are human, and +inf for blacklisted relations
    (reference: bfs.py:15-90). One join pipeline — degrees and vertex
    attrs are aggregated/broadcast, never collected.
    """
    deg = in_degree(edges, "dst")
    # birth_year is optional vertex metadata (the fixture/CLI graph has
    # none): absent column → all-null years → zero age penalty
    year_col = (
        F.col("birth_year").cast("double")
        if "birth_year" in vertices.columns
        else F.lit(None).cast("double")
    )
    vattr = vertices.select(
        "id",
        F.col("type").alias("v_type"),
        year_col.alias("v_year"),
    )
    mean_year = vertices.agg(F.avg(year_col).alias("m")).first()["m"]
    year_filled = F.coalesce(F.col("v_year"), F.lit(mean_year))

    e = (
        edges.join(deg.withColumnRenamed("id", "dst"), "dst", "left")
        .na.fill({"in_degree": 0})
        .join(
            vattr.select(
                F.col("id").alias("src"),
                F.col("v_type").alias("src_type"),
                year_filled.alias("src_year"),
            ),
            "src",
            "left",
        )
        .join(
            vattr.select(
                F.col("id").alias("dst"),
                F.col("v_type").alias("dst_type"),
                year_filled.alias("dst_year"),
            ),
            "dst",
            "left",
        )
    )
    hub = F.log(F.col("in_degree") + 1)
    gap = F.abs(F.col("src_year") - F.col("dst_year"))
    both_human = (F.col("src_type") == "human") & (F.col("dst_type") == "human")
    age_pen = F.when(
        both_human & (gap > age_gap_tolerance), (gap - age_gap_tolerance) / age_gap_scale
    ).otherwise(F.lit(0.0))
    weight = F.when(F.col("rel").isin(*blacklist_rels), F.lit(INF)).otherwise(
        F.lit(1.0) + hub + age_pen
    )
    return e.select("src", "dst", "rel", weight.alias("weight"))


def simple_edges(edges: DataFrame, src: str = "src", dst: str = "dst") -> DataFrame:
    """The undirected simple graph of an edge list, as (src, dst) with
    src < dst: each unordered pair once, no self-loops, no NULL
    endpoint (the reference drops reverse edges before it builds the
    graph, transformer.py step D5). Lazy; compose with ``undirected``
    for both orientations."""
    # least/greatest skip a NULL, so a NULL endpoint turns into a
    # self-loop and is filtered with them
    return (
        edges.select(
            F.least(src, dst).alias("src"), F.greatest(src, dst).alias("dst")
        )
        .filter(F.col("src") != F.col("dst"))
        .dropDuplicates()
    )


def undirected(edges: DataFrame) -> DataFrame:
    """Both-orientation view for undirected traversal (the reference's
    Dijkstra runs with mode='all' over the directed graph)."""
    fwd = edges
    rev = edges.select(
        F.col("dst").alias("src"), F.col("src").alias("dst"),
        *[F.col(c) for c in edges.columns if c not in ("src", "dst")],
    )
    return fwd.unionByName(rev)


def vertices(edges: DataFrame, a: str = "src", b: str = "dst") -> DataFrame:
    """Vertex set (id) of an edge list: the distinct union of both
    endpoint columns. Lazy — each caller picks its own persist or
    checkpoint."""
    return (
        edges.select(F.col(a).alias("id"))
        .unionAll(edges.select(F.col(b).alias("id")))
        .dropDuplicates()
    )
