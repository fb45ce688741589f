"""Strongly connected components (directed graphs).

The engine's undirected connected components (pagerank.connected_
components, min-label large/small-star) cannot see edge direction;
SCCs need mutual reachability. This is the FW-BW coloring algorithm
(Fleischer et al. 2000; Slota et al. 2014 "multistep" variant), the
standard shared-nothing SCC method — Tarjan/Kosaraju are inherently
sequential (DFS) and do not distribute:

per peel round:
  1. color propagation — colors flow ALONG edges (u→v: v inherits
     max(c(u), c(v))); at convergence c(v) = max id over
     {v} ∪ ancestors(v). Every color class has a root r with
     c(r) = r, and the whole SCC of r sits inside class r.
  2. class-restricted backward reachability from each root — v is in
     SCC(c(v)) iff v can reach its class root through same-class
     edges. One SCC per color class resolves per peel (roots with no
     cycle resolve as singletons — a DAG fully resolves in one peel).
  3. peel resolved nodes + incident edges, repeat.

Each phase runs through graph/iterate.fixpoint with at most ``rounds``
rounds and an exact change test: a phase settled iff its last round
changed no row. Both phases are monotone, so that is the fixed point,
and stopping at the first no-change round gives the same frames as
running the whole budget. A peel's resolutions are only valid when
BOTH phases settled — partially propagated colors mis-class nodes, and
partially propagated backward reach would peel a strict subset of an
SCC, splitting the remainder into wrongly-labeled sub-components in
later peels. When either phase exhausts its budget the peel resolves
NOTHING and every still-active node comes back with scc NULL (the
honest budget-exhaustion contract, same as k-truss' round cap). A
SQL oracle replays the exact evolution CTE-by-CTE, including the
convergence guard (compare the last two unrolled rounds). Per
round: one keyed join + one max-aggregate — map-side-combinable,
and at 100 TB the active set only shrinks as peels remove settled
components.
"""

from __future__ import annotations

from functools import partial

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from social_link_prediction_spark.graph.build import vertices
from social_link_prediction_spark.graph.iterate import fixpoint


def _forward(e: DataFrame, c: DataFrame) -> DataFrame:
    """One color round: v takes max(c(u), c(v)) over its in-edges u→v."""
    inc = (
        e.join(c.select(F.col("id").alias("u"), F.col("c").alias("cu")), "u")
        .groupBy(F.col("v").alias("id"))
        .agg(F.max("cu").alias("cin"))
    )
    return c.join(inc, "id", "left").select(
        "id", F.greatest(F.col("c"), F.coalesce("cin", "c")).alias("c")
    )


def _backward(ce: DataFrame, r: DataFrame) -> DataFrame:
    """One reach round over same-class edges u→v: u reaches the class
    root once some v it points at does."""
    upd = (
        ce.join(r.select(F.col("id").alias("v"), F.col("r").alias("rv")), "v")
        .filter(F.col("rv") == 1)
        .groupBy(F.col("u").alias("id"))
        .agg(F.lit(1).alias("rin"))
    )
    return r.join(upd, "id", "left").select(
        "id", "c", F.greatest(F.col("r"), F.coalesce("rin", F.lit(0))).alias("r")
    )


def _row_changed(col: str, prev: DataFrame, nxt: DataFrame) -> bool:
    """Exact change test: some node's ``col`` differs between rounds."""
    old = prev.select("id", F.col(col).alias("old"))
    return nxt.join(old, "id").filter(F.col(col) != F.col("old")).limit(1).count() > 0


def strongly_connected_components(
    edges: DataFrame,
    rounds: int = 4,
    peels: int = 2,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """(id, scc) for every node of the directed graph; scc = the
    MAX node id of the component (the coloring root), NULL when the
    (rounds, peels) budget did not settle the node. ``rounds`` bounds
    the propagation radius per phase — r rounds settle components
    whose internal hop distances fit in r. A peel whose forward or
    backward phase did NOT reach a fixed point within ``rounds``
    resolves nothing (its labels would be wrong, and peeling a
    partial SCC would mislabel the remainder next peel), so those
    nodes return scc NULL rather than a confidently-wrong label.
    """
    if rounds < 1 or peels < 1:
        raise ValueError("rounds and peels must be >= 1")
    # not build.simple_edges: the graph is directed, (u, v) != (v, u)
    e = (
        edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
        .filter(F.col("u") != F.col("v"))
        .dropDuplicates()
        .localCheckpoint()
    )
    nodes = vertices(e, "u", "v").localCheckpoint()
    resolved: DataFrame | None = None
    active_n, active_e = nodes, e
    for p in range(1, peels + 1):
        # --- 1. forward color propagation (max over ancestors)
        c = active_n.withColumn("c", F.col("id")).localCheckpoint()
        step, test = partial(_forward, active_e), partial(_row_changed, "c")
        c, settled = fixpoint(c, step, test, rounds, f"scc/peel {p}/forward")
        if not settled:
            # Budget exhausted mid-propagation: colors are partial ⇒
            # classes are wrong ⇒ nothing this peel (or any later peel
            # on the identical active set) may resolve.
            break
        # --- 2. backward reach to the class root over same-class edges
        ce = (
            active_e.join(c.select(F.col("id").alias("u"), F.col("c").alias("cu")), "u")
            .join(c.select(F.col("id").alias("v"), F.col("c").alias("cv")), "v")
            .filter(F.col("cu") == F.col("cv"))
            .select("u", "v")
            .localCheckpoint()
        )
        r = c.withColumn("r", (F.col("id") == F.col("c")).cast("int")).localCheckpoint()
        step, test = partial(_backward, ce), partial(_row_changed, "r")
        r, settled = fixpoint(r, step, test, rounds, f"scc/peel {p}/backward")
        if not settled:
            # Partial backward reach would peel a strict subset of an
            # SCC — later peels would then mislabel the remainder as
            # smaller components. Invalidate the whole peel instead.
            break
        # --- 3. peel (valid only because both phases hit a fixed point)
        done = r.filter(F.col("r") == 1).select("id", F.col("c").alias("scc"))
        resolved = done if resolved is None else resolved.unionAll(done)
        resolved = resolved.localCheckpoint()
        active_n = r.filter(F.col("r") == 0).select("id").localCheckpoint()
        active_e = (
            active_e.join(active_n.select(F.col("id").alias("u")), "u", "semi")
            .join(active_n.select(F.col("id").alias("v")), "v", "semi")
            .select("u", "v")
            .localCheckpoint()
        )
    leftover = active_n.withColumn("scc", F.lit(None).cast(nodes.schema["id"].dataType))
    if resolved is None:
        return leftover
    return resolved.unionAll(leftover)
