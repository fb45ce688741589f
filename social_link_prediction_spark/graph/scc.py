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

Both loops run a BOUNDED number of rounds with an explicit fixed-
point check: a phase "converged" iff its last round changed no row
(both phases are monotone, so last-two-frames-equal ⇔ fixed point,
and an engine-side early exit at the first no-change round produces
byte-identical frames to running the full budget). A peel's
resolutions are only valid when BOTH phases converged — partially
propagated colors mis-class nodes, and partially propagated
backward reach would peel a strict subset of an SCC, splitting the
remainder into wrongly-labeled sub-components in later peels. When
either phase exhausts its budget mid-flight the peel resolves
NOTHING and every still-active node comes back with scc NULL (the
honest budget-exhaustion contract, same as k-truss' round cap). A
SQL oracle replays the exact evolution CTE-by-CTE, including the
convergence guard (compare the last two unrolled rounds). Per
round: one keyed join + one max-aggregate — map-side-combinable,
and at 100 TB the active set only shrinks as peels remove settled
components.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window  # noqa: F401 (Window: API symmetry)
from pyspark.sql import functions as F

from social_link_prediction_spark.graph.build import vertices


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
    for _ in range(peels):
        # --- 1. forward color propagation (max over ancestors)
        c = active_n.withColumn("c", F.col("id")).localCheckpoint()
        fwd_converged = False
        for _r in range(rounds):
            inc = (
                active_e.join(
                    c.select(F.col("id").alias("u"), F.col("c").alias("cu")), "u"
                )
                .groupBy(F.col("v").alias("id"))
                .agg(F.max("cu").alias("cin"))
            )
            nxt = (
                c.join(inc, "id", "left")
                .select(
                    "id",
                    F.greatest(F.col("c"), F.coalesce("cin", "c")).alias("c"),
                )
                .localCheckpoint()
            )
            # Monotone ⇒ "no row rose" is exactly the fixed point; the
            # early break leaves `c` byte-identical to running out the
            # budget, so the unrolled SQL oracle (which always runs
            # `rounds` rounds and compares the last two) replays this.
            changed = (
                nxt.join(c.withColumnRenamed("c", "c0"), "id")
                .filter(F.col("c") != F.col("c0"))
                .limit(1)
                .count()
            )
            c = nxt
            if changed == 0:
                fwd_converged = True
                break
        if not fwd_converged:
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
        bwd_converged = False
        for _r in range(rounds):
            upd = (
                ce.join(
                    r.select(F.col("id").alias("v"), F.col("r").alias("rv")), "v"
                )
                .filter(F.col("rv") == 1)
                .groupBy(F.col("u").alias("id"))
                .agg(F.lit(1).alias("rin"))
            )
            nxt = (
                r.join(upd, "id", "left")
                .select(
                    "id",
                    "c",
                    F.greatest(F.col("r"), F.coalesce("rin", F.lit(0))).alias("r"),
                )
                .localCheckpoint()
            )
            changed = (
                nxt.join(r.select("id", F.col("r").alias("r0")), "id")
                .filter(F.col("r") != F.col("r0"))
                .limit(1)
                .count()
            )
            r = nxt
            if changed == 0:
                bwd_converged = True
                break
        if not bwd_converged:
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
