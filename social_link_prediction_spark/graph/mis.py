"""Maximal independent set — Luby's algorithm (Luby 1986), the
canonical shared-nothing MIS method (greedy MIS is sequential by
construction). Round r: every active node draws a priority
p(v) = hash60(v, "mis{r}"); v enters the MIS iff p(v) is a STRICT
maximum over its active neighborhood; MIS winners and their
neighbors deactivate. Expected O(log n) rounds clear the graph.

Priorities come from the oracle-replayable h60 hash family instead
of an RNG, so every round's winner set is deterministic and a SQL
oracle replays the evolution exactly (same device as the walks /
sampling / split operators). A hash tie between neighbors simply
means neither wins that round — identical verdict on both engines,
retried under fresh salts next round.

Fixed rounds, not convergence detection (same honesty contract as
scc/k-truss): nodes still active when the budget ends return status
'unresolved' so a bounded run shows exactly what it could not settle.
Per round: one keyed join + one max-aggregate (map-side combinable) +
one semi-join eviction — frontier volume only shrinks.

MIS is the classic symmetry-breaking primitive: distributed graph
coloring seeds, parallel scheduling, and correlation-clustering
pivots all reduce to it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from social_link_prediction_spark.graph.build import vertices
from social_link_prediction_spark.ml.linksplit import hash60


def maximal_independent_set(
    edges: DataFrame,
    rounds: int = 4,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """(id, status) over the undirected simple graph: 'mis' |
    'excluded' (neighbor of a MIS node) | 'unresolved' (round budget
    exhausted). Isolated nodes never appear (node set = edge
    endpoints, consistent with the other graph operators here)."""
    if rounds < 1:
        raise ValueError("rounds must be >= 1")
    pairs = (
        edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
        .filter(F.col("u") != F.col("v"))
        .dropDuplicates()
    )
    und = pairs.unionAll(
        pairs.select(F.col("v").alias("u"), F.col("u").alias("v"))
    ).localCheckpoint()
    active = (
        und.select(F.col("u").alias("id")).dropDuplicates().localCheckpoint()
    )
    out: DataFrame | None = None
    for r in range(rounds):
        pr = active.withColumn(
            "p", hash60(F.col("id").cast("string"), F.lit(f"mis{r}"))
        )
        # active-neighborhood max priority (edges restricted to the
        # active set on both endpoints)
        ae = (
            und.join(active.select(F.col("id").alias("u")), "u", "semi")
            .join(active.select(F.col("id").alias("v")), "v", "semi")
        )
        nbr = (
            ae.join(pr.select(F.col("id").alias("v"), F.col("p").alias("pv")), "v")
            .groupBy(F.col("u").alias("id"))
            .agg(F.max("pv").alias("pmax"))
        )
        winners = (
            pr.join(nbr, "id", "left")
            .filter(F.col("pmax").isNull() | (F.col("p") > F.col("pmax")))
            .select("id")
            .localCheckpoint()
        )
        excluded = (
            ae.join(winners.select(F.col("id").alias("u")), "u", "semi")
            .select(F.col("v").alias("id"))
            .dropDuplicates()
            .join(winners, "id", "anti")
            .localCheckpoint()
        )
        step = winners.withColumn("status", F.lit("mis")).unionAll(
            excluded.withColumn("status", F.lit("excluded"))
        )
        out = step if out is None else out.unionAll(step)
        out = out.localCheckpoint()
        active = (
            active.join(winners, "id", "anti")
            .join(excluded, "id", "anti")
            .localCheckpoint()
        )
    return out.unionAll(active.withColumn("status", F.lit("unresolved")))


def luby_coloring(
    edges: DataFrame,
    colors: int = 3,
    rounds_per_color: int = 3,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Distributed greedy graph coloring by iterated MIS (the
    Jones-Plassmann route): color c = the MIS of the residual graph
    after removing colors < c. Every node in color class c is
    independent (no monochromatic edge — a proper partial coloring by
    construction), and classes are maximal in their residual graph.
    Returns (id, color) with color strictly in [0, colors-1] and
    color NULL for nodes the (colors × rounds_per_color) budget did
    not reach — same honesty contract as scc/mis. Isolated leftovers
    (all residual neighbors already colored) are promoted to color
    c+1 mid-run, but never past the requested palette: on the final
    iteration they stay NULL instead. Δ+1 colors always suffice;
    expected O(log n) Luby rounds per class.

    Graph coloring is the scheduling primitive: a color class is a
    set of conflict-free tasks (registers, channel slots, parallel
    graph-mutation batches) that can run simultaneously."""
    if colors < 1:
        raise ValueError("colors must be >= 1")
    pairs = (
        edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
        .filter(F.col("u") != F.col("v"))
        .dropDuplicates()
        .localCheckpoint()
    )
    remaining = pairs
    out: DataFrame | None = None
    for c in range(colors):
        # per-node priorities repeat across color rounds (same mis{r}
        # salts) but neighborhoods shrink each round, so new strict-max
        # winners emerge — deterministic and oracle-replayable.
        mis_df = maximal_independent_set(
            remaining.select(F.col("u").alias("src"), F.col("v").alias("dst")),
            rounds=rounds_per_color,
        )
        cls = mis_df.filter(F.col("status") == "mis").select(
            "id", F.lit(c).alias("color")
        )
        # isolated leftovers (all neighbors colored earlier) never
        # reappear in the residual edge set — color them too: a node
        # with no remaining edges conflicts with nothing.
        out = cls if out is None else out.unionAll(cls)
        out = out.localCheckpoint()
        colored = out.select("id")
        remaining = (
            remaining.join(colored.select(F.col("id").alias("u")), "u", "anti")
            .join(colored.select(F.col("id").alias("v")), "v", "anti")
            .localCheckpoint()
        )
        if c + 1 < colors:
            isolated = (
                vertices(pairs, "u", "v")
                .join(colored, "id", "anti")
                .join(vertices(remaining, "u", "v"), "id", "anti")
                .select("id", F.lit(c + 1).alias("color"))
                .localCheckpoint()
            )
            # isolated nodes have no residual edges by definition, so
            # the remaining edge set needs no further pruning for them.
            # Safety of color c+1: all their neighbors are colored <= c
            # (MIS this round or earlier promotion), same-iteration
            # isolated nodes are pairwise non-adjacent, and no
            # UNCOLORED neighbor exists to receive c+1 later. On the
            # FINAL iteration c+1 would exceed the requested palette
            # [0, colors-1], so promotion is skipped and those nodes
            # return color NULL with the other budget-exhausted nodes.
            out = out.unionAll(isolated).localCheckpoint()
    leftover = vertices(pairs, "u", "v").join(out.select("id"), "id", "anti").withColumn(
        "color", F.lit(None).cast("int")
    )
    return out.unionAll(leftover)
