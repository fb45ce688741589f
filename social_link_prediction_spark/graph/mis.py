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
Per round: one max-aggregate of inline priorities over the active
edges + a strict-max filter, no join to a priority frame; the eviction
(excluded neighbors, next active set) runs only when a later step
reads it.

MIS is the classic symmetry-breaking primitive: distributed graph
coloring seeds, parallel scheduling, and correlation-clustering
pivots all reduce to it.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from social_link_prediction_spark.graph.build import simple_edges, undirected
from social_link_prediction_spark.ml.linksplit import hash60


# round-r priority of a node id: a pure function of the id, so it is
# computed where it is read instead of joined in from a priority frame
def _prio(col: str, r: int):
    return hash60(F.col(col).cast("string"), F.lit(f"mis{r}"))


def _endpoints(und: DataFrame) -> DataFrame:
    return und.select(F.col("u").alias("id")).dropDuplicates().localCheckpoint()


def _luby(und: DataFrame, active: DataFrame, rounds: int, settle_last: bool):
    """Luby rounds on the symmetric edges ``und`` from node set
    ``active``: (winners per round, excluded per round, final active),
    all checkpointed. Without ``settle_last`` the last round stops at
    its winners (no excluded frame, active left as it started)."""
    won, lost = [], []
    for r in range(rounds):
        # edges with both endpoints still active
        ae = und.join(active.select(F.col("id").alias("u")), "u", "semi").join(
            active.select(F.col("id").alias("v")), "v", "semi"
        )
        # each active node also sends itself a (u, u) row, which the max
        # skips, so a node without active neighbors still forms a group
        winners = (
            ae.unionByName(active.select(F.col("id").alias("u"), F.col("id").alias("v")))
            .groupBy(F.col("u").alias("id"))
            .agg(F.max(F.when(F.col("u") != F.col("v"), _prio("v", r))).alias("pmax"))
            .filter(F.col("pmax").isNull() | (_prio("id", r) > F.col("pmax")))
            .select("id")
            .localCheckpoint()
        )
        won.append(winners)
        if r + 1 == rounds and not settle_last:
            break
        # winners are pairwise non-adjacent (strict maxima), so none
        # of them is among the excluded neighbors
        excluded = (
            ae.join(winners.select(F.col("id").alias("u")), "u", "semi")
            .select(F.col("v").alias("id"))
            .dropDuplicates()
            .localCheckpoint()
        )
        lost.append(excluded)
        active = active.join(winners.unionAll(excluded), "id", "anti").localCheckpoint()
    return won, lost, active


def _union(frames: list[DataFrame]) -> DataFrame:
    return reduce(lambda a, b: a.unionAll(b), frames)


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
    und = undirected(simple_edges(edges, src, dst)).toDF("u", "v").localCheckpoint()
    won, lost, active = _luby(und, _endpoints(und), rounds, settle_last=True)
    return _union(
        [w.withColumn("status", F.lit("mis")) for w in won]
        + [x.withColumn("status", F.lit("excluded")) for x in lost]
        + [active.withColumn("status", F.lit("unresolved"))]
    )


def luby_coloring(
    edges: DataFrame,
    colors: int = 3,
    rounds_per_color: int = 3,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Distributed greedy graph coloring by iterated MIS (the
    Jones-Plassmann route): color c = the Luby winners of the residual
    graph after removing colors < c. Every node in color class c is
    independent (no monochromatic edge — a proper partial coloring by
    construction), and classes are maximal in their residual graph.
    Returns (id, color) with color strictly in [0, colors-1] and
    color NULL for nodes the (colors × rounds_per_color) budget did
    not reach — same honesty contract as scc/mis. Isolated leftovers
    (all residual neighbors already colored) are promoted to color
    c+1 mid-run, but never past the requested palette: on the final
    iteration they stay NULL instead. Δ+1 colors always suffice;
    expected O(log n) Luby rounds per class.

    Per color: Luby rounds on the residual edges (the last round stops
    at its winners), then, before the next color, the residual pruned
    by the winners and its endpoint set, each checkpointed once.

    Graph coloring is the scheduling primitive: a color class is a
    set of conflict-free tasks (registers, channel slots, parallel
    graph-mutation batches) that can run simultaneously."""
    if colors < 1:
        raise ValueError("colors must be >= 1")
    if rounds_per_color < 1:
        raise ValueError("rounds must be >= 1")
    und = undirected(simple_edges(edges, src, dst)).toDF("u", "v").localCheckpoint()
    active = _endpoints(und)
    out: list[DataFrame] = []
    for c in range(colors):
        # per-node priorities repeat across colors (same mis{r} salts)
        # but neighborhoods shrink, so new strict-max winners emerge —
        # deterministic and oracle-replayable.
        won = _union(_luby(und, active, rounds_per_color, settle_last=False)[0])
        out.append(won.select("id", F.lit(c).alias("color")))
        if c + 1 == colors:
            break
        # earlier colors are already gone from the residual, so only
        # this color's winners prune it (the anti-join on v puts v first)
        und = (
            und.join(won.select(F.col("id").alias("u")), "u", "anti")
            .join(won.select(F.col("id").alias("v")), "v", "anti")
            .select("u", "v")
            .localCheckpoint()
        )
        nxt = _endpoints(und)
        # isolated leftovers: uncolored, with no residual edge left.
        # Safety of color c+1: all their neighbors are colored <= c
        # (a winner now or an earlier color), same-color isolated nodes
        # are pairwise non-adjacent, and no uncolored neighbor exists
        # to receive c+1 later. On the final color c+1 would exceed the
        # palette, so those nodes fall into the NULL leftover below.
        out.append(
            active.join(won.unionAll(nxt), "id", "anti").select("id", F.lit(c + 1).alias("color"))
        )
        active = nxt
    leftover = active.join(won, "id", "anti").select(
        "id", F.lit(None).cast("int").alias("color")
    )
    return _union(out + [leftover])
