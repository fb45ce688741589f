"""Shared pieces of the graph operators' driver loops, after the Pregel
model (Malewicz et al., SIGMOD 2010), which keeps the superstep loop
and its halt rule in the framework, not in each vertex program.

The power-iteration operators (pagerank, personalized_pagerank, hits,
katz, eigenvector) share the broadcast guard, the |V|-tracking
partition count and one propagation round (:func:`push`); they run a
fixed number of rounds at their own checkpoint cadence. The operators
that iterate to a fixed point (scc's two phases, k_core, ktruss,
transitive_closure, connected_components) run through
:func:`fixpoint`; each passes its round and its change test and
decides what an exhausted budget means.
"""

from __future__ import annotations

from collections.abc import Callable, Hashable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# Rows under which a |V|-sized frame is broadcast-hinted: the big edge
# table then never re-sorts or re-shuffles inside a loop. Past it joins
# stay shuffle-based — on a billion-node graph the score frame is no
# longer the small side.
BROADCAST_MAX_ROWS = 2_000_000


def hint(df: DataFrame, n_rows: int) -> DataFrame:
    """Broadcast-hint ``df`` when its known row count is under the guard."""
    return F.broadcast(df) if n_rows <= BROADCAST_MAX_ROWS else df


def partitions(df: DataFrame, n_rows: int) -> int:
    """Partition count for |V|-sized frames: one partition per ~500k
    rows, up to the session parallelism. A 4k-row rank frame has no
    business occupying 32 shuffle partitions' worth of per-round task
    launches and checkpoint blocks, and at 1e9 vertices the same
    formula returns to full parallelism."""
    par = df.sparkSession.sparkContext.defaultParallelism
    return max(1, min(par, n_rows // 500_000 + 1))


def push(
    edges: DataFrame, scores: DataFrame, frm: str, to: str, value: str, n_rows: int
) -> DataFrame:
    """One propagation round: join the (id, ``value``) score frame onto
    edge endpoint ``frm`` and sum ``value`` by endpoint ``to``. Returns
    (id, ``value``) for every vertex with an in-edge along ``frm → to``.

    The score frame has ``n_rows`` rows and is hinted by that size; the
    sum is coalesced to :func:`partitions` — coalesce() narrows the
    shuffle read without adding an exchange."""
    return (
        edges.join(hint(scores.withColumnRenamed("id", frm), n_rows), frm)
        .groupBy(F.col(to).alias("id"))
        .agg(F.sum(value).alias(value))
        .coalesce(partitions(edges, n_rows))
    )


def fixpoint(
    state: DataFrame,
    step: Callable[[DataFrame], DataFrame],
    changed: Callable[[DataFrame, DataFrame], bool],
    max_rounds: int,
    name: str,
) -> tuple[DataFrame, bool]:
    """Apply ``step`` until ``changed(previous, new)`` is false, for at
    most ``max_rounds`` rounds; returns the last state and whether it is
    a fixed point. A round is ``step``, one localCheckpoint job (which
    cuts the lineage) and the caller's test. Its jobs run under the
    description ``{name}/round {r}``; the caller's description comes
    back afterwards, on error too. The job group is left alone."""
    sc = state.sparkSession.sparkContext
    caller = sc.getLocalProperty("spark.job.description")
    try:
        for r in range(1, max_rounds + 1):
            sc.setLocalProperty("spark.job.description", f"{name}/round {r}")
            nxt = step(state).localCheckpoint()
            moved = changed(state, nxt)
            state = nxt
            if not moved:
                return state, True
        return state, False
    finally:
        sc.setLocalProperty("spark.job.description", caller)


def measure_changed(measure: Callable[[DataFrame], Hashable], last: Hashable = None):
    """A :func:`fixpoint` test on one driver-side measure of each new
    state (a row count, a signature), carried forward so each round
    measures once. ``last`` measures the starting state; None lets no
    first round settle."""

    def changed(_prev: DataFrame, nxt: DataFrame) -> bool:
        nonlocal last
        m = measure(nxt)
        moved, last = m != last, m
        return moved

    return changed
