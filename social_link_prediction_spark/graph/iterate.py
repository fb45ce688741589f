"""Shared pieces of the power-iteration operators (pagerank,
personalized_pagerank, hits, katz, eigenvector): the broadcast guard,
the |V|-tracking partition count, and one propagation round — the
message-passing superstep of the Pregel model (Malewicz et al.,
SIGMOD 2010). Each operator keeps its own driver loop and checkpoint
cadence; only these size decisions and the round itself live here.
"""

from __future__ import annotations

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
