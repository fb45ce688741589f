"""HITS (hubs & authorities) over a directed edge list.

Kleinberg, "Authoritative sources in a hyperlinked environment"
(JACM 1999). Sum-normalized variant: the fixed point of

    auth = N(A^T hub),  hub = N(A auth),  N(x) = x / sum(x)

Because N only rescales and the iteration is linear, per-round
normalization is equivalent to running RAW power iterations and
normalizing once at the end (N(A·N(x)) = N(A·x) by induction) — so
the loop body is just two keyed join+sum rounds with no per-round
one-row aggregates, and the single normalization happens in the final
projection. L1 instead of the classic L2 norm: ranks identically,
and every quantity is a plain sum — exactly replayable by an
unrolled-CTE SQL oracle without sqrt noise.

Raw-iterate overflow: values grow by ~(mean degree)^2 per round; as
doubles that is safe for any realistic round count (3 rounds at
degree 10^4 is ~1e24 of the 1e308 range).

Not in the reference (its centrality stops at PageRank,
core/ai/data_processor.py:35-107); added because hub/authority is the
natural asymmetric-importance measure for a directed social graph.

Scale shape (same round as graph/pagerank.py, graph/iterate.push): the
edge table is persisted once and its src/dst partitioning is reused by
every round's join; only the |V|-row score frames move, broadcast-hinted
under the graph/iterate.py guard; localCheckpoint once per round
truncates lineage.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from social_link_prediction_spark.graph import iterate
from social_link_prediction_spark.graph.build import vertices


def hits(
    edges: DataFrame,
    iterations: int = 5,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Fixed-iteration sum-normalized HITS. Returns (id, hub, auth)
    for every vertex (union of endpoints); vertices with no out-edges
    have hub 0, no in-edges auth 0 — kept (score 0) so the output is
    a total vertex map like the pagerank operator.
    """
    e = (
        edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
        .dropDuplicates()
        .persist()
    )
    nodes = vertices(e).cache()
    n = nodes.count()

    hub = (
        nodes.withColumn("hub", F.lit(1.0))
        .coalesce(iterate.partitions(e, n))
        .localCheckpoint()
    )
    auth = None
    for i in range(iterations):
        # auth step: hub mass flows src -> dst.
        auth = iterate.push(e, hub.withColumnRenamed("hub", "auth"), "src", "dst", "auth", n)
        # The last round's auth feeds both the final join and the final
        # sum — checkpoint it then; mid-loop auths are consumed exactly
        # once (by the hub step below), so one checkpoint per round
        # (the hub) is enough lineage truncation.
        if i == iterations - 1:
            auth = auth.localCheckpoint()
        # hub step: the new auth mass flows back dst -> src.
        hub = iterate.push(
            e, auth.withColumnRenamed("auth", "hub"), "dst", "src", "hub", n
        ).localCheckpoint()
    raw = (
        nodes.join(iterate.hint(hub, n), "id", "left")
        .join(iterate.hint(auth, n), "id", "left")
        .select(
            "id",
            F.coalesce("hub", F.lit(0.0)).alias("hub"),
            F.coalesce("auth", F.lit(0.0)).alias("auth"),
        )
    )
    # One 1-row broadcast normalizer (both sums in a single agg), so the
    # plan carries exactly one nested-loop join of a literal frame.
    sums = F.broadcast(raw.agg(F.sum("hub").alias("hs"), F.sum("auth").alias("as_")))
    return raw.crossJoin(sums).select(
        "id",
        (F.col("hub") / F.col("hs")).alias("hub"),
        (F.col("auth") / F.col("as_")).alias("auth"),
    )
