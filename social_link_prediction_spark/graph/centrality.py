"""Sampled betweenness centrality (Brandes) over an edge list.

Brandes, "A faster algorithm for betweenness centrality" (J. Math.
Soc. 2001), in the source-sampled estimator form (Brandes & Pich 2007):
run the forward BFS + backward dependency accumulation from a seed
SAMPLE and sum the per-source dependencies. Paired with the
hash-threshold sampler the seed set is deterministic, so a SQL oracle
can replay both phases level by level.

Depth-bounded: only shortest paths of length <= max_depth contribute
(k-betweenness) — the standard truncation for huge graphs, where full
BFS from every sample is the cost driver and short paths carry most of
the centrality signal on small-world networks.

Phases, all sources sharing every shuffle (one frame keyed by
(source, node)):

  forward   level d: frontier ⋈ edges, sigma summed over parents,
            minus already-visited (left_anti) — path counts per node.
  backward  level d: dependency delta(v) = Σ_{v→w, w at d+1}
            sigma(v)/sigma(w) · (1 + delta(w)), accumulated from the
            deepest level up (BFS DAG edges always go level d → d+1).

Betweenness(v) = Σ_sources delta(v) over non-seed levels. Scale by
n/|seeds| for the unbiased estimate if absolute values matter; the
ranking (what top-k consumers use) is scale-invariant.

Scale shape: the edge table is persisted once, every join keys on the
node id so its partitioning is reused; per-level frames persist()
lazily — with a depth-bounded loop (3-4 levels) lineage stays shallow,
so caching gives the reuse without the per-level eager materialization
job that localCheckpoint would force (9 forced jobs at depth 3 — the
dominant cost at bench scale; pagerank's unbounded loop is the case
that needs true lineage truncation). Memory is one (source, node) row
per visited pair — the sample size bounds it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from social_link_prediction_spark.graph import iterate
from social_link_prediction_spark.graph.build import vertices


# The forward frontier is hinted under the graph/iterate.py guard. The
# backward phase broadcasts LEVEL frames, which reach |sources|x|V|
# rows (the level-3 frame is ~400k rows at sf0.1) — collecting one to
# the driver to build the broadcast relation is serial driver time, so
# the hint gets a much tighter cap than the forward frontier's (r10;
# past it the join falls back to shuffle and stays parallel).
_LEVEL_BROADCAST_GUARD = 100_000


def betweenness_sampled(
    edges: DataFrame,
    seeds: DataFrame,
    max_depth: int = 3,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Depth-bounded Brandes betweenness from the ``source`` column of
    ``seeds``. Returns (id, betweenness) for every vertex with a
    positive accumulated dependency (interior vertices of some
    sampled shortest path)."""
    e = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst")).persist()
    lv0 = (
        seeds.select(F.col("source"), F.col("source").alias("node"))
        .dropDuplicates()
        .select("source", "node", F.lit(0).alias("dist"), F.lit(1.0).alias("sigma"))
        .persist()
    )
    levels = [lv0]
    # Per-level row counts gate the broadcast hints below: the frontier
    # is |sources| x |level nodes| — tiny for a sampled run, unbounded
    # in principle — so hint only under the explicit guard and fall
    # back to shuffle joins above it (the count doubles as the eager
    # materialization of the persisted level, so it costs no extra job).
    counts = [lv0.count()]
    visited = lv0.select("source", "node")
    frontier = lv0
    for d in range(1, max_depth + 1):
        f = iterate.hint(frontier, counts[-1])
        nxt = (
            f.join(e, f["node"] == e["src"])
            .groupBy("source", F.col("dst").alias("node"))
            .agg(F.sum("sigma").alias("sigma"))
            .join(visited, ["source", "node"], "left_anti")
            .select("source", "node", F.lit(d).alias("dist"), "sigma")
            .persist()
        )
        levels.append(nxt)
        counts.append(nxt.count())
        # components are cached, so the union itself needs no checkpoint
        visited = visited.unionByName(nxt.select("source", "node"))
        frontier = nxt

    # Backward accumulation, deepest level first (its delta is 0).
    delta = levels[max_depth].select(
        "source", "node", "sigma", F.lit(0.0).alias("delta")
    )
    deps = []
    for d in range(max_depth - 1, 0, -1):
        succ = delta.select(
            F.col("source").alias("w_source"),
            F.col("node").alias("w_node"),
            F.col("sigma").alias("w_sigma"),
            F.col("delta").alias("w_delta"),
        )
        lv = levels[d]
        lvh = F.broadcast(lv) if counts[d] <= _LEVEL_BROADCAST_GUARD else lv
        such = F.broadcast(succ) if counts[d + 1] <= _LEVEL_BROADCAST_GUARD else succ
        contrib = (
            lvh.join(e, lvh["node"] == e["src"])
            .join(
                such,
                (F.col("source") == F.col("w_source"))
                & (F.col("dst") == F.col("w_node")),
            )
            .groupBy("source", "node")
            .agg(
                F.sum(
                    F.col("sigma") / F.col("w_sigma") * (F.lit(1.0) + F.col("w_delta"))
                ).alias("dep")
            )
        )
        delta = (
            lv.join(contrib, ["source", "node"], "left")
            .select(
                "source",
                "node",
                "sigma",
                F.coalesce("dep", F.lit(0.0)).alias("delta"),
            )
            # r10: eager checkpoint, not persist — each backward level's
            # plan nests the previous one's joins, and analyzing the
            # accumulated tree showed up as ~1.1s driver gaps before the
            # final jobs; truncation costs one tiny (~20k-row) job per
            # level. Combined with the level-broadcast cap: A/B 1.15x
            # med (guard alone 1.07x).
            .localCheckpoint()
        )
        deps.append(delta)
    # the deltas are checkpointed: nothing downstream reads the levels
    # or the edge frame again
    for lv in levels:
        lv.unpersist()
    e.unpersist()

    if not deps:
        return lv0.sparkSession.createDataFrame([], "id long, betweenness double")
    acc = deps[0]
    for part in deps[1:]:
        acc = acc.unionByName(part)
    return (
        acc.filter(F.col("delta") > 0)
        .groupBy(F.col("node").alias("id"))
        .agg(F.sum("delta").alias("betweenness"))
    )


def katz_centrality(
    edges: DataFrame,
    alpha: float = 0.05,
    rounds: int = 3,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Truncated Katz centrality by unrolled power iteration.

    Katz (1953): x = sum_{k>=0} alpha^k (A^T)^k 1 — every walk into a
    node contributes, damped by alpha^length. The fixed-round recursion

        x_0(v) = 1;  x_{t+1}(v) = 1 + alpha * sum_{(u,v) in E} x_t(u)

    computes the walk sum truncated at length ``rounds`` (exact Katz as
    rounds→inf when alpha < 1/lambda_max). Unlike PageRank there is no
    degree normalization, so the scores frame never needs out-degrees —
    each round is one graph/iterate.push: ONE keyed join (scores onto
    edge sources) and ONE keyed sum (by destination), the same round
    HITS pays per side. Reference analog: the reference ranks people
    by raw connection influence (core/analysis/graph_analysis.py degree/
    pagerank family); Katz is the walk-damped member of that family.

    Scale shape: ``edges`` is persisted once and every round's join
    keys on its source column, so the edge shuffle partitioning is
    reused across rounds; the score frame is |V| rows and is
    localCheckpointed per round (eager lineage cut + GC-reclaimable
    blocks — a persist per round would pin every round's frame in the
    cache for the session's lifetime). Rows: (id, katz).
    """
    if not 0 < alpha < 1:
        raise ValueError(f"alpha must be in (0, 1), got {alpha}")
    if rounds < 1:
        raise ValueError(f"rounds must be >= 1, got {rounds}")
    e = (
        edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
        .dropDuplicates()
        .persist()
    )
    vtx = vertices(e, "u", "v").persist()
    n = vtx.count()
    x = vtx.select("id", F.lit(1.0).alias("x"))
    for _ in range(rounds):
        inflow = iterate.push(e, x.withColumnRenamed("x", "s"), "u", "v", "s", n)
        x = vtx.join(inflow, "id", "left").select(
            "id",
            (F.lit(1.0) + F.lit(alpha) * F.coalesce(F.col("s"), F.lit(0.0))).alias(
                "x"
            ),
        )
        # localCheckpoint (eager) instead of persist: it truncates the
        # lineage AND lets the ContextCleaner reclaim the previous
        # round's blocks on GC — a persist per round would pin `rounds`
        # |V|-row frames in the cache for the life of the session.
        x = x.localCheckpoint()
    return x.select("id", F.col("x").alias("katz"))


def eigenvector_centrality(
    edges: DataFrame,
    rounds: int = 6,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Eigenvector centrality by max-normalized power iteration.

    Bonacich (1972): x proportional to A x — a node is central in
    proportion to the centrality of its in-neighbors, with NO damping
    (Katz's alpha) and NO degree normalization (PageRank's 1/deg):
    the remaining member of the influence-ranking family the
    reference's graph analysis exposes (core/analysis/
    graph_analysis.py degree/pagerank). Fixed-round recursion

        x_0(v) = 1;  y_{t+1}(v) = sum_{(u,v) in E} x_t(u);
        x_{t+1} = y_{t+1} / max(y_{t+1})

    L-infinity normalization instead of L2: the per-round max is a
    single exactly-reproducible scalar (no summation-order drift in a
    max), so the unrolled recursion replays verbatim in a SQL oracle;
    the normalized fixed point is the same dominant eigenvector.

    Per round: one keyed join (scores onto edge sources), one keyed
    sum, one scalar max (driver-sized), one select — the Katz shuffle
    shape plus a broadcastable 1-row reduction. The pre-normalization
    y frame (|V| rows) is what gets localCheckpointed each round: y
    feeds BOTH the max broadcast build and the normalized projection,
    and the two branches' column pruning defeats ReusedExchange, so
    pinning y runs the inflow join chain once per round instead of
    twice (r9: 1.24x med on the suppliers query) while still cutting
    lineage. Isolated vertices keep score 0 after the first round.
    Rows: (id, eig).
    """
    if rounds < 1:
        raise ValueError(f"rounds must be >= 1, got {rounds}")
    e = (
        edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
        .dropDuplicates()
        .persist()
    )
    vtx = vertices(e, "u", "v").persist()
    n = vtx.count()
    x = vtx.select("id", F.lit(1.0).alias("x"))
    for _ in range(rounds):
        inflow = iterate.push(e, x.withColumnRenamed("x", "s"), "u", "v", "s", n)
        y = (
            vtx.join(inflow, "id", "left")
            .select("id", F.coalesce(F.col("s"), F.lit(0.0)).alias("y"))
            .localCheckpoint()
        )
        mx = y.agg(F.max("y").alias("m"))
        x = y.crossJoin(F.broadcast(mx)).select(
            "id",
            F.when(F.col("m") > 0, F.col("y") / F.col("m"))
            .otherwise(F.lit(0.0))
            .alias("x"),
        )
    return x.select("id", F.col("x").alias("eig"))
