"""Iterative DataFrame PageRank (G7) and connected components.

Reference: core/ai/data_processor.py:35-107 runs igraph pagerank per
relation subgraph. Here: a join-agg loop — contributions flow along
edges (one shuffle keyed by dst per iteration), with localCheckpoint
every iteration to truncate lineage (otherwise the plan tree grows
linearly and Catalyst re-analysis dominates).

Scale notes (100 TB): pre-partition edges by src once (the join key of
every iteration) so only the small rank frame reshuffles; dangling
mass is redistributed analytically instead of via a collect-heavy fix.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from social_link_prediction_spark.graph import iterate
from social_link_prediction_spark.graph.build import simple_edges, vertices


def _setup(edges: DataFrame, src: str, dst: str):
    """Shared setup of :func:`pagerank` and :func:`personalized_pagerank`:
    (e, deg, outdeg, n, n_src, n_dst) — the 2-column edge list, the
    (id, od, has_in) degree frame, the (id, od) frame of vertices with
    out-edges, and the vertex / source / sink counts."""
    # Cache (lazily) the edge list up front: the degrees and every
    # round's join derive from it, and without this the upstream plan
    # (scans, dedups, joins) re-executes for each. persist() over
    # localCheckpoint(): same reuse once materialized, but no dedicated
    # up-front materialization job — the first reader (the counts
    # below) pays it as part of its own job. Lineage here is one select
    # over the input, so checkpoint's truncation buys nothing.
    e = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst")).persist()
    # ONE (id, out-degree, has-in-edge) aggregation replaces the three
    # separate setup passes the r9 shape paid (nodes dedup + count, the
    # dangling/sourceless countDistinct probe, and the out-degree
    # groupBy): ~5.9M rows shuffled in setup drops to ~2.4M at bench
    # scale and three probe jobs become one (r10; A/B 1.14x med).
    # All three counts read the one materialized degree frame.
    deg = (
        e.select(F.col("src").alias("id"), F.lit(1).alias("o"))
        .unionAll(e.select(F.col("dst").alias("id"), F.lit(0).alias("o")))
        .groupBy("id")
        .agg(
            F.sum("o").cast("long").alias("od"),
            F.max(1 - F.col("o")).alias("has_in"),
        )
        .persist()
    )
    row = deg.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum((F.col("od") > 0).cast("long")).alias("n_src"),
        F.sum("has_in").cast("long").alias("n_dst"),
    ).first()
    n = row["n"]
    # Out-degree attaches to the RANK frame (|V| rows), not the edge
    # table — ranks ⋈ outdeg is a small-small join, so the big edge
    # table is never materialized with an extra column and each round
    # scans the 2-column persisted edges directly. It is materialized
    # once, before the loop: re-deriving it lazily from deg in every
    # round inlined the cached degree frame into each round's plan
    # (29 InMemoryRelations in pagerank_partsupp's plan, 4 now), and a
    # persist() instead of the checkpoint costs two more jobs at 2
    # iterations (AQE builds the cache in its own stage jobs).
    outdeg = (
        deg.filter(F.col("od") > 0)
        .select("id", "od")
        .coalesce(iterate.partitions(e, n))
        .localCheckpoint()
    )
    return e, deg, outdeg, n, row["n_src"], row["n_dst"]


def _flow(ranks: DataFrame, outdeg: DataFrame) -> DataFrame:
    """Per-vertex outgoing share pr/od, on the |V|-row side."""
    return ranks.join(outdeg, "id").select("id", (F.col("pr") / F.col("od")).alias("flow"))


def pagerank(
    edges: DataFrame,
    damping: float = 0.85,
    iterations: int = 10,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Fixed-iteration PageRank over a directed edge list. Returns
    (id, pagerank). Vertices = union of endpoints; duplicate edges
    count. Dangling nodes' mass is spread uniformly each iteration
    (classic formulation), so ranks sum to 1 every round. An empty
    edge list gives an empty frame.

    When the vertex set is small (under the graph/iterate.py guard —
    the count is already computed for the 1/n seed), the per-iteration
    rank and contribution frames are broadcast-hinted: the big edge
    table then never re-sorts/re-shuffles inside the loop, and each
    round costs one contribution shuffle instead of three.
    """
    e, deg, outdeg, n, n_src, n_dst = _setup(edges, src, dst)
    if n == 0:
        # no edges, no vertices: empty, with the input's id type
        return e.select(F.col("src").alias("id"), F.lit(0.0).alias("pagerank"))
    # Dangling nodes (no out-edges) exist iff some vertex never appears
    # as a src; sourceless nodes (no in-edges) iff some vertex never
    # appears as a dst. On symmetric graphs (the common case here:
    # undirected part-supplier / co-occurrence views) neither exists,
    # and both per-iteration fixups — the dangling-mass aggregation and
    # the completeness join (nodes ⟕ contribs, a full |V| shuffle per
    # round on big directed graphs) — can be skipped.
    nodes = deg.select("id")
    has_dangling = n_src < n
    has_sourceless = n_dst < n

    # Checkpoint cadence. When dangling/sourceless machinery is live,
    # contribs is read twice per round (dangling-mass agg + rank join),
    # so checkpoint EVERY round — the expensive edge-join + aggregate
    # then runs exactly once per round and both readers hit
    # materialized data. On the clean fast path (symmetric graphs:
    # no dangling mass, no sourceless vertices) contribs is read once,
    # and a checkpoint's only job is lineage truncation — every 3rd
    # round is enough to keep the plan shallow while letting Spark run
    # ~3 iterations as ONE job (broadcast-exchange stages inside it).
    # Measured at sf0.1/local[32]: 13.7s -> 10.6s for 5 iterations.
    every_round = has_dangling or has_sourceless
    ranks = nodes.withColumn("pr", F.lit(1.0 / n))
    for it in range(iterations):
        contribs = iterate.push(e, _flow(ranks, outdeg), "src", "dst", "flow", n)
        if every_round or it % 3 == 2:
            contribs = contribs.localCheckpoint()
        if has_sourceless:
            base = nodes.join(iterate.hint(contribs, n), "id", "left").na.fill({"flow": 0.0})
        else:
            base = contribs
        if has_dangling:
            # Rank mass is conserved at 1.0 each round, so the dangling
            # mass (nodes without out-edges) is 1 − Σ flow — one
            # aggregation over the materialized contribs frame, no
            # anti-join scan of ranks.
            dangling = contribs.agg(
                (F.lit(1.0) - F.coalesce(F.sum("flow"), F.lit(0.0))).alias("dm")
            )
            ranks = base.crossJoin(F.broadcast(dangling)).select(
                "id",
                (
                    F.lit((1.0 - damping) / n)
                    + F.lit(damping) * (F.col("flow") + F.col("dm") / n)
                ).alias("pr"),
            )
        else:
            ranks = base.select(
                "id",
                (F.lit((1.0 - damping) / n) + F.lit(damping) * F.col("flow")).alias("pr"),
            )
    return ranks.select("id", F.col("pr").alias("pagerank"))


def personalized_pagerank(
    edges: DataFrame,
    sources: Sequence,
    damping: float = 0.85,
    iterations: int = 10,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Personalized PageRank: the restart mass returns to ``sources``
    (uniformly) instead of spreading over all vertices — rank becomes
    proximity-to-the-seed, the standard recommendation/similarity
    centrality (what the reference's hub-penalized recommendation
    approximates locally). Same setup and round as :func:`pagerank`:
    one contribution shuffle per round, broadcast rank frames while
    they're small, lineage kept shallow.

    Assumes every vertex has an in-edge (true for the symmetric views
    used here); on general digraphs compose with the dangling fixups
    of :func:`pagerank`.
    """
    e, deg, outdeg, n, _, _ = _setup(edges, src, dst)
    # a typo'd / absent seed would silently contribute no restart mass
    # (the seed term applies via isin over contrib rows) and shrink
    # every rank with no error — fail loudly instead. One filter over
    # the already-cached degree frame.
    found = {r.id for r in deg.filter(F.col("id").isin(list(sources))).select("id").collect()}
    missing = set(sources) - found
    if missing:
        raise ValueError(
            f"personalized_pagerank: seed ids not in the edge list's "
            f"vertex set: {sorted(missing)!r}"
        )

    seed_mass = 1.0 / len(sources)
    seed_col = F.when(
        F.col("id").isin(list(sources)), F.lit(seed_mass)
    ).otherwise(F.lit(0.0))

    ranks = deg.select("id", seed_col.alias("pr"))
    for it in range(iterations):
        contribs = iterate.push(e, _flow(ranks, outdeg), "src", "dst", "flow", n)
        ranks = contribs.select(
            "id",
            (
                F.when(F.col("id").isin(list(sources)), F.lit((1.0 - damping) * seed_mass))
                .otherwise(F.lit(0.0))
                + F.lit(damping) * F.col("flow")
            ).alias("pr"),
        )
        if it % 3 == 2:
            ranks = ranks.localCheckpoint()
    return ranks.select("id", F.col("pr").alias("pagerank"))


def pagerank_per_relation(
    edges: DataFrame,
    rel: str = "rel",
    damping: float = 0.85,
    iterations: int = 10,
) -> DataFrame:
    """G7 multi-view PageRank: one rank column context per relation
    label, returned long-form as (rel, id, pagerank) — pivot to the
    reference's [N x num_rels] matrix shape with groupBy(id).pivot(rel).
    Relations iterate driver-side (44 in the reference) but each loop
    body is a full-cluster job.
    """
    rels = [r[0] for r in edges.select(rel).distinct().collect()]
    out = None
    for r in sorted(rels):
        sub = edges.filter(F.col(rel) == r)
        pr = pagerank(sub, damping, iterations).withColumn("rel", F.lit(r))
        out = pr if out is None else out.unionByName(pr)
    return out.select("rel", "id", "pagerank")


def connected_components(
    edges: DataFrame, src: str = "src", dst: str = "dst", max_iterations: int = 50
) -> DataFrame:
    """Undirected connected components by alternating large-star /
    small-star (Kiveris et al., "Connected Components in MapReduce and
    Beyond"): converges in O(log n) rounds regardless of component
    diameter, unlike min-label propagation whose round count equals the
    longest chain — the degenerate case for near-dup chains of crawl
    snapshots, where duplicate chains can be arbitrarily long.

    Each round is two shuffles (one groupBy per star op) plus one cheap
    convergence aggregate; iterate.fixpoint runs the rounds and stops
    when the edge-set signature repeats. At the round cap the labels
    of the last round come back. Returns (id, component) where component =
    min node id reachable, for every id appearing in the edge list.
    Edges with a NULL endpoint are dropped; a node whose only edge is
    a self-loop is its own component.
    """
    pairs = edges.select(F.col(src).alias("u"), F.col(dst).alias("v")).dropna()
    nodes = vertices(pairs, "u", "v").localCheckpoint()
    e = simple_edges(pairs, "u", "v").toDF("u", "v").localCheckpoint()
    changed = iterate.measure_changed(_edge_signature)
    e, _ = iterate.fixpoint(e, _star_round, changed, max_iterations, "connected_components")
    # at the fixed point e is a star forest: u → component root (min id);
    # the groupBy(min) is belt-and-braces against a signature collision
    labels = e.groupBy(F.col("u").alias("id")).agg(F.min("v").alias("component"))
    roots = nodes.join(labels, "id", "left_anti").withColumn("component", F.col("id"))
    return labels.unionByName(roots)


def _star_round(e: DataFrame) -> DataFrame:
    """One large-star then one small-star pass over (u, v) edges."""
    # large-star: each node u attaches its strictly-larger
    # neighbors to m = min(N(u) ∪ {u}); every undirected edge is
    # emitted once, from its smaller endpoint's group
    nbrs = e.unionAll(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
    mins = nbrs.groupBy("u").agg(F.min("v").alias("mn"))
    large = (
        nbrs.join(mins, "u")
        .filter(F.col("v") > F.col("u"))
        .select(F.col("v").alias("u"), F.least("mn", F.col("u")).alias("v"))
        .filter(F.col("u") != F.col("v"))
        .dropDuplicates()
    )
    # small-star: each node attaches all its smaller neighbors (and
    # itself) to the min of that set. large is already oriented
    # big→small: its u is a neighbor above the old u, its v at most
    # the old u
    mins2 = large.groupBy("u").agg(F.min("v").alias("mn"))
    joined = large.join(mins2, "u")
    return (
        joined.select(F.col("v").alias("u"), F.col("mn").alias("v"))
        .unionAll(joined.select("u", F.col("mn").alias("v")))
        .filter(F.col("u") != F.col("v"))
        .dropDuplicates()
    )


def _edge_signature(e: DataFrame) -> tuple:
    """Type-agnostic edge-set signature (ids may be strings); bit_xor
    can't overflow under ANSI mode, unlike sum."""
    return tuple(e.agg(F.count(F.lit(1)), F.bit_xor(F.xxhash64("u", "v"))).collect()[0])
