"""Shortest paths: multi-source weighted SSSP with parent pointers,
path reconstruction, path decoration, and the degrees-of-separation
job (G3–G6, G9).

Reference semantics: core/algorithms/bfs.py:91-147 (igraph Dijkstra,
undirected traversal, weighted), application/analysis_service.py
(process-pool fan-out of one-to-many queries, path decoration,
human-count degrees). One hop-bounded search serves the variants
(``multi_source_shortest_paths``; pair paths, reconstruction, harmonic
centrality and ``closure.bfs_rounds`` run it): Bellman-Ford rounds
keyed by source and unrolled into one static plan, so all sources
relax together with no per-hop round trip — the reference's
100k-pair experiment is a single Spark job, executors replacing the
process pool. The deep searches over the dense part-supplier graph
measured faster on a per-hop loop and keep one
(``_frontier_loop``, ``ego_network``; numbers in their docstrings).

Scale notes:
- max_hops bounds the unrolled levels (six-degrees domain: paths ≤ ~8
  hops, NB cell 136/140).
- settled nodes drop out of the frontier, but every level joins the
  whole reached set against the edge table.
- the search keeps parent pointers, not paths; paths are rebuilt for
  the requested targets only, bounded by max_hops.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from social_link_prediction_spark.graph.build import simple_edges, undirected
from social_link_prediction_spark.graph.iterate import hint


def multi_source_shortest_paths(
    edges: DataFrame,
    sources: DataFrame,
    weight: str | None = None,
    max_hops: int = 8,
    directed: bool = False,
) -> DataFrame:
    """Multi-source weighted SSSP within ``max_hops`` edges. ``sources``
    is a DataFrame with a ``source`` column; returns (source, id, dist,
    parent) — parent POINTERS, not materialized paths; paths are
    reconstructed on demand for requested targets only
    (``reconstruct_paths``). Unit weights when ``weight`` is None
    (hop-count BFS). Weights must be positive (guarantees the parent
    chain is acyclic: dist strictly decreases along it). Edges with a
    NULL endpoint or weight are dropped. Infinite weights (blacklisted
    edges, bfs.py:26) never improve a FINITE distance, but a node first
    reached only through them is kept with dist = inf (x + inf beats
    "no distance yet"); callers that need a path read a non-finite dist
    as unreachable. The table is pinned (localCheckpoint): every caller
    reads it more than once."""
    start = sources.select("source", F.col("source").alias("id"))
    return _search(edges if directed else undirected(edges), start, weight, max_hops)


def _search(
    edges: DataFrame, start: DataFrame, weight: str | None, max_hops: int
) -> DataFrame:
    """The hop-bounded search over already oriented ``edges`` from the
    (source, id) rows of ``start`` (dist 0, no parent): Bellman-Ford
    rounds unrolled into ONE static plan, then pinned — no per-hop
    count, isEmpty or checkpoint job.

    The state is one frame, (source, id, best, front): ``best`` is the
    node's (dist, parent), ``front`` its dist when the last level
    improved it (the frontier), else NULL. Level h left-joins the state
    to the edge table, matching only frontier rows to their out-edges;
    each joined row yields its node's ``best`` (the carry) and a
    (dist + w, parent) candidate for the edge's head. Per (source, node)
    the smallest candidate replaces ``best`` only on a strictly smaller
    dist, so settled nodes drop out of the frontier and the first level
    that reaches a distance keeps it with that level's smallest parent
    — the (dist, level, parent) tie-break. Each level reads the one
    before it once, so the plan grows linearly in ``max_hops``.
    Duplicate start rows collapse into one.

    A left join cannot broadcast the state, so the edge table is
    broadcast when small (serving graphs) and shuffle-joined otherwise;
    that per-level shuffle is why ``_frontier_loop`` stays for deep
    searches over large dense edge tables."""
    id_type = dict(start.dtypes)["id"]
    w = F.col(weight) if weight else F.lit(1.0)
    e = edges.select("src", "dst", w.alias("w")).filter(
        F.col("src").isNotNull() & F.col("dst").isNotNull() & F.col("w").isNotNull()
    )
    c_type = f"struct<dist:double,parent:{id_type}>"
    none = F.lit(None).cast(c_type)
    cur = start.select(
        "source", "id", F.struct(F.lit(0.0), F.lit(None)).cast(c_type).alias("best"),
        F.lit(0.0).alias("front"),
    )
    if max_hops == 0:  # otherwise the first level's merge dedups the start rows
        cur = cur.dropDuplicates(["source", "id"])
    # per joined row: the carry of its node, the candidate for the head
    # (NULL id when the row is not on the frontier: dropped)
    rows = F.array(
        F.struct(F.col("id"), F.col("best"), none.alias("cand")),
        F.struct(
            F.col("dst").alias("id"), none.alias("best"),
            F.struct(F.col("front") + F.col("w"), F.col("id")).cast(c_type).alias("cand"),
        ),
    )
    better = F.col("best").isNull() | (F.col("cand.dist") < F.col("best.dist"))
    for _ in range(max_hops):
        cur = (
            cur.join(e, (F.col("id") == F.col("src")) & F.col("front").isNotNull(), "left")
            .select("source", F.inline(rows))
            .filter(F.col("id").isNotNull())
            .groupBy("source", "id")
            .agg(F.min("best").alias("best"), F.min("cand").alias("cand"))
            .select(
                "source", "id",
                F.when(better, F.col("cand")).otherwise(F.col("best")).alias("best"),
                F.when(better, F.col("cand.dist")).alias("front"),
            )
        )
    return cur.select(
        "source", "id", F.col("best.dist").alias("dist"), F.col("best.parent").alias("parent")
    ).localCheckpoint()


def _frontier_loop(
    edges: DataFrame,
    sources: DataFrame,
    weight: str | None = None,
    max_hops: int = 8,
    directed: bool = False,
) -> DataFrame:
    """``multi_source_shortest_paths`` as a per-hop Python loop, same
    rows: each round relaxes the frontier against a pinned edge table,
    keeps strict improvements over the settled table, and counts them
    (an empty round ends the loop). Small frames get broadcast hints
    (graph/iterate.py guard), so the big edge table is scanned, never
    re-sorted, inside the loop.

    Kept for the deep searches over the dense part-supplier graph
    (~21k nodes, ~1.2M directed edges at sf0.1), where scanning the
    edges against a broadcast frontier beats the static plan's per-level
    shuffle join. Cold interleaved A/B at sf0.1, 4 cores, 3 pairs,
    median s, static plan vs this loop: bfs_distances_s1 10.9 vs 5.9,
    multi_source_bfs 11.0 vs 4.6, weighted_sssp_s1 7.6 vs 5.7,
    diameter_double_sweep 15.3 vs 9.0."""
    e = edges if directed else undirected(edges)
    w = F.col(weight) if weight else F.lit(1.0)
    e = e.select("src", "dst", w.alias("w")).filter(
        F.col("src").isNotNull() & F.col("dst").isNotNull() & F.col("w").isNotNull()
    ).localCheckpoint()

    # parent must carry the node-id type (int graphs stay int end-to-end;
    # a hardcoded string cast would silently coerce the whole parent
    # chain — and the per-round min(struct) tie-break — to strings)
    id_type = dict(sources.dtypes)["source"]
    best = sources.select(
        F.col("source"),
        F.col("source").alias("id"),
        F.lit(0.0).alias("dist"),
        F.lit(None).cast(id_type).alias("parent"),
    ).localCheckpoint()
    frontier = best
    frontier_n = sources.count()
    best_n = frontier_n

    for _ in range(max_hops):
        # relax: frontier × out-edges → min candidate per (source, node)
        cand = (
            hint(frontier, frontier_n).join(e.withColumnRenamed("src", "id"), "id")
            .select(
                "source",
                F.col("dst").alias("nid"),
                F.struct(
                    (F.col("dist") + F.col("w")).alias("dist"),
                    F.col("id").alias("parent"),
                ).alias("c"),
            )
            .groupBy("source", "nid")
            .agg(F.min("c").alias("c"))
        )
        # keep only strict improvements over the settled table. The
        # right side is FULLY renamed before joining: `cand` descends
        # from `best` (frontier == best on round 0), so a same-name
        # join would carry identical attribute ids on both sides and
        # break analysis ("key not found" in AttributeMap).
        bestk = best.select(
            F.col("source").alias("b_source"),
            F.col("id").alias("b_id"),
            F.col("dist").alias("b_dist"),
        )
        improved = (
            cand.join(
                hint(bestk, best_n),
                (F.col("source") == F.col("b_source")) & (F.col("nid") == F.col("b_id")),
                "left",
            )
            .filter(F.col("b_dist").isNull() | (F.col("c.dist") < F.col("b_dist")))
            .select(
                "source",
                F.col("nid").alias("id"),
                F.col("c.dist").alias("dist"),
                F.col("c.parent").alias("parent"),
            )
            .localCheckpoint()
        )
        frontier_n = improved.count()
        if frontier_n == 0:
            break
        # upper bound: every improvement may be a first visit
        best_n += frontier_n
        # merge improvements into the settled table (improvements are
        # strictly better, so min(struct) keeps them)
        best = (
            best.unionByName(improved)
            .select("source", "id", F.struct("dist", "parent").alias("c"))
            .groupBy("source", "id")
            .agg(F.min("c").alias("c"))
            .select(
                "source", "id",
                F.col("c.dist").alias("dist"), F.col("c.parent").alias("parent"),
            )
            # lazy persist, not localCheckpoint: `improved`'s checkpoint
            # already bounds downstream plan depth to one union+agg per
            # round, so truncating best's lineage too only forced an
            # extra eager job per round; the cache is filled as a
            # side-effect of the next round's improved.count() and
            # plan-matched on reuse.
            .persist()
        )
        frontier = improved
    return best


def reconstruct_paths(
    best: DataFrame, targets: DataFrame, max_hops: int = 8
) -> DataFrame:
    """Backtrack parent pointers into explicit paths for the requested
    ``targets`` (source, id) ONLY — cost scales with |targets| ×
    path length, never with the full reached set. Returns
    (source, id, dist, path array<id>); targets the search never
    reached are dropped.

    One static plan: max_hops + 1 unrolled left joins against the
    parent table (a parent that improves in the last level leaves its
    child's chain one longer than max_hops), no per-step job."""
    cur = (
        targets.join(best, ["source", "id"])
        .select(
            "source",
            F.col("id").alias("target"),
            "dist",
            F.array("id").alias("path"),
            "parent",
        )
    )
    b = best.select(
        F.col("source").alias("b_source"),
        F.col("id").alias("b_id"),
        F.col("parent").alias("b_parent"),
    )
    for _ in range(max_hops + 1):
        cur = (
            cur.join(
                b,
                (F.col("source") == F.col("b_source"))
                & (F.col("parent") == F.col("b_id")),
                "left",
            )
            .select(
                "source",
                "target",
                "dist",
                F.when(
                    F.col("parent").isNotNull(),
                    F.concat(F.array("parent"), F.col("path")),
                )
                .otherwise(F.col("path"))
                .alias("path"),
                # finished chains (parent null) never match, so b_parent
                # is already null for them — no branch needed
                F.col("b_parent").alias("parent"),
            )
        )
    return cur.select("source", F.col("target").alias("id"), "dist", "path")


def pair_shortest_paths(
    edges: DataFrame,
    pairs: DataFrame,
    weight: str | None = None,
    max_hops: int = 8,
) -> DataFrame:
    """G4/G5: shortest path for (src, dst) pairs. Pairs are grouped by
    source automatically (the search is keyed by source — the
    reference's group-pairs-by-source batching, bfs.py:124-147, is the
    natural shape here). Returns (src, dst, dist, path); unreachable
    pairs keep dist null.

    Unit-weight pairs run BIDIRECTIONAL BFS (meet-in-the-middle): two
    half-depth searches from the src and dst sets joined on the meet
    node. On small-world graphs a full-depth search reaches ~V per
    source, so halving the depth shrinks every level by orders of
    magnitude — this is what makes the 100k-pair six-degrees experiment
    one tractable job. Weighted pairs search one direction (bidirectional
    Dijkstra's stopping rule isn't worth the complexity here); the
    search table and the |pairs|-row result are each pinned once, so
    neither the reconstruct steps nor a caller's several actions re-run
    the search.
    """
    if weight is None:
        return _pair_paths_bidirectional(edges, pairs, max_hops)
    sources = pairs.select(F.col("src").alias("source")).dropDuplicates()
    targets = pairs.select(
        F.col("src").alias("source"), F.col("dst").alias("id")
    ).dropDuplicates()
    best = multi_source_shortest_paths(edges, sources, weight, max_hops)
    rec = reconstruct_paths(best, targets, max_hops)
    return pairs.join(
        rec.select(
            F.col("source").alias("src"), F.col("id").alias("dst"), "dist", "path"
        ),
        ["src", "dst"],
        "left",
    ).localCheckpoint()


def _pair_paths_bidirectional(
    edges: DataFrame, pairs: DataFrame, max_hops: int
) -> DataFrame:
    """Meet-in-the-middle BFS for unit weights: expand ⌈h/2⌉ hops from
    the src set and ⌊h/2⌋ from the dst set over the undirected graph,
    join on the meet node, take min(df+db) per pair, then reconstruct
    the two half-paths and stitch them. Exact for dist ≤ max_hops (the
    split node of any shortest path is reached at its true distance
    from both ends).

    Both endpoint sets ride ONE multi-source search (keyed by source,
    so they share every level's shuffle); the backward side is the same
    table capped at ⌊h/2⌋. Half-path reconstruction is one static plan
    over the shared table with the forward/backward target sets unioned
    — the whole pair job is a handful of Spark jobs."""
    f_hops = (max_hops + 1) // 2
    b_hops = max_hops // 2
    srcs = pairs.select(F.col("src").alias("source")).dropDuplicates()
    dsts = pairs.select(F.col("dst").alias("source")).dropDuplicates()
    both = srcs.unionByName(dsts).dropDuplicates()
    best = multi_source_shortest_paths(edges, both, None, f_hops)
    bb = best.filter(F.col("dist") <= b_hops)

    meet = (
        pairs.join(
            best.select(
                F.col("source").alias("src"), F.col("id").alias("m"),
                F.col("dist").alias("df"),
            ),
            "src",
        )
        .join(
            bb.select(
                F.col("source").alias("dst"), F.col("id").alias("m"),
                F.col("dist").alias("db"),
            ),
            ["dst", "m"],
        )
        .select(
            "src", "dst",
            F.struct(
                (F.col("df") + F.col("db")).alias("dist"), F.col("m").alias("m")
            ).alias("c"),
        )
        .groupBy("src", "dst")
        .agg(F.min("c").alias("c"))
        .select(
            "src", "dst", F.col("c.dist").alias("dist"), F.col("c.m").alias("m")
        )
        # r9: eager pin. meet is |pairs| rows but its subtree joins the
        # ~|sources|x|V| best table twice; it is referenced by BOTH
        # half-path target branches AND the stitch, and the per-branch
        # column pruning makes the three subtrees non-identical, so
        # ReusedExchange does NOT dedup them (r9 plan audit: the meet
        # SMJ chain appeared 3x in one job). One tiny checkpoint runs
        # it once. Interleaved A/B on six_degrees: 1.21x med.
        .localCheckpoint()
    )
    half_targets = (
        meet.select(F.col("src").alias("source"), F.col("m").alias("id"))
        .unionByName(
            meet.select(F.col("dst").alias("source"), F.col("m").alias("id"))
        )
        .dropDuplicates()
    )
    # r9: eager pin for the same reason — half (≤2|pairs| rows) feeds
    # both the fpath and bpath branches; unpinned, the whole unrolled
    # reconstruct chain over best executed twice in the final job.
    # a unit-weight chain has dist <= f_hops parents: f_hops steps
    half = reconstruct_paths(best, half_targets, f_hops - 1).localCheckpoint()
    fpaths = half.select(
        F.col("source").alias("src"), F.col("id").alias("m"),
        F.col("path").alias("fpath"),
    )
    bpaths = half.select(
        F.col("source").alias("dst"), F.col("id").alias("m"),
        F.col("path").alias("bpath"),
    )
    stitched = (
        meet.join(fpaths, ["src", "m"])
        .join(bpaths, ["dst", "m"])
        # fpath = src..m ; bpath = dst..m reversed minus the meet → m..dst
        .withColumn(
            "path",
            F.concat(
                F.col("fpath"),
                F.expr("slice(reverse(bpath), 2, greatest(size(bpath) - 1, 0))"),
            ),
        )
        .select("src", "dst", "dist", "path")
    )
    return pairs.join(stitched, ["src", "dst"], "left")


def degrees_of_separation(
    edges: DataFrame,
    pairs: DataFrame,
    vertices: DataFrame,
    weight: str | None = None,
    max_hops: int = 8,
) -> DataFrame:
    """G5/G9: degree = max(0, human_nodes_on_path − 1) (reference
    analysis_service.py:72-77). Unreachable pairs -> degree null.
    The experiment over 100k random pairs is this one job.
    """
    sp = pair_shortest_paths(edges, pairs, weight, max_hops)
    is_human = vertices.select(
        "id", (F.col("type") == "human").cast("int").alias("h")
    )
    # ONE pass over sp: explode_outer keeps unreachable pairs (null
    # path → one null-id row → null humans → null degree), so the
    # expensive pair-paths subtree is referenced exactly once instead
    # of once for the reachable explode and again for the outer join
    return (
        sp.select("src", "dst", "dist", F.explode_outer("path").alias("id"))
        .join(is_human, "id", "left")
        .groupBy("src", "dst", "dist")
        .agg(F.sum("h").alias("humans"))
        .select(
            "src", "dst", "dist",
            F.when(
                F.col("dist").isNotNull(),
                F.greatest(F.col("humans") - 1, F.lit(0)),
            ).alias("degree"),
        )
    )


def decorate_path(
    sp: DataFrame,
    edges: DataFrame,
    vertices: DataFrame,
) -> DataFrame:
    """G6: explode a path into consecutive (pos, node, next_node) rows
    and resolve the connecting edge in either orientation plus names
    (reference analysis_service.py:100-187). Missing edges keep
    rel='unknown' via left join.
    """
    steps = sp.select(
        "src",
        "dst",
        F.posexplode(F.expr("slice(path, 1, size(path) - 1)")).alias("pos", "node"),
        F.col("path"),
    ).withColumn("next_node", F.expr("path[pos + 1]")).drop("path")

    fwd = edges.select(
        F.col("src").alias("node"), F.col("dst").alias("next_node"),
        F.col("rel"), F.lit("forward").alias("direction"),
    )
    rev = edges.select(
        F.col("dst").alias("node"), F.col("src").alias("next_node"),
        F.col("rel"), F.lit("backward").alias("direction"),
    )
    eds = fwd.unionByName(rev).dropDuplicates(["node", "next_node"])

    names = vertices.select("id", F.col("name").alias("node_name"))
    return (
        steps.join(eds, ["node", "next_node"], "left")
        .na.fill({"rel": "unknown", "direction": "unknown"})
        .join(names.withColumnRenamed("id", "node"), "node", "left")
        .select("src", "dst", "pos", "node", "node_name", "next_node", "rel", "direction")
        .orderBy("src", "dst", "pos")
    )


def ego_network(
    edges: DataFrame, seed_ids: list, k: int = 2, directed: bool = False
) -> DataFrame:
    """G10: k-hop neighborhood — iterative frontier expansion, one join
    per hop; edges with a NULL endpoint are dropped. Returns (id, hop)
    with the minimum hop distance ≤ k.

    Kept as a per-hop loop: cold interleaved A/B of ego_2hop_s1 at
    sf0.1, 4 cores, 3 pairs, median 3.2 s on the static search vs
    2.8 s here."""
    e = (edges if directed else undirected(edges)).select("src", "dst").dropna()
    seen = literal_frame(
        edges.sparkSession, [(s,) for s in seed_ids], ["id"]
    ).withColumn("hop", F.lit(0))
    frontier = seen
    for hop in range(1, k + 1):
        nxt = (
            frontier.join(e.withColumnRenamed("src", "id"), "id")
            .select(F.col("dst").alias("id"))
            .dropDuplicates()
            .join(seen.select("id"), "id", "left_anti")
            .withColumn("hop", F.lit(hop))
            .localCheckpoint()
        )
        if nxt.isEmpty():
            break
        seen = seen.unionByName(nxt).localCheckpoint()
        frontier = nxt
    return seen


def six_degrees_experiment(
    edges: DataFrame,
    vertices: DataFrame,
    n_pairs: int = 10_000,
    seed: int = 42,
    max_hops: int = 8,
    weight: str | None = None,
    exact: bool = False,
    sample_key=None,
) -> DataFrame:
    """G9: the six-degrees statistics job — sample random vertex pairs,
    compute degrees-of-separation, aggregate mean/median/unreachable
    plus the Watts-Strogatz theory anchor L ≈ ln N / ln⟨k⟩ (reference
    NB cells 143-153). ONE Spark job replaces the reference's
    process-pool experiment (analysis_service.py:223-262); a 100k-pair
    run at cluster scale is the same code.

    ``exact=True`` switches the summary to exact-INTEGER sufficient
    statistics (sum instead of rounded avg, 2×median instead of the
    continuous-quantile double, and the raw (n_nodes, adjacency-row
    count) pair instead of the transcendental ln N/ln⟨k⟩): every
    hashed value is a BIGINT, so a cross-engine oracle comparison is
    immune to libm/quantile-interpolation drift. mean/median/L are
    one division away for presentation.

    ``sample_key`` (optional Column over the vertex frame) is what the
    hash-threshold pair sampler hashes; it defaults to the ``id``
    column. Callers that traverse a RELABELED graph (e.g. the int-keyed
    part-supplier twin, r10) pass the public string form here so the
    sampled node SET is bit-identical to the oracle's replay while
    every BFS shuffle keys on the narrow type.

    Returns a single-row DataFrame of the experiment summary.
    """
    from pyspark import StorageLevel

    from social_link_prediction_spark.ml.linksplit import hash60

    # one materialization of the edge table: the BFS levels, the
    # mean-degree job, and the stitch all re-scan it otherwise —
    # unless the caller already persisted it (the query path passes
    # the shared persisted partsupp view; a second checkpoint would
    # just burn one more eager job on the same rows)
    if edges.storageLevel == StorageLevel.NONE:
        edges = edges.localCheckpoint()
    # BFS traverses undirected(bfs_edges): one row per unordered pair
    # halves every level-join's build side while undirected()
    # reconstructs the IDENTICAL adjacency set (and identical
    # min-parent candidates) minus self-loops — distances cannot
    # change. mean-k / degree_sum keep the caller's original edge view.
    if weight is None:
        bfs_edges = simple_edges(edges).localCheckpoint()
    else:  # weighted relaxation needs the per-edge weight rows as-is
        bfs_edges = edges
    ids = vertices.select("id")
    n_nodes = vertices.count()
    # Deterministic hash-threshold sampling (same pattern as the
    # stratified sampler): the filter runs distributed over all
    # vertices; only the ~1.5*n_pairs survivors hit the row_number
    # window. No global sort / top-k heap over the full vertex set —
    # the old orderBy(rand()).limit() shape scanned-and-heaped
    # everything and zip-paired via monotonically_increasing_id, which
    # only lined up because limit collapsed to one partition.
    # Oversample enough that a binomial shortfall below n_pairs is
    # negligible even for small n_pairs: target mean = n_pairs +
    # 4*sqrt(n_pairs) + 10 keeps P(survivors < n_pairs) < ~1e-4
    # (a flat 1.5x factor left ~8% shortfall odds at n_pairs=10).
    # hash60 (md5-based), not xxhash64: DuckDB computes the identical
    # value, so an oracle can replay the exact pair sample.
    K = 1 << 30
    target = n_pairs + 4.0 * (n_pairs ** 0.5) + 10.0
    thresh = int(min(1.0, target / max(n_nodes, 1)) * K)
    skey = sample_key if sample_key is not None else F.col("id")

    def _sample(s: int, out: str) -> DataFrame:
        cand = ids.filter(F.pmod(hash60(skey, F.lit(s)), F.lit(K)) < thresh)
        # ties break on the hashed public key too, so the window order
        # is the oracle's replay by construction, not by hash60 luck
        w = Window.orderBy(hash60(skey, F.lit(s + 1_000_003)), skey)
        return (
            cand.withColumn("k", F.row_number().over(w))
            .filter(F.col("k") <= n_pairs)
            .select(F.col("id").alias(out), "k")
        )

    a = _sample(seed, "src")
    b = _sample(seed + 1, "dst")
    # checkpoint: the tiny pair frame is referenced by the src/dst
    # source sets, the meet join, and the final stitch — without the
    # cut each branch re-runs both sampling windows
    pairs = (
        a.join(b, "k")
        .select("src", "dst")
        .filter(F.col("src") != F.col("dst"))
        .localCheckpoint()
    )
    deg = degrees_of_separation(
        bfs_edges, pairs, vertices, weight=weight, max_hops=max_hops
    )
    if exact:
        # Integer-only contract (VERDICT r6 item 1): sums not means,
        # 2×percentile (a median over integers is k or k+0.5, so the
        # doubled value is an exact FP integer -> lossless long cast),
        # and (n_nodes, degree_sum) as the raw inputs to L-theory.
        # degree_sum counts adjacency rows of the both-orientation
        # view — the same integer any engine gets from COUNT(*).
        degree_sum = undirected(edges).count()
        return deg.agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.sum(F.col("dist").isNull().cast("long")).alias("unreachable"),
            F.sum("dist").cast("long").alias("sum_dist"),
            F.max("dist").cast("long").alias("max_dist"),
            F.sum("degree").cast("long").alias("sum_degree_sep"),
            (F.expr("percentile(degree, 0.5)") * 2).cast("long")
            .alias("median_degree_sep_x2"),
            F.max("degree").cast("long").alias("max_degree_sep"),
        ).select(
            "*",
            F.lit(n_nodes).cast("long").alias("n_nodes"),
            F.lit(degree_sum).cast("long").alias("degree_sum"),
        )
    mean_k = (
        undirected(edges).groupBy("src").count().agg(F.avg("count")).first()[0]
    )
    import math as _math

    l_theory = (
        _math.log(n_nodes) / _math.log(mean_k) if mean_k and mean_k > 1 else float("nan")
    )
    # Exact percentile (not percentile_approx): the GK-sketch estimate
    # is algorithm-specific, the exact interpolated median is a value
    # any engine reproduces — this is what lets a SQL oracle check the
    # whole summary row. mean/max of dist are unique-shortest-length
    # audits (path CHOICE can vary; its length cannot).
    return deg.agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.sum(F.col("dist").isNull().cast("long")).alias("unreachable"),
        F.round(F.avg("dist"), 6).alias("mean_dist"),
        F.max("dist").alias("max_dist"),
        F.round(F.avg("degree"), 6).alias("mean_degree_sep"),
        F.expr("percentile(degree, 0.5)").alias("median_degree_sep"),
        F.max("degree").alias("max_degree_sep"),
    ).withColumn("l_theory", F.round(F.lit(l_theory), 6))


def harmonic_centrality(
    edges: DataFrame,
    seeds: DataFrame,
    max_hops: int = 2,
    directed: bool = False,
) -> DataFrame:
    """Sampled harmonic centrality: H(v) = sum over seed s of
    1/d(s, v) for 0 < d(s, v) <= max_hops (Boldi & Vigna, "Axioms for
    Centrality" — the centrality that stays well-defined on
    disconnected graphs, unlike closeness). Exact harmonic centrality
    needs all-pairs distances; the standard estimator runs BFS from a
    uniform seed SAMPLE and scales by n/|seeds| — pair it with the
    hash-threshold sampler so the seed set (and therefore the oracle)
    is deterministic. One multi-source search: all seeds share each
    level's shuffle.

    ``seeds``: DataFrame with a ``source`` column. Returns
    (id, harmonic) for every vertex reached by any seed.
    """
    best = multi_source_shortest_paths(
        edges, seeds, weight=None, max_hops=max_hops, directed=directed
    )
    return (
        best.filter(F.col("dist") > 0)
        .groupBy("id")
        .agg(F.sum(F.lit(1.0) / F.col("dist")).alias("harmonic"))
    )


def double_sweep_diameter(
    edges: DataFrame,
    max_hops: int = 6,
    directed: bool = True,
) -> DataFrame:
    """Double-sweep diameter lower bound (Magnien, Latapy & Habib,
    "Fast computation of empirically tight bounds for the diameter of
    massive graphs", JEA 2009): BFS from a fixed vertex, hop to the
    farthest vertex found, BFS again — the second eccentricity is the
    classic near-tight diameter lower bound on real-world graphs at
    the cost of exactly two BFS runs (vs |V| for the exact diameter).

    Deterministic by construction: the first sweep starts at the
    MINIMUM vertex id, and every farthest-vertex argmax breaks ties by
    smaller id — so a SQL oracle replays both sweeps exactly. The two
    "pick the extreme row" reductions are 1-row ``first()`` calls on
    already-aggregated frames (control-plane, like the PageRank
    relation-list collect). Returns one row:
    (start_node, far_node, ecc_start, diameter_lb).
    """
    spark = edges.sparkSession
    start = edges.agg(F.min("src")).first()[0]
    if start is None:
        raise ValueError(
            "double_sweep_diameter: the edge list is empty (no edge with a non-NULL src)"
        )
    s1 = literal_frame(spark, [(start,)], ["source"])
    d1 = _frontier_loop(edges, s1, weight=None, max_hops=max_hops, directed=directed)
    far_row = (
        d1.orderBy(F.col("dist").desc(), F.col("id").asc()).select("id", "dist").first()
    )
    far, ecc_start = far_row[0], int(far_row[1])
    s2 = literal_frame(spark, [(far,)], ["source"])
    d2 = _frontier_loop(edges, s2, weight=None, max_hops=max_hops, directed=directed)
    diameter_lb = int(d2.agg(F.max("dist")).first()[0])
    return literal_frame(
        spark,
        [(start, far, ecc_start, diameter_lb)],
        ["start_node", "far_node", "ecc_start", "diameter_lb"],
    )


# the types spark.createDataFrame infers for Python scalars
_INFERRED_TYPES = {bool: "boolean", int: "bigint", float: "double", str: "string"}


def literal_frame(
    spark, rows: list[tuple], names: list[str], types: list[str] | None = None
) -> DataFrame:
    """``spark.createDataFrame(rows, names)`` as a JVM literal frame: the
    rows are inlined over a one-partition ``range(1)``, so no Python-RDD
    scan (and no Python worker task) runs each time a plan reads it.
    ``types`` defaults to what createDataFrame infers from the first
    row (a Python int is bigint there, while ``F.lit`` alone gives int)."""
    types = types or [_INFERRED_TYPES[type(v)] for v in rows[0]]
    cols = [[F.lit(v).cast(t).alias(n) for v, n, t in zip(r, names, types)] for r in rows]
    one = spark.range(0, 1, 1, 1)
    if len(rows) == 1:
        # a projection, not a generator: the optimizer then folds the
        # values into downstream filters and joins as constants
        return one.select(*cols[0])
    return one.select(F.inline(F.array(*[F.struct(*c) for c in cols])))
