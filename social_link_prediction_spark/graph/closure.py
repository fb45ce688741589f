"""Transitive closure (path doubling) and time-respecting reachability.

Two recursion-shaped graph operators the relational core can't express
in one pass, built as unrolled/doubling iterative DataFrame plans:

- ``transitive_closure``: all (descendant, ancestor, depth) pairs of a
  parent-pointer forest (org charts, category trees, BOM structures —
  the reference's taxonomy refactor walks exactly such a type
  hierarchy by hand, NB cells 70-78). Path DOUBLING, not level-by-
  level: round k holds every ancestor link of length <= 2^k, so a
  depth-D hierarchy closes in ceil(log2(D)) self-joins instead of D
  chained joins — at 100 TB that is 5-6 shuffles for a depth-40 BOM
  rather than 40.
- ``temporal_reachability``: earliest-arrival BFS over timestamped
  edges where an edge (u, v, t) is traversable only if u was reached
  by time t (Holme & Saramäki, Phys. Rep. 519). Each round is one
  keyed join + min-aggregation — the SSSP relaxation shape with the
  time constraint as a join filter.

Both operators cut lineage per round with localCheckpoint (the same
discipline as pagerank/katz/scc) so the unrolled plan never doubles;
``transitive_closure`` runs its rounds through iterate.fixpoint.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from social_link_prediction_spark.graph.iterate import fixpoint, measure_changed
from social_link_prediction_spark.graph.paths import _search


def transitive_closure(
    parent_edges: DataFrame,
    max_depth: int = 64,
    child: str = "child",
    parent: str = "parent",
) -> DataFrame:
    """All ancestor pairs of a parent-pointer forest.

    ``parent_edges`` has one row per non-root node: (child, parent).
    Returns (desc, anc, depth) with depth >= 1 — every proper
    ancestor of every node. Forest assumption: one parent per child
    (each (desc, anc) pair then has exactly one path, so the doubling
    union dedupes on the pair alone).

    Path doubling: L_0 = direct links (depth 1); L_{k+1} = L_k UNION
    (L_k JOIN L_k) — after round k every link of length <= 2^k is
    present. ceil(log2(max_depth)) rounds bound the work;
    iterate.fixpoint stops early as soon as a round adds no new pairs
    (one count per round on the checkpointed frame). At the round cap
    the links closed so far come back.
    """
    if max_depth < 1:
        raise ValueError(f"max_depth must be >= 1, got {max_depth}")
    links = (
        parent_edges.select(
            F.col(child).cast("long").alias("desc"),
            F.col(parent).cast("long").alias("anc"),
            F.lit(1).cast("int").alias("depth"),
        )
        .dropDuplicates(["desc", "anc"])
        .localCheckpoint()
    )

    def double(links: DataFrame) -> DataFrame:
        up = links.select(
            F.col("desc").alias("anc"), F.col("anc").alias("anc2"), F.col("depth").alias("d2")
        )
        hops = links.join(up, "anc").select(
            "desc", F.col("anc2").alias("anc"), (F.col("depth") + F.col("d2")).alias("depth")
        )
        return links.unionByName(hops).dropDuplicates(["desc", "anc"])

    links, _ = fixpoint(
        links,
        double,
        measure_changed(DataFrame.count, links.count()),
        max(1, (max_depth - 1).bit_length()),
        "transitive_closure",
    )
    return links


def temporal_reachability(
    edges: DataFrame,
    sources: DataFrame,
    max_rounds: int = 4,
    src: str = "src",
    dst: str = "dst",
    ts: str = "t",
) -> DataFrame:
    """Earliest-arrival set over timestamped edges.

    ``edges``: (src, dst, t); ``sources``: (id) seed nodes, arrival 0.
    An edge (u, v, t) is usable iff arrival(u) <= t, and taking it
    sets a candidate arrival(v) = t — the time-respecting path
    semantics (you cannot ride an edge that departed before you got
    there). Returns (id, arrival) for every node reached within
    ``max_rounds`` hops, arrival = minimum over all time-respecting
    paths (earliest-arrival is hop-monotone, so round r holds the
    exact earliest arrival among paths of <= r edges).

    Per round: one equi-join of the arrival frame onto edge sources
    with the time constraint as a join filter, one min-agg by
    destination, one outer merge — the SSSP relaxation shape. The
    arrival frame is |reached| rows, checkpointed per round.
    """
    e = edges.select(
        F.col(src).alias("u"), F.col(dst).alias("v"), F.col(ts).alias("t")
    ).persist()
    arrival = sources.select(
        F.col("id").cast("long").alias("id"),
        F.lit(0).cast("long").alias("arrival"),
    ).localCheckpoint()
    for _ in range(max_rounds):
        cand = (
            e.join(arrival.withColumnRenamed("id", "u"), "u")
            .filter(F.col("t") >= F.col("arrival"))
            .groupBy(F.col("v").alias("id"))
            .agg(F.min("t").alias("cand"))
        )
        arrival = (
            arrival.join(cand, "id", "full")
            .select(
                "id",
                F.least(
                    F.coalesce("arrival", F.lit(2**62)),
                    F.coalesce("cand", F.lit(2**62)),
                ).alias("arrival"),
            )
            .localCheckpoint()
        )
    e.unpersist()
    return arrival


def bfs_rounds(
    edges: DataFrame,
    seeds: DataFrame,
    max_rounds: int = 4,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Earliest-activation rounds of a multi-seed BFS: (id, round)
    with round 0 = seed, round r = first reached in r hops (within
    ``max_rounds``), one row per node. The hop-bounded search of
    ``paths.multi_source_shortest_paths`` with ALL seeds under one
    source key, so an independent-cascade / reachability job is one
    static plan of max_rounds keyed joins + min-merges regardless of
    seed count."""
    e = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
    start = seeds.select(F.lit(0).alias("source"), F.col("id").cast("long").alias("id"))
    best = _search(e, start, None, max_rounds)
    return best.select("id", F.col("dist").cast("int").alias("round"))
