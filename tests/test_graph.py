"""Graph layer: weights, SSSP, paths, degrees-of-separation, PageRank,
components, ego — FIXTURES.md invariants 1, 8, 9."""

import math
import random

import pytest
from pyspark.sql import functions as F

from social_link_prediction_spark.graph import build as gb
from social_link_prediction_spark.graph import pagerank as gpr
from social_link_prediction_spark.graph import paths as gp


def test_edge_weights_blacklist_and_hub(social_graph):
    v, e = social_graph
    w = gb.edge_weights(v, e).collect()
    by_rel = {(r.src, r.dst): r.weight for r in w}
    assert math.isinf(by_rel[("Q1", "Q5")])  # influenced_by blacklisted
    # U1 has in-degree 2 -> hub penalty log(3)
    assert abs(by_rel[("Q1", "U1")] - (1.0 + math.log(3))) < 1e-9


def test_sssp_avoids_blacklisted_shortcut(social_graph):
    v, e = social_graph
    we = gb.edge_weights(v, e)
    sources = v.sparkSession.createDataFrame([("Q1",)], ["source"])
    best = gp.multi_source_shortest_paths(we, sources, weight="weight", max_hops=6)
    targets = v.sparkSession.createDataFrame([("Q1", "Q5")], ["source", "id"])
    q5 = gp.reconstruct_paths(best, targets, max_hops=6).first()
    # invariant 8: blacklisted influenced_by never on a weighted path
    assert "Q5" == q5.path[-1] and q5.path[0] == "Q1"
    assert len(q5.path) > 2  # not the direct (blacklisted) edge


def test_path_edges_exist(social_graph):
    v, e = social_graph
    sources = v.sparkSession.createDataFrame([("Q1",)], ["source"])
    best = gp.multi_source_shortest_paths(e, sources, max_hops=6)
    targets = best.select("source", "id")
    sp = gp.reconstruct_paths(best, targets, max_hops=6)
    edge_set = {(r.src, r.dst) for r in e.collect()}
    for row in sp.collect():
        for a, b in zip(row.path, row.path[1:]):
            assert (a, b) in edge_set or (b, a) in edge_set


def test_pair_paths_and_unreachable(social_graph):
    v, e = social_graph
    pairs = v.sparkSession.createDataFrame(
        [("Q1", "Q4"), ("Q1", "Q8"), ("Q1", "Q1")], ["src", "dst"]
    )
    out = {(r.src, r.dst): r for r in gp.pair_shortest_paths(e, pairs, max_hops=6).collect()}
    # unweighted traversal may use the influenced_by shortcut Q1->Q5->Q4
    # (the blacklist only applies to WEIGHTED paths)
    assert out[("Q1", "Q4")].dist == 2.0
    assert out[("Q1", "Q4")].path == ["Q1", "Q5", "Q4"]
    assert out[("Q1", "Q8")].dist is None  # cross-component: unreachable
    assert out[("Q1", "Q1")].dist == 0.0


def test_degrees_of_separation_human_count(social_graph):
    v, e = social_graph
    pairs = v.sparkSession.createDataFrame([("Q1", "Q4"), ("Q1", "Q8")], ["src", "dst"])
    out = {(r.src, r.dst): r for r in gp.degrees_of_separation(e, pairs, v, max_hops=6).collect()}
    # unweighted shortest path Q1-Q5-Q4: 3 humans -> degree 2 (invariant 9)
    assert out[("Q1", "Q4")].degree == 2
    assert out[("Q1", "Q8")].degree is None


def test_decorate_path(social_graph):
    v, e = social_graph
    pairs = v.sparkSession.createDataFrame([("Q1", "Q3")], ["src", "dst"])
    sp = gp.pair_shortest_paths(e, pairs, max_hops=6).filter(F.col("dist").isNotNull())
    dec = gp.decorate_path(sp, e, v).collect()
    assert [d.rel for d in dec] == ["spouse", "sibling"]
    assert dec[0].node_name == "Alice"


def _weighted_graph(spark, seed=5, n=24, m=60):
    """Seeded undirected multigraph with weights from {1, 2, inf}: equal
    distances through different parents and infinite-only routes both
    occur."""
    rng = random.Random(seed)
    rows = [
        (rng.randrange(n), rng.randrange(n), rng.choice([1.0, 2.0, math.inf]))
        for _ in range(m)
    ]
    return spark.createDataFrame(
        [r for r in rows if r[0] != r[1]], "src bigint, dst bigint, weight double"
    )


def _hop_relaxation(und, sources, max_hops):
    """Pure-Python hop-bounded search: Bellman-Ford rounds from every
    source, where round h relaxes the out-edges of the nodes improved in
    round h-1, each (source, node) takes its smallest (dist, parent)
    candidate, and that candidate replaces the best entry only on a
    strictly smaller dist (the first round to reach a distance keeps
    it). Returns {(source, id): (dist, parent)}."""
    adj = {}
    for u, v, w in und:
        adj.setdefault(u, []).append((v, w))
    best = {(s, s): (0.0, None) for s in sources}
    frontier = dict(best)
    for _ in range(max_hops):
        cand = {}
        for (s, u), (d, _) in frontier.items():
            for v, w in adj.get(u, ()):
                c = (d + w, u)
                if (s, v) not in cand or c < cand[(s, v)]:
                    cand[(s, v)] = c
        frontier = {k: c for k, c in cand.items() if k not in best or c[0] < best[k][0]}
        best.update(frontier)
    return best


def _chase(best, source, target, steps):
    """(dist, path) from at most ``steps`` parent-pointer steps back from
    ``target``; (None, None) when the search never reached it."""
    if (source, target) not in best:
        return None, None
    dist, parent = best[(source, target)]
    path = [target]
    for _ in range(steps):
        if parent is None:
            break
        path.insert(0, parent)
        parent = best[(source, parent)][1]
    return dist, path


@pytest.mark.parametrize("max_hops", [1, 2, 3, 4, 6, 8])
def test_static_weighted_search_matches_dynamic_loop(spark, max_hops):
    """The search equals a pure-Python hop-bounded relaxation row for
    row, parent tie-break included, and weighted pair_shortest_paths and
    reconstruct_paths both return the paths that chasing those parent
    pointers max_hops + 1 steps gives."""
    from social_link_prediction_spark.graph.build import undirected

    e = _weighted_graph(spark)
    sources = spark.createDataFrame([(0,), (3,), (7,)], "source bigint")
    und = [(r.src, r.dst, r.weight) for r in undirected(e).collect()]
    ref = _hop_relaxation(und, [0, 3, 7], max_hops)
    ref_rows = sorted((s, v, d, p) for (s, v), (d, p) in ref.items())
    got_best = gp.multi_source_shortest_paths(e, sources, "weight", max_hops)
    cols = ["source", "id", "dist", "parent"]
    assert sorted(tuple(r) for r in got_best.select(cols).collect()) == ref_rows
    if max_hops >= 2:
        assert any(math.isinf(r[2]) for r in ref_rows)
        # some node has two parents at its best distance: the tie-break
        # is exercised, not vacuous
        best = {(r[0], r[1]): r[2] for r in ref_rows}
        assert any(
            len({u for u, x, w in und if x == v and best.get((s, u), d) + w == d}) > 1
            for (s, v), d in best.items()
            if 0 < d < math.inf
        )

    pairs = spark.createDataFrame(
        [(0, t) for t in range(24)] + [(7, t) for t in (3, 7, 11)], "src bigint, dst bigint"
    )
    targets = pairs.selectExpr("src AS source", "dst AS id")
    expected = {(s, t): _chase(ref, s, t, max_hops + 1) for s, t in pairs.collect()}
    rec = {
        (r.source, r.id): (r.dist, r.path)
        for r in gp.reconstruct_paths(got_best, targets, max_hops).collect()
    }
    assert rec == {k: v for k, v in expected.items() if v[0] is not None}
    got = {
        (r.src, r.dst): (r.dist, r.path)
        for r in gp.pair_shortest_paths(e, pairs, "weight", max_hops).collect()
    }
    assert got == expected
    assert len(got) == 27
    if max_hops > 4:
        # the deep budgets are exercised: some best path is longer than 4 hops
        assert any(path and len(path) > 5 for _, path in got.values())


def test_pagerank_sums_to_one(social_graph):
    _, e = social_graph
    pr = gpr.pagerank(e, iterations=10)
    total = pr.agg(F.sum("pagerank")).first()[0]
    assert abs(total - 1.0) < 1e-6


def test_connected_components_two(social_graph):
    _, e = social_graph
    cc = gpr.connected_components(e)
    n_comp = cc.select("component").distinct().count()
    assert n_comp == 2
    comp = {r.id: r.component for r in cc.collect()}
    assert comp["Q8"] == comp["Q9"] != comp["Q1"]


def test_personalized_pagerank_rejects_missing_seed(social_graph):
    import pytest

    _, e = social_graph
    with pytest.raises(ValueError, match="Q999"):
        gpr.personalized_pagerank(e, sources=["Q1", "Q999"], iterations=2)


def test_connected_components_path_graph_log_rounds(spark):
    """A 1000-node path is the degenerate case for min-label
    propagation (1000 rounds); large-star/small-star must converge in
    O(log n) — well under the 12-iteration cap given here."""
    e = spark.createDataFrame([(i, i + 1) for i in range(999)], ["src", "dst"])
    cc = gpr.connected_components(e, max_iterations=12)
    rows = cc.collect()
    assert len(rows) == 1000
    assert {r.component for r in rows} == {0}


def test_connected_components_self_loop_isolate(spark):
    """A node whose only edge is a self-loop is still its own
    (singleton) component."""
    e = spark.createDataFrame([(1, 2), (7, 7)], ["src", "dst"])
    comp = {r.id: r.component for r in gpr.connected_components(e).collect()}
    assert comp == {1: 1, 2: 1, 7: 7}


def test_ego_hops(social_graph):
    _, e = social_graph
    ego = {r.id: r.hop for r in gp.ego_network(e, ["Q1"], k=2).collect()}
    assert ego["Q1"] == 0
    assert ego["Q2"] == 1 and ego["U1"] == 1
    assert ego["Q3"] == 2
    assert "Q8" not in ego


def test_six_degrees_experiment(social_graph):
    v, e = social_graph
    out = gp.six_degrees_experiment(e, v, n_pairs=20, seed=1, max_hops=6).first()
    assert out.n_pairs > 0
    assert out.unreachable >= 0
    assert out.l_theory == out.l_theory  # not NaN for this graph
    # deterministic: same seed → identical summary row
    again = gp.six_degrees_experiment(e, v, n_pairs=20, seed=1, max_hops=6).first()
    assert out == again


def test_six_degrees_sampling_no_global_topk(social_graph):
    """The pair sampler must hash-filter BEFORE any ranking — no
    orderBy(rand()).limit() full-scan heap over the vertex set.
    (Catalyst legitimately turns the rank-filter into a TakeOrdered
    over the already-filtered ~1.5*n sample; what must NOT appear is
    a rand() sort, and the pmod hash filter must sit below it.)"""
    v, e = social_graph
    plan = gp.six_degrees_experiment(e, v, n_pairs=5, seed=1, max_hops=3)._jdf.queryExecution().executedPlan().toString()
    assert "rand(" not in plan
    # sampler is the oracle-replayable hash60 (md5) device under a pmod
    # threshold filter — not xxhash64 (DuckDB can't replay it), and
    # never a rand() sort.
    assert "pmod(" in plan and "md5(" in plan


def test_six_degrees_sampler_ties_break_on_sample_key(spark, monkeypatch):
    """A relabeled int graph sampled through ``sample_key`` draws the same
    pairs as the graph keyed by those strings, even where the sampler's
    order hash ties: ties break on the key an oracle replays, not on the
    int id (ADVICE r10, paths.py:618). Int order 1, 2, 3, 4 and string
    order n1, n10, n11, n12 pick different sources when every src-order
    hash ties."""
    from social_link_prediction_spark.ml import linksplit

    seed, real = 1, linksplit.hash60

    def hash60(col, salt):
        tie = str(seed + 1_000_003) in str(salt)
        return F.lit(0).cast("long") if tie else real(col, salt)

    monkeypatch.setattr(linksplit, "hash60", hash60)
    n = 12
    ring = [(i, i % n + 1) for i in range(1, n + 1)] + [(1, 7), (3, 10)]
    e_int = spark.createDataFrame(ring, "src bigint, dst bigint")
    v_int = spark.createDataFrame([(i, "human") for i in range(1, n + 1)], "id bigint, type string")

    def as_str(df, cols):
        return df.select(
            *[F.concat(F.lit("n"), F.col(c).cast("string")).alias(c) for c in cols],
            *[c for c in df.columns if c not in cols],
        )

    run = dict(n_pairs=4, seed=seed, max_hops=4, exact=True)
    relabeled = gp.six_degrees_experiment(
        e_int, v_int, sample_key=F.concat(F.lit("n"), F.col("id").cast("string")), **run
    ).first()
    keyed = gp.six_degrees_experiment(
        as_str(e_int, ["src", "dst"]), as_str(v_int, ["id"]), **run
    ).first()
    assert relabeled == keyed


def test_triangles_exact_once(spark):
    """K4 has exactly 4 triangles; each reported once with a<b<c."""
    from social_link_prediction_spark.graph import motifs as gm

    edges = spark.createDataFrame(
        [(i, j) for i in range(4) for j in range(4) if i < j]
        + [(3, 0)],  # duplicate in reverse orientation — must not double count
        ["src", "dst"],
    )
    tri = gm.triangles(edges).collect()
    assert len(tri) == 4
    assert all(r["a"] < r["b"] < r["c"] for r in tri)
    total = gm.triangle_count(edges).collect()[0]["n_triangles"]
    assert total == 4
    per_v = {r["id"]: r["n_triangles"] for r in gm.vertex_triangle_counts(edges).collect()}
    # every K4 vertex sits in C(3,2) = 3 triangles
    assert per_v == {0: 3, 1: 3, 2: 3, 3: 3}


def test_triangles_bipartite_is_zero(spark):
    from social_link_prediction_spark.graph import motifs as gm

    edges = spark.createDataFrame(
        [(i, 100 + (i % 3)) for i in range(10)], ["src", "dst"]
    )
    assert gm.triangle_count(edges).collect()[0]["n_triangles"] == 0


def test_triangle_bounded_node_guard_falls_back(spark, monkeypatch):
    """Past the node cap the triangle device must fall back to the
    wedge-join path (never the broadcast adjacency) with IDENTICAL
    counts; bounded_nodes tri-state controls the probe (VERDICT r9
    item 5)."""
    from social_link_prediction_spark.graph import motifs as gm

    edges = spark.createDataFrame(
        [(i, j) for i in range(4) for j in range(4) if i < j],
        ["src", "dst"],
    )
    # shrink the cap so the 4-node K4 counts as "unbounded"
    monkeypatch.setattr(gm, "_ADJ_MAX_NODES", 3)
    assert not gm._nodes_bounded(gb.simple_edges(edges).toDF("a", "b"), 3)
    # probe path (None) and forced fallback (False) both take the wedge
    # path and agree with the vouched adjacency path (True)
    for flag in (None, False):
        assert (
            gm.triangle_count(edges, bounded_nodes=flag).collect()[0][
                "n_triangles"
            ]
            == 4
        )
        per_v = {
            r["id"]: r["n_triangles"]
            for r in gm.vertex_triangle_counts(
                edges, bounded_nodes=flag
            ).collect()
        }
        assert per_v == {0: 3, 1: 3, 2: 3, 3: 3}
    # fallback plans must not carry the broadcast adjacency arrays
    plan = gm.vertex_triangle_counts(
        edges, bounded_nodes=False
    )._jdf.queryExecution().optimizedPlan().toString()
    assert "collect_list" not in plan


def test_degree_assortativity_bounds_and_sign(spark):
    """Star graph is maximally disassortative (r = -1)."""
    from social_link_prediction_spark.graph import motifs as gm

    star = spark.createDataFrame([(0, i) for i in range(1, 6)], ["src", "dst"])
    r = gm.degree_assortativity(star).collect()[0]["assortativity"]
    assert abs(r - (-1.0)) < 1e-9


def test_harmonic_centrality_path_graph(spark):
    from social_link_prediction_spark.graph import paths as gp

    # path 1-2-3-4; seeds {1, 4}; max_hops 2
    edges = spark.createDataFrame([(1, 2), (2, 3), (3, 4)], ["src", "dst"])
    seeds = spark.createDataFrame([(1,), (4,)], ["source"])
    out = {r.id: r.harmonic for r in gp.harmonic_centrality(edges, seeds, max_hops=2).collect()}
    # d(1,2)=1 d(4,2)=2 -> 1.5 ; node 3 symmetric ; node 1: d(4,1)=3 unreached -> only d(1,1)=0 excluded
    assert abs(out[2] - 1.5) < 1e-9
    assert abs(out[3] - 1.5) < 1e-9
    # endpoints only reach each other at d=3 > max_hops, and d=0 self
    # rows are excluded, so neither endpoint appears at all
    assert out.get(1) is None and out.get(4) is None


def test_label_propagation_two_cliques(spark):
    from social_link_prediction_spark.graph import communities as gcom

    k4a = [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4)]
    k4b = [(5, 6), (5, 7), (5, 8), (6, 7), (6, 8), (7, 8)]
    edges = spark.createDataFrame(k4a + k4b + [(4, 5)], ["src", "dst"])
    out = {r.id: r.label for r in gcom.label_propagation(edges, rounds=3).collect()}
    # pinned from a driver-side simulation of the same sync/min rules
    assert out == {1: 1, 2: 1, 3: 1, 4: 1, 5: 5, 6: 5, 7: 5, 8: 5}
    # deterministic: a second run agrees exactly
    again = {r.id: r.label for r in gcom.label_propagation(edges, rounds=3).collect()}
    assert again == out


def test_hits_star_graph(spark):
    # Directed star: spokes all point at the center. The center is the
    # unique authority (auth 1.0); spokes are equal hubs (1/3 each,
    # sum-normalized); the center hubs nothing, spokes author nothing.
    from social_link_prediction_spark.graph import hits as gh

    e = spark.createDataFrame(
        [(1, 0), (2, 0), (3, 0)], ["src", "dst"]
    )
    out = {r.id: (r.hub, r.auth) for r in gh.hits(e, iterations=3).collect()}
    assert abs(out[0][1] - 1.0) < 1e-9 and out[0][0] == 0.0
    for spoke in (1, 2, 3):
        assert abs(out[spoke][0] - 1 / 3) < 1e-9 and out[spoke][1] == 0.0


def test_hits_normalized_each_round(spark):
    from social_link_prediction_spark.graph import hits as gh

    e = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1), (1, 3)], ["src", "dst"]
    )
    rows = gh.hits(e, iterations=4).collect()
    assert abs(sum(r.hub for r in rows) - 1.0) < 1e-9
    assert abs(sum(r.auth for r in rows) - 1.0) < 1e-9


def test_random_walks_deterministic_and_valid(spark):
    # Walks must follow edges, start at their seed, and be identical
    # across re-runs (hash-driven, no RNG).
    from social_link_prediction_spark.graph import walks as gw

    e = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1), (2, 1), (3, 2), (1, 3)], ["src", "dst"]
    )
    seeds = spark.createDataFrame([(1,), (2,), (3,)], ["id"])
    c1 = gw.random_walks(e, seeds, length=3, walks_per_seed=2).collect()
    c2 = gw.random_walks(e, seeds, length=3, walks_per_seed=2).collect()
    assert sorted(map(tuple, c1)) == sorted(map(tuple, c2))
    # 6 walks x 4 positions (no dead ends in this graph)
    assert len(c1) == 24
    by_walk = {}
    for r in c1:
        by_walk.setdefault(r.walk_id, {})[r.step] = r.node
    edge_set = {(1, 2), (2, 3), (3, 1), (2, 1), (3, 2), (1, 3)}
    for wid, steps in by_walk.items():
        assert steps[0] == wid // 2  # starts at its seed
        for t in range(1, 4):
            assert (steps[t - 1], steps[t]) in edge_set


def test_random_walks_dead_end_terminates(spark):
    from social_link_prediction_spark.graph import walks as gw

    e = spark.createDataFrame([(1, 2)], ["src", "dst"])  # 2 is a sink
    seeds = spark.createDataFrame([(1,)], ["id"])
    rows = gw.random_walks(e, seeds, length=3, walks_per_seed=1).collect()
    # step 0 at node 1, step 1 at node 2, then the walk dies.
    assert sorted((r.step, r.node) for r in rows) == [(0, 1), (1, 2)]


def test_betweenness_path_graph(spark):
    # Undirected 5-path 1-2-3-4-5, all nodes as sources, full depth:
    # unique shortest paths, so bc(v) = #ordered pairs (s,t) with v
    # strictly between: node3 = 2*2*2 = 8, nodes 2/4 = 2*1*3 = 6.
    from social_link_prediction_spark.graph import centrality as gc

    und = [(i, i + 1) for i in range(1, 5)] + [(i + 1, i) for i in range(1, 5)]
    e = spark.createDataFrame(und, ["src", "dst"])
    seeds = spark.createDataFrame([(i,) for i in range(1, 6)], ["source"])
    out = {r.id: r.betweenness for r in gc.betweenness_sampled(e, seeds, max_depth=4).collect()}
    assert out == {2: 6.0, 3: 8.0, 4: 6.0}


def test_betweenness_diamond_split_paths(spark):
    # Diamond 1->{2,3}->4: two shortest 1-4 paths, so from source 1
    # nodes 2 and 3 each carry dependency 1/2.
    from social_link_prediction_spark.graph import centrality as gc

    e = spark.createDataFrame([(1, 2), (1, 3), (2, 4), (3, 4)], ["src", "dst"])
    seeds = spark.createDataFrame([(1,)], ["source"])
    out = {r.id: r.betweenness for r in gc.betweenness_sampled(e, seeds, max_depth=3).collect()}
    assert out == {2: 0.5, 3: 0.5}


def _guard_case(op, e, seeds):
    """One operator run on the 5-path as a flat {key: float} map."""
    from social_link_prediction_spark.graph import centrality as gc
    from social_link_prediction_spark.graph import hits as gh

    if op == "betweenness_sampled":
        rows = gc.betweenness_sampled(e, seeds, max_depth=4).collect()
        return {r.id: r.betweenness for r in rows}
    if op == "pagerank":
        return {r.id: r.pagerank for r in gpr.pagerank(e, iterations=3).collect()}
    if op == "hits":
        rows = gh.hits(e, iterations=2).collect()
        return {**{(r.id, "hub"): r.hub for r in rows}, **{(r.id, "auth"): r.auth for r in rows}}
    if op == "katz_centrality":
        return {r.id: r.katz for r in gc.katz_centrality(e, rounds=3).collect()}
    rows = gp.multi_source_shortest_paths(e, seeds, max_hops=4).collect()
    return {(r.source, r.id, r.parent): r.dist for r in rows}


@pytest.mark.parametrize(
    "op",
    [
        "betweenness_sampled",
        "pagerank",
        "hits",
        "katz_centrality",
        "multi_source_shortest_paths",
    ],
)
def test_betweenness_guard_shuffle_path_matches_broadcast(spark, monkeypatch, op):
    # Above the row guard the loops fall back to shuffle joins; the
    # numbers must not depend on which join strategy ran.
    from social_link_prediction_spark.graph import iterate

    und = [(i, i + 1) for i in range(1, 5)] + [(i + 1, i) for i in range(1, 5)]
    e = spark.createDataFrame(und, ["src", "dst"])
    seeds = spark.createDataFrame([(i,) for i in range(1, 6)], ["source"])
    expected = _guard_case(op, e, seeds)
    monkeypatch.setattr(iterate, "BROADCAST_MAX_ROWS", 0)
    forced = _guard_case(op, e, seeds)
    assert expected and forced == pytest.approx(expected)
    if op == "betweenness_sampled":
        assert forced == expected == {2: 6.0, 3: 8.0, 4: 6.0}


def test_betweenness_releases_its_frames(spark, cached_rdd_ids):
    # The levels and the edge frame are dead once the backward deltas
    # are checkpointed; the result reads only the checkpoints.
    from social_link_prediction_spark.graph import centrality as gc

    und = [(i, i + 1) for i in range(1, 5)] + [(i + 1, i) for i in range(1, 5)]
    e = spark.createDataFrame(und, ["src", "dst"])
    seeds = spark.createDataFrame([(1,), (3,)], ["source"])
    before = cached_rdd_ids()
    out = gc.betweenness_sampled(e, seeds, max_depth=3)
    assert cached_rdd_ids() - before == set()
    assert {r.id: r.betweenness for r in out.collect()} == {2: 3.0, 3: 1.0, 4: 1.0}


def test_fixpoint_names_each_round_and_restores_the_caller(spark):
    """Every round of iterate.fixpoint runs under its own job
    description inside the caller's job group; the caller's description
    comes back after a fixed point, at the round cap and on error."""
    from social_link_prediction_spark.graph import iterate

    sc = spark.sparkContext
    seen = []

    def halve(df):
        seen.append(
            (sc.getLocalProperty("spark.job.description"), sc.getLocalProperty("spark.jobGroup.id"))
        )
        return df.select(F.shiftright("id", 1).alias("id"))

    def first_id(df):
        return df.first().id

    sc.setJobGroup("fixpoint-names", "caller")
    try:
        # 8 -> 4 -> 2 -> 1 -> 0 -> 0: the fifth round changes nothing
        start = spark.range(8, 9)
        changed = iterate.measure_changed(first_id, 8)
        out, settled = iterate.fixpoint(start, halve, changed, 9, "halve")
        assert (out.first().id, settled) == (0, True)
        assert seen == [(f"halve/round {r}", "fixpoint-names") for r in range(1, 6)]
        assert sc.getLocalProperty("spark.job.description") == "caller"
        out, settled = iterate.fixpoint(start, halve, iterate.measure_changed(first_id), 2, "cap")
        assert (out.first().id, settled) == (2, False)
        assert sc.getLocalProperty("spark.job.description") == "caller"

        def fail(prev, nxt):
            raise RuntimeError("test failed mid-round")

        with pytest.raises(RuntimeError, match="mid-round"):
            iterate.fixpoint(start, halve, fail, 3, "boom")
        assert seen[-1] == ("boom/round 1", "fixpoint-names")
        assert sc.getLocalProperty("spark.job.description") == "caller"
        assert iterate.fixpoint(start, halve, fail, 0, "none") == (start, False)
        assert sc.statusTracker().getJobIdsForGroup("fixpoint-names")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)


# Degenerate inputs for the power-iteration family: an empty edge set,
# a single self-loop, duplicate edges, and two components (one of them
# directed, so pagerank's dangling and sourceless fixups both run).
_DEGENERATE = [
    [],
    [(1, 1)],
    [(1, 2), (1, 2), (2, 1)],
    [(1, 2), (2, 1), (3, 4)],
]


@pytest.mark.parametrize(
    "op",
    ["pagerank", "personalized_pagerank", "hits", "katz_centrality", "eigenvector_centrality"],
)
def test_power_iteration_degenerate_inputs(spark, op):
    from social_link_prediction_spark.graph import centrality as gc
    from social_link_prediction_spark.graph import hits as gh

    for edges in _DEGENERATE:
        e = spark.createDataFrame(edges, "src long, dst long")
        if op == "pagerank":
            rows = gpr.pagerank(e, iterations=3).collect()
            if edges:
                assert sum(r.pagerank for r in rows) == pytest.approx(1.0)
        elif op == "personalized_pagerank":
            with pytest.raises(ValueError):
                gpr.personalized_pagerank(e, [99], iterations=3)
            rows = gpr.personalized_pagerank(e, [1], iterations=3).collect() if edges else []
        elif op == "hits":
            rows = gh.hits(e, iterations=2).collect()
        elif op == "katz_centrality":
            rows = gc.katz_centrality(e, rounds=2).collect()
        else:
            rows = gc.eigenvector_centrality(e, rounds=2).collect()
            if edges:
                assert max(r.eig for r in rows) == pytest.approx(1.0)
        if not edges:
            assert rows == []


def test_wl_refinement_path_graph(spark):
    # Undirected 5-path: round 1 refines by degree (2 classes), round 2
    # separates {ends}, {2,4}, {3}; symmetric vertices share labels.
    from social_link_prediction_spark.graph import wl as gw

    und = [(i, i + 1) for i in range(1, 5)] + [(i + 1, i) for i in range(1, 5)]
    e = spark.createDataFrame(und, ["src", "dst"])
    h = gw.wl_refinement_history(e, iterations=2)
    r1 = {r.id: r.label for r in h[1].collect()}
    r2 = {r.id: r.label for r in h[2].collect()}
    assert len(set(r1.values())) == 2 and r1[1] == r1[5] and r1[2] == r1[3] == r1[4]
    assert len(set(r2.values())) == 3 and r2[1] == r2[5] and r2[2] == r2[4]
    assert r2[3] != r2[2] and r2[1] != r2[2]


def test_double_sweep_diameter_path_graph(spark):
    # Undirected 6-path 1..6: start = min id 1 (an endpoint), farthest
    # is 6 at dist 5; second sweep from 6 also finds 5 = true diameter.
    from social_link_prediction_spark.graph import paths as gp2

    und = [(i, i + 1) for i in range(1, 6)] + [(i + 1, i) for i in range(1, 6)]
    e = spark.createDataFrame(und, ["src", "dst"])
    r = gp2.double_sweep_diameter(e, max_hops=8).first()
    assert r.start_node == 1 and r.far_node == 6
    assert r.ecc_start == 5 and r.diameter_lb == 5


def test_double_sweep_tie_break_min_id(spark):
    # Star centered at 0: every leaf is at dist 1 from 0; the farthest
    # pick must take the SMALLEST leaf id deterministically.
    from social_link_prediction_spark.graph import paths as gp2

    leaves = [1, 2, 3]
    e = spark.createDataFrame(
        [(0, v) for v in leaves] + [(v, 0) for v in leaves], ["src", "dst"]
    )
    r = gp2.double_sweep_diameter(e, max_hops=4).first()
    assert r.start_node == 0 and r.far_node == 1
    assert r.ecc_start == 1 and r.diameter_lb == 2


def test_neighbor_sample_fanout_caps_and_determinism(spark):
    from social_link_prediction_spark.graph import sampling as gs

    # star: hub 0 with 10 leaves (both directions)
    e = spark.createDataFrame(
        [(0, v) for v in range(1, 11)] + [(v, 0) for v in range(1, 11)],
        ["src", "dst"],
    )
    seeds = spark.createDataFrame([(0,)], ["id"])
    b1 = gs.neighbor_sample(e, seeds, fanouts=[3, 2]).collect()
    b2 = gs.neighbor_sample(e, seeds, fanouts=[3, 2]).collect()
    assert sorted(map(tuple, b1)) == sorted(map(tuple, b2))  # deterministic
    hop0 = [r for r in b1 if r.hop == 0]
    hop1 = [r for r in b1 if r.hop == 1]
    assert len(hop0) == 3 and all(r.src == 0 for r in hop0)  # fanout cap
    # hop-1 frontier = the 3 sampled leaves; each has only the hub back
    assert len(hop1) == 3 and all(r.dst == 0 for r in hop1)
    # a different tag redraws a (generally) different sample
    b3 = gs.neighbor_sample(e, seeds, fanouts=[3, 2], tag="epoch2").collect()
    assert sorted(map(tuple, b3)) != sorted(map(tuple, b1))


def test_export_training_blocks_roundtrip(spark, tmp_path):
    """VERDICT-r3 #8: the M6 -> external-trainer seam end-to-end —
    sample blocks, export (M3 tensor layout + M12 embedding store),
    read back, and score with read_embeddings."""
    from social_link_prediction_spark.graph import sampling as gs
    from social_link_prediction_spark.ml import predict as mp

    edges = spark.createDataFrame(
        [(a, b) for a in range(6) for b in range(6) if a != b],
        "src long, dst long",
    )
    seeds = spark.createDataFrame([(0,), (3,)], "id long")
    blocks = gs.neighbor_sample(edges, seeds, fanouts=[3, 2], tag="exp")

    feats = spark.createDataFrame(
        [(i, "n", [float(i), float(i) * 0.5]) for i in range(6)],
        "id long, type string, embedding array<float>",
    )
    out = gs.export_training_blocks(blocks, feats, str(tmp_path / "blk"))

    # edges round-trip: hop partitioning preserved, edge sets identical
    back_edges = spark.read.parquet(out["edges"])
    assert set(back_edges.columns) == {"hop", "src", "dst"}
    orig = {(r.hop, r.src, r.dst) for r in blocks.collect()}
    assert {(r.hop, r.src, r.dst) for r in back_edges.collect()} == orig
    import os

    assert os.path.isdir(out["edges"] + "/hop=0") and os.path.isdir(
        out["edges"] + "/hop=1"
    )

    # node side: exactly the touched nodes, loadable via the embedding
    # store and usable for scoring
    emb = mp.read_embeddings(spark, out["nodes"])
    touched = {r.src for r in blocks.collect()} | {r.dst for r in blocks.collect()}
    assert {r.id for r in emb.collect()} == touched
    a = emb.select(F.col("id").alias("src"), F.col("embedding").alias("ea"))
    b = emb.select(F.col("id").alias("dst"), F.col("embedding").alias("eb"))
    scored = (
        back_edges.join(a, "src").join(b, "dst")
        .withColumn(
            "score",
            F.aggregate(
                F.zip_with("ea", "eb", lambda x, y: x * y),
                F.lit(0.0),
                lambda acc, v: acc + v,
            ),
        )
    )
    rows = scored.collect()
    assert len(rows) == len(orig)
    for r in rows:
        assert abs(r.score - (r.src * r.dst + r.src * 0.5 * r.dst * 0.5)) < 1e-5


def test_feature_propagation_path_graph(spark):
    # Undirected 3-path 1-2-3, f0 = degree = {1:1, 2:2, 3:1}.
    # layer 1 (alpha=0.5): h(1) = .5*1 + .5*2 = 1.5; h(2) = .5*2 + .5*1 = 1.5;
    # h(3) = 1.5 -> uniform, so layer 2 stays 1.5 everywhere.
    from social_link_prediction_spark.graph import propagate as gp
    from pyspark.sql import functions as F

    und = [(1, 2), (2, 1), (2, 3), (3, 2)]
    e = spark.createDataFrame(und, ["src", "dst"])
    deg = e.groupBy(F.col("dst").alias("id")).agg(
        F.count(F.lit(1)).cast("double").alias("f")
    )
    out = {r.id: r.f for r in gp.propagate_features(e, deg, ["f"], layers=2).collect()}
    assert out == {1: 1.5, 2: 1.5, 3: 1.5}


def test_feature_propagation_isolated_node_keeps_features(spark):
    from social_link_prediction_spark.graph import propagate as gp

    e = spark.createDataFrame([(1, 2)], ["src", "dst"])
    feats = spark.createDataFrame([(1, 4.0), (2, 8.0), (9, 6.0)], ["id", "f"])
    out = {r.id: r.f for r in gp.propagate_features(e, feats, ["f"], layers=1).collect()}
    # node 2 averages its one in-neighbor (4.0): .5*8 + .5*4 = 6.0;
    # node 1 and isolated node 9 have no in-edges -> unchanged.
    assert out == {1: 4.0, 2: 6.0, 9: 6.0}


def test_feature_propagation_alpha_validation(spark):
    from social_link_prediction_spark.graph import propagate as gp
    import pytest as _pytest

    e = spark.createDataFrame([(1, 2)], ["src", "dst"])
    feats = spark.createDataFrame([(1, 1.0)], ["id", "f"])
    with _pytest.raises(ValueError):
        gp.propagate_features(e, feats, ["f"], alpha=1.5)


def test_ktruss_clique_survives_path_peels(spark):
    # K4 on {1,2,3,4} (every edge in 2 triangles) + pendant path 4-5-6
    # (no triangles). 4-truss (support >= 2) keeps exactly the clique.
    from social_link_prediction_spark.graph import truss as gt

    k4 = [(a, b) for a in range(1, 5) for b in range(1, 5) if a < b]
    e = spark.createDataFrame(k4 + [(4, 5), (5, 6)], ["src", "dst"])
    out = gt.ktruss(e, k=4).collect()
    assert sorted((r.src, r.dst) for r in out) == sorted(k4)
    assert all(r.support == 2 for r in out)


def test_ktruss_cascading_peel_needs_multiple_rounds(spark, cached_rdd_ids):
    # Triangle {1,2,3} plus edge (3,4) closed by (2,4): dropping the
    # weak edges cascades — (2,4)/(3,4) are in one triangle only, so a
    # 5-truss (support >= 3) empties the graph over several rounds,
    # while the 3-truss (support >= 1) keeps both triangles.
    from social_link_prediction_spark.graph import truss as gt

    e = spark.createDataFrame(
        [(1, 2), (1, 3), (2, 3), (2, 4), (3, 4)], ["src", "dst"]
    )
    before = cached_rdd_ids()
    assert gt.ktruss(e, k=5).count() == 0
    keep3 = gt.ktruss(e, k=3).collect()
    assert sorted((r.src, r.dst) for r in keep3) == [(1, 2), (1, 3), (2, 3), (2, 4), (3, 4)]
    # the canonical edge set is pinned for the peel only; results read
    # the peel's checkpoints
    assert cached_rdd_ids() - before == set()


def test_ktruss_rejects_small_k(spark):
    from social_link_prediction_spark.graph import truss as gt
    import pytest as _pytest

    e = spark.createDataFrame([(1, 2)], ["src", "dst"])
    with _pytest.raises(ValueError):
        gt.ktruss(e, k=2)


# ---------------------------------------------------------------------
# Strongly connected components (graph/scc.py, FW-BW coloring)
# ---------------------------------------------------------------------
def _scc_map(rows):
    return {r.id: r.scc for r in rows}


def test_scc_cycle_with_tail(spark):
    from social_link_prediction_spark.graph import scc as gscc

    e = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1), (3, 4)], "src long, dst long"
    )
    out = _scc_map(gscc.strongly_connected_components(e, rounds=3, peels=1).collect())
    assert out == {1: 3, 2: 3, 3: 3, 4: 4}


def test_scc_dag_all_singletons(spark):
    from social_link_prediction_spark.graph import scc as gscc

    e = spark.createDataFrame([(1, 2), (2, 3), (1, 3)], "src long, dst long")
    out = _scc_map(gscc.strongly_connected_components(e, rounds=3, peels=1).collect())
    assert out == {1: 1, 2: 2, 3: 3}


def test_scc_two_components_one_class_needs_second_peel(spark):
    from social_link_prediction_spark.graph import scc as gscc

    # 5<->6 and 1<->2 with a bridge 6->1: color class of root 6 swallows
    # {1,2,5,6}, but only {5,6} reaches 6 — {1,2} must wait for peel 2.
    e = spark.createDataFrame(
        [(5, 6), (6, 5), (1, 2), (2, 1), (6, 1)], "src long, dst long"
    )
    one = _scc_map(gscc.strongly_connected_components(e, rounds=3, peels=1).collect())
    assert one[5] == 6 and one[6] == 6
    assert one[1] is None and one[2] is None  # honest budget exhaustion
    two = _scc_map(gscc.strongly_connected_components(e, rounds=3, peels=2).collect())
    assert two == {1: 2, 2: 2, 5: 6, 6: 6}


def test_scc_long_cycle_exceeding_budget_returns_null(spark):
    """A 6-cycle is ONE SCC whose color propagation needs 5 rounds;
    with rounds=3 the forward phase cannot reach a fixed point, so the
    guard must refuse to resolve ANY node (scc NULL across the board)
    rather than mislabel the cycle as six singletons. With rounds=8
    the fixed point is reached and the full cycle resolves to root 6."""
    from social_link_prediction_spark.graph import scc as gscc

    e = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5), (5, 6), (6, 1)], "src long, dst long"
    )
    starved = _scc_map(
        gscc.strongly_connected_components(e, rounds=3, peels=2).collect()
    )
    assert starved == {i: None for i in range(1, 7)}
    fed = _scc_map(gscc.strongly_connected_components(e, rounds=8, peels=2).collect())
    assert fed == {i: 6 for i in range(1, 7)}


def test_scc_validates_budget(spark):
    import pytest as _pytest

    from social_link_prediction_spark.graph import scc as gscc

    e = spark.createDataFrame([(1, 2)], "src long, dst long")
    with _pytest.raises(ValueError):
        gscc.strongly_connected_components(e, rounds=0)
    with _pytest.raises(ValueError):
        gscc.strongly_connected_components(e, peels=0)


# ---------------------------------------------------------------------
# Maximal independent set (graph/mis.py, Luby)
# ---------------------------------------------------------------------
def test_mis_is_independent_and_maximal(spark):
    """On a graph Luby clears within the round budget: the MIS is
    independent (no edge inside) and maximal (every excluded node has
    a MIS neighbor), and nothing is left unresolved."""
    import random

    from social_link_prediction_spark.graph import mis as gmis

    rng = random.Random(3)
    n = 40
    edges = {(a, b) for a in range(n) for b in range(a + 1, n) if rng.random() < 0.1}
    e = spark.createDataFrame(sorted(edges), "src long, dst long")
    rows = gmis.maximal_independent_set(e, rounds=8).collect()
    status = {r.id: r.status for r in rows}
    assert "unresolved" not in status.values()
    mis = {i for i, s in status.items() if s == "mis"}
    adj = {}
    for a, b in edges:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    # independence
    for a, b in edges:
        assert not (a in mis and b in mis)
    # maximality: every non-MIS node (with an edge) has a MIS neighbor
    for v, s in status.items():
        if s != "mis":
            assert adj.get(v, set()) & mis, f"{v} excluded without MIS neighbor"


def test_mis_star_and_clique(spark):
    from social_link_prediction_spark.graph import mis as gmis

    # star: either the hub alone, or all leaves — both are maximal
    star = spark.createDataFrame([(0, i) for i in range(1, 6)], "src long, dst long")
    st = {r.id: r.status for r in gmis.maximal_independent_set(star, rounds=6).collect()}
    mis = {i for i, s in st.items() if s == "mis"}
    assert mis == {0} or mis == {1, 2, 3, 4, 5}
    # clique: exactly one node wins
    k = spark.createDataFrame(
        [(a, b) for a in range(5) for b in range(a + 1, 5)], "src long, dst long"
    )
    kt = {r.id: r.status for r in gmis.maximal_independent_set(k, rounds=6).collect()}
    assert sum(1 for s in kt.values() if s == "mis") == 1


def test_mis_round_budget_honesty(spark):
    import pytest as _pytest

    from social_link_prediction_spark.graph import mis as gmis

    e = spark.createDataFrame([(1, 2)], "src long, dst long")
    with _pytest.raises(ValueError):
        gmis.maximal_independent_set(e, rounds=0)


# ---------------------------------------------------------------------
# node2vec biased walks (graph/walks.py)
# ---------------------------------------------------------------------
def _py_midsquare_key(walk, t, v):
    P = 2_147_483_647
    s = (1000003 * walk + 7919 * t + 104729 * v + 12345) % P
    return (s * s) % P * 4294967296 + (v + 2147483648)


def test_node2vec_matches_python_replay(spark):
    """The Spark walk equals a step-by-step pure-Python replay of the
    same hash/weighting arithmetic — edge validity and bias selection
    in one check."""
    from social_link_prediction_spark.graph import walks as gwalks

    pairs = [(0, 1), (1, 2), (2, 3), (3, 0), (1, 3), (2, 0)]
    und = sorted(set(pairs + [(b, a) for a, b in pairs]))
    e = spark.createDataFrame(und, "src long, dst long")
    seeds = spark.createDataFrame([(0,), (2,)], "id long")
    p, q, L, W = 2.0, 0.5, 4, 2
    got = {
        (r.walk_id, r.step): r.node
        for r in gwalks.node2vec_walks(e, seeds, L, W, p, q).collect()
    }

    adj = {}
    for a, b in und:
        adj.setdefault(a, []).append(b)
    wr, wb, wd = gwalks._n2v_weights(p, q)
    exp = {}
    for seed in (0, 2):
        for rep in range(W):
            wid = seed * W + rep
            prev, cur = seed, seed
            exp[(wid, 0)] = seed
            for t in range(1, L + 1):
                best = None
                for v in adj[cur]:
                    if t == 1:
                        keys = [_py_midsquare_key(wid, t, v)]
                    else:
                        w = wr if v == prev else (wb if v in adj[prev] else wd)
                        keys = [
                            _py_midsquare_key(wid, t, v * 8 + j) for j in range(w)
                        ]
                    for k in keys:
                        if best is None or k < best[0]:
                            best = (k, v)
                prev, cur = cur, best[1]
                exp[(wid, t)] = cur
    assert got == exp


def test_node2vec_weight_validation(spark):
    import pytest as _pytest

    from social_link_prediction_spark.graph import walks as gwalks

    with _pytest.raises(ValueError):
        gwalks._n2v_weights(3.0, 0.5)  # 4/3 not integer
    with _pytest.raises(ValueError):
        gwalks._n2v_weights(1.0, 0.25)  # 16 > 8
    assert gwalks._n2v_weights(2.0, 0.5) == (2, 4, 8)


def test_luby_coloring_is_proper_and_total(spark):
    """Coloring: no monochromatic edge; with enough colors+rounds every
    node is colored; color classes come out in MIS order."""
    import random

    from social_link_prediction_spark.graph import mis as gmis

    rng = random.Random(9)
    n = 30
    edges = {(a, b) for a in range(n) for b in range(a + 1, n) if rng.random() < 0.15}
    e = spark.createDataFrame(sorted(edges), "src long, dst long")
    rows = gmis.luby_coloring(e, colors=6, rounds_per_color=6).collect()
    color = {r.id: r.color for r in rows}
    assert None not in color.values()
    for a, b in edges:
        assert color[a] != color[b], f"monochromatic edge {a}-{b}"


def test_luby_coloring_budget_honesty(spark):
    import pytest as _pytest

    from social_link_prediction_spark.graph import mis as gmis

    # a triangle needs 3 colors; a 1-color budget must leave NULLs
    e = spark.createDataFrame([(1, 2), (2, 3), (1, 3)], "src long, dst long")
    rows = gmis.luby_coloring(e, colors=1, rounds_per_color=4).collect()
    assert sum(1 for r in rows if r.color is None) >= 1
    with _pytest.raises(ValueError):
        gmis.luby_coloring(e, colors=0)


def test_luby_coloring_never_exceeds_palette(spark):
    """Isolated-node promotion must stay inside [0, colors-1]: on a
    single edge with colors=1, the MIS winner takes color 0 and the
    loser — isolated once its only neighbor is colored — must come
    back NULL, not the out-of-palette color 1. With colors=2 the
    promotion is legal and both nodes are colored within budget."""
    from social_link_prediction_spark.graph import mis as gmis

    e = spark.createDataFrame([(1, 2)], "src long, dst long")
    one = {r.id: r.color for r in gmis.luby_coloring(e, colors=1).collect()}
    assert sorted(one.values(), key=lambda v: (v is None, v)) == [0, None]
    two = {r.id: r.color for r in gmis.luby_coloring(e, colors=2).collect()}
    assert sorted(two.values()) == [0, 1]


# Degenerate inputs for MIS and coloring, with the outputs pinned (ids
# are hashed into priorities, so each verdict is deterministic): an
# empty edge set, a single self-loop, duplicate plus reversed edges,
# two components, and rows with a NULL endpoint (dropped).
_MIS_DEGENERATE = [
    ([], {}, {}),
    ([(1, 1)], {}, {}),
    ([(1, 2), (1, 2), (2, 1)], {1: 1, 2: 0}, {1: "excluded", 2: "mis"}),
    (
        [(1, 2), (2, 1), (3, 4)],
        {1: 1, 2: 0, 3: 0, 4: 1},
        {1: "excluded", 2: "mis", 3: "mis", 4: "excluded"},
    ),
    ([(1, None), (None, 2), (None, None), (1, 2)], {1: 1, 2: 0}, {1: "excluded", 2: "mis"}),
]


@pytest.mark.parametrize("edges,coloring,mis", _MIS_DEGENERATE)
def test_mis_and_coloring_degenerate_inputs(spark, edges, coloring, mis):
    from social_link_prediction_spark.graph import mis as gmis

    e = spark.createDataFrame(edges, "src long, dst long")
    colors = 2
    got = {r.id: r.color for r in gmis.luby_coloring(e, colors, 2).collect()}
    assert got == coloring
    assert all(c is None or 0 <= c < colors for c in got.values())
    for u, v in edges:
        if u is not None and v is not None and u != v:
            assert got[u] is None or got[u] != got[v]
    assert {r.id: r.status for r in gmis.maximal_independent_set(e, 2).collect()} == mis
    # a one-color budget returns the same nodes, inside its palette
    one = gmis.luby_coloring(e, colors=1, rounds_per_color=1).collect()
    assert {r.id for r in one} == set(coloring)
    assert all(r.color in (0, None) for r in one)
    with pytest.raises(ValueError):
        gmis.luby_coloring(e, colors=2, rounds_per_color=0)


# Degenerate inputs for the path operators, with the outputs pinned: an
# empty edge set, a single self-loop, duplicate plus reversed edges, two
# components, and edges with a NULL endpoint (dropped, never a reached
# NULL node). Every search starts at node 1; bfs_rounds gets seed 1
# twice and still returns it once. Per input: the hop distance of each
# node reached from 1, and the double-sweep row (None: the edge list is
# empty and the sweep raises).
_PATH_DEGENERATE = [
    ([], {1: 0}, None),
    ([(1, 1)], {1: 0}, (1, 1, 0, 0)),
    ([(1, 2), (1, 2), (2, 1)], {1: 0, 2: 1}, (1, 2, 1, 1)),
    ([(1, 2), (2, 1), (3, 4)], {1: 0, 2: 1}, (1, 2, 1, 1)),
    ([(1, 2), (2, None), (None, 3)], {1: 0, 2: 1}, (1, 2, 1, 0)),
]


@pytest.mark.parametrize("edges,hops,sweep", _PATH_DEGENERATE)
def test_path_operators_degenerate_inputs(spark, edges, hops, sweep):
    from social_link_prediction_spark.graph.closure import bfs_rounds

    e = spark.createDataFrame(edges, "src long, dst long")
    sources = spark.createDataFrame([(1,)], "source long")
    path = {1: [1], 2: [1, 2]}
    best = gp.multi_source_shortest_paths(e, sources, max_hops=3)
    assert {r.id: (r.source, r.dist, r.parent) for r in best.collect()} == {
        v: (1, float(h), 1 if h else None) for v, h in hops.items()
    }
    targets = spark.createDataFrame([(1, 1), (1, 2), (1, 3)], "source long, id long")
    rec = {r.id: (r.dist, r.path) for r in gp.reconstruct_paths(best, targets, 3).collect()}
    assert rec == {v: (float(h), path[v]) for v, h in hops.items()}
    pairs = targets.selectExpr("source AS src", "id AS dst")
    unit = {r.dst: (r.dist, r.path) for r in gp.pair_shortest_paths(e, pairs, max_hops=3).collect()}
    assert unit == {d: rec.get(d, (None, None)) for d in (1, 2, 3)}
    we = e.withColumn("weight", F.lit(2.0))
    weighted = {
        r.dst: (r.dist, r.path)
        for r in gp.pair_shortest_paths(we, pairs, "weight", max_hops=3).collect()
    }
    assert weighted == {
        d: (2 * rec[d][0], rec[d][1]) if d in rec else (None, None) for d in (1, 2, 3)
    }
    assert {r.id: r.hop for r in gp.ego_network(e, [1], k=2).collect()} == hops
    seeds = spark.createDataFrame([(1,), (1,)], "id long")
    assert sorted(tuple(r) for r in bfs_rounds(e, seeds, max_rounds=3).collect()) == sorted(
        hops.items()
    )
    hc = {r.id: r.harmonic for r in gp.harmonic_centrality(e, sources, max_hops=2).collect()}
    assert hc == {v: 1.0 / h for v, h in hops.items() if h}
    if sweep is None:
        with pytest.raises(ValueError, match="empty"):
            gp.double_sweep_diameter(e, max_hops=3)
    else:
        assert tuple(gp.double_sweep_diameter(e, max_hops=3).first()) == sweep


def test_mis_symmetric_edges_once_per_orientation(spark):
    # an input that lists both orientations keeps each directed edge
    # once in the symmetric view MIS and coloring read
    e = spark.createDataFrame([(1, 2), (2, 1), (2, 3), (3, 2)], "src long, dst long")
    rows = sorted(tuple(r) for r in gb.undirected(gb.simple_edges(e)).collect())
    assert rows == [(1, 2), (2, 1), (2, 3), (3, 2)]
    # mixed orientations with string ids: each orientation once too
    e = spark.createDataFrame(
        [("p:1", "s:1"), ("s:1", "p:1"), ("s:1", "p:2"), ("p:2", "p:2")],
        "src string, dst string",
    )
    rows = sorted(tuple(r) for r in gb.undirected(gb.simple_edges(e)).collect())
    assert rows == [("p:1", "s:1"), ("p:2", "s:1"), ("s:1", "p:1"), ("s:1", "p:2")]


# Degenerate inputs for the operators that read build.simple_edges (the
# _MIS_DEGENERATE edge lists), with the outputs pinned. label_spreading
# seeds 1 -> 1.0 and 4 -> 0.0. No input has a triangle, and every
# matched edge contracts into one super-node, so those outputs are
# empty throughout. degree_assortativity is NULL without edges and
# raises under ANSI mode when every endpoint has the same degree. The
# same inputs, read as directed edges, feed strongly_connected_components
# (a node whose only edge is a self-loop gets no row), transitive_closure
# as (child, parent) links (a row with a NULL endpoint stays a link) and
# boruvka_mst with weight src + dst.
_ONE_EDGE = {
    "lpa": {1: 1, 2: 2},
    "spread": {1: (1.0, 1), 2: (1.0, 0)},
    "mm": [(1, 2, 0)],
    "kcore": {1: 1, 2: 1},
    "cc": {1: 1, 2: 1},
    "assort": "DIVIDE_BY_ZERO",
    "scc": {1: 2, 2: 2},
    "closure": [(1, 1, 2), (1, 2, 1), (2, 1, 1), (2, 2, 2)],
    "mst": [(1, 2, 3)],
}
_NO_EDGE = {
    "lpa": {},
    "spread": {},
    "mm": [],
    "kcore": {},
    "cc": {},
    "assort": None,
    "scc": {},
    "closure": [],
    "mst": [],
}
_SIMPLE_DEGENERATE = [
    ([], _NO_EDGE),
    ([(1, 1)], {**_NO_EDGE, "cc": {1: 1}, "closure": [(1, 1, 1)]}),
    ([(1, 2), (1, 2), (2, 1)], _ONE_EDGE),
    (
        [(1, 2), (2, 1), (3, 4)],
        {
            "lpa": {1: 1, 2: 2, 3: 3, 4: 4},
            "spread": {1: (1.0, 1), 2: (1.0, 0), 3: (0.0, 0), 4: (0.0, 1)},
            "mm": [(1, 2, 0), (3, 4, 0)],
            "kcore": {1: 1, 2: 1, 3: 1, 4: 1},
            "cc": {1: 1, 2: 1, 3: 3, 4: 3},
            "assort": "DIVIDE_BY_ZERO",
            "scc": {1: 2, 2: 2, 3: 3, 4: 4},
            "closure": [(1, 1, 2), (1, 2, 1), (2, 1, 1), (2, 2, 2), (3, 4, 1)],
            "mst": [(1, 2, 3), (3, 4, 7)],
        },
    ),
    (
        [(1, None), (None, 2), (None, None), (1, 2)],
        {
            **_ONE_EDGE,
            "scc": {1: 1, 2: 2},
            "closure": [(1, 2, 1), (1, None, 1), (None, 2, 1), (None, None, 1)],
        },
    ),
]


@pytest.mark.parametrize("edges,want", _SIMPLE_DEGENERATE)
def test_simple_edge_operators_degenerate_inputs(spark, edges, want):
    from pyspark.errors import ArithmeticException

    from social_link_prediction_spark.graph import closure as gcl
    from social_link_prediction_spark.graph import communities as gcom
    from social_link_prediction_spark.graph import matching as gmat
    from social_link_prediction_spark.graph import motifs as gm
    from social_link_prediction_spark.graph import mst as gmst
    from social_link_prediction_spark.graph import propagate as gprop
    from social_link_prediction_spark.graph import scc as gscc
    from social_link_prediction_spark.graph import truss as gtruss

    def rows(df):
        return sorted((tuple(r) for r in df.collect()), key=repr)

    e = spark.createDataFrame(edges, "src long, dst long")
    seeds = spark.createDataFrame([(1, 1.0), (4, 0.0)], "id long, label double")
    lpa = gcom.label_propagation(e, rounds=2)
    assert {r.id: r.label for r in lpa.collect()} == want["lpa"]
    spread = gprop.label_spreading(e, seeds, rounds=2)
    assert {r.id: (r.score, r.is_seed) for r in spread.collect()} == want["spread"]
    m = gmat.maximal_matching(e, rounds=2)
    assert sorted(tuple(r) for r in m.collect()) == want["mm"]
    assert gmat.contract_matching(e, m).collect() == []
    assert gm.triangles(e).collect() == []
    assert gm.triangle_count(e).first().n_triangles == 0
    assert gm.vertex_triangle_counts(e).collect() == []
    assert gtruss.edge_support(gb.simple_edges(e)).collect() == []
    assert gtruss.ktruss(e, k=3).collect() == []
    assert {r.id: r.degree for r in gm.k_core(e, k=1).collect()} == want["kcore"]
    assert {r.id: r.component for r in gpr.connected_components(e).collect()} == want["cc"]
    if want["assort"] is None:
        assert gm.degree_assortativity(e).first().assortativity is None
    else:
        with pytest.raises(ArithmeticException, match=want["assort"]):
            gm.degree_assortativity(e).collect()
    scc = gscc.strongly_connected_components(e, rounds=3, peels=1)
    assert {r.id: r.scc for r in scc.collect()} == want["scc"]
    assert rows(gcl.transitive_closure(e.toDF("child", "parent"))) == want["closure"]
    we = e.withColumn("w", F.col("src") + F.col("dst"))
    assert rows(gmst.boruvka_mst(we, "src", "dst", "w")) == want["mst"]
    if edges:
        return
    # Budget exhaustion, pinned once (on the empty case): each policy
    # needs an input deeper than its round budget, not a degenerate one.
    chain = spark.createDataFrame([(i, i + 1) for i in range(1, 5)], "src long, dst long")
    with pytest.raises(RuntimeError, match="k_core did not reach a fixed point in 2 rounds"):
        gm.k_core(chain, k=2, max_rounds=2)
    # one peel round leaves (2,3) alone; its support is recomputed at the cap
    tri = spark.createDataFrame([(1, 2), (1, 3), (2, 3), (2, 4), (3, 4)], "src long, dst long")
    assert rows(gtruss.ktruss(tri, k=4, max_rounds=1)) == [(2, 3, 0)]
    # a depth-8 chain 9 -> 8 -> ... -> 1 closes only its links of length <= 4
    forest = spark.createDataFrame([(i + 1, i) for i in range(1, 9)], "child long, parent long")
    capped = rows(gcl.transitive_closure(forest, max_depth=4))
    assert capped == sorted((d, a, d - a) for d in range(2, 10) for a in range(1, d) if d - a <= 4)
    # one large-star/small-star round on the path 0-1-...-8
    path = spark.createDataFrame([(i, i + 1) for i in range(8)], "src long, dst long")
    assert rows(gpr.connected_components(path, max_iterations=1)) == [
        (0, 0), (1, 0), (2, 0), (3, 1), (4, 2), (5, 3), (6, 4), (7, 5), (8, 6)
    ]


def test_label_operators_count_each_neighbour_once(spark):
    """Edges listed in both orientations next to edges listed once
    weigh the same: both operators read the undirected simple graph."""
    from social_link_prediction_spark.graph import communities as gcom
    from social_link_prediction_spark.graph import propagate as gprop

    e = spark.createDataFrame([(1, 2), (2, 1), (2, 3)], "src long, dst long")
    seeds = spark.createDataFrame([(1, 1.0), (3, 0.0)], "id long, label double")
    got = {r.id: r.score for r in gprop.label_spreading(e, seeds, rounds=1).collect()}
    assert got == {1: 1.0, 2: 0.5, 3: 0.0}
    # node 2 sees labels 1 and 3 once each and takes the smaller one
    e = spark.createDataFrame([(1, 2), (2, 3), (3, 2)], "src long, dst long")
    got = {r.id: r.label for r in gcom.label_propagation(e, rounds=1).collect()}
    assert got == {1: 2, 2: 1, 3: 2}


def test_label_spreading_harmonic_properties(spark):
    """Seeds stay clamped; interior scores are strict averages lying
    between the seed values (maximum principle of harmonic functions);
    a node nearer the positive seed scores higher."""
    from social_link_prediction_spark.graph import propagate as gprop

    # path: 1(seed=1) - 2 - 3 - 4 - 5(seed=0)
    e = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5)], "src long, dst long"
    )
    seeds = spark.createDataFrame([(1, 1.0), (5, 0.0)], "id long, label double")
    out = {
        r.id: (r.score, r.is_seed)
        for r in gprop.label_spreading(e, seeds, rounds=20).collect()
    }
    assert out[1] == (1.0, 1)
    assert out[5] == (0.0, 1)
    for v in (2, 3, 4):
        assert 0.0 < out[v][0] < 1.0 and out[v][1] == 0

# ---------------------------------------------------------------------
# Maximal matching + contraction (graph/matching.py)
# ---------------------------------------------------------------------
def test_matching_is_valid_and_maximal(spark):
    import random

    from social_link_prediction_spark.graph import matching as gmat

    rng = random.Random(5)
    n = 30
    edges = {(a, b) for a in range(n) for b in range(a + 1, n) if rng.random() < 0.12}
    e = spark.createDataFrame(sorted(edges), "src long, dst long")
    m = [(r.u, r.v) for r in gmat.maximal_matching(e, rounds=8).collect()]
    used = [x for p in m for x in p]
    assert len(used) == len(set(used))  # no endpoint reused
    assert set(m) <= edges  # matched pairs are real edges
    # maximality: no remaining edge with both endpoints unmatched
    free = set(range(n)) - set(used)
    assert not any(a in free and b in free for a, b in edges)


def test_contraction_halves_path(spark):
    from social_link_prediction_spark.graph import matching as gmat

    # path 1-2-3-4: matching must pick non-adjacent edges; contraction
    # keeps connectivity with summed weights and no self-loops
    e = spark.createDataFrame([(1, 2), (2, 3), (3, 4)], "src long, dst long")
    m = gmat.maximal_matching(e, rounds=6)
    coarse = gmat.contract_matching(e, m).collect()
    assert all(r.src != r.dst for r in coarse)
    n_nodes = len({x for r in coarse for x in (r.src, r.dst)})
    assert n_nodes <= 3  # 4 nodes shrank
    with __import__("pytest").raises(ValueError):
        gmat.maximal_matching(e, rounds=0)


def test_katz_path_graph_hand_values(spark):
    """Path 1-2-3, alpha=0.1, 2 rounds: x2 = (1.12, 1.22, 1.12) —
    the truncated walk sums computed by hand."""
    from social_link_prediction_spark.graph.centrality import katz_centrality

    e = spark.createDataFrame(
        [(1, 2), (2, 1), (2, 3), (3, 2)], "src long, dst long"
    )
    got = {
        r["id"]: round(r["katz"], 9)
        for r in katz_centrality(e, alpha=0.1, rounds=2).collect()
    }
    assert got == {1: 1.12, 2: 1.22, 3: 1.12}


def test_katz_monotone_in_rounds_and_validation(spark):
    """Walk sums only grow as the truncation depth increases; bad
    parameters are rejected."""
    import pytest as _pt

    from social_link_prediction_spark.graph.centrality import katz_centrality

    e = spark.createDataFrame(
        [(1, 2), (2, 1), (2, 3), (3, 2), (1, 3), (3, 1)], "src long, dst long"
    )
    r1 = {r["id"]: r["katz"] for r in katz_centrality(e, 0.1, rounds=1).collect()}
    r3 = {r["id"]: r["katz"] for r in katz_centrality(e, 0.1, rounds=3).collect()}
    assert all(r3[k] > r1[k] for k in r1)
    with _pt.raises(ValueError):
        katz_centrality(e, alpha=1.5)
    with _pt.raises(ValueError):
        katz_centrality(e, alpha=0.1, rounds=0)


def test_doulion_sample_triangles_subset(spark):
    """Triangles of an edge-sampled graph are a subset of the full
    graph's triangles (sparsification never invents a triangle)."""
    from social_link_prediction_spark.graph import motifs as gm

    full = spark.createDataFrame(
        [(a, b) for a in range(1, 8) for b in range(a + 1, 8)],
        "src long, dst long",
    )
    sub = full.filter((F.col("src") + F.col("dst")) % 2 == 0)
    t_full = {tuple(r) for r in gm.triangles(full).collect()}
    t_sub = {tuple(r) for r in gm.triangles(sub).collect()}
    assert t_sub and t_sub <= t_full
