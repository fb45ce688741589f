"""Service layer (EP2/EP3): the reference's entry points end-to-end."""

from pyspark.sql import functions as F

from social_link_prediction_spark.application import AIService, AnalysisService


def test_find_connection_decorated(social_graph):
    v, e = social_graph
    svc = AnalysisService(v, e)
    out = svc.find_connection("Alice", "Eve", max_hops=6)
    assert out["success"]
    assert out["path"][0] == "Q1" and out["path"][-1] == "Q5"
    # blacklisted influenced_by shortcut must not be the weighted path
    assert len(out["path"]) > 2
    steps = out["steps"].collect()
    assert len(steps) == len(out["path"]) - 1
    assert all(s.rel != "influenced_by" for s in steps)


def test_find_connection_fuzzy_typo(social_graph):
    v, e = social_graph
    svc = AnalysisService(v, e)
    out = svc.find_connection("Alise", "Bob", max_hops=4)  # typo resolves
    assert out["success"]
    assert out["dist"] > 0


def test_find_connection_unreachable(social_graph):
    v, e = social_graph
    svc = AnalysisService(v, e)
    out = svc.find_connection("Alice", "Zoe", max_hops=6)
    assert not out["success"]


def test_find_connection_infinite_path_is_no_path(social_graph):
    """Within one hop Alice reaches Eve only over the blacklisted
    influenced_by edge: an infinite distance is no path, not a success."""
    v, e = social_graph
    svc = AnalysisService(v, e)
    out = svc.find_connection("Alice", "Eve", max_hops=1)
    assert not out["success"]
    assert out["message"] == "no path within max_hops"
    assert (out["src"], out["dst"]) == ("Q1", "Q5")


def test_find_connection_close_releases_service_cache(social_graph, cached_rdd_ids):
    v, e = social_graph
    # frames no other test serves, so their caches are this service's own
    v, e = v.filter(F.col("id") != "W1"), e.filter(F.col("dst") != "W1")
    before = cached_rdd_ids()
    svc = AnalysisService(v, e)
    assert svc.find_connection("Alice", "Bob", max_hops=2)["success"]
    assert len(cached_rdd_ids() - before) == 2  # index + weighted edges
    svc.close()
    assert cached_rdd_ids() - before == set()
    # still usable: the next request persists both again
    assert svc.find_connection("Alice", "Bob", max_hops=2)["success"]
    svc.close()


def test_compute_degrees_batch(social_graph):
    v, e = social_graph
    svc = AnalysisService(v, e)
    pairs = v.sparkSession.createDataFrame(
        [("Q1", "Q4"), ("Q1", "Q8")], ["src", "dst"]
    )
    out = {(r.src, r.dst): r for r in svc.compute_degrees(pairs, max_hops=6).collect()}
    assert out[("Q1", "Q4")].degree is not None
    assert out[("Q1", "Q8")].degree is None


def test_predict_and_recommend(social_graph):
    v, e = social_graph
    svc = AIService(v, e)
    scored = svc.predict_link_score("Alice", "Dave").collect()
    assert scored and all(r.best_rel is not None for r in scored)
    recs = svc.recommend("Alice", k=3).collect()
    assert 0 < len(recs) <= 3
    assert all(r.dst != "Q1" for r in recs)  # self excluded
    # direct neighbors excluded from recommendations
    neighbors = {"Q2", "U1", "Q5"}
    assert all(r.dst not in neighbors for r in recs)


def test_recommend_spouse_constraints(social_graph):
    v, e = social_graph
    svc = AIService(v, e)
    recs = svc.recommend_spouse("Bob", k=5).collect()
    # Q3 is Bob's sibling -> taboo anti-joined out
    assert all(r.dst != "Q3" for r in recs)
    assert all(r.dst != "Q2" for r in recs)


def test_recsys_service_memory_and_model_paths(spark):
    """Facade wires both strategies: co-occurrence neighbors respect
    the taste blocks, and the unfitted model path raises."""
    import pytest as _pt

    from social_link_prediction_spark.application import RecsysService

    rows = []
    for u in range(10):
        for i in range(10):
            if (u < 5) == (i < 5):
                rows.append((u, i, 5.0))
    ratings = spark.createDataFrame(rows, "user int, item int, rating float")
    svc = RecsysService(ratings.select("user", "item"))
    sims = svc.similar_items(k=3).collect()
    assert sims
    for r in sims:
        assert (r["item"] < 5) == (r["neighbor"] < 5)
    with _pt.raises(ValueError):
        svc.recommend(spark.createDataFrame([(0,)], "user int"))
    svc.fit_als(ratings, rank=4, max_iter=5, seed=7)
    recs = svc.recommend(spark.createDataFrame([(0,)], "user int"), k=3).collect()
    assert recs and all(r["item"] < 5 for r in recs)
