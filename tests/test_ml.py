"""ML layer: features, splits, negative sampling, model fit, serving
queries — FIXTURES.md invariant 11."""

import math

import pytest
from pyspark.sql import functions as F

from social_link_prediction_spark.ml import features as mf
from social_link_prediction_spark.ml import linksplit as ls
from social_link_prediction_spark.ml import predict as mp


def test_year_features(spark):
    df = spark.createDataFrame([(1, 1900), (2, 2000), (3, None)], ["id", "birth_year"])
    out = {r.id: r for r in mf.year_features(df).collect()}
    assert out[1].year_norm == 0.0 and out[2].year_norm == 1.0
    assert out[3].year_is_missing == 1
    assert 0.0 <= out[3].year_norm <= 1.0  # median-filled


def test_hashed_embedding_deterministic_unit(spark):
    df = spark.createDataFrame([(1, "a b a"), (2, "a b a")], ["id", "text"])
    rows = mf.hashed_text_embedding(df, "text", dim=8).collect()
    e1, e2 = (r.embedding for r in rows)
    assert e1 == e2  # deterministic
    assert abs(sum(x * x for x in e1) - 1.0) < 1e-9  # unit norm


def test_assemble_features(spark):
    df = spark.createDataFrame([(1, [1.0, 2.0], 0.5)], ["id", "emb", "yn"])
    out = mf.assemble_features(df, ["emb"], ["yn"]).first()
    assert out.features == [1.0, 2.0, 0.5]


def test_link_split_no_reverse_leakage(spark):
    rows = []
    for i in range(500):
        rows.append((f"A{i}", f"B{i}", "spouse"))
        rows.append((f"B{i}", f"A{i}", "spouse"))  # reverse twin
    edges = spark.createDataFrame(rows, ["src", "dst", "rel"])
    train, val, test = ls.link_split(edges, val_frac=0.2, test_frac=0.2)
    # canonical pairs must never straddle splits
    def canon(df):
        return {
            (min(r.src, r.dst), max(r.src, r.dst)) for r in df.collect()
        }
    assert canon(train) & canon(test) == set()
    assert canon(train) & canon(val) == set()
    assert train.count() + val.count() + test.count() == 1000


def test_negative_sampling(spark):
    edges = spark.createDataFrame(
        [(f"Q{i}", f"Q{i+1}", "spouse") for i in range(20)], ["src", "dst", "rel"]
    )
    nodes = spark.createDataFrame([(f"Q{i}",) for i in range(30)], ["id"])
    out = ls.negative_sample(edges, nodes, ratio=1.0)
    pos = out.filter("label = 1")
    neg = out.filter("label = 0")
    assert pos.count() == 20
    assert neg.count() > 0
    # no negative is a true positive
    assert neg.join(edges, ["src", "dst", "rel"], "left_semi").count() == 0


def test_pair_features_common_neighbors(spark):
    # triangle-ish: A-C, B-C (common neighbor C), A-B absent
    edges = spark.createDataFrame(
        [("A", "C", "r"), ("B", "C", "r"), ("C", "D", "r")], ["src", "dst", "rel"]
    )
    pairs = spark.createDataFrame([("A", "B")], ["src", "dst"])
    row = mp.pair_features(pairs, edges).first()
    assert row.common_neighbors == 1
    # C has undirected degree 3 -> AA = 1/log(4)
    assert abs(row.adamic_adar - 1 / math.log(4)) < 1e-9
    assert row.pref_attachment == 1 * 1


def test_train_and_evaluate(spark):
    # clustered graph: links inside clusters are positives
    edges = []
    for c in range(8):
        ids = [f"C{c}N{i}" for i in range(6)]
        for i in range(len(ids)):
            for j in range(i + 1, len(ids)):
                edges.append((ids[i], ids[j], "r"))
    edf = spark.createDataFrame(edges, ["src", "dst", "rel"])
    nodes = edf.select(F.col("src").alias("id")).union(edf.select("dst")).distinct()
    labeled = ls.negative_sample(edf, nodes, ratio=1.0)
    model, _ = mp.train_link_model(labeled, edf)
    metrics = mp.evaluate_link_model(model, labeled, edf)
    assert metrics["areaUnderROC"] > 0.8  # separable by construction


def test_evaluate_link_model_releases_cache_on_error(spark, monkeypatch, cached_rdd_ids):
    from pyspark.ml.evaluation import BinaryClassificationEvaluator

    edges = [
        (f"C{c}N{i}", f"C{c}N{j}", "r") for c in range(3) for i in range(4) for j in range(i + 1, 4)
    ]
    edf = spark.createDataFrame(edges, ["src", "dst", "rel"])
    nodes = edf.select(F.col("src").alias("id")).union(edf.select("dst")).distinct()
    labeled = ls.negative_sample(edf, nodes, ratio=1.0)
    model, _ = mp.train_link_model(labeled, edf)
    # a successful run first, so the pair-feature caches it shares with
    # the failing run below already exist
    assert set(mp.evaluate_link_model(model, labeled, edf)) == {"areaUnderROC", "areaUnderPR"}
    before = cached_rdd_ids()

    def failing_evaluate(self, dataset):
        dataset.count()  # the scored frame is materialized, then the metric fails
        raise RuntimeError("evaluator failed")

    monkeypatch.setattr(BinaryClassificationEvaluator, "evaluate", failing_evaluate)
    with pytest.raises(RuntimeError, match="evaluator failed"):
        mp.evaluate_link_model(model, labeled, edf)
    assert cached_rdd_ids() - before == set()


def test_scan_relationship_filters(spark):
    scores = spark.createDataFrame(
        [("H1", "H2", "spouse", 0.9), ("H1", "U1", "spouse", 0.8), ("H1", "U1", "educated_at", 0.7)],
        ["src", "dst", "rel", "score"],
    )
    vertices = spark.createDataFrame(
        [("H1", "human"), ("H2", "human"), ("U1", "educational_institution")],
        ["id", "type"],
    )
    out = mp.scan_relationship(scores, vertices).collect()
    rels = {(r.src, r.dst, r.rel) for r in out}
    assert ("H1", "U1", "spouse") not in rels  # biological needs human-human
    assert ("H1", "U1", "educated_at") in rels
    best = {r for r in out if r.src == "H1" and r.dst == "H2"}
    assert all(r.best_rel == "spouse" for r in best)


def test_recommend_excludes_self_and_neighbors(spark):
    edges = spark.createDataFrame([("A", "B", "r")], ["src", "dst", "rel"])
    cand = spark.createDataFrame(
        [("A", "A", 1.0), ("A", "B", 0.9), ("A", "C", 0.5)], ["src", "dst", "score"]
    )
    out = mp.recommend_topk("A", cand, edges, k=5).collect()
    ids = [r.dst for r in out]
    assert "A" not in ids  # invariant 11: self excluded
    assert "B" not in ids  # existing neighbor excluded
    assert ids == ["C"]


def test_spouse_constraints(spark):
    edges = spark.createDataFrame([("A", "T", "sibling")], ["src", "dst", "rel"])
    vertices = spark.createDataFrame(
        [("A", 1990), ("T", 1992), ("X", 1991), ("Y", 1950)], ["id", "birth_year"]
    )
    cand = spark.createDataFrame(
        [("A", "T", 0.99), ("A", "X", 0.6), ("A", "Y", 0.9)], ["src", "dst", "score"]
    )
    out = mp.constrained_spouse_candidates("A", cand, edges, vertices, k=5).collect()
    ids = [r.dst for r in out]
    assert "T" not in ids  # taboo sibling anti-joined
    y = [r for r in out if r.dst == "Y"][0]
    assert abs(y.final_score - 0.45) < 1e-9  # age gap halves 0.9
    assert ids[0] == "X"  # 0.6 beats halved 0.45


def test_embedding_store_roundtrip(spark, tmp_path):
    df = spark.createDataFrame(
        [("human", "Q1", [0.1, 0.2]), ("event", "W1", [0.3, 0.4])],
        ["type", "id", "embedding"],
    )
    path = str(tmp_path / "emb")
    mp.write_embeddings(df, path)
    back = mp.read_embeddings(spark, path)
    assert back.count() == 2
    assert set(back.columns) == {"type", "id", "embedding"}
    # partition pruning by type works
    assert back.filter("type = 'human'").count() == 1


def test_link_split_reverse_pair_same_bucket(spark):
    # A->B and B->A must land in the same split (canonical-pair key)
    from social_link_prediction_spark.ml import linksplit as mls

    edges = spark.createDataFrame(
        [(f"n{i}", f"n{j}", "r") for i in range(30) for j in range(i + 1, 30)]
        + [(f"n{j}", f"n{i}", "r") for i in range(30) for j in range(i + 1, 30)],
        ["src", "dst", "rel"],
    )
    train, val, test = mls.link_split(edges, val_frac=0.2, test_frac=0.2, seed=1)
    for split in (train, val, test):
        fwd = split.select(
            F.least("src", "dst").alias("a"), F.greatest("src", "dst").alias("b")
        )
        # every canonical pair appears exactly twice within its split
        counts = fwd.groupBy("a", "b").count().select("count").distinct().collect()
        assert [r["count"] for r in counts] == [2]


def test_negative_sampling_scalable_index_matches_window_path(spark, monkeypatch):
    # The range-partitioned index build (large-table path) must produce
    # byte-identical samples to the single-window path it replaces.
    edges = spark.createDataFrame(
        [(f"Q{i}", f"Q{i+1}", "spouse") for i in range(20)], ["src", "dst", "rel"]
    )
    nodes = spark.createDataFrame([(f"Q{i}",) for i in range(30)], ["id"])
    small = ls.negative_sample(edges, nodes, ratio=2.0, seed=7)
    monkeypatch.setattr(ls, "_SCALABLE_INDEX_MIN", 1)
    big = ls.negative_sample(edges, nodes, ratio=2.0, seed=7)
    key = lambda df: sorted((r.src, r.dst, r.rel, r.label) for r in df.collect())
    assert key(small) == key(big)


def test_model_store_roundtrip(spark, tmp_path):
    """S11/M9 model store: MLlib save -> load -> identical scores
    (replaces the reference's pickle/state_dict model_repo, SURVEY
    §1.4; infrastructure/repositories/model_repo.py:20-68)."""
    from pyspark.ml import PipelineModel

    edges = []
    for c in range(4):
        ids = [f"C{c}N{i}" for i in range(5)]
        for i in range(len(ids)):
            for j in range(i + 1, len(ids)):
                edges.append((ids[i], ids[j], "r"))
    edf = spark.createDataFrame(edges, ["src", "dst", "rel"])
    nodes = edf.select(F.col("src").alias("id")).union(edf.select("dst")).distinct()
    labeled = ls.negative_sample(edf, nodes, ratio=1.0)
    model, feats = mp.train_link_model(labeled, edf)

    path = str(tmp_path / "link_model")
    model.save(path)
    loaded = PipelineModel.load(path)

    before = {
        (r["src"], r["dst"]): r["probability"][1]
        for r in model.transform(feats).select("src", "dst", "probability").collect()
    }
    after = {
        (r["src"], r["dst"]): r["probability"][1]
        for r in loaded.transform(feats).select("src", "dst", "probability").collect()
    }
    assert before.keys() == after.keys()
    assert all(abs(before[k] - after[k]) < 1e-12 for k in before)


def test_model_text_embedding_import_guard(spark):
    """The real SBERT stage raises a clear ImportError in environments
    without sentence-transformers (this sandbox); the hashed fallback
    stays the deterministic twin with the same output shape."""
    import importlib

    import pytest

    from social_link_prediction_spark.ml import features as ft

    df = spark.createDataFrame([(1, "hello world")], ["id", "text"])
    if importlib.util.find_spec("sentence_transformers") is None:
        with pytest.raises(ImportError, match="sentence-transformers"):
            ft.model_text_embedding(df, "text")
    else:  # pragma: no cover - environment-dependent
        out = ft.model_text_embedding(df, "text").collect()
        assert len(out) == 1 and len(out[0].embedding) > 0


def test_hashed_embedding_md5_variant_unit_norm(spark):
    from social_link_prediction_spark.ml import features as mlf

    df = spark.createDataFrame(
        [(1, "alpha beta beta gamma"), (2, "alpha alpha")], ["id", "text"]
    )
    for fn in ("murmur", "md5"):
        out = {r.id: list(r.embedding) for r in
               mlf.hashed_text_embedding(df, "text", dim=8, hash_fn=fn).collect()}
        for vid, v in out.items():
            assert abs(sum(x * x for x in v) - 1.0) < 1e-9  # unit norm
        # doc 2 is a single repeated token -> exactly one nonzero bucket
        assert sum(1 for x in out[2] if x > 0) == 1


def test_ranking_metrics_known_values(spark):
    from social_link_prediction_spark.ml import predict as mlp

    # q1: positives at ranks 1 and 3 -> rr 1, pos_in_5 = 2
    # q2: positive at rank 4 -> rr 0.25
    # q3: no positive -> excluded from mrr/hits, precision 0
    rows = [
        (1, 10, 0.9, 1), (1, 11, 0.8, 0), (1, 12, 0.7, 1),
        (2, 20, 0.9, 0), (2, 21, 0.8, 0), (2, 22, 0.7, 0), (2, 23, 0.6, 1),
        (3, 30, 0.9, 0), (3, 31, 0.8, 0),
    ]
    df = spark.createDataFrame(rows, ["query_id", "cand_id", "score", "label"])
    r = mlp.ranking_metrics(df, k=5).first()
    assert r.n_queries == 3
    assert abs(r.mrr - (1.0 + 0.25) / 2) < 1e-9
    assert abs(r.hits_at_5 - 1.0) < 1e-9
    assert abs(r.precision_at_5 - ((2 + 1 + 0) / 5.0) / 3) < 1e-9


def test_ranking_metrics_tie_break_deterministic(spark):
    from social_link_prediction_spark.ml import predict as mlp

    # equal scores: rank order falls back to cand_id asc, so the
    # positive with the smaller id wins the reciprocal rank
    rows = [(1, 5, 0.5, 0), (1, 3, 0.5, 1), (1, 9, 0.5, 0)]
    df = spark.createDataFrame(rows, ["query_id", "cand_id", "score", "label"])
    r = mlp.ranking_metrics(df, k=1).first()
    assert abs(r.mrr - 1.0) < 1e-9  # cand 3 ranks first


def test_link_model_auc_parity_with_reference(spark):
    """VERDICT-r3 #4: quality parity for the SURVEY §7.4.3 substitution.
    The reference's GraphSAGE reports validation AUC-ROC 0.76 and
    average precision 0.84 (reference README.md:46-50, BASELINE.md:27-29).
    The substituted wedge-feature + MLlib logistic model must MATCH OR
    BEAT both numbers on a held-out split of a deterministic synthetic
    community graph (24 communities x 12 nodes, intra-community edge
    prob 0.55, ring bridges; leakage-safe canonical-pair split;
    measured: AUC 0.898, PR 0.909 — recorded in COVERAGE.md)."""
    import random as _random

    rng = _random.Random(13)
    edges = []
    for c in range(24):
        ids = [f"C{c}N{i}" for i in range(12)]
        for i in range(12):
            for j in range(i + 1, 12):
                if rng.random() < 0.55:
                    edges.append((ids[i], ids[j], "r"))
    for c in range(24):
        edges.append((f"C{c}N0", f"C{(c + 1) % 24}N1", "r"))
    edf = spark.createDataFrame(edges, ["src", "dst", "rel"])

    train_e, val_e, _test_e = ls.link_split(edf, val_frac=0.15, test_frac=0.15, seed=7)
    nodes = edf.select(F.col("src").alias("id")).union(edf.select("dst")).distinct()
    train_lab = ls.negative_sample(train_e, nodes, ratio=1.0, seed=11)
    val_lab = ls.negative_sample(val_e, nodes, ratio=1.0, seed=12)
    # features come from TRAIN edges only — val edges are invisible to
    # the wedge features, so the evaluation is leakage-free
    model, _ = mp.train_link_model(train_lab, train_e)
    metrics = mp.evaluate_link_model(model, val_lab, train_e)
    assert metrics["areaUnderROC"] >= 0.76, metrics
    assert metrics["areaUnderPR"] >= 0.84, metrics


def _block_ratings(spark):
    """Two disjoint taste communities: users 0-4 rate items 0-4 high
    and 5-9 low; users 5-9 the reverse. Deterministic, no RNG."""
    rows = []
    for u in range(10):
        for i in range(10):
            same = (u < 5) == (i < 5)
            rows.append((u, i, 5.0 if same else 1.0))
    return spark.createDataFrame(rows, "user int, item int, rating float")


def test_als_recommends_within_taste_community(spark):
    from social_link_prediction_spark.ml import recsys

    model = recsys.train_als(_block_ratings(spark), rank=4, max_iter=10, seed=7)
    users = spark.createDataFrame([(0,), (7,)], "user int")
    recs = recsys.recommend_items(model, users, k=3).collect()
    by_user = {}
    for r in recs:
        by_user.setdefault(r["user"], []).append(r["item"])
    assert all(i < 5 for i in by_user[0])
    assert all(i >= 5 for i in by_user[7])
    rks = sorted(r["rk"] for r in recs if r["user"] == 0)
    assert rks == [1, 2, 3]


def test_als_similar_items_respect_blocks(spark):
    from social_link_prediction_spark.ml import recsys

    model = recsys.train_als(_block_ratings(spark), rank=4, max_iter=10, seed=7)
    sims = recsys.similar_items(model, k=3).collect()
    for r in sims:
        assert (r["item"] < 5) == (r["neighbor"] < 5), (
            "nearest factor neighbors must stay inside the taste block"
        )


def test_model_embedding_real_path(spark):
    """VERDICT r5 item 6: the fake=False SBERT execution path — the
    Arrow mapInPandas stage, per-worker encoder construction, null
    fill, float cast, (id, array<float>) schema — pinned against
    recorded vectors through an injected encoder factory. This is the
    identical code path production takes; only the model object
    differs. The encoder class is test-local so cloudpickle ships it
    by VALUE to the python workers (exactly how the production
    factory's closure travels)."""
    from social_link_prediction_spark.ml import features as ft

    # recorded vector table: deterministic stand-ins for
    # all-MiniLM-L6-v2 outputs (the real model emits 384-dim; the
    # pipeline must not care about dim). Empty-filled text maps to a
    # zero vector.
    table = {
        "alpha beta": [0.1, -0.2, 0.3, 0.4],
        "gamma delta": [-0.5, 0.25, 0.125, 0.0],
        "": [0.0, 0.0, 0.0, 0.0],
    }

    class RecordedEncoder:
        TABLE = table

        def encode(self, texts, batch_size=64):
            # honor batch_size the way SBERT does: slice internally
            out = []
            for i in range(0, len(texts), batch_size):
                out.extend(
                    self.TABLE.get(t, [0.0] * 4) for t in texts[i:i + batch_size]
                )
            return out

    df = spark.createDataFrame(
        [(1, "alpha beta"), (2, "gamma delta"), (3, None)],
        ["id", "text"],
    )
    out = ft.model_text_embedding(
        df, "text", batch_size=2, encoder_factory=RecordedEncoder
    )
    assert [f.name for f in out.schema.fields] == ["id", "embedding"]
    assert out.schema["embedding"].dataType.simpleString() == "array<float>"
    got = {r.id: [round(x, 6) for x in r.embedding] for r in out.collect()}
    assert got[1] == [round(x, 6) for x in table["alpha beta"]]
    assert got[2] == [round(x, 6) for x in table["gamma delta"]]
    # null text -> fillna("") -> the empty-string vector
    assert got[3] == [0.0, 0.0, 0.0, 0.0]
