"""Link prediction: pair features, MLlib training, and the serving
queries (M7-M16).

Serving queries preserve the reference's exact arithmetic:
- hub penalty score/(log(deg+1)+1) (predicter.py:258-264)
- biological relations require human-human (predicter.py:156-165)
- spouse constraints: age gap > 20 halves the score, taboo relations
  anti-joined out (ai_service.py:87-147)
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from social_link_prediction_spark.graph.iterate import hint
from social_link_prediction_spark.operators.aggregates import total_degree

BIOLOGICAL_RELS = ("father", "mother", "sibling", "child", "spouse")
HUMAN_SRC_ONLY = ("educated_at", "work_at", "award_received")
TABOO_FOR_SPOUSE = ("sibling", "father", "mother")


# --- pair features ----------------------------------------------------
def pair_features(
    pairs: DataFrame,
    edges: DataFrame,
    edges_symmetric: bool = False,
) -> DataFrame:
    """Engineered link-prediction features per (src, dst) pair:
    common-neighbor count, Adamic-Adar, neighbor-Jaccard and
    preferential attachment, plus both endpoint degrees. All set math
    is semi-join/agg — the neighbor lists are never materialized per
    pair.

    The degree table is referenced three times (wedge weights +
    src/dst joins). persist() alone leaves those joins as sort-merge:
    the InMemoryRelation boundary hides size stats from AQE, so it
    never demotes them to broadcast. Instead we count the persisted
    table (free — materialization is paid once regardless) and hint
    broadcast ourselves when it's genuinely small, keeping the plan
    shuffle-based when the graph is big. Cuts 5 of the plan's 9
    shuffles at bench scale (~40% wall) without planting a
    broadcast-a-huge-table trap at 1000x the nodes.
    """
    # und feeds deg and the wedge adjacency; deg is referenced three
    # times (wedge weights + src/dst degree joins). Persist both or the
    # upstream edge plan re-executes per reference.
    # edges_symmetric: the input already holds both orientations of
    # every undirected edge exactly once (e.g. the shared symmetric
    # part-supplier view) — symmetrizing again would DOUBLE each edge
    # and pay a |2E| dedup shuffle to collapse it; use it as-is.
    if edges_symmetric:
        und = edges.select("src", "dst").persist()
    else:
        und = (
            edges.select("src", "dst")
            .unionAll(edges.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
            .dropDuplicates()
            .persist()
        )
    deg = (
        und.groupBy(F.col("src").alias("id")).agg(F.count(F.lit(1)).alias("deg")).persist()
    )

    n_deg = deg.count()

    # Attach the wedge-center degree to the adjacency BEFORE wedge
    # generation: the adjacency is |E'| rows while the wedge set is
    # Σ C(deg, 2) — on dense blocks orders of magnitude larger.
    adj = und.select(F.col("src").alias("node"), F.col("dst").alias("nbr")).join(
        hint(deg.select(F.col("id").alias("nbr"), F.col("deg").alias("nbr_deg")), n_deg),
        "nbr",
    )

    # Common neighbors by wedge enumeration: restrict the adjacency to
    # nodes that actually appear in `pairs` (semi-join), then expand
    # wedges around each shared neighbor. Cost is Σ_n C(deg_n, 2) over
    # wedge centers — independent of |pairs| — instead of |pairs| × deg
    # probing, which is quadratic when pairs ≈ all-pairs.
    nodes_in_pairs = (
        pairs.select(F.col("src").alias("node"))
        .unionAll(pairs.select(F.col("dst").alias("node")))
        .dropDuplicates()
    )
    nbd = adj.join(nodes_in_pairs, "node", "left_semi")
    # Wedges via self-join on the wedge center. Measured against the
    # grouped-combination alternative (collect_list the sorted member
    # list per center, explode the C(n,2) struct pairs via array HOFs):
    # the self-join is ~3x faster at sf0.1 — nested transform/flatten
    # struct explosion defeats whole-stage codegen, while the join
    # streams codegen'd rows end-to-end. It also carries no per-group
    # state: a hub center's C(deg,2) pairs stream through the join
    # instead of building a deg-sized array in agg memory.
    nbd = nbd.persist()  # both self-join sides read it
    wa = nbd.select(F.col("nbr").alias("c"), F.col("node").alias("lo"), "nbr_deg")
    wb = nbd.select(F.col("nbr").alias("c"), F.col("node").alias("hi"))
    cn = (
        wa.join(wb, "c")
        .filter(F.col("lo") < F.col("hi"))
        .groupBy("lo", "hi")
        .agg(
            F.count(F.lit(1)).alias("common_neighbors"),
            F.sum(F.lit(1.0) / F.log(F.col("nbr_deg") + F.lit(1.0))).alias("adamic_adar"),
        )
    )
    return (
        pairs.withColumn("lo", F.least("src", "dst"))
        .withColumn("hi", F.greatest("src", "dst"))
        .join(cn, ["lo", "hi"], "left")
        .drop("lo", "hi")
        .na.fill({"common_neighbors": 0, "adamic_adar": 0.0})
        .join(
            hint(deg.select(F.col("id").alias("src"), F.col("deg").alias("src_deg")), n_deg),
            "src",
            "left",
        )
        .join(
            hint(deg.select(F.col("id").alias("dst"), F.col("deg").alias("dst_deg")), n_deg),
            "dst",
            "left",
        )
        .na.fill({"src_deg": 0, "dst_deg": 0})
        .withColumn("pref_attachment", F.col("src_deg") * F.col("dst_deg"))
        .withColumn(
            "neighbor_jaccard",
            F.col("common_neighbors")
            / F.greatest(
                F.col("src_deg") + F.col("dst_deg") - F.col("common_neighbors"), F.lit(1)
            ),
        )
    )


PAIR_FEATURE_COLS = [
    "common_neighbors", "adamic_adar", "neighbor_jaccard",
    "pref_attachment", "src_deg", "dst_deg",
]


# --- training / evaluation (M7-M10 replacement) -----------------------
def train_link_model(
    labeled_pairs: DataFrame,
    edges: DataFrame,
    feature_cols: list[str] | None = None,
    model: str = "logreg",
    seed: int = 42,
    max_iter: int = 25,
    tol: float = 1e-5,
):
    """Fit an MLlib classifier on engineered pair features. Returns
    (fitted PipelineModel, feature DataFrame used).

    ``max_iter``/``tol`` bound the logistic solver (r10): every L-BFGS
    iteration is one treeAggregate Spark job, so MLlib's defaults
    (100, 1e-6) spend ~75 driver-overhead-bound jobs refining digits
    far past the quality bars the consumers gate on (AUC >= 0.76 /
    AP >= 0.84 vs ~0.90 measured at 25 iterations; the held-out
    metrics moved < 0.002 between 25 and 100 iterations on the ledger
    topology). Pass the MLlib defaults back explicitly if a consumer
    ever needs full convergence."""
    from pyspark.ml import Pipeline
    from pyspark.ml.classification import GBTClassifier, LogisticRegression
    from pyspark.ml.feature import VectorAssembler

    feats = pair_features(labeled_pairs, edges)
    cols = feature_cols or PAIR_FEATURE_COLS
    assembler = VectorAssembler(inputCols=cols, outputCol="features_vec")
    if model == "gbt":
        clf = GBTClassifier(featuresCol="features_vec", labelCol="label", seed=seed, maxIter=20)
    else:
        clf = LogisticRegression(
            featuresCol="features_vec", labelCol="label",
            maxIter=max_iter, tol=tol,
        )
    pipe = Pipeline(stages=[assembler, clf])
    return pipe.fit(feats), feats


def evaluate_link_model(model, labeled_pairs: DataFrame, edges: DataFrame) -> dict[str, float]:
    """M10: areaUnderROC / areaUnderPR via BinaryClassificationEvaluator."""
    from pyspark.ml.evaluation import BinaryClassificationEvaluator

    feats = pair_features(labeled_pairs, edges)
    # Each evaluate() is its own action; unpinned, the whole
    # pair-features + transform subtree would execute once per metric
    # (r10, guide §5.4). Persist for the two passes, then release —
    # on the error path too.
    scored = model.transform(feats).persist()
    out = {}
    try:
        for metric in ("areaUnderROC", "areaUnderPR"):
            ev = BinaryClassificationEvaluator(
                rawPredictionCol="rawPrediction", labelCol="label", metricName=metric
            )
            out[metric] = ev.evaluate(scored)
    finally:
        scored.unpersist()
    return out


# --- serving queries (M13-M15) ----------------------------------------
def allowed_relation(rel: Column, src_type: Column, dst_type: Column) -> Column:
    """Semantic filters (predicter.py:156-165): biological relations
    require human-human; HUMAN_SRC_ONLY relations require a human src."""
    bio = rel.isin(*BIOLOGICAL_RELS)
    hso = rel.isin(*HUMAN_SRC_ONLY)
    return (
        (~bio | ((src_type == "human") & (dst_type == "human")))
        & (~hso | (src_type == "human"))
    )


def scan_relationship(
    pair_scores: DataFrame,
    vertices: DataFrame,
) -> DataFrame:
    """M13: given per-(src,dst,rel) scores, apply semantic filters and
    return all admissible relations plus the argmax per pair
    (max_by pattern)."""
    vt = vertices.select("id", F.col("type").alias("vt"))
    s = (
        pair_scores.join(vt.select(F.col("id").alias("src"), F.col("vt").alias("src_type")), "src")
        .join(vt.select(F.col("id").alias("dst"), F.col("vt").alias("dst_type")), "dst")
        .filter(allowed_relation(F.col("rel"), F.col("src_type"), F.col("dst_type")))
    )
    # argmax key carries (score, rel): equal scores happen (hashed or
    # quantized scorers), and a bare max_by is then engine/run-
    # nondeterministic — the lexicographically larger relation wins
    best = s.groupBy("src", "dst").agg(
        F.max_by("rel", F.struct(F.col("score"), F.col("rel"))).alias("best_rel"),
        F.max("score").alias("best_score"),
    )
    return s.join(best, ["src", "dst"]).select(
        "src", "dst", "rel", "score", "best_rel", "best_score"
    )


def hub_penalty(score: Column, degree: Column) -> Column:
    """predicter.py:258-264: score / (log(deg+1)+1)."""
    return score / (F.log(degree + F.lit(1.0)) + F.lit(1.0))


def recommend_topk(
    src_id: str,
    candidate_scores: DataFrame,
    edges: DataFrame,
    k: int = 10,
) -> DataFrame:
    """M14: rank candidates for one source — hub-penalized score,
    self excluded, existing neighbors excluded, global top-k."""
    deg = total_degree(edges)
    neighbors = (
        edges.filter(F.col("src") == src_id).select(F.col("dst").alias("dst"))
        .unionAll(edges.filter(F.col("dst") == src_id).select(F.col("src").alias("dst")))
        .dropDuplicates()
    )
    return (
        candidate_scores.filter(F.col("dst") != src_id)
        .join(neighbors, "dst", "left_anti")
        .join(deg.withColumnRenamed("id", "dst"), "dst", "left")
        .na.fill({"degree": 0})
        .withColumn("final_score", hub_penalty(F.col("score"), F.col("degree")))
        .orderBy(F.col("final_score").desc(), F.col("dst").asc())
        .limit(k)
    )


def constrained_spouse_candidates(
    src_id: str,
    candidate_scores: DataFrame,
    edges: DataFrame,
    vertices: DataFrame,
    k: int = 10,
    age_gap_limit: int = 20,
) -> DataFrame:
    """M15: spouse prediction with constraints — age gap > limit
    halves the score; candidates already linked by a taboo relation
    (sibling/parent) are anti-joined out."""
    years = vertices.select("id", F.col("birth_year").cast("double").alias("by"))
    src_year = years.filter(F.col("id") == src_id).select(F.col("by").alias("src_by"))
    taboo = (
        edges.filter(
            F.col("rel").isin(*TABOO_FOR_SPOUSE)
            & ((F.col("src") == src_id) | (F.col("dst") == src_id))
        )
        .select(
            F.when(F.col("src") == src_id, F.col("dst")).otherwise(F.col("src")).alias("dst")
        )
        .dropDuplicates()
    )
    scored = (
        candidate_scores.filter(F.col("dst") != src_id)
        .join(taboo, "dst", "left_anti")
        .join(years.withColumnRenamed("id", "dst"), "dst", "left")
        .crossJoin(F.broadcast(src_year))
        .withColumn(
            "final_score",
            F.when(
                F.abs(F.col("by") - F.col("src_by")) > age_gap_limit, F.col("score") / 2
            ).otherwise(F.col("score")),
        )
    )
    return scored.orderBy(F.col("final_score").desc(), F.col("dst").asc()).limit(k)


# --- hyperparameter search (M11) and embedding store (M12) ------------
def tune_link_model(
    labeled_pairs: DataFrame,
    edges: DataFrame,
    feature_cols: list[str] | None = None,
    n_folds: int = 3,
    seed: int = 42,
):
    """M11: CrossValidator grid search over the logistic-regression
    regularization path (the reference imports Optuna but ships a fixed
    config, train_model.py:587-593; MLlib's CV is the idiomatic
    equivalent). Returns the best fitted model."""
    from pyspark.ml import Pipeline
    from pyspark.ml.classification import LogisticRegression
    from pyspark.ml.evaluation import BinaryClassificationEvaluator
    from pyspark.ml.feature import VectorAssembler
    from pyspark.ml.tuning import CrossValidator, ParamGridBuilder

    feats = pair_features(labeled_pairs, edges)
    cols = feature_cols or PAIR_FEATURE_COLS
    assembler = VectorAssembler(inputCols=cols, outputCol="features_vec")
    lr = LogisticRegression(featuresCol="features_vec", labelCol="label")
    grid = (
        ParamGridBuilder()
        .addGrid(lr.regParam, [0.0, 0.01, 0.1])
        .addGrid(lr.elasticNetParam, [0.0, 0.5])
        .build()
    )
    cv = CrossValidator(
        estimator=Pipeline(stages=[assembler, lr]),
        estimatorParamMaps=grid,
        evaluator=BinaryClassificationEvaluator(labelCol="label"),
        numFolds=n_folds,
        seed=seed,
        parallelism=2,
    )
    return cv.fit(feats)


def write_embeddings(emb: DataFrame, path: str) -> None:
    """M12: the embedding store is a parquet table (type, id,
    embedding array<float>) partitioned by node type — replaces the
    reference's torch.save dict (predicter.py:76-113); readers prune
    to the node types they score."""
    cols = emb.columns
    w = emb.write.mode("overwrite")
    if "type" in cols:
        w = w.partitionBy("type")
    w.parquet(path)


def read_embeddings(spark, path: str) -> DataFrame:
    return spark.read.parquet(path)


def ranking_metrics(
    scored: DataFrame,
    query_col: str = "query_id",
    cand_col: str = "cand_id",
    score_col: str = "score",
    label_col: str = "label",
    k: int = 5,
) -> DataFrame:
    """M10 extension: IR-style ranking evaluation for link-prediction /
    retrieval scorers — MRR, hits@k, precision@k over per-query ranked
    candidates. Complements the threshold-free AUC pair in
    :func:`evaluate_link_model` with the serving-side view (what
    fraction of top-k recommendations are real; reference's ranked
    outputs: predicter.py top-k paths).

    Rank = row_number over (score desc, candidate id) per query — the
    deterministic tie-break keeps the metric (and its SQL oracle)
    exactly reproducible. Queries with no positive candidate are
    excluded from MRR/hits (undefined reciprocal rank) but reported in
    n_queries. One shuffle on the query key; metrics are a second tiny
    aggregation.
    """
    from pyspark.sql import Window

    w = Window.partitionBy(query_col).orderBy(
        F.col(score_col).desc(), F.col(cand_col).asc()
    )
    ranked = scored.withColumn("__rank", F.row_number().over(w))
    per_q = ranked.groupBy(query_col).agg(
        F.min(F.when(F.col(label_col) == 1, F.col("__rank"))).alias("first_pos"),
        F.sum(
            ((F.col(label_col) == 1) & (F.col("__rank") <= k)).cast("int")
        ).alias("pos_in_k"),
        F.max(F.col(label_col)).alias("has_pos"),
    )
    return per_q.agg(
        F.count(F.lit(1)).alias("n_queries"),
        F.round(
            F.avg(F.when(F.col("has_pos") == 1, F.lit(1.0) / F.col("first_pos"))), 6
        ).alias("mrr"),
        F.round(
            F.avg(
                F.when(F.col("has_pos") == 1, (F.col("first_pos") <= k).cast("double"))
            ),
            6,
        ).alias(f"hits_at_{k}"),
        F.round(F.avg(F.col("pos_in_k") / F.lit(float(k))), 6).alias(
            f"precision_at_{k}"
        ),
    )
