"""Service layer: the reference's application entry points (EP2/EP3)
composed from the engine's operators.

Reference parity:
- ``AnalysisService.find_connection(a, b)`` — fuzzy-resolve both names,
  weighted shortest path with hub/age penalties, decorated path
  (application/analysis_service.py:100-187).
- ``AnalysisService.compute_degrees(pairs)`` — batch degrees-of-
  separation; the reference's ProcessPoolExecutor fan-out
  (analysis_service.py:223-262) is one Spark job here.
- ``AIService.predict_link_score(a, b)`` — resolve, score candidate
  relations, best + all (ai_service.py:20-50).
- ``AIService.recommend(a, k)`` / ``recommend_spouse(a, k)`` —
  hub-penalized top-k, constrained spouse (ai_service.py:52-147).

Unlike the reference — which loads a pickled igraph into driver RAM —
state here is two DataFrames (vertices, edges) plus an optional scores
table. ``AnalysisService`` derives two frames from them, the search
index and the weighted edges; each is persisted on first use, so the
requests of one interactive session share them, and ``close()``
releases both. Everything else a method returns is a lazy plan until
the caller acts. Services are plain objects over DataFrames, so they
work identically over a 60k-row test fixture and a 100 TB warehouse
table.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from social_link_prediction_spark.graph import build as gb
from social_link_prediction_spark.graph import paths as gp
from social_link_prediction_spark.graph.iterate import partitions
from social_link_prediction_spark.ml import predict as mlp
from social_link_prediction_spark.search import fuzzy as fz


class AnalysisService:
    """Path analytics over a (vertices, edges) DataFrame pair."""

    def __init__(self, vertices: DataFrame, edges: DataFrame):
        self.vertices = vertices
        self.edges = edges
        # F1 index + G2 weights are the reference's startup precompute
        # (main.py:15-50); each is persisted on first use (the first
        # request pays for it) and released by close().
        self._plans = {
            "index": fz.build_search_index(vertices),
            "weighted_edges": gb.edge_weights(vertices, edges),
        }
        self._cached: dict[str, tuple[DataFrame, DataFrame]] = {}

    def _state(self, name: str) -> DataFrame:
        """One of the two derived frames, persisted and counted on first
        use (the count fills the cache), then coalesced by its row count
        (graph/iterate.partitions): a few hundred rows are read by one
        task — one scorer task for the index — not one per partition."""
        if name not in self._cached:
            df = self._plans[name].persist()
            self._cached[name] = (df, df.coalesce(partitions(df, df.count())))
        return self._cached[name][1]

    @property
    def index(self) -> DataFrame:
        return self._state("index")

    @property
    def weighted_edges(self) -> DataFrame:
        return self._state("weighted_edges")

    def close(self) -> None:
        """Release the cached index and weighted edges. The service
        stays usable: the next request persists them again."""
        for df, _ in self._cached.values():
            df.unpersist()
        self._cached = {}

    def resolve(self, name: str, limit: int = 10) -> DataFrame:
        """Name -> candidate ids (exact short-circuit, else fuzzy).
        Disambiguation is the caller's concern (F3: the engine returns
        the candidate frame instead of prompting stdin)."""
        return fz.fuzzy_lookup(self.index, name, limit=limit)

    def _resolve_one(self, name: str) -> str | None:
        row = self.resolve(name, limit=1).select("id").first()
        return row[0] if row else None

    def find_connection(
        self, name_a: str, name_b: str, max_hops: int = 8
    ) -> dict:
        """EP2: weighted shortest path between two names with decorated
        steps. Returns {success, src, dst, dist, path, steps} — the
        DataFrame of decorated steps stays lazy. A path only through
        blacklisted (infinite-weight) edges counts as no path."""
        a, b = self._resolve_one(name_a), self._resolve_one(name_b)
        if a is None or b is None:
            return {"success": False, "message": "name not found",
                    "src": a, "dst": b}
        # JVM literals: a Python-RDD scan here would start Python worker
        # tasks on every action of the request that reads the pair
        id_type = dict(self.vertices.dtypes)["id"]
        pairs = gp.literal_frame(
            self.vertices.sparkSession, [(a, b)], ["src", "dst"], [id_type] * 2
        )
        sp = gp.pair_shortest_paths(
            self.weighted_edges, pairs, weight="weight", max_hops=max_hops
        )
        hit = sp.first()
        if hit is None or hit.dist is None or not math.isfinite(hit.dist):
            return {"success": False, "message": "no path within max_hops",
                    "src": a, "dst": b}
        steps = gp.decorate_path(
            sp.filter(F.col("dist").isNotNull()), self.edges, self.vertices
        )
        return {
            "success": True, "src": a, "dst": b,
            "dist": float(hit.dist), "path": list(hit.path), "steps": steps,
        }

    def compute_degrees(self, pairs: DataFrame, max_hops: int = 8) -> DataFrame:
        """G5: degrees-of-separation for a pairs DataFrame — ONE job,
        executors replace the reference's process pool."""
        return gp.degrees_of_separation(
            self.edges, pairs, self.vertices, max_hops=max_hops
        )


class AIService:
    """Link-prediction serving over pair scores + graph state."""

    def __init__(
        self,
        vertices: DataFrame,
        edges: DataFrame,
        pair_scores: DataFrame | None = None,
    ):
        self.vertices = vertices
        self.edges = edges
        self.pair_scores = pair_scores  # (src, dst, rel, score)
        self.analysis = AnalysisService(vertices, edges)

    def _scores_for(self, src_id: str) -> DataFrame:
        if self.pair_scores is not None:
            return self.pair_scores.filter(F.col("src") == src_id)
        # feature-based fallback: Adamic-Adar as the relation-agnostic
        # score (the MLlib model's scored output drops in here)
        cands = self.vertices.select(F.col("id").alias("dst")).filter(
            F.col("dst") != src_id
        )
        pairs = cands.select(
            F.lit(src_id).alias("src"), "dst"
        )
        feats = mlp.pair_features(pairs, self.edges)
        return feats.select(
            "src", "dst", F.lit("related_to").alias("rel"),
            F.col("adamic_adar").alias("score"),
        )

    def predict_link_score(self, name_a: str, name_b: str) -> DataFrame:
        """M13 serving shape: all admissible relations for the pair
        plus the argmax (best_rel, best_score) columns."""
        a = self.analysis._resolve_one(name_a)
        b = self.analysis._resolve_one(name_b)
        scores = self._scores_for(a).filter(F.col("dst") == b)
        return mlp.scan_relationship(scores, self.vertices)

    def recommend(self, name: str, k: int = 10) -> DataFrame:
        """M14: hub-penalized top-k for a resolved name."""
        src = self.analysis._resolve_one(name)
        cand = self._scores_for(src).select("src", "dst", "score")
        return mlp.recommend_topk(src, cand, self.edges, k=k)

    def recommend_spouse(self, name: str, k: int = 10) -> DataFrame:
        """M15: spouse recommendation with age-gap and taboo-relation
        constraints."""
        src = self.analysis._resolve_one(name)
        cand = self._scores_for(src).select("src", "dst", "score")
        return mlp.constrained_spouse_candidates(
            src, cand, self.edges, self.vertices, k=k
        )


class RecsysService:
    """Behavior-based recommendations over an interaction DataFrame
    (user, item[, rating]) — the engine-extra counterpart of
    ``AIService.recommend`` for deployments that have interactions but
    no graph/features. Three strategies behind one facade:

    - ``similar_items(k)`` — memory-based item-item cosine over
      co-interaction vectors (the item_item_cosine_topk shape);
    - ``fit_als(...)`` then ``recommend(users, k)`` /
      ``similar_items_model(k)`` — MLlib ALS matrix factorization
      (ml/recsys.py), for when sparsity defeats co-occurrence counts.

    Interactions stay a lazy DataFrame; the hub-basket cap bounds the
    pair enumeration exactly as in the catalog query.
    """

    def __init__(
        self,
        interactions: DataFrame,
        user_col: str = "user",
        item_col: str = "item",
        hub_cap: int = 50,
    ):
        self.inter = interactions.select(
            F.col(user_col).alias("user"), F.col(item_col).alias("item")
        ).dropDuplicates()
        self.hub_cap = hub_cap
        self._model = None

    def similar_items(self, k: int = 5) -> DataFrame:
        from pyspark.sql import Window

        sizes = self.inter.groupBy("user").agg(F.count(F.lit(1)).alias("bn"))
        kept = self.inter.join(
            F.broadcast(
                sizes.filter(F.col("bn") <= self.hub_cap).select("user")
            ),
            "user",
        )
        item_n = kept.groupBy("item").agg(F.count(F.lit(1)).alias("n"))
        a = kept.select("user", F.col("item").alias("ia"))
        b = kept.select("user", F.col("item").alias("ib"))
        pairs = (
            a.join(b, "user")
            .filter(F.col("ia") < F.col("ib"))
            .groupBy("ia", "ib")
            .agg(F.count(F.lit(1)).alias("c"))
        )
        sym = pairs.selectExpr("ia AS item", "ib AS neighbor", "c").unionByName(
            pairs.selectExpr("ib AS item", "ia AS neighbor", "c")
        )
        na = item_n.select("item", F.col("n").alias("na"))
        nb = item_n.select(
            F.col("item").alias("neighbor"), F.col("n").alias("nb")
        )
        scored = (
            sym.join(F.broadcast(na), "item")
            .join(F.broadcast(nb), "neighbor")
            .select(
                "item",
                "neighbor",
                "c",
                F.round(
                    F.col("c") / F.sqrt(F.col("na") * F.col("nb")), 6
                ).alias("cosine"),
            )
        )
        w = Window.partitionBy("item").orderBy(
            F.col("cosine").desc(), F.col("neighbor").asc()
        )
        return (
            scored.withColumn("rk", F.row_number().over(w))
            .filter(F.col("rk") <= k)
        )

    def fit_als(self, ratings: DataFrame, **kw) -> "RecsysService":
        from social_link_prediction_spark.ml import recsys as rs

        self._model = rs.train_als(ratings, **kw)
        return self

    def recommend(self, users: DataFrame, k: int = 5) -> DataFrame:
        from social_link_prediction_spark.ml import recsys as rs

        if self._model is None:
            raise ValueError("call fit_als(ratings) before recommend()")
        return rs.recommend_items(self._model, users, k=k)

    def similar_items_model(self, k: int = 5) -> DataFrame:
        from social_link_prediction_spark.ml import recsys as rs

        if self._model is None:
            raise ValueError("call fit_als(ratings) before similar_items_model()")
        return rs.similar_items(self._model, k=k)
