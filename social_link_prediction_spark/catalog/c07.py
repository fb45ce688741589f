"""Catalog part 7/7: round-8 additions — the M-layer lifecycle ledger
(VERDICT r7 item 8: drive the MLlib train/evaluate/store path through a
hashed oracle comparison the way etl_pipeline_counts gated EP1).

Imports the shared core from ``_base`` and the helpers it reuses from
earlier family modules; see catalog/__init__.py.
"""
from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from social_link_prediction_spark.catalog._base import _DUCK_H60, _t, query
from social_link_prediction_spark.catalog.c01 import _session_tmp
from social_link_prediction_spark.ml import linksplit as mls
from social_link_prediction_spark.ml import predict as mlp
from social_link_prediction_spark.operators import dedup as dd


# M-ledger community graph: 24 communities x 12 nodes, intra-community
# edge prob 0.55 decided by the shared md5 hash device (NOT Python
# RNG), plus one ring bridge per community — the same deterministic
# community topology test_ml's reference-parity pin trains on, but
# hash-generated so DuckDB replays the edge set bit-for-bit. Fixed
# size by design (like EP1's fixture endpoint): this row gates the
# LIFECYCLE contract; the corpus-scale split/negative devices are
# gated separately (link_split_counts, negative_sample_supplies).
_MLG_COMM, _MLG_N, _MLG_P = 24, 12, 0.55


def _duck_ml_ledger_sql() -> str:
    h_edge = _DUCK_H60.format(
        args="CAST(c AS VARCHAR), CAST(i AS VARCHAR), CAST(j AS VARCHAR), 'mlg'"
    )
    h_split = _DUCK_H60.format(
        args="least(src, dst), greatest(src, dst), 'r', '7'"
    )
    h_neg_tr = _DUCK_H60.format(args="a.src, 'r', '0', '11'")
    h_neg_va = _DUCK_H60.format(args="a.src, 'r', '0', '12'")
    return f"""
    WITH grid AS (
        SELECT c.c, i.i, j.j
        FROM (SELECT unnest(generate_series(0, {_MLG_COMM - 1})) AS c) c,
             (SELECT unnest(generate_series(0, {_MLG_N - 1})) AS i) i,
             (SELECT unnest(generate_series(0, {_MLG_N - 1})) AS j) j
        WHERE i.i < j.j),
    e AS MATERIALIZED (
        SELECT 'C' || c || 'N' || i AS src, 'C' || c || 'N' || j AS dst
        FROM grid
        WHERE {h_edge} % 1000000 / 1000000.0 < {_MLG_P}
        UNION ALL
        SELECT 'C' || c || 'N0', 'C' || ((c + 1) % {_MLG_COMM}) || 'N1'
        FROM (SELECT unnest(generate_series(0, {_MLG_COMM - 1})) AS c)),
    t AS MATERIALIZED (
        SELECT src, dst, {h_split} % 1000000 / 1000000.0 AS frac FROM e),
    tr AS MATERIALIZED (SELECT src, dst FROM t WHERE frac >= 0.3),
    va AS MATERIALIZED (
        SELECT src, dst FROM t WHERE frac >= 0.15 AND frac < 0.3),
    te AS (SELECT src, dst FROM t WHERE frac < 0.15),
    nodes AS (
        SELECT 'C' || c || 'N' || i AS id
        FROM (SELECT unnest(generate_series(0, {_MLG_COMM - 1})) AS c),
             (SELECT unnest(generate_series(0, {_MLG_N - 1})) AS i)),
    idx AS (SELECT id, row_number() OVER (ORDER BY id) - 1 AS i FROM nodes),
    nn AS (SELECT count(*) AS n FROM nodes),
    negtr AS (
        SELECT DISTINCT a.src, idx.id AS dst
        FROM (SELECT DISTINCT src FROM tr) a
        JOIN idx ON idx.i = {h_neg_tr} % (SELECT n FROM nn)
        WHERE NOT EXISTS (SELECT 1 FROM tr p
                          WHERE p.src = a.src AND p.dst = idx.id)),
    negva AS (
        SELECT DISTINCT a.src, idx.id AS dst
        FROM (SELECT DISTINCT src FROM va) a
        JOIN idx ON idx.i = {h_neg_va} % (SELECT n FROM nn)
        WHERE NOT EXISTS (SELECT 1 FROM va p
                          WHERE p.src = a.src AND p.dst = idx.id)),
    emb AS (SELECT CAST(count(*) AS BIGINT) AS n,
                   CAST(min(len(embedding)) AS BIGINT) AS dmin,
                   CAST(max(len(embedding)) AS BIGINT) AS dmax
            FROM embeddings)
    SELECT section, metric, CAST(value AS BIGINT) AS value FROM (VALUES
        ('graph', 'edges', (SELECT count(*) FROM e)),
        ('graph', 'nodes', (SELECT n FROM nn)),
        ('split', 'train', (SELECT count(*) FROM tr)),
        ('split', 'val',   (SELECT count(*) FROM va)),
        ('split', 'test',  (SELECT count(*) FROM te)),
        ('train_pairs', 'pos', (SELECT count(*) FROM tr)),
        ('train_pairs', 'neg', (SELECT count(*) FROM negtr)),
        ('val_pairs', 'pos', (SELECT count(*) FROM va)),
        ('val_pairs', 'neg', (SELECT count(*) FROM negva)),
        ('tensor', 'rev_edges', (SELECT count(*) FROM tr)),
        ('model', 'auc_ge_076', 1),
        ('model', 'ap_ge_084', 1),
        ('store', 'rows', (SELECT n FROM emb)),
        ('store', 'dim_min', (SELECT dmin FROM emb)),
        ('store', 'dim_max', (SELECT dmax FROM emb))
    ) AS v(section, metric, value)
    ORDER BY section, metric
    """


@query("ml_pipeline_ledger", _duck_ml_ledger_sql())
def ml_pipeline_ledger(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M-layer lifecycle, end-to-end through one hashed audit ledger
    (the EP1 etl_pipeline_counts pattern, VERDICT r7 item 8): a
    hash-generated 24x12 community graph (every edge decided by the
    shared md5 device, so DuckDB replays the topology exactly) flows
    through M4 leakage-safe link split (ml/linksplit.link_split, seed
    7) -> M5 deterministic negative sampling for train AND held-out
    val (ml/linksplit.negative_sample, seeds 11/12) -> M9 MLlib
    Pipeline fit on engineered pair features over TRAIN-ONLY edges
    (ml/predict.train_link_model; reference train_model.py loop) ->
    M10 BinaryClassificationEvaluator AUC/AP on the held-out pairs
    (ml/predict.evaluate_link_model) -> M3 reverse-relation flip
    invariant (operators/dedup.flip_edges: |rev| == |fwd|) -> M12
    embedding-store round trip (ml/predict.write_embeddings /
    read_embeddings: type-partitioned parquet, read-back count+dim on
    the sf embeddings table — the one sf-dependent section).

    Everything the SQL oracle can recompute is compared EXACTLY
    (graph size, split sizes, negative counts via the corrupt-dst +
    anti-join replay, store rows/dims); the learned-model metrics
    enter as monotone integer bounds at the REFERENCE's published
    quality (AUC >= 0.76, AP >= 0.84 — reference README.md:46-50,
    BASELINE.md:27-29; test_ml pins the same bar, measuring ~0.90
    on this topology), so an untrained or regressed model fails the
    row. Seeds fixed; zero RNG outside the hash devices."""
    import shutil

    from pyspark.sql.types import StringType

    c = spark.range(_MLG_COMM).select(F.col("id").cast("int").alias("c"))
    i = spark.range(_MLG_N).select(F.col("id").cast("int").alias("i"))
    j = spark.range(_MLG_N).select(F.col("id").cast("int").alias("j"))
    grid = c.crossJoin(i).crossJoin(j).filter(F.col("i") < F.col("j"))
    hfrac = (
        mls.hash60(
            F.col("c").cast("string"),
            F.col("i").cast("string"),
            F.col("j").cast("string"),
            F.lit("mlg"),
        )
        % F.lit(1_000_000)
    ) / 1_000_000.0
    intra = grid.filter(hfrac < _MLG_P).select(
        F.concat(F.lit("C"), "c", F.lit("N"), "i").alias("src"),
        F.concat(F.lit("C"), "c", F.lit("N"), "j").alias("dst"),
    )
    bridges = spark.range(_MLG_COMM).select(
        F.concat(F.lit("C"), F.col("id").cast("int"), F.lit("N0")).alias("src"),
        F.concat(
            F.lit("C"),
            ((F.col("id") + 1) % _MLG_COMM).cast("int"),
            F.lit("N1"),
        ).alias("dst"),
    )
    edges = (
        intra.unionByName(bridges).withColumn("rel", F.lit("r")).persist()
    )
    nodes = c.crossJoin(i).select(
        F.concat(F.lit("C"), "c", F.lit("N"), "i").alias("id")
    )
    n_nodes = nodes.count()
    n_edges = edges.count()

    train, val, test = mls.link_split(
        edges, val_frac=0.15, test_frac=0.15, seed=7
    )
    train = train.persist()
    labeled_tr = mls.negative_sample(train, nodes, ratio=1.0, seed=11).persist()
    labeled_va = mls.negative_sample(val, nodes, ratio=1.0, seed=12).persist()
    n_tr_pos = labeled_tr.filter("label = 1").count()
    n_tr_neg = labeled_tr.filter("label = 0").count()
    n_va_pos = labeled_va.filter("label = 1").count()
    n_va_neg = labeled_va.filter("label = 0").count()
    n_test = test.count()

    # M9 + M10: fit on train-only edges (leakage-safe), evaluate held out
    model, _feats = mlp.train_link_model(labeled_tr, edges=train, seed=42)
    metrics = mlp.evaluate_link_model(model, labeled_va, edges=train)
    auc_ok = int(metrics["areaUnderROC"] >= 0.76)
    ap_ok = int(metrics["areaUnderPR"] >= 0.84)

    # M3: reverse-relation flip — the hetero tensor's rev_* edge table
    n_rev = dd.flip_edges(train, "src", "dst").count()

    # M12: embedding-store round trip (fixed per-session path,
    # overwritten per run — the EP1 temp-dir discipline)
    emb = _t(spark, sf_dir, "embeddings").select(
        F.lit("vec").cast(StringType()).alias("type"),
        F.col("vec_id").alias("id"),
        "embedding",
    )
    store = _session_tmp(spark, "slp_ml_ledger_store")
    shutil.rmtree(store, ignore_errors=True)
    mlp.write_embeddings(emb, store)
    back = mlp.read_embeddings(spark, store).persist()
    emb_rows = back.count()
    dims = back.select(F.size("embedding").alias("d")).agg(
        F.min("d").alias("dmin"), F.max("d").alias("dmax")
    ).first()

    rows = [
        ("graph", "edges", n_edges),
        ("graph", "nodes", n_nodes),
        ("model", "ap_ge_084", ap_ok),
        ("model", "auc_ge_076", auc_ok),
        ("split", "test", n_test),
        ("split", "train", n_tr_pos),
        ("split", "val", n_va_pos),
        ("store", "dim_max", int(dims["dmax"])),
        ("store", "dim_min", int(dims["dmin"])),
        ("store", "rows", emb_rows),
        ("tensor", "rev_edges", n_rev),
        ("train_pairs", "neg", n_tr_neg),
        ("train_pairs", "pos", n_tr_pos),
        ("val_pairs", "neg", n_va_neg),
        ("val_pairs", "pos", n_va_pos),
    ]
    return spark.createDataFrame(
        rows, "section string, metric string, value long"
    ).orderBy("section", "metric")
