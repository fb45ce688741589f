"""Feature engineering (M1/M2/P12/P13).

The reference builds [SBERT(384) | year_norm | is_missing |
pagerank(44) | total_degree] per node (data_processor.py:140-146).
Here: a deterministic hashed token embedding replaces SBERT for
offline tests (M1 fallback — the real embedder is a pandas UDF slot),
and assembly is pure column work ending in one array column /
MLlib vector.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from social_link_prediction_spark.pipelines.text import tokens


def year_features(
    df: DataFrame, col: str = "birth_year", exact_median: bool = False
) -> DataFrame:
    """P12: min-max normalized year + median fill + is_missing flag.
    Stats come from one tiny aggregate broadcast back — no collect.
    ``exact_median=True`` swaps percentile_approx for the exact
    interpolated percentile (needed when a SQL oracle must reproduce
    the fill value; the GK sketch's pick is algorithm-specific)."""
    med_fn = "percentile" if exact_median else "percentile_approx"
    stats = df.agg(
        F.min(col).cast("double").alias("__ymin"),
        F.max(col).cast("double").alias("__ymax"),
        F.expr(f"{med_fn}({col}, 0.5)").cast("double").alias("__ymed"),
    )
    out = df.crossJoin(F.broadcast(stats))
    filled = F.coalesce(F.col(col).cast("double"), F.col("__ymed"))
    rng = F.col("__ymax") - F.col("__ymin")
    return (
        out.withColumn("year_is_missing", F.col(col).isNull().cast("int"))
        .withColumn(
            "year_norm",
            F.when(rng > 0, (filled - F.col("__ymin")) / rng).otherwise(F.lit(0.0)),
        )
        .drop("__ymin", "__ymax", "__ymed")
    )


def hashed_text_embedding(
    df: DataFrame, text_col: str, dim: int = 32, out: str = "embedding",
    id_col: str = "id", hash_fn: str = "murmur",
) -> DataFrame:
    """M1 fallback: HashingTF-style deterministic embedding, entirely
    JVM-side — explode tokens, hash to a bucket, count, scatter
    into a dense array, L2-normalize. A production SBERT encoder slots
    in as a mapInPandas stage with the same (id, array<float>) output.

    ``hash_fn``: 'murmur' (default; F.hash, fastest) or 'md5' (the
    hash60 family — slower, but DuckDB computes the identical bucket,
    so embeddings built with it are oracle-replayable end-to-end).
    """
    tok = df.select(F.col(id_col), F.explode(tokens(text_col)).alias("t"))
    if hash_fn == "md5":
        bucket = (
            F.conv(F.substring(F.md5(F.col("t")), 1, 15), 16, 10)
            .cast("bigint") % dim
        )
    else:
        bucket = F.pmod(F.hash("t"), F.lit(dim))
    counts = tok.groupBy(
        id_col, bucket.alias("bucket")
    ).agg(F.count(F.lit(1)).cast("double").alias("c"))
    vec = counts.groupBy(id_col).agg(
        F.map_from_entries(F.collect_list(F.struct("bucket", "c"))).alias("m")
    )
    dense = F.transform(
        F.sequence(F.lit(0), F.lit(dim - 1)),
        lambda i: F.coalesce(F.element_at(F.col("m"), i.cast("int")), F.lit(0.0)),
    )
    norm = F.sqrt(F.aggregate(dense, F.lit(0.0), lambda a, x: a + x * x))
    unit = F.transform(dense, lambda x: F.when(norm > 0, x / norm).otherwise(F.lit(0.0)))
    return vec.select(F.col(id_col), unit.alias(out))


def model_text_embedding(
    df: DataFrame,
    text_col: str,
    out: str = "embedding",
    id_col: str = "id",
    model_name: str = "all-MiniLM-L6-v2",
    batch_size: int = 64,
    encoder_factory=None,
) -> DataFrame:
    """M1 real embedder (reference data_processor.py:23-33,120: SBERT
    all-MiniLM-L6-v2): an Arrow-batched mapInPandas stage that loads
    the sentence-transformers model once per executor python worker
    and encodes text in batches. Import-guarded — environments without
    sentence-transformers raise ImportError at plan-build time (call
    :func:`hashed_text_embedding` for the deterministic fallback; both
    emit the same (id, array<float>) shape, so downstream assembly is
    identical).

    ``encoder_factory``: optional zero-arg callable returning an
    object with SBERT's ``encode(list[str], batch_size=...) ->
    sequence of vectors`` contract, constructed INSIDE each python
    worker (must be picklable). Production leaves it None (loads the
    named sentence-transformers model); tests inject a recorded /
    deterministic encoder so the exact Arrow-batched execution path —
    per-worker model construction, null fill, batch slicing, float
    cast, schema — is pinned without the model download
    (tests/test_ml.py::test_model_embedding_real_path).

    Scale notes: the model loads per-worker, not per-row (lazy module
    global); batches come through Arrow so encode() sees contiguous
    numpy; output is the embedding only — the text column is dropped
    before any shuffle.
    """
    if encoder_factory is None:
        import importlib.util

        if importlib.util.find_spec("sentence_transformers") is None:
            raise ImportError(
                "sentence-transformers is not installed; use "
                "hashed_text_embedding() for the deterministic fallback"
            )

        def encoder_factory():  # noqa: F811 — production default
            from sentence_transformers import SentenceTransformer

            return SentenceTransformer(model_name)

    from collections.abc import Iterator

    from pyspark.sql.types import ArrayType, FloatType, StructField, StructType

    id_field = next(f for f in df.schema.fields if f.name == id_col)
    schema = StructType([id_field, StructField(out, ArrayType(FloatType()))])

    def encode(it: Iterator) -> Iterator:
        model = encoder_factory()
        for pdf in it:
            vecs = model.encode(
                pdf[text_col].fillna("").tolist(), batch_size=batch_size
            )
            res = pdf[[id_col]].copy()
            res[out] = [list(map(float, v)) for v in vecs]
            yield res

    return df.select(id_col, text_col).mapInPandas(encode, schema=schema)


def assemble_features(
    df: DataFrame,
    array_cols: list[str],
    scalar_cols: list[str],
    out: str = "features",
) -> DataFrame:
    """M2: concat array columns + scalars into one array<double>.
    ``array_cols`` entries may be null (e.g. nodes with no text) — they
    contribute nothing, matching the reference's zero rows."""
    parts: list[Column] = []
    for c in array_cols:
        parts.append(F.coalesce(F.col(c).cast("array<double>"), F.array()))
    parts.append(F.array(*[F.coalesce(F.col(c).cast("double"), F.lit(0.0)) for c in scalar_cols]))
    return df.withColumn(out, F.concat(*parts))
