"""Similarity search over an embedding column (array<float>).

Baseline: brute-force cosine top-k — a single projection + TakeOrdered
(no shuffle of the corpus). Scale path: sign-random-projection LSH
bucketing so only same-bucket candidates are scored, or an IVF-style
coarse quantizer (assign to nearest centroid, probe nearest cells).

Dot products use ``F.aggregate``/``F.zip_with`` (JVM higher-order
functions) — no Python in the scoring loop.
"""

from __future__ import annotations

import math
import random

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def l2_norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x * x))


def cosine_similarity(a: Column, b: Column) -> Column:
    return dot(a, b) / (l2_norm(a) * l2_norm(b))


def _query_array(query_vec: list[float]) -> Column:
    return F.array([F.lit(float(x)) for x in query_vec])


def brute_force_topk(
    emb: DataFrame,
    query_vec: list[float],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact cosine top-k against a literal query vector. The query is
    a constant folded into codegen (no join); TakeOrderedAndProject
    keeps a k-heap per partition — nothing global is sorted.
    """
    q = _query_array(query_vec)
    scored = emb.select(
        F.col(id_col),
        F.round(cosine_similarity(F.col(vec_col).cast("array<double>"), q), 6).alias("cosine"),
    )
    return scored.orderBy(F.col("cosine").desc(), F.col(id_col).asc()).limit(k)


def random_hyperplanes(dim: int, n_planes: int, seed: int = 42) -> list[list[float]]:
    """Deterministic Gaussian hyperplanes for sign-LSH."""
    rng = random.Random(seed)
    return [[rng.gauss(0.0, 1.0) for _ in range(dim)] for _ in range(n_planes)]


def srp_bucket(vec_col: Column, planes: list[list[float]]) -> Column:
    """Sign-random-projection bucket id: bit i = sign(v · plane_i).

    One aggregate over a planes-matrix literal zipped with the 2^i
    weights — the dot-fold machinery appears ONCE in the expression
    tree instead of once per plane (r10, the jl_projection planning
    fix; per-plane arithmetic and the exact bit sum are unchanged)."""
    pm = F.array(*[F.array(*[F.lit(float(x)) for x in plane]) for plane in planes])
    w = F.array(*[F.lit(2**i).cast("bigint") for i in range(len(planes))])
    return F.aggregate(
        F.zip_with(
            pm, w,
            lambda row, wi: F.when(dot(vec_col, row) > 0, wi).otherwise(
                F.lit(0).cast("bigint")
            ),
        ),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x,
    )


def srp_bucketed_topk(
    emb: DataFrame,
    query_vec: list[float],
    k: int = 10,
    n_planes: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
) -> DataFrame:
    """ANN top-k: score only vectors in the query's SRP bucket.
    At 100 TB, write the corpus partitioned by bucket so the probe is
    a partition-pruned scan of ~1/2^n_planes of the data; recall is
    tuned by multi-probing neighboring buckets (flip one bit).
    """
    dim = len(query_vec)
    planes = random_hyperplanes(dim, n_planes, seed)
    qbits = 0
    for i, plane in enumerate(planes):
        if sum(q * p for q, p in zip(query_vec, plane)) > 0:
            qbits += 2**i
    # multi-probe: exact bucket + all one-bit flips
    probe = [qbits] + [qbits ^ (1 << i) for i in range(n_planes)]
    v = F.col(vec_col).cast("array<double>")
    bucketed = emb.withColumn("__bucket", srp_bucket(v, planes))
    cand = bucketed.filter(F.col("__bucket").isin(probe))
    q = _query_array(query_vec)
    scored = cand.select(
        F.col(id_col),
        F.round(cosine_similarity(v, q), 6).alias("cosine"),
    )
    return scored.orderBy(F.col("cosine").desc(), F.col(id_col).asc()).limit(k)


def ivf_assign(
    emb: DataFrame,
    centroids: list[list[float]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF coarse quantization: assign each vector to its nearest
    centroid (broadcast centroid list, argmax over a small score
    array). Write-out partitioned by ``ivf_cell`` gives
    partition-pruned probes.

    Argmax = first index hitting the array max (array_position), which
    is exactly the sequential strict-> first-best-wins rule. The score
    array is built ONCE — a nested when-chain instead re-references
    each accumulated best twice per step, doubling the expression tree
    per centroid (O(2^K) analysis cost; measured seconds of pure
    planning at K=4, dim=64). Vector norms are hoisted to a column and
    centroid norms computed driver-side, so each score is a single
    64-term dot product.
    """
    v = F.col(vec_col).cast("array<double>")
    out = emb.withColumn("__vn", l2_norm(v))
    scores = F.array(
        *[
            dot(v, F.array([F.lit(float(x)) for x in c]))
            / (F.col("__vn") * F.lit(math.sqrt(sum(x * x for x in c))))
            for c in centroids
        ]
    )
    cell = (F.array_position(scores, F.array_max(scores)) - 1).cast("int")
    return out.withColumn("ivf_cell", cell).drop("__vn")


def pq_encode(
    emb: DataFrame,
    codebooks: list[list[list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Product quantization (Jégou et al., "Product Quantization for
    Nearest Neighbor Search"): split each vector into M subvectors and
    encode each as the index of its nearest sub-centroid (L2, first-
    best-wins ties). ``codebooks`` is M lists of centroids; subvector
    i spans dims [i*sub_dim, (i+1)*sub_dim).

    Output: (id, codes array<int>, sq_err double) — codes are the
    compressed representation (M bytes/vector at 256 centroids vs
    4*dim raw), sq_err the total reconstruction error. At 100 TB the
    codes table replaces the raw vectors for coarse scoring
    (asymmetric distance = sum of per-subspace lookup tables) and the
    raw table is only consulted to re-rank the short list.

    All JVM expressions — per subspace, one score array + one
    array_position argmin, exactly the ivf_assign shape.
    """
    sub_dim = len(codebooks[0][0])
    v = F.col(vec_col).cast("array<double>")
    code_cols = []
    err_cols = []
    for m, book in enumerate(codebooks):
        sub = F.slice(v, m * sub_dim + 1, sub_dim)
        d2s = F.array(
            *[
                F.aggregate(
                    F.zip_with(
                        sub,
                        F.array([F.lit(float(x)) for x in c]),
                        lambda a, b: (a - b) * (a - b),
                    ),
                    F.lit(0.0),
                    lambda acc, x: acc + x,
                )
                for c in book
            ]
        )
        code_cols.append((F.array_position(d2s, F.array_min(d2s)) - 1).cast("int"))
        err_cols.append(F.array_min(d2s))
    out = emb.select(
        F.col(id_col).alias("id"),
        F.array(*code_cols).alias("codes"),
        sum(err_cols[1:], err_cols[0]).alias("sq_err"),
    )
    return out


def pq_train_codebooks(
    emb: DataFrame,
    n_subspaces: int = 4,
    n_centroids: int = 16,
    vec_col: str = "embedding",
    seed: int = 42,
    max_iter: int = 10,
) -> list[list[list[float]]]:
    """Learn PQ codebooks: one MLlib KMeans per subspace over the
    corpus's subvectors (the production path; the registered query
    uses fixed codebooks so the DuckDB oracle can replay encoding).
    Driver-side returns M x K x sub_dim floats — tiny (the codebook,
    not the data)."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    dim = len(emb.select(vec_col).first()[0])
    sub_dim = dim // n_subspaces
    books = []
    for m in range(n_subspaces):
        sub = emb.select(
            array_to_vector(
                F.slice(F.col(vec_col).cast("array<double>"), m * sub_dim + 1, sub_dim)
            ).alias("features")
        )
        model = KMeans(k=n_centroids, seed=seed + m, maxIter=max_iter).fit(sub)
        books.append([list(map(float, c)) for c in model.clusterCenters()])
    return books


def pq_adc_topk(
    emb: DataFrame,
    codebooks: list[list[list[float]]],
    query_vec: list[float],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    codes: DataFrame | None = None,
) -> DataFrame:
    """Asymmetric-distance (ADC) top-k over PQ codes: the query stays
    un-quantized; per subspace a tiny lookup table of squared L2
    distances from the query subvector to each centroid is computed
    DRIVER-side, and each database vector's approximate distance is
    the sum of M table lookups on its codes. This is the PQ serving
    path: pass the PRECOMPUTED (id, codes) table via ``codes`` and
    the scan touches only M small ints per row plus a TakeOrdered
    k-heap — no raw-vector arithmetic at all; re-rank the short list
    against raw vectors afterwards if exactness matters. Without
    ``codes`` the call encodes from ``emb`` first (convenient for
    one-shot use, but it re-runs the full encode per query — at
    serving scale materialize the codes table once with
    :func:`pq_encode` and reuse it).
    """
    sub_dim = len(codebooks[0][0])
    luts: list[list[float]] = []
    for m, book in enumerate(codebooks):
        sub = query_vec[m * sub_dim : (m + 1) * sub_dim]
        luts.append(
            [sum((a - b) * (a - b) for a, b in zip(sub, c)) for c in book]
        )
    enc = (
        codes
        if codes is not None
        else pq_encode(emb, codebooks, id_col=id_col, vec_col=vec_col)
    )
    dist = None
    for m, lut in enumerate(luts):
        term = F.element_at(
            F.array([F.lit(float(x)) for x in lut]), F.col("codes")[m] + 1
        )
        dist = term if dist is None else dist + term
    scored = enc.select(
        "id", F.round(dist, 6).alias("approx_sq_dist")
    )
    return scored.orderBy(F.col("approx_sq_dist").asc(), F.col("id").asc()).limit(k)


def ivf_assignment_margin(
    emb: DataFrame,
    centroids: list[list[float]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Clustering-confidence audit for IVF assignments: per vector,
    the cosine score of the OWN (nearest) centroid, the runner-up
    score, and their margin — the simplified-silhouette signal that
    tells a vector-store operator how many points sit on cell
    boundaries (low margin ⇒ multi-probe search must visit neighbor
    cells, and re-clustering may be due). Same broadcast-centroid
    score array as ivf_assign, built once; own/next come from a
    sorted copy, the cell from array_position on the original —
    all codegen, no UDF. Output: (id, ivf_cell, s_own, s_next,
    margin >= 0)."""
    import math as _math

    v = F.col(vec_col).cast("array<double>")
    out = emb.withColumn("__vn", l2_norm(v))
    scores = F.array(
        *[
            dot(v, F.array([F.lit(float(x)) for x in c]))
            / (F.col("__vn") * F.lit(_math.sqrt(sum(x * x for x in c))))
            for c in centroids
        ]
    )
    out = out.withColumn("__s", scores)
    srt = F.sort_array(F.col("__s"), asc=False)
    return out.select(
        F.col(id_col),
        (F.array_position(F.col("__s"), F.array_max(F.col("__s"))) - 1)
        .cast("int")
        .alias("ivf_cell"),
        srt[0].alias("s_own"),
        srt[1].alias("s_next"),
        (srt[0] - srt[1]).alias("margin"),
    )


def lloyd_kmeans(
    embs: DataFrame,
    k: int = 4,
    rounds: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "v",
) -> DataFrame:
    """Lloyd's k-means with a FIXED round budget and hash-deterministic
    seeding, fully replayable by a SQL oracle:

    - init: centroids = the vectors of the k ids with the smallest
      hash60(id, 'km') (ties by id) — no RNG, no kmeans||;
    - per round: assign each vector to the nearest centroid by squared
      L2 (ties broken by the LOWER cluster index), then recompute each
      centroid as the element-wise mean of its members;
    - empty clusters keep their previous centroid (join preserves it
      via coalesce), matching the standard Lloyd fallback.

    Scale shape per round: the k-row centroid frame broadcasts into
    the assignment cross join (the corpus never shuffles for it), the
    element-wise mean is ONE (cluster, dim) keyed aggregation —
    map-side combinable, k×dim output rows. No collect anywhere; the
    centroid frame stays a DataFrame. MLlib's KMeans is the
    random-init production alternative; this one exists for exact
    cross-engine replay.

    Returns (id, cluster, sqdist) for the final assignment."""
    from social_link_prediction_spark.ml.linksplit import hash60

    e = embs.select(F.col(id_col).alias("id"), F.col(vec_col).cast("array<double>").alias("v"))
    # seed pick: top-k by hash order via orderBy().limit(k) — Spark
    # plans TakeOrderedAndProject (per-task k-heap, driver merge of
    # k x parts rows), so the corpus is never globally sorted; the
    # row_number window then runs on the k-row frame only (r8 lint —
    # the pre-r8 rank-then-filter shape was a one-task global sort).
    hcol = hash60(F.col("id").cast("string"), F.lit("km"))
    seeds = e.select("v", hcol.alias("__h"), "id").orderBy("__h", "id").limit(k)
    w0 = Window.orderBy("__h", "id")
    cent = (
        seeds.withColumn("__r", F.row_number().over(w0))
        .select((F.col("__r") - 1).alias("cluster"), F.col("v").alias("c"))
    )
    sqd = F.aggregate(
        F.zip_with(F.col("v"), F.col("c"), lambda a, b: (a - b) * (a - b)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    assign = None
    for _ in range(rounds):
        scored = e.crossJoin(F.broadcast(cent)).withColumn("sqdist", sqd)
        wa = Window.partitionBy("id").orderBy("sqdist", "cluster")
        assign = (
            scored.withColumn("__rn", F.row_number().over(wa))
            .filter(F.col("__rn") == 1)
            .select("id", "v", "cluster", "sqdist")
            .localCheckpoint()
        )
        dims = (
            assign.select("cluster", F.posexplode("v").alias("i", "x"))
            .groupBy("cluster", "i")
            .agg(F.avg("x").alias("m"))
        )
        newc = dims.groupBy("cluster").agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("i", "m"))), lambda s: s["m"]
            ).alias("c")
        )
        # empty clusters keep their previous centroid
        cent = (
            cent.select("cluster", F.col("c").alias("c_old"))
            .join(newc, "cluster", "left")
            .select("cluster", F.coalesce("c", "c_old").alias("c"))
            .localCheckpoint()
        )
    return assign.select("id", "cluster", "sqdist")


def _side_tagged_blocks(e: DataFrame, n_blocks: int) -> DataFrame:
    """Side-tagged union for blocked all-pairs scoring: side-0 rows
    hash into ``n_blocks`` row-blocks, side-1 is the comparison copy
    replicated once per block. ONE grouped input through a single
    groupBy-applyInPandas, deliberately NOT a cogroup: a self-COGROUP
    (both sides built from the same parent) shares attribute ids
    across sides, and Spark's column pruning can strip the replicated
    side down to the grouping key under count()/pruned parents —
    silently emptying the UDF input. A single-child union survives
    every plan shape. ``e`` must carry an ``id`` column."""
    B = int(n_blocks)
    left = (
        e.withColumn("blk", F.pmod(F.xxhash64("id"), F.lit(B)).cast("int"))
        .withColumn("side", F.lit(0))
    )
    rep = e.withColumn(
        "blk", F.explode(F.array(*[F.lit(i).cast("int") for i in range(B)]))
    ).withColumn("side", F.lit(1))
    return left.unionByName(rep)


def _block_dots(lpdf, rpdf, vec_col: str = "v"):
    """Raw block-pair products: (dot matrix, |a|^2 row, |b|^2 row),
    with every accumulation run dim-by-dim over vectorized adds — the
    SAME sequential summation order as the single-fold SQL device
    (:func:`dot`) and DuckDB's list loops, so the doubles are
    bit-identical across the three engines. Shared by the cosine
    top-k scorer and the squared-distance consumers (RBF-MMD)."""
    import numpy as np

    A = np.asarray(list(lpdf[vec_col]), dtype=np.float64)
    Bm = np.asarray(list(rpdf[vec_col]), dtype=np.float64)
    acc = np.zeros((A.shape[0], Bm.shape[0]))
    na = np.zeros(A.shape[0])
    nb = np.zeros(Bm.shape[0])
    for k in range(A.shape[1]):  # sequential-order fold == SQL device
        acc += A[:, k:k + 1] * Bm[:, k][None, :]
        na += A[:, k] * A[:, k]
        nb += Bm[:, k] * Bm[:, k]
    return acc, na, nb


def _block_cosine(lpdf, rpdf):
    """Rounded cosine matrix of a block pair over :func:`_block_dots`
    (see there for the float contract); round(cos, 6) can't drift
    across engines. Self-pairs masked to -inf. Zero-norm (degenerate)
    vectors yield 0/0 = NaN — numpy's argsort ranks NaN LAST while
    DuckDB's total order ranks NaN FIRST under cos DESC, so NaN is
    mapped to -inf here: a degenerate vector loses every ranking on
    both engines identically (the SQL twins filter or never emit
    zero norms; this keeps the numpy side safe if the corpus ever
    gains one)."""
    import numpy as np

    acc, na, nb = _block_dots(lpdf, rpdf)
    with np.errstate(divide="ignore", invalid="ignore"):
        cos = np.round(acc / (np.sqrt(na)[:, None] * np.sqrt(nb)[None, :]), 6)
    cos[~np.isfinite(cos)] = -np.inf
    ai = lpdf["id"].to_numpy()
    bi = rpdf["id"].to_numpy()
    cos[ai[:, None] == bi[None, :]] = -np.inf
    return ai, bi, cos


def blocked_exact_topk(
    emb: DataFrame,
    k: int = 1,
    n_blocks: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """EXACT global cosine top-k per vector via blocked matrix blocks —
    the scale shape for exact kNN-graph construction (and the exact
    twin the ANN serving path is audited against). One shuffle: rows
    hash into ``n_blocks`` row-blocks, the comparison side is
    replicated per block (N x n_blocks rows), and each block scores an
    (N/B x N) slab in vectorized numpy — no Catalyst per-pair
    interpreted lambda, no CartesianProduct node. At bigger N, raise
    n_blocks ~ sqrt(N x N / block_budget); the replicated side streams
    through Arrow batches. Within-block top-k uses a stable argsort on
    the ROUNDED cosine over an id-sorted axis, i.e. exactly SQL's
    row_number() OVER (ORDER BY cos DESC, bi) tie-break.

    Returns (ai, bi, cos, rank) with rank in [1, k]: vector ai's
    rank-th nearest neighbor.
    """
    import numpy as np
    import pandas as pd

    kk = int(k)
    e = emb.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).cast("array<double>").alias("v"),
    )

    def _score(pdf: pd.DataFrame) -> pd.DataFrame:
        side = pdf["side"].to_numpy()
        lpdf = pdf.loc[side == 0, ["id", "v"]]
        rpdf = pdf.loc[side == 1, ["id", "v"]].sort_values("id")
        if len(lpdf) == 0 or len(rpdf) == 0:
            return pd.DataFrame({"ai": pd.Series(dtype="int64"),
                                 "bi": pd.Series(dtype="int64"),
                                 "cos": pd.Series(dtype="float64"),
                                 "rank": pd.Series(dtype="int32")})
        ai, bi, cos = _block_cosine(lpdf, rpdf)
        take = min(kk, cos.shape[1] - 1) if cos.shape[1] > 1 else 0
        if take <= 0:
            return pd.DataFrame({"ai": pd.Series(dtype="int64"),
                                 "bi": pd.Series(dtype="int64"),
                                 "cos": pd.Series(dtype="float64"),
                                 "rank": pd.Series(dtype="int32")})
        # stable sort over the id-ascending axis == (cos DESC, bi ASC)
        order = np.argsort(-cos, axis=1, kind="stable")[:, :take]
        rows = np.repeat(ai, take)
        cols = order.ravel()
        return pd.DataFrame({
            "ai": rows,
            "bi": bi[cols],
            "cos": cos[np.repeat(np.arange(len(ai)), take), cols],
            "rank": np.tile(np.arange(1, take + 1), len(ai)),
        })

    return _side_tagged_blocks(e, n_blocks).groupBy("blk").applyInPandas(
        _score, schema="ai long, bi long, cos double, rank int"
    )


def blocked_exact_top1(
    emb: DataFrame,
    n_blocks: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """EXACT global cosine top-1 per vector (see blocked_exact_topk
    for the block design and the float/tie-break contract). Kept as
    the named single-NN entry point: mutual-NN mining and the NN
    recall audits consume exactly this frame."""
    return blocked_exact_topk(
        emb, k=1, n_blocks=n_blocks, id_col=id_col, vec_col=vec_col
    ).drop("rank")
