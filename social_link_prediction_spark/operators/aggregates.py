"""Aggregation operators (SURVEY.md §2.4, A1–A19).

All are single-pass hash aggregations with map-side partial
aggregation (Spark default) — at 100 TB the shuffle carries only
(group-key, partial-state) pairs, not raw rows. Nothing here uses a
Python UDF.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


# --- A3/A18: out-degree per key (NB cells 83,87)
def degree(df: DataFrame, key: str, out: str = "degree") -> DataFrame:
    return df.groupBy(key).agg(F.count(F.lit(1)).alias(out))


# --- A4: value_counts (NB cells 78,95,97,100)
def value_counts(df: DataFrame, col: str, desc: bool = True) -> DataFrame:
    out = df.groupBy(col).agg(F.count(F.lit(1)).alias("count"))
    return out.orderBy(F.col("count").desc(), F.col(col).asc()) if desc else out


# --- A5: distinct counts per column (NB cells 66,68)
def distinct_counts(df: DataFrame, cols: Sequence[str], approx: bool = False) -> DataFrame:
    """``nunique`` per column. ``approx=True`` switches to HLL sketches
    (``approx_count_distinct``) — at 100 TB exact distinct on a wide
    table forces a massive shuffle; the sketch is one pass, no shuffle
    of raw values.
    """
    fn = F.approx_count_distinct if approx else F.countDistinct
    return df.agg(*[fn(F.col(c)).alias(f"{c}_distinct") for c in cols])


# --- A6: duplicate audit (NB cells 71-72)
def duplicate_groups(df: DataFrame, keys: Sequence[str] | None = None) -> DataFrame:
    keys = list(keys) if keys else df.columns
    return (
        df.groupBy(*keys)
        .agg(F.count(F.lit(1)).alias("dup_count"))
        .filter(F.col("dup_count") > 1)
    )


# --- A7: null accounting (transformer.py:203-206)
def null_counts(df: DataFrame, cols: Sequence[str] | None = None) -> DataFrame:
    cols = list(cols) if cols else df.columns
    return df.agg(
        *[F.sum(F.col(c).isNull().cast("long")).alias(f"{c}_nulls") for c in cols]
    )


# --- A8: multi-value explode + count (NB cells 103,105)
def explode_count(
    df: DataFrame, col: str, pattern: str = ",\\s*", k: int | None = 10
) -> DataFrame:
    """Split a comma-joined multi-value column, explode, count values.
    The split/explode is codegen'd; the count is a partial-agg shuffle
    keyed by item — cardinality(item) keys, not cardinality(rows).
    """
    items = df.select(
        F.explode(F.split(F.col(col), pattern)).alias("item")
    ).filter(F.col("item") != "")
    out = items.groupBy("item").agg(F.count(F.lit(1)).alias("count")).orderBy(
        F.col("count").desc(), F.col("item").asc()
    )
    return out.limit(k) if k else out


# --- A9: pairwise co-occurrence (NB cells 109,112)
def cooccurrence(
    df: DataFrame,
    id_col: str,
    col: str,
    pattern: str = ",\\s*",
    k: int | None = 20,
) -> DataFrame:
    """Market-basket pair counts: explode items per row, self-join on
    the row id with ``a < b`` (each unordered pair once), count pairs.
    The reference materializes C(n,2) per row in Python; here the pair
    expansion happens inside a hash join keyed by row id — distributed
    and spill-safe. Skew note: a row with a huge item list explodes
    quadratically; cap list size upstream if the corpus has such rows.
    """
    items = (
        df.select(F.col(id_col).alias("__rid"), F.explode(F.split(F.col(col), pattern)).alias("item"))
        .filter(F.col("item") != "")
        .dropDuplicates(["__rid", "item"])
    )
    a, b = items.alias("a"), items.alias("b")
    pairs = a.join(b, on="__rid").filter(F.col("a.item") < F.col("b.item"))
    out = (
        pairs.groupBy(F.col("a.item").alias("item_a"), F.col("b.item").alias("item_b"))
        .agg(F.count(F.lit(1)).alias("count"))
        .orderBy(F.col("count").desc(), F.col("item_a").asc(), F.col("item_b").asc())
    )
    return out.limit(k) if k else out


# --- A10: histogram binning (NB cells 92,153)
def histogram(df: DataFrame, col: str, bin_width: float, origin: float = 0.0) -> DataFrame:
    """Fixed-width binning as an aggregation (one shuffle keyed by bin)."""
    bin_col = (F.floor((F.col(col) - F.lit(origin)) / F.lit(bin_width)) * F.lit(bin_width) + F.lit(origin)).alias("bin")
    return df.select(bin_col).groupBy("bin").agg(F.count(F.lit(1)).alias("count")).orderBy("bin")


# --- A11: degree distribution + CCDF (NB cell 87)
def degree_distribution(df: DataFrame, key: str) -> DataFrame:
    """P(k) and CCDF(k) = P(K >= k). Two aggregations + one window; the
    window runs over the tiny (distinct-degree-count) frame, so the
    unpartitioned orderBy window is safe at any data scale.
    """
    deg = degree(df, key)
    dist = deg.groupBy("degree").agg(F.count(F.lit(1)).alias("n"))
    total = Window.partitionBy()
    w = Window.orderBy("degree").rowsBetween(Window.unboundedPreceding, -1)
    return (
        dist.withColumn("pdf", F.col("n") / F.sum("n").over(total))
        .withColumn("ccdf", F.lit(1.0) - F.coalesce(F.sum("pdf").over(w), F.lit(0.0)))
        .select("degree", "n", "pdf", "ccdf")
        .orderBy("degree")
    )


# --- A12: power-law exponent MLE (NB cell 89; Clauset et al. 2009)
def powerlaw_gamma(df: DataFrame, key: str, k_min: int = 100) -> DataFrame:
    """gamma = 1 + n / sum(log(k_i / (k_min - 0.5))) over k_i >= k_min.
    Pure aggregate expression — no collect, no UDF.
    """
    deg = degree(df, key)
    return (
        deg.filter(F.col("degree") >= k_min)
        .agg(
            (
                F.lit(1.0)
                + F.count(F.lit(1))
                / F.sum(F.log(F.col("degree") / F.lit(k_min - 0.5)))
            ).alias("gamma"),
            F.count(F.lit(1)).alias("n_tail"),
        )
    )


# --- A13/A14: imputation statistics (transformer.py:345-346; data_processor.py:122-131)
def impute_mean(df: DataFrame, col: str) -> DataFrame:
    """coalesce(col, mean(col)) without collect: aggregate to a 1-row
    frame and cross-join it (Catalyst broadcasts single-row frames)."""
    stats = df.agg(F.avg(F.col(col)).alias("__mean"))
    return df.crossJoin(F.broadcast(stats)).withColumn(
        col, F.coalesce(F.col(col), F.col("__mean"))
    ).drop("__mean")


def year_norm_stats(df: DataFrame, col: str) -> DataFrame:
    return df.agg(
        F.min(col).alias("y_min"),
        F.max(col).alias("y_max"),
        F.percentile_approx(col, 0.5).alias("y_median"),
    )


# --- A17/G8: in-degree / total (undirected) degree
def in_degree(edges: DataFrame, dst: str = "dst") -> DataFrame:
    return edges.groupBy(F.col(dst).alias("id")).agg(F.count(F.lit(1)).alias("in_degree"))


def total_degree(edges: DataFrame, src: str = "src", dst: str = "dst") -> DataFrame:
    """Undirected degree: union endpoint columns, count. One shuffle."""
    ends = edges.select(F.col(src).alias("id")).unionAll(edges.select(F.col(dst).alias("id")))
    return ends.groupBy("id").agg(F.count(F.lit(1)).alias("degree"))


def cms_build(
    df: DataFrame,
    key_col: str,
    depth: int = 4,
    width: int = 1024,
) -> DataFrame:
    """Count-min sketch (Cormode & Muthukrishnan 2005) counter table:
    (r, b, cnt) for r in [0, depth), b = hash_r(key) mod width. One
    explode + one aggregation; per-partition counter tables merge by
    plain addition (groupBy sums), which is what makes the sketch the
    frequency-estimation member of the mergeable trio here (HLL =
    cardinality, fixed-grid histogram = quantiles, CMS = frequency).
    The hash family is the oracle-replayable md5 hash60, salted per
    row — estimates are deterministic across engines and runs."""
    from social_link_prediction_spark.ml.linksplit import hash60

    pairs = F.array(
        *[
            F.struct(
                F.lit(i).alias("r"),
                F.pmod(
                    hash60(F.col(key_col).cast("string"), F.lit(f"cms{i}")),
                    F.lit(width),
                ).alias("b"),
            )
            for i in range(depth)
        ]
    )
    return (
        df.select(F.explode(pairs).alias("p"))
        .select("p.r", "p.b")
        .groupBy("r", "b")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def cms_estimate(
    cms: DataFrame,
    keys: DataFrame,
    key_col: str,
    depth: int = 4,
    width: int = 1024,
) -> DataFrame:
    """Point-estimate key frequencies from a CMS counter table:
    est(key) = min over rows of counter[r, hash_r(key) mod width]
    (0 when the bucket is empty). Never underestimates; collisions
    only inflate. The keys side is the (small) candidate set — typical
    use pairs an exact top-k over a sample with CMS estimates over the
    full corpus. Broadcast of the candidate buckets, one join keyed on
    (r, b), one min-aggregation."""
    from social_link_prediction_spark.ml.linksplit import hash60

    pairs = F.array(
        *[
            F.struct(
                F.lit(i).alias("r"),
                F.pmod(
                    hash60(F.col(key_col).cast("string"), F.lit(f"cms{i}")),
                    F.lit(width),
                ).alias("b"),
            )
            for i in range(depth)
        ]
    )
    kb = keys.select(key_col, F.explode(pairs).alias("p")).select(
        key_col, "p.r", "p.b"
    )
    return (
        kb.join(cms, ["r", "b"], "left")
        .groupBy(key_col)
        .agg(F.min(F.coalesce("cnt", F.lit(0))).alias("cms_estimate"))
    )


# --- KMV (k-minimum-values) distinct sketch: the set-operation member
# of the mergeable-sketch family (HLL = cardinality-union only,
# fixed-grid histogram = quantiles, CMS = frequency, KMV = cardinality
# WITH intersection). Bar-Yossef et al. 2002 (distinct elements in a
# stream); Beyer et al. 2007 (set operations on KMV synopses).
def kmv_sketch(
    df: DataFrame,
    key_col: str,
    k: int = 64,
    group_cols: Sequence[str] = (),
) -> DataFrame:
    """Per-group KMV sketch: the ``k`` smallest distinct 60-bit md5
    hashes of ``key_col`` — returned as (group_cols..., h) rows. The
    hash is the oracle-replayable ``hash60`` family, so sketches (and
    every estimate derived from them) are identical across engines
    and runs. Duplicates collapse BEFORE the rank (a distinct on
    (group, h) with map-side partial aggregation), so the rank input
    is one row per distinct key. The grouped path pays one per-group
    window rank on the deduped hashes; the global path is a
    TakeOrdered k-heap (no single-partition sort of the key space).

    The sketch IS the mergeable state: ``kmv_union`` re-ranks the
    union of hash sets, and membership of union-sketch hashes in the
    per-set sketches is EXACT (h in the union sketch means h <=
    kth-min(A ∪ B) <= kth-min(A), so any h ∈ A is inside A's
    sketch) — which is what makes intersection estimation possible,
    unlike HLL where only union merges losslessly."""
    from social_link_prediction_spark.ml.linksplit import hash60

    gcols = list(group_cols)
    dh = df.select(
        *gcols, hash60(F.col(key_col).cast("string"), F.lit("kmv")).alias("h")
    ).dropDuplicates()
    if not gcols:
        return dh.orderBy("h").limit(k)
    w = Window.partitionBy(*gcols).orderBy("h")
    return (
        dh.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= k)
        .select(*gcols, "h")
    )


def kmv_union(*sketches: DataFrame, k: int = 64) -> DataFrame:
    """Union-merge KMV sketches (hash frames with an ``h`` column):
    distinct union of the hash sets, keep the k smallest. Associative
    and lossless — sketch(A ∪ B) == union(sketch(A), sketch(B)) — the
    property test pins this merge law."""
    out = sketches[0].select("h")
    for s in sketches[1:]:
        out = out.unionAll(s.select("h"))
    return out.dropDuplicates().orderBy("h").limit(k)


def kmv_estimate(
    sketch: DataFrame, k: int, group_cols: Sequence[str] = ()
) -> DataFrame:
    """Distinct-count estimate from a KMV sketch: exact (= sketch
    size) when the sketch is not full, else the unbiased estimator
    (k-1) * 2^60 / kth_min. Returns (group_cols..., kmv_n, kmv_est):
    the sketch size rides along because set-operation estimates
    (intersection via Jaccard) need the denominator |K|."""
    gcols = list(group_cols)
    agg = [F.count(F.lit(1)).alias("kmv_n"), F.max("h").alias("__m")]
    g = sketch.groupBy(*gcols).agg(*agg) if gcols else sketch.agg(*agg)
    est = F.when(F.col("kmv_n") < k, F.col("kmv_n").cast("double")).otherwise(
        F.lit(float((k - 1) * (1 << 60))) / F.col("__m")
    )
    return g.select(*gcols, "kmv_n", F.round(est, 4).alias("kmv_est"))


def concentration_stats(
    df: DataFrame, value_col: str, key_col: str
) -> DataFrame:
    """Exact Gini coefficient + top-decile share of a per-key value
    distribution: G = 2*sum(i*x_i)/(n*sum x) - (n+1)/n over x sorted
    ascending (key tie-break makes the rank — and therefore the
    statistic under ties — deterministic). The two row_number windows
    are global but run over the per-key ROLLUP the caller passes in,
    never the fact table; output is one row (n, total, gini,
    top_decile_share). Negative values are rejected — the Lorenz
    construction is undefined for them."""
    w_asc = Window.orderBy(F.col(value_col).asc(), F.col(key_col).asc())
    w_desc = Window.orderBy(F.col(value_col).desc(), F.col(key_col).asc())
    ranked = df.select(
        F.col(key_col).alias("k"),
        F.col(value_col).alias("x"),
        F.row_number().over(w_asc).alias("rk"),
        F.row_number().over(w_desc).alias("rk_desc"),
        F.count(F.lit(1)).over(Window.partitionBy()).alias("n"),
    )
    return ranked.agg(
        F.count(F.lit(1)).alias("n_keys"),
        F.round(F.sum("x"), 2).alias("total"),
        F.round(
            F.lit(2.0) * F.sum(F.col("rk") * F.col("x"))
            / (F.count(F.lit(1)) * F.sum("x"))
            - (F.count(F.lit(1)) + F.lit(1.0)) / F.count(F.lit(1)),
            6,
        ).alias("gini"),
        F.round(
            F.sum(
                F.when(
                    F.col("rk_desc") <= F.floor(F.col("n") / 10), F.col("x")
                ).otherwise(F.lit(0.0))
            )
            / F.sum("x"),
            6,
        ).alias("top_decile_share"),
    )
