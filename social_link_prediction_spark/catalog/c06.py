"""Catalog part 6/7: blocking + audits + optimizer-analytics tail (sorted-neighborhood,
heavy-hitter merges, SimRank, Selinger join order, ridge CV, fraud audits).

Imports the shared core from ``_base`` and the helpers it reuses from
earlier family modules; see catalog/__init__.py.
"""
from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from social_link_prediction_spark.catalog._base import _DUCK_H60, _t, query
from social_link_prediction_spark.catalog.c02 import _AS_ERF, _III_HUB_CAP
from social_link_prediction_spark.catalog.c05 import _duck_taildep_sql
from social_link_prediction_spark.graph import testgraph as tg
from social_link_prediction_spark.operators import stats as st
from social_link_prediction_spark.operators import windows as win
from social_link_prediction_spark.pipelines import similarity as sim


@query("tail_dependence_qty_price", _duck_taildep_sql())
def tail_dependence_qty_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Empirical tail-dependence coefficients between line quantity
    and extended price at u in {0.90, 0.95}: lambda_U = P(Y > q_Y(u)
    | X > q_X(u)) and the lower-tail mirror — the copula-level
    association measure that Pearson/Spearman/Kendall all miss
    (two variables can be uncorrelated yet crash together; tail
    dependence is what risk aggregation actually cares about).
    Under independence lambda -> 1-u; values far above mark joint
    extremes. Exactness: thresholds are exact type-1 order
    statistics located on the distinct-value CDF frames (the QTE
    device — integer ranks ceil(u*n) via floor-division), and every
    exceedance count is an exact integer, so each lambda is one
    int-ratio double. Shape: two distinct-value CDF frames via
    bucketed_prefix_sums (range-bucketed parallel prefix sums —
    distinct price-cents values grow with the corpus, so the global
    ordered window these frames used pre-r8 was a one-task sort at
    100 TB; VERDICT r7 item 2) + ONE conditional-aggregation scan
    with the 8 thresholds broadcast."""
    li = _t(spark, sf_dir, "lineitem")
    v = li.select(
        F.round("l_quantity").cast("long").alias("x"),
        F.round(F.col("l_extendedprice") * 100).cast("long").alias("y"),
    )
    nn = v.agg(F.count(F.lit(1)).cast("long").alias("n"))
    rk = nn.select(
        "n",
        F.expr("(9 * n + 9) div 10").alias("r90u"),
        F.expr("(19 * n + 19) div 20").alias("r95u"),
        F.expr("(n + 9) div 10").alias("r90l"),
        F.expr("(n + 19) div 20").alias("r95l"),
    )

    def _cdf(col: str) -> DataFrame:
        dv = v.groupBy(F.col(col).alias("val")).agg(
            F.count(F.lit(1)).cast("long").alias("c")
        )
        # inclusive prefix via the bucketed device (no global window);
        # the exclusive prefix is just cum - c — one frame, no second
        # ordered pass.
        cs = st.bucketed_prefix_sums(dv, "val", ["c"], n_buckets=32)
        return cs.select(
            "val",
            F.col("cum_c").cast("long").alias("cum"),
            (F.col("cum_c") - F.col("c")).cast("long").alias("prev"),
        )

    def _q(cdf: DataFrame, rank_col: str, out: str) -> DataFrame:
        return (
            cdf.crossJoin(F.broadcast(rk))
            .filter(
                (F.col("cum") >= F.col(rank_col))
                & (F.col("prev") < F.col(rank_col))
            )
            .agg(F.min("val").alias(out))
        )

    cx, cy = _cdf("x"), _cdf("y")
    thr = (
        _q(cx, "r90u", "qx90u")
        .crossJoin(_q(cx, "r95u", "qx95u"))
        .crossJoin(_q(cx, "r90l", "qx90l"))
        .crossJoin(_q(cx, "r95l", "qx95l"))
        .crossJoin(_q(cy, "r90u", "qy90u"))
        .crossJoin(_q(cy, "r95u", "qy95u"))
        .crossJoin(_q(cy, "r90l", "qy90l"))
        .crossJoin(_q(cy, "r95l", "qy95l"))
    )
    c = v.crossJoin(F.broadcast(thr)).agg(
        F.sum(F.when(F.col("x") > F.col("qx90u"), 1).otherwise(0))
        .cast("long").alias("nx90u"),
        F.sum(
            F.when(
                (F.col("x") > F.col("qx90u")) & (F.col("y") > F.col("qy90u")),
                1,
            ).otherwise(0)
        ).cast("long").alias("nj90u"),
        F.sum(F.when(F.col("x") <= F.col("qx90l"), 1).otherwise(0))
        .cast("long").alias("nx90l"),
        F.sum(
            F.when(
                (F.col("x") <= F.col("qx90l"))
                & (F.col("y") <= F.col("qy90l")),
                1,
            ).otherwise(0)
        ).cast("long").alias("nj90l"),
        F.sum(F.when(F.col("x") > F.col("qx95u"), 1).otherwise(0))
        .cast("long").alias("nx95u"),
        F.sum(
            F.when(
                (F.col("x") > F.col("qx95u")) & (F.col("y") > F.col("qy95u")),
                1,
            ).otherwise(0)
        ).cast("long").alias("nj95u"),
        F.sum(F.when(F.col("x") <= F.col("qx95l"), 1).otherwise(0))
        .cast("long").alias("nx95l"),
        F.sum(
            F.when(
                (F.col("x") <= F.col("qx95l"))
                & (F.col("y") <= F.col("qy95l")),
                1,
            ).otherwise(0)
        ).cast("long").alias("nj95l"),
    )
    rows = []
    for lvl in (90, 95):
        rows.append(
            F.struct(
                F.lit(lvl).cast("long").alias("u_pct"),
                F.col(f"nx{lvl}u").alias("n_x_upper"),
                F.col(f"nj{lvl}u").alias("n_joint_upper"),
                F.round(
                    F.col(f"nj{lvl}u").cast("double") / F.col(f"nx{lvl}u"),
                    6,
                ).alias("lambda_upper"),
                F.col(f"nx{lvl}l").alias("n_x_lower"),
                F.col(f"nj{lvl}l").alias("n_joint_lower"),
                F.round(
                    F.col(f"nj{lvl}l").cast("double") / F.col(f"nx{lvl}l"),
                    6,
                ).alias("lambda_lower"),
            )
        )
    return (
        c.select(F.explode(F.array(*rows)).alias("s"))
        .select("s.*")
        .orderBy("u_pct")
    )


def _duck_snblock_sql() -> str:
    key = (
        "lower(p_name) || '|' || p_brand || '|' || lower(p_type)"
        " || '|' || lpad(CAST(p_size AS VARCHAR), 2, '0')"
    )
    return f"""
    WITH pk AS (
        SELECT p_partkey AS pk, {key} AS k FROM part),
    srt AS (
        SELECT pk, k,
               CAST(row_number() OVER (ORDER BY k, pk) AS BIGINT) AS rn
        FROM pk),
    sn AS (
        SELECT DISTINCT least(a.pk, b.pk) AS pa, greatest(a.pk, b.pk) AS pb
        FROM srt a JOIN srt b
          ON b.rn BETWEEN a.rn + 1 AND a.rn + 4),
    g AS (
        SELECT DISTINCT pk,
               unnest([substr(k, i, 3)
                       for i in range(1, greatest(length(k) - 2, 0) + 1)])
                   AS gram
        FROM pk),
    gc AS (SELECT pk, CAST(count(*) AS BIGINT) AS ng FROM g GROUP BY 1),
    blkkey AS (
        SELECT p_partkey AS pk,
               lower(p_name) || '|' || p_brand AS bk
        FROM part),
    okblk AS (
        SELECT bk FROM blkkey GROUP BY bk HAVING count(*) <= 200),
    inv AS (
        SELECT DISTINCT a.pk AS pa, b.pk AS pb
        FROM blkkey a JOIN blkkey b ON a.bk = b.bk AND a.pk < b.pk
        WHERE a.bk IN (SELECT bk FROM okblk)),
    cand AS (
        SELECT pa, pb,
               CAST(max(s) AS BIGINT) AS is_sn,
               CAST(max(i) AS BIGINT) AS is_inv
        FROM (SELECT pa, pb, 1 AS s, 0 AS i FROM sn
              UNION ALL
              SELECT pa, pb, 0 AS s, 1 AS i FROM inv)
        GROUP BY 1, 2),
    inter AS (
        SELECT c.pa, c.pb, CAST(count(*) AS BIGINT) AS ninter
        FROM cand c
        JOIN g ga ON ga.pk = c.pa
        JOIN g gb ON gb.pk = c.pb AND gb.gram = ga.gram
        GROUP BY 1, 2),
    scored AS (
        SELECT c.pa, c.pb, c.is_sn, c.is_inv,
               CASE WHEN 5 * coalesce(i.ninter, 0)
                         >= 3 * (na.ng + nb.ng - coalesce(i.ninter, 0))
                    THEN 1 ELSE 0 END AS is_match
        FROM cand c
        LEFT JOIN inter i ON i.pa = c.pa AND i.pb = c.pb
        JOIN gc na ON na.pk = c.pa
        JOIN gc nb ON nb.pk = c.pb),
    agg AS (
        SELECT CAST(sum(is_sn) AS BIGINT) AS sn_candidates,
               CAST(sum(is_inv) AS BIGINT) AS block_candidates,
               CAST(sum(is_sn * is_inv) AS BIGINT) AS overlap_candidates,
               CAST(sum(is_sn * is_match) AS BIGINT) AS sn_matches,
               CAST(sum(is_inv * is_match) AS BIGINT) AS block_matches,
               CAST(sum(is_match) AS BIGINT) AS union_matches
        FROM scored)
    SELECT (SELECT CAST(count(*) AS BIGINT) FROM pk) AS n_parts,
           sn_candidates, block_candidates, overlap_candidates,
           sn_matches, block_matches, union_matches,
           CASE WHEN union_matches = 0 THEN NULL
                ELSE round(CAST(sn_matches AS DOUBLE) / union_matches, 6)
           END AS pair_completeness_sn,
           CASE WHEN union_matches = 0 THEN NULL
                ELSE round(CAST(block_matches AS DOUBLE) / union_matches, 6)
           END AS pair_completeness_block
    FROM agg
    """


@query("sorted_neighborhood_blocking", _duck_snblock_sql())
def sorted_neighborhood_blocking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity-resolution BLOCKING audit: Sorted Neighborhood
    (Hernandez & Stolfo 1995; sort records by a composite key, pair
    every record with its w=4 successors) head-to-head against
    classic standard blocking (pairs sharing the (name, brand)
    blocking key, oversize blocks > 200 skipped — the stop-block
    cap), the two standard ways to avoid the N^2 compare in record
    linkage. Reports candidate
    counts, their overlap, and PAIR COMPLETENESS (matches found /
    union of matches found, match = 3-gram Jaccard >= 0.6 checked by
    exact integer cross-multiplication 5*inter >= 3*union). Scale
    shape: the engine's sort-rank is BUCKETED (first-key-char
    partitions + broadcast cumulative offsets — bucket prefix =
    contiguous global order, the bucketed_prefix_sums discipline for
    a string axis; the oracle runs the plain global row_number and
    the green hash proves the decomposition); neighbor pairing is an
    equi-join on rank+d, never a sort-order window over the corpus.
    Fellegi-Sunter (fellegi_sunter_em) scores pairs AFTER a blocker
    like this; this query is the recall/cost audit OF the blocker."""
    p = _t(spark, sf_dir, "part")
    key = F.concat_ws(
        "|",
        F.lower("p_name"),
        F.col("p_brand"),
        F.lower("p_type"),
        F.lpad(F.col("p_size").cast("string"), 2, "0"),
    )
    pk = p.select(F.col("p_partkey").alias("pk"), key.alias("k"))
    bk = pk.withColumn("bkt", F.substring("k", 1, 1))
    wb = Window.partitionBy("bkt").orderBy("k", "pk")
    within = bk.withColumn("rw", F.row_number().over(wb).cast("long"))
    sizes = bk.groupBy("bkt").agg(F.count(F.lit(1)).cast("long").alias("sz"))
    wo = Window.orderBy("bkt").rowsBetween(Window.unboundedPreceding, -1)
    offs = sizes.select(
        "bkt", F.coalesce(F.sum("sz").over(wo), F.lit(0)).cast("long").alias("off")
    )
    srt = within.join(F.broadcast(offs), "bkt").select(
        "pk", "k", (F.col("off") + F.col("rw")).alias("rn")
    )
    d4 = srt.select(
        "pk", "rn", F.explode(F.array(*[F.lit(i) for i in range(1, 5)])).alias("d")
    ).select("pk", (F.col("rn") + F.col("d")).alias("rn2"))
    sn = (
        d4.join(
            srt.select(F.col("pk").alias("pk2"), F.col("rn").alias("rn2")),
            "rn2",
        )
        .select(
            F.least("pk", "pk2").alias("pa"),
            F.greatest("pk", "pk2").alias("pb"),
        )
        .distinct()
    )
    g = pk.select(
        "pk",
        F.explode(
            F.array_distinct(
                F.expr(
                    "transform(sequence(1, greatest(length(k) - 2, 0)),"
                    " i -> substring(k, i, 3))"
                )
            )
        ).alias("gram"),
    )
    gc = g.groupBy("pk").agg(F.count(F.lit(1)).cast("long").alias("ng"))
    blkkey = p.select(
        F.col("p_partkey").alias("pk"),
        F.concat_ws("|", F.lower("p_name"), F.col("p_brand")).alias("bk"),
    )
    okblk = blkkey.groupBy("bk").agg(
        F.count(F.lit(1)).alias("bsz")
    ).filter(F.col("bsz") <= 200).select("bk")
    bkr = blkkey.join(okblk, "bk")
    inv = (
        bkr.select("bk", F.col("pk").alias("pa"))
        .join(bkr.select("bk", F.col("pk").alias("pb")), "bk")
        .filter(F.col("pa") < F.col("pb"))
        .select("pa", "pb")
        .distinct()
    )
    cand = (
        sn.select("pa", "pb", F.lit(1).alias("s"), F.lit(0).alias("i"))
        .unionAll(
            inv.select("pa", "pb", F.lit(0).alias("s"), F.lit(1).alias("i"))
        )
        .groupBy("pa", "pb")
        .agg(
            F.max("s").cast("long").alias("is_sn"),
            F.max("i").cast("long").alias("is_inv"),
        )
    )
    ga = g.select(F.col("pk").alias("pa"), "gram")
    gb = g.select(F.col("pk").alias("pb2"), F.col("gram").alias("gramb"))
    j = cand.select("pa", "pb").join(ga, "pa")
    inter = (
        j.join(
            gb,
            (j["pb"] == gb["pb2"]) & (j["gram"] == gb["gramb"]),
        )
        .groupBy("pa", "pb")
        .agg(F.count(F.lit(1)).cast("long").alias("ninter"))
    )
    scored = (
        cand.join(inter, ["pa", "pb"], "left")
        .join(gc.select(F.col("pk").alias("pa"), F.col("ng").alias("na")), "pa")
        .join(gc.select(F.col("pk").alias("pb"), F.col("ng").alias("nb")), "pb")
        .select(
            "is_sn", "is_inv",
            F.when(
                5 * F.coalesce(F.col("ninter"), F.lit(0))
                >= 3
                * (
                    F.col("na")
                    + F.col("nb")
                    - F.coalesce(F.col("ninter"), F.lit(0))
                ),
                1,
            ).otherwise(0).cast("long").alias("is_match"),
        )
    )
    aggr = scored.agg(
        F.sum("is_sn").cast("long").alias("sn_candidates"),
        F.sum("is_inv").cast("long").alias("block_candidates"),
        F.sum(F.col("is_sn") * F.col("is_inv"))
        .cast("long")
        .alias("overlap_candidates"),
        F.sum(F.col("is_sn") * F.col("is_match"))
        .cast("long")
        .alias("sn_matches"),
        F.sum(F.col("is_inv") * F.col("is_match"))
        .cast("long")
        .alias("block_matches"),
        F.sum("is_match").cast("long").alias("union_matches"),
    )
    npart = pk.agg(F.count(F.lit(1)).cast("long").alias("n_parts"))
    um = F.col("union_matches")
    return npart.crossJoin(aggr).select(
        "n_parts", "sn_candidates", "block_candidates",
        "overlap_candidates", "sn_matches", "block_matches",
        "union_matches",
        F.when(um == 0, F.lit(None).cast("double"))
        .otherwise(F.round(F.col("sn_matches").cast("double") / um, 6))
        .alias("pair_completeness_sn"),
        F.when(um == 0, F.lit(None).cast("double"))
        .otherwise(F.round(F.col("block_matches").cast("double") / um, 6))
        .alias("pair_completeness_block"),
    )


def _duck_mg_sql() -> str:
    shard = _DUCK_H60.format(args="CAST(doc_id AS VARCHAR), 'mg'")
    return f"""
    WITH tok AS (
        SELECT {shard} % 8 AS shard,
               unnest(string_split(text, ' ')) AS token
        FROM documents),
    tc AS (
        SELECT shard, token, CAST(count(*) AS BIGINT) AS c
        FROM tok WHERE token <> '' GROUP BY 1, 2),
    rn AS (
        SELECT shard, token, c,
               row_number() OVER (PARTITION BY shard
                                  ORDER BY c DESC, token) AS rr
        FROM tc),
    thr AS (
        SELECT shard,
               CAST(coalesce(max(CASE WHEN rr = 21 THEN c END), 0)
                    AS BIGINT) AS t
        FROM rn GROUP BY 1),
    summ AS (
        SELECT rn.shard, rn.token, rn.c - thr.t AS sc
        FROM rn JOIN thr ON thr.shard = rn.shard
        WHERE rn.rr <= 20 AND rn.c - thr.t > 0),
    merged AS (
        SELECT token, CAST(sum(sc) AS BIGINT) AS est
        FROM summ GROUP BY 1),
    bound AS (SELECT CAST(sum(t) AS BIGINT) AS b FROM thr),
    exact AS (
        SELECT token, CAST(sum(c) AS BIGINT) AS n_exact
        FROM tc GROUP BY 1)
    SELECT m.token, m.est, e.n_exact,
           e.n_exact - m.est AS err,
           (SELECT b FROM bound) AS err_bound,
           CAST(CASE WHEN e.n_exact - m.est BETWEEN 0
                          AND (SELECT b FROM bound)
                     THEN 1 ELSE 0 END AS BIGINT) AS within_bound
    FROM merged m JOIN exact e ON e.token = m.token
    ORDER BY m.est DESC, m.token
    LIMIT 10
    """


@query("heavy_hitter_merge_audit", _duck_mg_sql())
def heavy_hitter_merge_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable heavy-hitter summaries (the Misra-Gries / Space-
    Saving family in its order-free mergeable form, Agarwal et al.
    2013): each of 8 hash-deterministic document shards keeps only
    its top-20 tokens with counts TRUNCATED by the shard's 21st
    count (the canonical MG summary of a multiset); summaries merge
    by plain addition. The audit recomputes exact corpus counts and
    CHECKS the two-sided guarantee — est <= exact always, and
    exact - est <= sum of shard thresholds — rather than assuming
    it. This is the 100 TB top-k shape when the token domain itself
    doesn't fit anywhere: per-shard state is O(k), merge is
    associative, and the worst-case error is known BEFORE looking at
    the data. All arithmetic is exact integers."""
    from social_link_prediction_spark.ml.linksplit import hash60

    docs = _t(spark, sf_dir, "documents")
    tok = docs.select(
        (hash60(F.col("doc_id").cast("string"), F.lit("mg")) % 8).alias(
            "shard"
        ),
        F.explode(F.split("text", " ")).alias("token"),
    ).filter(F.col("token") != "")
    tc = tok.groupBy("shard", "token").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    wr = Window.partitionBy("shard").orderBy(F.desc("c"), "token")
    rn = tc.withColumn("rr", F.row_number().over(wr))
    thr = rn.groupBy("shard").agg(
        F.coalesce(F.max(F.when(F.col("rr") == 21, F.col("c"))), F.lit(0))
        .cast("long")
        .alias("t")
    )
    summ = (
        rn.filter(F.col("rr") <= 20)
        .join(F.broadcast(thr), "shard")
        .select("token", (F.col("c") - F.col("t")).alias("sc"))
        .filter(F.col("sc") > 0)
    )
    merged = summ.groupBy("token").agg(
        F.sum("sc").cast("long").alias("est")
    )
    bound = thr.agg(F.sum("t").cast("long").alias("err_bound"))
    exact = tc.groupBy("token").agg(
        F.sum("c").cast("long").alias("n_exact")
    )
    return (
        merged.join(exact, "token")
        .crossJoin(F.broadcast(bound))
        .select(
            "token", "est", "n_exact",
            (F.col("n_exact") - F.col("est")).alias("err"),
            "err_bound",
            F.when(
                (F.col("n_exact") - F.col("est") >= 0)
                & (F.col("n_exact") - F.col("est") <= F.col("err_bound")),
                1,
            ).otherwise(0).cast("long").alias("within_bound"),
        )
        .orderBy(F.desc("est"), "token")
        .limit(10)
    )


def _duck_simrank_sql() -> str:
    edge_h = _DUCK_H60.format(
        args="CAST(src AS VARCHAR) || '-' || CAST(dst AS VARCHAR), 'smr'"
    )
    rounds = []
    for r in (1, 2, 3):
        rounds.append(f"""
    t{r} AS (
        SELECT ea.dst AS a, eb.dst AS b,
               sum(s{r - 1}.v ORDER BY ea.src, eb.src) AS sv
        FROM ind ea JOIN ind eb ON TRUE
        JOIN s{r - 1} ON s{r - 1}.a = ea.src AND s{r - 1}.b = eb.src
        GROUP BY 1, 2),
    s{r} AS (
        SELECT p.a, p.b,
               CASE WHEN p.a = p.b THEN 1e0
                    WHEN da.n IS NULL OR db.n IS NULL THEN 0e0
                    ELSE 0.8e0 / (da.n * db.n) * coalesce(t{r}.sv, 0e0)
               END AS v
        FROM pairs p
        LEFT JOIN t{r} ON t{r}.a = p.a AND t{r}.b = p.b
        LEFT JOIN indeg da ON da.id = p.a
        LEFT JOIN indeg db ON db.id = p.b)""")
    return f"""
    WITH s AS (SELECT s_suppkey::BIGINT AS id FROM supplier),
    e AS MATERIALIZED (
        SELECT a.id AS src, b.id AS dst FROM s a JOIN s b ON a.id <> b.id
        WHERE {edge_h} % 10000 < 250),
    deg AS (
        SELECT id, CAST(count(*) AS BIGINT) AS d FROM (
            SELECT src AS id FROM e UNION ALL SELECT dst FROM e)
        GROUP BY 1),
    panel AS (
        SELECT id FROM (
            SELECT id, row_number() OVER (ORDER BY d DESC, id) AS rr
            FROM deg) WHERE rr <= 32),
    ind AS (
        SELECT e.src, e.dst FROM e
        WHERE e.src IN (SELECT id FROM panel)
          AND e.dst IN (SELECT id FROM panel)),
    indeg AS (
        SELECT dst AS id, CAST(count(*) AS BIGINT) AS n
        FROM ind GROUP BY 1),
    pairs AS (
        SELECT a.id AS a, b.id AS b FROM panel a JOIN panel b ON TRUE),
    s0 AS (
        SELECT a, b, CASE WHEN a = b THEN 1e0 ELSE 0e0 END AS v
        FROM pairs),{",".join(rounds)}
    SELECT a, b, round(v, 6) AS simrank
    FROM s3 WHERE a < b
    ORDER BY simrank DESC, a, b
    LIMIT 15
    """


@query("simrank_panel_suppliers", _duck_simrank_sql())
def simrank_panel_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimRank (Jeh & Widom 2002), C = 0.8, 3 unrolled rounds, on the
    induced subgraph of the 32 highest-degree nodes of the 2.5%
    hash-sampled directed supplier graph (seed 'smr'): two nodes are
    similar when their IN-neighbors are similar — the recursive
    structural-similarity notion that closes the neighborhood-
    similarity family (linkpred's common-neighbor scores are its
    depth-1 shadow; SCAN's sigma is its degree-normalized cousin).
    SimRank's state is inherently O(V^2) pairs with an
    indeg(a)*indeg(b) fan-in per pair per round — the honest scale
    shape is exactly this hub-panel restriction (or the Monte-Carlo
    random-walk estimator); the panel keeps every round a bounded
    1024-pair frame at any corpus size. Exactness: the only cross-
    row double reduction (the pair fan-in sum) is an EXPLICIT
    (i, j)-ordered fold on both engines; everything else is fixed-
    order scalar arithmetic on exact integer in-degrees."""
    sup = _t(spark, sf_dir, "supplier").select(
        F.col("s_suppkey").cast("long").alias("id")
    )
    e = tg.sampled_edges(sup, 250, "smr", directed=True)
    deg = (
        e.select(F.col("src").alias("id"))
        .unionAll(e.select(F.col("dst").alias("id")))
        .groupBy("id")
        .agg(F.count(F.lit(1)).cast("long").alias("d"))
    )
    # top-32 hub panel via TakeOrderedAndProject — no global window
    # over the node-sized degree frame (r8 lint)
    panel = deg.orderBy(F.desc("d"), "id").limit(32).select("id")
    ind = (
        e.join(F.broadcast(panel.select(F.col("id").alias("src"))), "src")
        .join(F.broadcast(panel.select(F.col("id").alias("dst"))), "dst")
        .select("src", "dst")
    )
    indeg = ind.groupBy(F.col("dst").alias("id")).agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    pairs = panel.select(F.col("id").alias("a")).crossJoin(
        panel.select(F.col("id").alias("b"))
    )
    s = pairs.withColumn(
        "v", F.when(F.col("a") == F.col("b"), 1e0).otherwise(0e0)
    )
    ea = ind.select(F.col("src").alias("i"), F.col("dst").alias("a"))
    eb = ind.select(F.col("src").alias("j"), F.col("dst").alias("b"))
    da = indeg.select(F.col("id").alias("a"), F.col("n").alias("na"))
    db = indeg.select(F.col("id").alias("b"), F.col("n").alias("nb"))
    for _ in range(3):
        sp = s.select(
            F.col("a").alias("i"), F.col("b").alias("j"), "v"
        )
        terms = (
            ea.join(eb, F.lit(True))
            .join(sp, ["i", "j"])
            .groupBy("a", "b")
            .agg(
                F.aggregate(
                    F.array_sort(F.collect_list(F.struct("i", "j", "v"))),
                    F.lit(0.0),
                    lambda acc, x: acc + x["v"],
                ).alias("sv")
            )
        )
        s = (
            pairs.join(terms, ["a", "b"], "left")
            .join(F.broadcast(da), "a", "left")
            .join(F.broadcast(db), "b", "left")
            .select(
                "a", "b",
                F.when(F.col("a") == F.col("b"), F.lit(1e0))
                .when(
                    F.col("na").isNull() | F.col("nb").isNull(), F.lit(0e0)
                )
                .otherwise(
                    F.lit(0.8)
                    / (F.col("na") * F.col("nb"))
                    * F.coalesce(F.col("sv"), F.lit(0e0))
                )
                .alias("v"),
            )
        ).localCheckpoint()
    return (
        s.filter(F.col("a") < F.col("b"))
        .select("a", "b", F.round("v", 6).alias("simrank"))
        .orderBy(F.desc("simrank"), "a", "b")
        .limit(15)
    )


@query(
    "dtw_click_purchase",
    """
    WITH RECURSIVE dc AS (
        SELECT CAST(ts AS DATE) AS day,
               CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
                    AS BIGINT) AS x,
               CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0
                        END) AS BIGINT) AS y
        FROM events GROUP BY 1),
    bounds AS (SELECT min(day) AS d0, max(day) AS d1 FROM dc),
    cal AS (
        SELECT CAST(unnest(generate_series(d0, d1, INTERVAL 1 DAY))
                    AS DATE) AS day
        FROM bounds),
    ser AS (
        SELECT c.day, coalesce(dc.x, 0) AS x, coalesce(dc.y, 0) AS y
        FROM cal c LEFT JOIN dc ON dc.day = c.day),
    vecs AS (
        SELECT list(x ORDER BY day) AS xv, list(y ORDER BY day) AS yv,
               CAST(count(*) AS BIGINT) AS n
        FROM ser),
    rec AS (
        SELECT CAST(1 AS BIGINT) AS m, [abs(xv[1] - yv[1])] AS dp
        FROM vecs
        UNION ALL
        SELECT r.m + 1,
               list_append(r.dp,
                   abs(v.xv[CAST((r.m) // v.n AS INTEGER) + 1]
                       - v.yv[CAST((r.m) % v.n AS INTEGER) + 1])
                   + CASE
                       WHEN (r.m) // v.n = 0
                            THEN r.dp[CAST(r.m AS INTEGER)]
                       WHEN (r.m) % v.n = 0
                            THEN r.dp[CAST(r.m + 1 - v.n AS INTEGER)]
                       ELSE least(
                           r.dp[CAST(r.m AS INTEGER)],
                           r.dp[CAST(r.m + 1 - v.n AS INTEGER)],
                           r.dp[CAST(r.m - v.n AS INTEGER)])
                     END)
        FROM rec r, vecs v WHERE r.m < v.n * v.n),
    fin AS (SELECT dp FROM rec ORDER BY m DESC LIMIT 1),
    lock AS (SELECT CAST(sum(abs(x - y)) AS BIGINT) AS lockstep FROM ser)
    SELECT (SELECT n FROM vecs) AS n_days,
           CAST(dp[CAST((SELECT n * n FROM vecs) AS INTEGER)] AS BIGINT)
               AS dtw_cost,
           (SELECT lockstep FROM lock) AS lockstep_cost,
           CASE WHEN (SELECT lockstep FROM lock) = 0 THEN NULL
                ELSE round(CAST(dp[CAST((SELECT n * n FROM vecs)
                                        AS INTEGER)] AS DOUBLE)
                           / (SELECT lockstep FROM lock), 6)
           END AS alignment_gain
    FROM fin
    """,
)
def dtw_click_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic Time Warping distance between the daily click and
    purchase count series (zero-filled calendar): the elastic-
    alignment distance that lets the purchase curve LAG the click
    curve non-uniformly — where crosscorr_purchase_click measures
    the best SINGLE lag, DTW pays only |x_i - y_j| along the cheapest
    monotone alignment path, and dtw/lockstep < 1 quantifies how
    much warping explains. Every DP cell is an exact INTEGER (L1
    costs over integer counts; min/plus recurrence), so there is no
    float hazard anywhere. The corpus collapses to the calendar-
    bounded day rollup; the O(n^2) table (n<=31 here) fills driver-
    side in Python ints — the IDENTICAL sequence the oracle's
    recursive CTE performs cell-by-cell in row-major order over a
    list-state DP tape (the holt_winters device)."""
    ev = _t(spark, sf_dir, "events")
    dc = ev.groupBy(F.to_date("ts").alias("day")).agg(
        F.sum(F.when(F.col("event_type") == "click", 1).otherwise(0))
        .cast("long")
        .alias("x"),
        F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
        .cast("long")
        .alias("y"),
    )
    bounds = dc.agg(F.min("day").alias("d0"), F.max("day").alias("d1"))
    cal = bounds.select(F.explode(F.sequence("d0", "d1")).alias("day"))
    ser = cal.join(dc, "day", "left").select(
        "day",
        F.coalesce("x", F.lit(0)).cast("long").alias("x"),
        F.coalesce("y", F.lit(0)).cast("long").alias("y"),
    )
    rows = ser.orderBy("day").collect()  # calendar-bounded (~30 rows)
    xs = [r["x"] for r in rows]
    ys = [r["y"] for r in rows]
    n = len(rows)
    big = None
    dp = [0] * (n * n)
    for m in range(n * n):
        r_, c_ = m // n, m % n
        cost = abs(xs[r_] - ys[c_])
        if r_ == 0 and c_ == 0:
            dp[m] = cost
        elif r_ == 0:
            dp[m] = cost + dp[m - 1]
        elif c_ == 0:
            dp[m] = cost + dp[m - n]
        else:
            dp[m] = cost + min(dp[m - 1], dp[m - n], dp[m - n - 1])
    dtw = dp[-1]
    lock = sum(abs(a - b) for a, b in zip(xs, ys))
    out = [(n, dtw, lock, round(dtw / lock, 6) if lock else big)]
    return spark.createDataFrame(
        out,
        "n_days bigint, dtw_cost bigint, lockstep_cost bigint, "
        "alignment_gain double",
    )


@query(
    "jensen_shannon_source_drift",
    """
    WITH tok AS (
        SELECT source, unnest(string_split(text, ' ')) AS t
        FROM documents),
    tok2 AS (SELECT source, t FROM tok WHERE t <> ''),
    corp AS (
        SELECT t, CAST(count(*) AS BIGINT) AS c
        FROM tok2 GROUP BY 1),
    top AS (
        SELECT t FROM (
            SELECT t, row_number() OVER (ORDER BY c DESC, t) AS rr
            FROM corp) WHERE rr <= 200),
    mapped AS (
        SELECT source,
               CASE WHEN t IN (SELECT t FROM top) THEN t
                    ELSE '~~other' END AS tk
        FROM tok2),
    sc AS (
        SELECT source, tk, CAST(count(*) AS BIGINT) AS c
        FROM mapped GROUP BY 1, 2),
    qc AS (
        SELECT tk, CAST(sum(c) AS BIGINT) AS c
        FROM sc GROUP BY 1),
    ns AS (
        SELECT source, CAST(sum(c) AS BIGINT) AS n
        FROM sc GROUP BY 1),
    nq AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM qc),
    grid AS (
        SELECT s.source, s.n AS ns, k.tk, k.c AS cq,
               coalesce(sc.c, 0) AS cs
        FROM ns s
        CROSS JOIN qc k
        LEFT JOIN sc ON sc.source = s.source AND sc.tk = k.tk),
    terms AS (
        SELECT source, ns, tk,
               CASE WHEN cs = 0 THEN 0e0
                    ELSE 0.5e0 * (CAST(cs AS DOUBLE) / ns)
                         * ln(2e0 * (CAST(cs AS DOUBLE) / ns)
                              / (CAST(cs AS DOUBLE) / ns
                                 + CAST(cq AS DOUBLE)
                                   / (SELECT n FROM nq)))
               END
               + 0.5e0 * (CAST(cq AS DOUBLE) / (SELECT n FROM nq))
                 * ln(2e0 * (CAST(cq AS DOUBLE) / (SELECT n FROM nq))
                      / (CAST(cs AS DOUBLE) / ns
                         + CAST(cq AS DOUBLE) / (SELECT n FROM nq)))
                   AS term
        FROM grid)
    SELECT source, max(ns) AS n_tokens,
           round(sum(term ORDER BY tk), 6) AS jsd_nats
    FROM terms
    GROUP BY source
    ORDER BY jsd_nats DESC, source
    """,
)
def jensen_shannon_source_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jensen-Shannon divergence of each source's token distribution
    from the corpus distribution over a bounded support (top-200
    corpus tokens + an OTHER bucket): the SYMMETRIC, always-finite
    drift measure that completes the divergence family — PSI needs
    binning choices, KL explodes on zero cells, JSD is bounded by
    ln 2 and defined for every source. The support restriction is
    the 100 TB move: probabilities stay exact integer ratios over a
    201-bucket broadcast frame regardless of vocabulary size, and
    per-source work is one (source, bucket) grid of ~20 x 201 rows.
    The only cross-bucket double reduction is an EXPLICIT
    token-ordered fold on both engines."""
    docs = _t(spark, sf_dir, "documents")
    tok = docs.select(
        "source", F.explode(F.split("text", " ")).alias("t")
    ).filter(F.col("t") != "")
    corp = tok.groupBy("t").agg(F.count(F.lit(1)).cast("long").alias("c"))
    # top-200 support via TakeOrderedAndProject — no global window
    # over the distinct-token frame (r8 lint)
    top = (
        corp.orderBy(F.desc("c"), "t")
        .limit(200)
        .select("t", F.lit(1).alias("in_top"))
    )
    mapped = tok.join(F.broadcast(top), "t", "left").select(
        "source",
        F.when(F.col("in_top").isNotNull(), F.col("t"))
        .otherwise(F.lit("~~other"))
        .alias("tk"),
    )
    sc = mapped.groupBy("source", "tk").agg(
        F.count(F.lit(1)).cast("long").alias("cs")
    )
    qc = sc.groupBy("tk").agg(F.sum("cs").cast("long").alias("cq"))
    ns = sc.groupBy("source").agg(F.sum("cs").cast("long").alias("ns"))
    nq = qc.agg(F.sum("cq").cast("long").alias("nq"))
    grid = (
        ns.crossJoin(F.broadcast(qc))
        .join(sc, ["source", "tk"], "left")
        .crossJoin(F.broadcast(nq))
        .select(
            "source", "ns", "tk", "cq",
            F.coalesce("cs", F.lit(0)).alias("cs"),
            "nq",
        )
    )
    p = F.col("cs").cast("double") / F.col("ns")
    q_ = F.col("cq").cast("double") / F.col("nq")
    term = (
        F.when(F.col("cs") == 0, F.lit(0e0)).otherwise(
            F.lit(0.5) * p * F.log(F.lit(2e0) * p / (p + q_))
        )
        + F.lit(0.5) * q_ * F.log(F.lit(2e0) * q_ / (p + q_))
    )
    terms = grid.select("source", "ns", "tk", term.alias("term"))
    return (
        terms.groupBy("source")
        .agg(
            F.max("ns").alias("n_tokens"),
            F.round(
                F.aggregate(
                    F.array_sort(F.collect_list(F.struct("tk", "term"))),
                    F.lit(0.0),
                    lambda acc, x: acc + x["term"],
                ),
                6,
            ).alias("jsd_nats"),
        )
        .orderBy(F.desc("jsd_nats"), "source")
    )


@query(
    "lad_regression_grid",
    f"""
    WITH v AS (
        SELECT CAST(round(l_quantity) AS BIGINT) AS x,
               CAST(round(l_extendedprice * 100) AS BIGINT) AS y,
               CASE WHEN {_DUCK_H60.format(
                   args="CAST(l_orderkey AS VARCHAR) || '-' ||"
                        " CAST(l_linenumber AS VARCHAR), 'ladg'")}
                    % 5 = 0 THEN 1 ELSE 0 END AS smp
        FROM lineitem),
    s AS (
        SELECT CAST(count(*) AS BIGINT) AS n,
               CAST(sum(x) AS BIGINT) AS sx,
               CAST(sum(y) AS BIGINT) AS sy,
               CAST(sum(x * x) AS BIGINT) AS sxx,
               CAST(sum(CAST(x AS HUGEINT) * y) AS HUGEINT) AS sxy
        FROM v),
    ctr AS (
        SELECT n, sx, sy, sxx,
               CAST(round((n * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * sy)
                          / (n * CAST(sxx AS DOUBLE)
                             - CAST(sx AS DOUBLE) * sx)) AS BIGINT)
                   AS bc
        FROM s),
    grid AS (
        SELECT c.bc + (k.k - 20) * greatest(1, c.bc // 20) AS b
        FROM ctr c, (SELECT unnest(generate_series(0, 40)) AS k) k),
    sres AS (
        SELECT g.b, v.y - g.b * v.x AS r
        FROM v CROSS JOIN grid g WHERE v.smp = 1),
    src_ AS (
        SELECT b, r, CAST(count(*) AS BIGINT) AS c
        FROM sres GROUP BY 1, 2),
    stot AS (SELECT b, CAST(sum(c) AS BIGINT) AS tn
             FROM src_ GROUP BY 1),
    scdf AS (
        SELECT b, r,
               CAST(sum(c) OVER (PARTITION BY b ORDER BY r) AS BIGINT)
                   AS cum,
               CAST(coalesce(sum(c) OVER (PARTITION BY b ORDER BY r
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                    0) AS BIGINT) AS prev,
               CAST(sum(r * c) OVER (PARTITION BY b ORDER BY r)
                    AS BIGINT) AS cums
        FROM src_),
    smed AS (
        SELECT c.b, min(c.r) AS medr
        FROM scdf c JOIN stot t ON t.b = c.b
        WHERE c.cum >= (t.tn + 1) // 2 AND c.prev < (t.tn + 1) // 2
        GROUP BY 1),
    satm AS (
        SELECT c.b, c.cum AS c_le, c.cums AS s_le, m.medr
        FROM scdf c JOIN smed m ON m.b = c.b AND m.medr = c.r),
    sloss AS (
        SELECT a.b, a.medr * (2 * a.c_le - t.tn)
               + (SELECT CAST(sum(r * c) AS BIGINT) FROM src_
                  WHERE src_.b = a.b) - 2 * a.s_le AS l1
        FROM satm a JOIN stot t ON t.b = a.b),
    pick AS (SELECT b FROM sloss ORDER BY l1, b LIMIT 1),
    two AS (
        SELECT (SELECT b FROM pick) AS b
        UNION SELECT (SELECT bc FROM ctr)),
    fres AS (
        SELECT t.b, v.y - t.b * v.x AS r
        FROM v CROSS JOIN two t),
    frc AS (
        SELECT b, r, CAST(count(*) AS BIGINT) AS c
        FROM fres GROUP BY 1, 2),
    ftot AS (SELECT b, CAST(sum(c) AS BIGINT) AS tn,
                    CAST(sum(r * c) AS BIGINT) AS s_tot
             FROM frc GROUP BY 1),
    fcdf AS (
        SELECT b, r,
               CAST(sum(c) OVER (PARTITION BY b ORDER BY r) AS BIGINT)
                   AS cum,
               CAST(coalesce(sum(c) OVER (PARTITION BY b ORDER BY r
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                    0) AS BIGINT) AS prev,
               CAST(sum(r * c) OVER (PARTITION BY b ORDER BY r)
                    AS BIGINT) AS cums
        FROM frc),
    fmed AS (
        SELECT c.b, min(c.r) AS medr
        FROM fcdf c JOIN ftot t ON t.b = c.b
        WHERE c.cum >= (t.tn + 1) // 2 AND c.prev < (t.tn + 1) // 2
        GROUP BY 1),
    fatm AS (
        SELECT c.b, c.cum AS c_le, c.cums AS s_le, m.medr
        FROM fcdf c JOIN fmed m ON m.b = c.b AND m.medr = c.r),
    floss AS (
        SELECT a.b, a.medr,
               a.medr * (2 * a.c_le - t.tn) + t.s_tot - 2 * a.s_le AS l1
        FROM fatm a JOIN ftot t ON t.b = a.b)
    SELECT ctr.n,
           round((ctr.n * CAST(s.sxy AS DOUBLE)
                  - CAST(ctr.sx AS DOUBLE) * ctr.sy)
                 / (ctr.n * CAST(ctr.sxx AS DOUBLE)
                    - CAST(ctr.sx AS DOUBLE) * ctr.sx) / 100e0, 4)
               AS ols_slope,
           round((SELECT b FROM pick) / 100e0, 2) AS lad_slope,
           round((SELECT medr FROM floss
                  WHERE floss.b = (SELECT b FROM pick)) / 100e0, 2)
               AS lad_intercept,
           round((SELECT l1 FROM floss
                  WHERE floss.b = (SELECT b FROM pick)) / 100e0, 2)
               AS lad_loss,
           round((SELECT l1 FROM floss
                  WHERE floss.b = ctr.bc) / 100e0, 2) AS center_loss
    FROM ctr, s
    """,
)
def lad_regression_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Median (LAD / quantile tau=0.5) regression of extended price on
    quantity by TWO-STAGE grid search: 41 integer-cent slopes
    centered on the rounded OLS slope are scored on a 20%
    hash-deterministic row sample (exact sample medians and L1
    losses from per-slope residual-CDF prefix sums), and the sample
    winner plus the OLS center are then evaluated EXACTLY on the
    full corpus — the reported intercept and loss are full-data
    exact. This is the honest 100 TB shape for grid-searched robust
    fits: the all-slopes fan-out touches only the sample (the
    original single-stage design fanned the full corpus out 41x and
    was the bench's slowest entry at sf0.1), while exactness is
    retained where it matters, in the final fit. Every statistic
    remains pure integer arithmetic (loss = med*(2 c_le - n) +
    s_tot - 2 s_le from one prefix pass). Laws in pytest: two-stage
    replica equality; the sample winner is optimal ON THE SAMPLE."""
    from social_link_prediction_spark.ml.linksplit import hash60

    li = _t(spark, sf_dir, "lineitem")
    # r10: round-robin the slim projection off the 1-3-task
    # single-row-group scan stage BEFORE the per-row md5, so the cache
    # build runs on all cores (the ridge/bootstrap lift, guide §2.5);
    # at cluster scale the scan splits provide the parallelism and
    # this exchange is noise.
    slim = li.select(
        "l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice"
    ).repartition(spark.sparkContext.defaultParallelism)
    v = slim.select(
        F.round("l_quantity").cast("long").alias("x"),
        F.round(F.col("l_extendedprice") * 100).cast("long").alias("y"),
        F.when(
            hash60(
                F.concat_ws(
                    "-",
                    F.col("l_orderkey").cast("string"),
                    F.col("l_linenumber").cast("string"),
                ),
                F.lit("ladg"),
            )
            % 5
            == 0,
            1,
        ).otherwise(0).alias("smp"),
    ).persist()
    s = v.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").cast("long").alias("sx"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"),
        F.sum(F.col("x").cast("decimal(30,0)") * F.col("y")).alias("sxy"),
    )
    ols = (
        F.col("n") * F.col("sxy").cast("double")
        - F.col("sx").cast("double") * F.col("sy")
    ) / (
        F.col("n") * F.col("sxx").cast("double")
        - F.col("sx").cast("double") * F.col("sx")
    )
    ctr = s.select(
        "n", "sx", "sy", "sxx", "sxy",
        F.round(ols).cast("long").alias("bc"),
    ).localCheckpoint()
    grid = ctr.select(
        F.explode(F.sequence(F.lit(0), F.lit(40))).alias("k"), "bc"
    ).select(
        (
            F.col("bc")
            + (F.col("k") - 20) * F.greatest(F.lit(1), F.expr("bc div 20"))
        ).alias("b")
    )

    # r9 perf: rc feeds FOUR consumers (cdf's window, tot's agg, med,
    # atm) whose projections differ, so Catalyst cannot ReusedExchange
    # them — unpinned, the ~|sample|x41 crossJoin+partial-agg map stage
    # ran four times. One localCheckpoint materializes it once. The
    # repartition before the 41x fan-out lifts the explode off the
    # handful of cached-v partitions onto the full core count (the
    # testdata parquet is one row group, so scan stages are ~1-3 tasks
    # at any SPARK_GRAFT_CPUS; at cluster scale the input splits
    # already provide the parallelism and the repartition of the small
    # sample is noise). Measured 1.34x med / 1.38x min interleaved A/B
    # at sf0.1; values bit-identical (oracle PASS both tiers).
    sp = spark.sparkContext.defaultParallelism

    def _loss_per_slope(
        rows: DataFrame, slopes: DataFrame, fan: bool = False
    ) -> DataFrame:
        if fan:
            rows = rows.repartition(sp)
        res = rows.crossJoin(F.broadcast(slopes)).select(
            "b", (F.col("y") - F.col("b") * F.col("x")).alias("r")
        )
        rc = res.groupBy("b", "r").agg(
            F.count(F.lit(1)).cast("long").alias("c")
        ).withColumn(
            "rcs", (F.col("r") * F.col("c")).cast("long")
        ).localCheckpoint()
        wc = Window.partitionBy("b").orderBy("r").rowsBetween(
            Window.unboundedPreceding, 0
        )
        wp = Window.partitionBy("b").orderBy("r").rowsBetween(
            Window.unboundedPreceding, -1
        )
        cdf = rc.select(
            "b", "r",
            F.sum("c").over(wc).cast("long").alias("cum"),
            F.coalesce(F.sum("c").over(wp), F.lit(0))
            .cast("long")
            .alias("prev"),
            F.sum("rcs").over(wc).cast("long").alias("cums"),
        )
        tot = rc.groupBy("b").agg(
            F.sum("c").cast("long").alias("tn"),
            F.sum("rcs").cast("long").alias("s_tot"),
        )
        mrank = F.expr("(tn + 1) div 2")
        # r9 perf: exactly ONE row per b satisfies prev < mrank <= cum
        # (prev/cum partition the rank axis and cum is strictly
        # increasing), and that row IS the median row, already carrying
        # c_le/s_le — so the old min-agg + medr re-join re-executed the
        # cdf window subtree for nothing. One filter replaces all three
        # (1.39x med cold A/B; identical integer arithmetic).
        atm = (
            cdf.join(F.broadcast(tot), "b")
            .filter((F.col("cum") >= mrank) & (F.col("prev") < mrank))
            .select(
                "b", F.col("r").alias("medr"),
                F.col("cum").alias("c_le"), F.col("cums").alias("s_le"),
                "tn", "s_tot",
            )
        )
        return atm.select(
            "b", "medr",
            (
                F.col("medr") * (2 * F.col("c_le") - F.col("tn"))
                + F.col("s_tot")
                - 2 * F.col("s_le")
            ).cast("long").alias("l1"),
        )
    sloss = _loss_per_slope(v.filter(F.col("smp") == 1), grid, fan=True)
    wbest = Window.orderBy("l1", "b")  # 41-row frame
    pick = sloss.withColumn("rr", F.row_number().over(wbest)).filter(
        F.col("rr") == 1
    ).select(F.col("b").alias("b")).localCheckpoint()
    two = pick.unionAll(ctr.select(F.col("bc").alias("b"))).distinct()
    floss = _loss_per_slope(v, two).localCheckpoint()
    best = pick.join(floss, "b").select(
        F.col("b").alias("bb"), F.col("medr").alias("bmed"),
        F.col("l1").alias("bl1"),
    )
    center = ctr.select(F.col("bc").alias("b")).join(floss, "b").select(
        F.col("l1").alias("cl1")
    )
    return (
        ctr.crossJoin(F.broadcast(best))
        .crossJoin(F.broadcast(center))
        .select(
            "n",
            F.round(ols / 100e0, 4).alias("ols_slope"),
            F.round(F.col("bb") / 100e0, 2).alias("lad_slope"),
            F.round(F.col("bmed") / 100e0, 2).alias("lad_intercept"),
            F.round(F.col("bl1") / 100e0, 2).alias("lad_loss"),
            F.round(F.col("cl1") / 100e0, 2).alias("center_loss"),
        )
    )


def _duck_als_sql() -> str:
    h0a = _DUCK_H60.format(args="CAST(i AS VARCHAR), 'als0'")
    h0b = _DUCK_H60.format(args="CAST(i AS VARCHAR), 'als1'")
    rounds = []
    for r in (1, 2):
        hp = f"h{r - 1}"
        rounds.append(f"""
    wa{r} AS (
        SELECT pr.u,
               sum(h.h1 * h.h1 ORDER BY pr.i) AS a,
               sum(h.h1 * h.h2 ORDER BY pr.i) AS b,
               sum(h.h2 * h.h2 ORDER BY pr.i) AS c,
               sum(h.h1 * pr.rv ORDER BY pr.i) AS d1,
               sum(h.h2 * pr.rv ORDER BY pr.i) AS d2
        FROM pr JOIN {hp} h ON h.i = pr.i
        GROUP BY pr.u),
    w{r} AS (
        SELECT u,
               ((c + 0.1e0) * d1 - b * d2)
                   / ((a + 0.1e0) * (c + 0.1e0) - b * b) AS w1,
               ((a + 0.1e0) * d2 - b * d1)
                   / ((a + 0.1e0) * (c + 0.1e0) - b * b) AS w2
        FROM wa{r}),
    ha{r} AS (
        SELECT pr.i,
               sum(w.w1 * w.w1 ORDER BY pr.u) AS a,
               sum(w.w1 * w.w2 ORDER BY pr.u) AS b,
               sum(w.w2 * w.w2 ORDER BY pr.u) AS c,
               sum(w.w1 * pr.rv ORDER BY pr.u) AS d1,
               sum(w.w2 * pr.rv ORDER BY pr.u) AS d2
        FROM pr JOIN w{r} w ON w.u = pr.u
        GROUP BY pr.i),
    h{r} AS (
        SELECT i,
               ((c + 0.1e0) * d1 - b * d2)
                   / ((a + 0.1e0) * (c + 0.1e0) - b * b) AS h1,
               ((a + 0.1e0) * d2 - b * d1)
                   / ((a + 0.1e0) * (c + 0.1e0) - b * b) AS h2
        FROM ha{r}),
    sse{r} AS (
        SELECT sum((pr.rv - (w.w1 * h.h1 + w.w2 * h.h2))
                   * (pr.rv - (w.w1 * h.h1 + w.w2 * h.h2))
                   ORDER BY pr.u, pr.i) AS sse
        FROM pr JOIN w{r} w ON w.u = pr.u JOIN h{r} h ON h.i = pr.i),
    wn{r} AS (SELECT sum(w1 * w1 + w2 * w2 ORDER BY u) AS nm FROM w{r}),
    hn{r} AS (SELECT sum(h1 * h1 + h2 * h2 ORDER BY i) AS nm FROM h{r})""")
    return f"""
    WITH r0 AS (
        SELECT o.o_custkey AS u, l.l_partkey AS i,
               CAST(sum(CAST(round(l.l_quantity) AS BIGINT)) AS BIGINT)
                   AS rv
        FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        GROUP BY 1, 2),
    itop AS (
        SELECT i FROM (
            SELECT i, row_number() OVER (ORDER BY count(*) DESC, i) AS rr
            FROM r0 GROUP BY i) WHERE rr <= 16),
    utop AS (
        SELECT u FROM (
            SELECT u, row_number() OVER (ORDER BY count(*) DESC, u) AS rr
            FROM r0 GROUP BY u) WHERE rr <= 64),
    pr AS (
        SELECT u, i, rv FROM r0
        WHERE i IN (SELECT i FROM itop) AND u IN (SELECT u FROM utop)),
    h0 AS (
        SELECT i,
               1e0 + ({h0a} % 1000) / 1000e0 AS h1,
               1e0 + ({h0b} % 1000) / 1000e0 AS h2
        FROM itop),{",".join(rounds)}
    SELECT (SELECT CAST(count(DISTINCT u) AS BIGINT) FROM pr) AS n_users,
           (SELECT CAST(count(DISTINCT i) AS BIGINT) FROM pr) AS n_items,
           (SELECT CAST(count(*) AS BIGINT) FROM pr) AS n_ratings,
           round(sqrt((SELECT sse FROM sse1)
                      / (SELECT count(*) FROM pr)), 6) AS rmse_round1,
           round(sqrt((SELECT sse FROM sse2)
                      / (SELECT count(*) FROM pr)), 6) AS rmse_round2,
           round((SELECT sse FROM sse1)
                 + 0.1e0 * ((SELECT nm FROM wn1) + (SELECT nm FROM hn1)),
                 4) AS loss_round1,
           round((SELECT sse FROM sse2)
                 + 0.1e0 * ((SELECT nm FROM wn2) + (SELECT nm FROM hn2)),
                 4) AS loss_round2
    """


@query("als_panel_factorization", _duck_als_sql())
def als_panel_factorization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ALS matrix factorization (k=2, lambda=0.1, 2 unrolled
    alternations) on the dense rating panel of the 64 most active
    customers x 16 most purchased parts: each half-step solves the
    per-row ridge normal equations in CLOSED 2x2 FORM — exactly the
    computation MLlib's ALS distributes, here made machine-checkable
    end-to-end (hash-deterministic init, every cross-row reduction
    an EXPLICIT key-ordered fold, the same IEEE sequence as the
    oracle's ORDER BY sums). Reports RMSE and the regularized loss
    after each alternation; the loss is PROVABLY non-increasing
    across alternations (each half-step exactly minimizes it in one
    factor block) and pytest pins that plus a numpy lstsq replica.
    The panel restriction is the honest exact-oracle scope; the
    production path is pyspark.ml.recommendation.ALS on the full
    rating matrix, whose per-user/per-item solves have exactly this
    shape."""
    from social_link_prediction_spark.ml.linksplit import hash60

    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_quantity"
    )
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    # r9 perf: r0 (the lineitem x orders join + groupBy — the heaviest
    # subtree here) feeds itop, utop AND pr; pr feeds both half-steps
    # of both rounds, the residual join, and the panel count (~7
    # references). Unpinned, every reference re-executed the join
    # (2.56x med cold A/B from these two persists).
    r0 = (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .groupBy(
            F.col("o_custkey").alias("u"), F.col("l_partkey").alias("i")
        )
        .agg(F.sum(F.round("l_quantity").cast("long")).cast("long").alias("rv"))
        .persist()
    )
    # both top-k supports via TakeOrderedAndProject — no global
    # windows over the item/user count frames (r8 lint)
    itop = (
        r0.groupBy("i").agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.desc("cnt"), "i")
        .limit(16)
        .select("i")
        # pinned (16 rows): the h-init branch references itop after r0
        # is released below
        .localCheckpoint()
    )
    utop = (
        r0.groupBy("u").agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.desc("cnt"), "u")
        .limit(64)
        .select("u")
    )
    pr = r0.join(F.broadcast(itop), "i").join(F.broadcast(utop), "u").persist()
    # r10 (ADVICE r9): r0 is only needed until pr materializes; in a
    # long-lived session sweeping the catalog the dead ~100k-row cache
    # otherwise adds pressure to every later query. Materialize pr
    # eagerly (the first action paid this anyway) and release r0.
    pr.count()
    r0.unpersist()
    h = itop.select(
        "i",
        (
            1e0
            + (hash60(F.col("i").cast("string"), F.lit("als0")) % 1000)
            / 1000e0
        ).alias("h1"),
        (
            1e0
            + (hash60(F.col("i").cast("string"), F.lit("als1")) % 1000)
            / 1000e0
        ).alias("h2"),
    )
    lam = F.lit(0.1)

    def _solve(grp: DataFrame) -> tuple[Column, Column]:
        det = (F.col("a") + lam) * (F.col("c") + lam) - F.col("b") * F.col("b")
        s1 = ((F.col("c") + lam) * F.col("d1") - F.col("b") * F.col("d2")) / det
        s2 = ((F.col("a") + lam) * F.col("d2") - F.col("b") * F.col("d1")) / det
        return s1, s2

    def _folds(df: DataFrame, key: str, ordk: str, f1: str, f2: str):
        arr = F.array_sort(
            F.collect_list(F.struct(ordk, f1, f2, "rv"))
        )
        return df.groupBy(key).agg(
            F.aggregate(arr, F.lit(0.0), lambda a, x: a + x[f1] * x[f1]).alias("a"),
            F.aggregate(arr, F.lit(0.0), lambda a, x: a + x[f1] * x[f2]).alias("b"),
            F.aggregate(arr, F.lit(0.0), lambda a, x: a + x[f2] * x[f2]).alias("c"),
            F.aggregate(arr, F.lit(0.0), lambda a, x: a + x[f1] * x["rv"]).alias("d1"),
            F.aggregate(arr, F.lit(0.0), lambda a, x: a + x[f2] * x["rv"]).alias("d2"),
        )

    stats = []
    for _ in (1, 2):
        wagg = _folds(pr.join(h, "i"), "u", "i", "h1", "h2")
        s1, s2 = _solve(wagg)
        w = wagg.select("u", s1.alias("w1"), s2.alias("w2")).localCheckpoint()
        hagg = _folds(
            pr.join(w, "u").select(
                "i", "u", F.col("w1").alias("h1"),
                F.col("w2").alias("h2"), "rv",
            ),
            "i", "u", "h1", "h2",
        )
        t1, t2 = _solve(hagg)
        h = hagg.select("i", t1.alias("h1"), t2.alias("h2")).localCheckpoint()
        joined = pr.join(w, "u").join(h, "i")
        resid = F.col("rv") - (
            F.col("w1") * F.col("h1") + F.col("w2") * F.col("h2")
        )
        sse = joined.agg(
            F.aggregate(
                F.array_sort(
                    F.collect_list(F.struct("u", "i", resid.alias("e")))
                ),
                F.lit(0.0),
                lambda a, x: a + x["e"] * x["e"],
            ).alias("sse")
        )
        wn = w.agg(
            F.aggregate(
                F.array_sort(F.collect_list(F.struct("u", "w1", "w2"))),
                F.lit(0.0),
                lambda a, x: a + x["w1"] * x["w1"] + x["w2"] * x["w2"],
            ).alias("wnm")
        )
        hn = h.agg(
            F.aggregate(
                F.array_sort(F.collect_list(F.struct("i", "h1", "h2"))),
                F.lit(0.0),
                lambda a, x: a + x["h1"] * x["h1"] + x["h2"] * x["h2"],
            ).alias("hnm")
        )
        stats.append((sse, wn, hn))
    cnt = pr.agg(
        F.countDistinct("u").cast("long").alias("n_users"),
        F.countDistinct("i").cast("long").alias("n_items"),
        F.count(F.lit(1)).cast("long").alias("n_ratings"),
    )
    out = cnt
    for r_, (sse, wn, hn) in enumerate(stats, start=1):
        out = (
            out.crossJoin(F.broadcast(sse))
            .crossJoin(F.broadcast(wn))
            .crossJoin(F.broadcast(hn))
            .withColumn(
                f"rmse_round{r_}",
                F.round(F.sqrt(F.col("sse") / F.col("n_ratings")), 6),
            )
            .withColumn(
                f"loss_round{r_}",
                F.round(
                    F.col("sse") + F.lit(0.1) * (F.col("wnm") + F.col("hnm")),
                    4,
                ),
            )
            .drop("sse", "wnm", "hnm")
        )
    return out.select(
        "n_users", "n_items", "n_ratings",
        "rmse_round1", "rmse_round2", "loss_round1", "loss_round2",
    )


@query(
    "mutual_nn_pairs",
    """
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v, label
               FROM embeddings),
    sc AS (
        SELECT a.vec_id AS ai, b.vec_id AS bi,
               round(list_cosine_similarity(a.v, b.v), 6) AS cos
        FROM e a JOIN e b ON a.vec_id <> b.vec_id),
    nn AS (
        SELECT ai, bi, cos FROM (
            SELECT ai, bi, cos,
                   row_number() OVER (PARTITION BY ai
                                      ORDER BY cos DESC, bi) AS rr
            FROM sc) WHERE rr = 1),
    mut AS (
        SELECT n1.ai AS a, n1.bi AS b, n1.cos
        FROM nn n1 JOIN nn n2 ON n2.ai = n1.bi AND n2.bi = n1.ai
        WHERE n1.ai < n1.bi)
    SELECT m.a AS vec_a, m.b AS vec_b, m.cos AS cosine,
           ea.label AS label_a, eb.label AS label_b,
           CAST(CASE WHEN ea.label = eb.label THEN 1 ELSE 0 END
                AS BIGINT) AS same_label
    FROM mut m
    JOIN e ea ON ea.vec_id = m.a
    JOIN e eb ON eb.vec_id = m.b
    ORDER BY m.cos DESC, m.a
    LIMIT 10
    """,
)
def mutual_nn_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mutual nearest-neighbor pairs over the embedding table: pairs
    (a, b) where each is the other's GLOBAL cosine top-1 — the
    reciprocal-best-match criterion used for bitext mining, cross-
    lingual alignment, and high-precision dedup seeds (one-sided NN
    is noisy near hubs; mutuality is the cheap fix, and the hubness
    audit explains why). Each pair carries its labels: the
    same_label flag machine-checks that reciprocal matches
    concentrate inside label clusters. Since r7 (VERDICT r6 item 4)
    the benched plan is the SCALE route: blocked exact top-1
    (sim.blocked_exact_top1 — one shuffle into row-blocks, per-block
    vectorized numpy scoring with the same sequential fold order as
    the SQL dot device, rounded before ranking) instead of the
    broadcast all-pairs Catalyst join; the brute-force shape survives
    only as the DuckDB oracle side. Exactness, not ANN: every
    vector's true global top-1, so the oracle row stays green without
    any recall assumption (SRP recall@1 is NOT 1.0 on this corpus —
    NN cosines sit at theta ~ 70 degrees)."""
    emb = _t(spark, sf_dir, "embeddings")
    e = emb.select(
        "vec_id",
        F.col("embedding").cast("array<double>").alias("v"),
        "label",
    )
    nn = sim.blocked_exact_top1(emb, n_blocks=8)
    n2 = nn.select(F.col("ai").alias("bi2"), F.col("bi").alias("ai2"))
    mut = nn.join(
        n2, (nn["bi"] == n2["bi2"]) & (nn["ai"] == n2["ai2"])
    ).filter(F.col("ai") < F.col("bi")).select("ai", "bi", "cos")
    la = e.select(F.col("vec_id").alias("ai"), F.col("label").alias("label_a"))
    lb = e.select(F.col("vec_id").alias("bi"), F.col("label").alias("label_b"))
    return (
        mut.join(F.broadcast(la), "ai")
        .join(F.broadcast(lb), "bi")
        .select(
            F.col("ai").alias("vec_a"),
            F.col("bi").alias("vec_b"),
            F.col("cos").alias("cosine"),
            "label_a", "label_b",
            F.when(F.col("label_a") == F.col("label_b"), 1)
            .otherwise(0)
            .cast("long")
            .alias("same_label"),
        )
        .orderBy(F.desc("cosine"), "vec_a")
        .limit(10)
    )


def _duck_k4_sql() -> str:
    edge_h = _DUCK_H60.format(
        args="CAST(src AS VARCHAR) || '-' || CAST(dst AS VARCHAR), 'k4'"
    )
    return f"""
    WITH s AS (SELECT s_suppkey::BIGINT AS id FROM supplier),
    e AS MATERIALIZED (
        SELECT a.id AS src, b.id AS dst FROM s a JOIN s b ON a.id < b.id
        WHERE {edge_h} % 10000 < 400),
    nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM s),
    m AS (SELECT CAST(count(*) AS BIGINT) AS m FROM e),
    tri AS (
        SELECT e1.src AS a, e1.dst AS b, e2.dst AS c
        FROM e e1
        JOIN e e2 ON e2.src = e1.dst
        JOIN e e3 ON e3.src = e1.src AND e3.dst = e2.dst),
    tc AS (SELECT CAST(count(*) AS BIGINT) AS n_tri FROM tri),
    k4 AS (
        SELECT CAST(count(*) AS BIGINT) AS n_k4
        FROM tri t
        JOIN e e4 ON e4.src = t.c
        JOIN e e5 ON e5.src = t.b AND e5.dst = e4.dst
        JOIN e e6 ON e6.src = t.a AND e6.dst = e4.dst),
    est AS (
        SELECT nn.n, m.m, tc.n_tri, k4.n_k4,
               CASE WHEN nn.n < 2 OR m.m = 0 THEN 0e0
                    ELSE CAST(m.m AS DOUBLE)
                         / (nn.n * (nn.n - 1e0) / 2e0) END AS p
        FROM nn, m, tc, k4)
    SELECT n AS n_nodes, m AS n_edges, n_tri AS n_triangles, n_k4,
           round(n * (n - 1e0) * (n - 2e0) * (n - 3e0) / 24e0
                 * p * p * p * p * p * p, 4) AS expected_k4_gnp,
           CASE WHEN p = 0e0 THEN NULL
                ELSE round(n_k4 / (n * (n - 1e0) * (n - 2e0)
                                   * (n - 3e0) / 24e0
                                   * p * p * p * p * p * p), 4)
           END AS k4_vs_null
    FROM est
    """


@query("clique4_census", _duck_k4_sql())
def clique4_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """4-clique census of the 4% hash-sampled undirected supplier
    graph (seed 'k4') against the G(n, p) null: K4s are the next
    graphlet up from triangles, and their excess over the null
    C(n,4) p^6 is the higher-order clustering signal that triangle
    counts alone miss (completes the graphlet ladder: wedge ->
    triangle -> butterfly/bowtie -> K4). Enumeration is the
    ordered-orientation join chain (a<b<c<d, each K4 counted exactly
    once): triangles from two edge joins + closure check, then one
    extension join per remaining edge — candidate growth is bounded
    by the sample's edge density, never materializing node^4. All
    counts exact integers; the null expectation is one fixed scalar
    expression."""
    sup = _t(spark, sf_dir, "supplier").select(
        F.col("s_suppkey").cast("long").alias("id")
    )
    e = tg.sampled_edges(sup, 400, "k4", directed=False).persist()
    nn = sup.agg(F.count(F.lit(1)).cast("long").alias("n"))
    m = e.agg(F.count(F.lit(1)).cast("long").alias("m"))
    e1 = e.select(F.col("src").alias("a"), F.col("dst").alias("b"))
    e2 = e.select(F.col("src").alias("b"), F.col("dst").alias("c"))
    e3 = e.select(F.col("src").alias("a"), F.col("dst").alias("c"))
    tri = e1.join(e2, "b").join(e3, ["a", "c"]).select("a", "b", "c")
    tc = tri.agg(F.count(F.lit(1)).cast("long").alias("n_tri"))
    e4 = e.select(F.col("src").alias("c"), F.col("dst").alias("d"))
    e5 = e.select(F.col("src").alias("b"), F.col("dst").alias("d"))
    e6 = e.select(F.col("src").alias("a"), F.col("dst").alias("d"))
    k4 = (
        tri.join(e4, "c")
        .join(e5, ["b", "d"])
        .join(e6, ["a", "d"])
        .agg(F.count(F.lit(1)).cast("long").alias("n_k4"))
    )
    n, mm = F.col("n"), F.col("m")
    p = F.when(
        (n < 2) | (mm == 0), F.lit(0e0)
    ).otherwise(mm.cast("double") / (n * (n - 1e0) / 2e0))
    c4 = n * (n - 1e0) * (n - 2e0) * (n - 3e0) / 24e0
    est = (
        nn.crossJoin(F.broadcast(m))
        .crossJoin(F.broadcast(tc))
        .crossJoin(F.broadcast(k4))
        .withColumn("p", p)
    )
    pc = F.col("p")
    return est.select(
        F.col("n").alias("n_nodes"),
        F.col("m").alias("n_edges"),
        F.col("n_tri").alias("n_triangles"),
        "n_k4",
        F.round(c4 * pc * pc * pc * pc * pc * pc, 4).alias(
            "expected_k4_gnp"
        ),
        F.when(pc == 0e0, F.lit(None).cast("double"))
        .otherwise(
            F.round(
                F.col("n_k4") / (c4 * pc * pc * pc * pc * pc * pc), 4
            )
        )
        .alias("k4_vs_null"),
    )


@query(
    "recsys_coverage_diversity",
    f"""
    WITH baskets AS (
        SELECT DISTINCT o.o_custkey AS u, l.l_partkey % 500 AS item
        FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey),
    kept AS (
        SELECT u, item FROM baskets
        WHERE u IN (SELECT u FROM baskets GROUP BY u
                    HAVING count(*) <= {_III_HUB_CAP})),
    users AS (SELECT CAST(count(DISTINCT u) AS BIGINT) AS nu FROM kept),
    item_n AS (
        SELECT item, CAST(count(*) AS BIGINT) AS n
        FROM kept GROUP BY 1),
    catalog AS (SELECT CAST(count(*) AS BIGINT) AS nc FROM item_n),
    pairs AS (
        SELECT a.item AS ia, b.item AS ib,
               CAST(count(*) AS BIGINT) AS c
        FROM kept a JOIN kept b ON a.u = b.u AND a.item < b.item
        GROUP BY 1, 2),
    sym AS (
        SELECT ia AS item, ib AS neighbor, c FROM pairs
        UNION ALL
        SELECT ib AS item, ia AS neighbor, c FROM pairs),
    scored AS (
        SELECT s.item, s.neighbor, s.c,
               round(s.c / sqrt(na.n * nb.n), 6) AS cosine
        FROM sym s
        JOIN item_n na ON na.item = s.item
        JOIN item_n nb ON nb.item = s.neighbor),
    lists AS (
        SELECT item, neighbor, cosine FROM (
            SELECT item, neighbor, cosine,
                   row_number() OVER (PARTITION BY item
                                      ORDER BY cosine DESC, c DESC,
                                               neighbor) AS rr
            FROM scored) WHERE rr <= 5),
    cov AS (
        SELECT CAST(count(DISTINCT item) AS BIGINT) AS n_lists,
               CAST(count(DISTINCT neighbor) AS BIGINT) AS n_reco
        FROM lists),
    lp AS (
        SELECT a.item, a.neighbor AS pa, b.neighbor AS pb
        FROM lists a JOIN lists b
          ON a.item = b.item AND a.neighbor < b.neighbor),
    lps AS (
        SELECT lp.item, lp.pa, lp.pb, coalesce(sc.cosine, 0e0) AS sim
        FROM lp
        LEFT JOIN scored sc ON sc.item = lp.pa AND sc.neighbor = lp.pb),
    ils_i AS (
        SELECT item,
               sum(sim ORDER BY pa, pb) / count(*) AS ils
        FROM lps GROUP BY item),
    ils AS (
        SELECT sum(ils ORDER BY item) / count(*) AS mean_ils
        FROM ils_i),
    nov AS (
        SELECT sum(-log2(CAST(nb.n AS DOUBLE) / (SELECT nu FROM users))
                   ORDER BY l.item, l.neighbor)
               / count(*) AS mean_nov
        FROM lists l JOIN item_n nb ON nb.item = l.neighbor)
    SELECT (SELECT nc FROM catalog) AS catalog_n,
           (SELECT nu FROM users) AS users_n,
           cov.n_lists AS items_with_list,
           round(CAST(cov.n_reco AS DOUBLE)
                 / (SELECT nc FROM catalog), 6) AS coverage_at5,
           round((SELECT mean_ils FROM ils), 6) AS mean_ils,
           round((SELECT mean_nov FROM nov), 6) AS mean_novelty_bits
    FROM cov
    """,
)
def recsys_coverage_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Beyond-accuracy evaluation of the item-item CF neighborhoods
    (the item_item_cosine_topk lists): catalog COVERAGE at k=5 (what
    fraction of the catalog ever gets recommended — popularity-biased
    recommenders collapse here), mean INTRA-LIST SIMILARITY (Ziegler
    2005's diversity complement: how redundant each list is), and
    mean NOVELTY in bits (Zhou 2010's -log2 item popularity: are we
    only recommending what everyone already buys). These three are
    the standard counterweights to hits@k/NDCG accuracy — a
    recommender tuned on accuracy alone degenerates, and this query
    is the guardrail. Same hub-capped co-purchase cosine device as
    the parent query; the only double reductions (list-pair
    similarity means, novelty mean) are EXPLICIT key-ordered folds
    on both engines."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    baskets = (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .select(
            F.col("o_custkey").alias("u"),
            (F.col("l_partkey") % 500).alias("item"),
        )
        .dropDuplicates()
    )
    sizes = baskets.groupBy("u").agg(F.count(F.lit(1)).alias("bn"))
    kept = baskets.join(
        F.broadcast(
            sizes.filter(F.col("bn") <= _III_HUB_CAP).select("u")
        ),
        "u",
    ).persist()
    users = kept.agg(F.countDistinct("u").cast("long").alias("nu"))
    item_n = kept.groupBy("item").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    catalog = item_n.agg(F.count(F.lit(1)).cast("long").alias("nc"))
    a = kept.select("u", F.col("item").alias("ia"))
    b = kept.select("u", F.col("item").alias("ib"))
    pairs = (
        a.join(b, "u")
        .filter(F.col("ia") < F.col("ib"))
        .groupBy("ia", "ib")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    sym = pairs.select(
        F.col("ia").alias("item"), F.col("ib").alias("neighbor"), "c"
    ).unionAll(
        pairs.select(
            F.col("ib").alias("item"), F.col("ia").alias("neighbor"), "c"
        )
    )
    na = item_n.select("item", F.col("n").alias("nn_"))
    nb = item_n.select(
        F.col("item").alias("neighbor"), F.col("n").alias("nb_")
    )
    scored = (
        sym.join(F.broadcast(na), "item")
        .join(F.broadcast(nb), "neighbor")
        .select(
            "item", "neighbor", "c",
            F.round(
                F.col("c") / F.sqrt(F.col("nn_") * F.col("nb_")), 6
            ).alias("cosine"),
        )
        .persist()
    )
    wl = Window.partitionBy("item").orderBy(
        F.desc("cosine"), F.desc("c"), "neighbor"
    )
    lists = scored.withColumn("rr", F.row_number().over(wl)).filter(
        F.col("rr") <= 5
    ).select("item", "neighbor", "cosine")
    cov = lists.agg(
        F.countDistinct("item").cast("long").alias("n_lists"),
        F.countDistinct("neighbor").cast("long").alias("n_reco"),
    )
    la = lists.select("item", F.col("neighbor").alias("pa"))
    lb = lists.select("item", F.col("neighbor").alias("pb"))
    lp = la.join(lb, "item").filter(F.col("pa") < F.col("pb"))
    sc2 = scored.select(
        F.col("item").alias("pa"),
        F.col("neighbor").alias("pb"),
        F.col("cosine").alias("sim"),
    )
    lps = lp.join(sc2, ["pa", "pb"], "left").select(
        "item", "pa", "pb", F.coalesce("sim", F.lit(0e0)).alias("sim")
    )
    ils_i = lps.groupBy("item").agg(
        (
            F.aggregate(
                F.array_sort(F.collect_list(F.struct("pa", "pb", "sim"))),
                F.lit(0.0),
                lambda acc, x: acc + x["sim"],
            )
            / F.count(F.lit(1))
        ).alias("ils")
    )
    ils = ils_i.agg(
        (
            F.aggregate(
                F.array_sort(F.collect_list(F.struct("item", "ils"))),
                F.lit(0.0),
                lambda acc, x: acc + x["ils"],
            )
            / F.count(F.lit(1))
        ).alias("mean_ils")
    )
    novt = (
        lists.join(F.broadcast(nb), "neighbor")
        .crossJoin(F.broadcast(users))
        .select(
            "item", "neighbor",
            (-F.log2(F.col("nb_").cast("double") / F.col("nu"))).alias(
                "nv"
            ),
        )
    )
    nov = novt.agg(
        (
            F.aggregate(
                F.array_sort(
                    F.collect_list(F.struct("item", "neighbor", "nv"))
                ),
                F.lit(0.0),
                lambda acc, x: acc + x["nv"],
            )
            / F.count(F.lit(1))
        ).alias("mean_nov")
    )
    return (
        catalog.crossJoin(F.broadcast(users))
        .crossJoin(F.broadcast(cov))
        .crossJoin(F.broadcast(ils))
        .crossJoin(F.broadcast(nov))
        .select(
            F.col("nc").alias("catalog_n"),
            F.col("nu").alias("users_n"),
            F.col("n_lists").alias("items_with_list"),
            F.round(F.col("n_reco").cast("double") / F.col("nc"), 6).alias(
                "coverage_at5"
            ),
            F.round("mean_ils", 6).alias("mean_ils"),
            F.round("mean_nov", 6).alias("mean_novelty_bits"),
        )
    )


@query(
    "cochran_armitage_trend",
    f"""
    WITH ord AS (
        SELECT o.o_orderkey,
               CAST(substr(o.o_orderpriority, 1, 1) AS BIGINT) AS s,
               CASE WHEN min(CAST(l.l_shipdate AS DATE))
                         <= CAST(o.o_orderdate AS DATE) + to_days(30)
                    THEN 1 ELSE 0 END AS fast
        FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        GROUP BY o.o_orderkey, o.o_orderpriority, o.o_orderdate),
    g AS (
        SELECT s, CAST(count(*) AS BIGINT) AS n,
               CAST(sum(fast) AS BIGINT) AS r
        FROM ord GROUP BY s),
    agg AS (
        SELECT CAST(sum(n) AS BIGINT) AS nn,
               CAST(sum(r) AS BIGINT) AS rr,
               CAST(sum(s * r) AS BIGINT) AS sr,
               CAST(sum(s * n) AS BIGINT) AS sn,
               CAST(sum(s * s * n) AS BIGINT) AS ssn
        FROM g),
    st AS (
        SELECT nn, rr,
               sr - (CAST(rr AS DOUBLE) / nn) * sn AS t,
               (CAST(rr AS DOUBLE) / nn)
                   * (1e0 - CAST(rr AS DOUBLE) / nn)
                   * (ssn - CAST(sn AS DOUBLE) * sn / nn) AS v
        FROM agg),
    zz AS (SELECT nn, rr, t, v, t / sqrt(v) AS z FROM st)
    SELECT nn AS n_orders, rr AS n_fast,
           round(CAST(rr AS DOUBLE) / nn, 6) AS fast_rate,
           round(z, 6) AS z_stat,
           round(1.0 - {_AS_ERF.format(x="(abs(z) / sqrt(2.0))")}, 6)
               AS p_two_sided
    FROM zz
    """,
)
def cochran_armitage_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cochran-Armitage test for TREND in the fast-ship proportion
    (first line shipped within 30 days) across the five ORDERED
    priority levels (scores 1-URGENT .. 5-LOW): T = sum s_i r_i -
    pbar sum s_i n_i, Var = pbar(1-pbar)(sum s_i^2 n_i -
    (sum s_i n_i)^2 / N) — the dose-response test that
    chi2_priority_segment (general independence) wastes power on
    when the alternative is MONOTONE; a significant negative z means
    urgency actually buys shipping speed. One corpus aggregation to
    5 (score, n, fast) cells; every sufficient statistic is an exact
    integer and the z/p arithmetic is one fixed expression with the
    shared A&S erf."""
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    ordr = (
        o.join(li, o["o_orderkey"] == li["l_orderkey"])
        .groupBy("o_orderkey", "o_orderpriority", "o_orderdate")
        .agg(F.min(F.to_date("l_shipdate")).alias("first_ship"))
        .select(
            F.substring("o_orderpriority", 1, 1).cast("long").alias("s"),
            F.when(
                F.col("first_ship")
                <= F.date_add(F.to_date("o_orderdate"), 30),
                1,
            ).otherwise(0).alias("fast"),
        )
    )
    g = ordr.groupBy("s").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("fast").cast("long").alias("r"),
    )
    agg_ = g.agg(
        F.sum("n").cast("long").alias("nn"),
        F.sum("r").cast("long").alias("rr"),
        F.sum(F.col("s") * F.col("r")).cast("long").alias("sr"),
        F.sum(F.col("s") * F.col("n")).cast("long").alias("sn"),
        F.sum(F.col("s") * F.col("s") * F.col("n")).cast("long").alias("ssn"),
    )
    pbar = F.col("rr").cast("double") / F.col("nn")
    tstat = F.col("sr") - pbar * F.col("sn")
    var = pbar * (1e0 - pbar) * (
        F.col("ssn") - F.col("sn").cast("double") * F.col("sn") / F.col("nn")
    )
    zz = agg_.select(
        "nn", "rr", (tstat / F.sqrt(var)).alias("z")
    )
    x = F.abs(F.col("z")) / F.sqrt(F.lit(2.0))
    t = F.lit(1.0) / (F.lit(1.0) + F.lit(0.3275911) * x)
    erf = F.lit(1.0) - (
        (
            (
                (
                    (F.lit(1.061405429) * t - F.lit(1.453152027)) * t
                    + F.lit(1.421413741)
                )
                * t
                - F.lit(0.284496736)
            )
            * t
            + F.lit(0.254829592)
        )
        * t
    ) * F.exp(-x * x)
    return zz.select(
        F.col("nn").alias("n_orders"),
        F.col("rr").alias("n_fast"),
        F.round(F.col("rr").cast("double") / F.col("nn"), 6).alias(
            "fast_rate"
        ),
        F.round("z", 6).alias("z_stat"),
        F.round(F.lit(1.0) - erf, 6).alias("p_two_sided"),
    )


@query(
    "temporal_motif_vcp",
    """
    WITH ev AS (
        SELECT user_id, event_type, epoch_us(ts) AS tus, ts
        FROM events),
    v AS (SELECT user_id, tus AS tv, CAST(hour(ts) AS BIGINT) AS hr
          FROM ev WHERE event_type = 'view'),
    c AS (SELECT user_id, tus AS tc FROM ev WHERE event_type = 'click'),
    p AS (SELECT user_id, tus AS tp
          FROM ev WHERE event_type = 'purchase'),
    vc AS (
        SELECT v.user_id, v.hr, v.tv, c.tc
        FROM v JOIN c ON c.user_id = v.user_id
         AND c.tc > v.tv AND c.tc <= v.tv + 3600000000),
    vcp AS (
        SELECT vc.user_id, vc.hr
        FROM vc JOIN p ON p.user_id = vc.user_id
         AND p.tp > vc.tc AND p.tp <= vc.tv + 3600000000)
    SELECT hr AS view_hour,
           CAST(count(*) AS BIGINT) AS n_motifs,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
    FROM vcp
    GROUP BY hr
    ORDER BY hr
    """,
)
def temporal_motif_vcp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temporal motif census (Paranjape, Benson & Leskovec 2017):
    view -> click -> purchase instances by the SAME user with both
    gaps inside a 1-hour window, bucketed by the hour-of-day of the
    opening view — the delta-constrained 3-event motif that
    sequential_patterns_events (unbounded gap, first occurrences
    only) and the Markov chain (adjacent transitions) both
    under-count or over-count: motifs count every realization, so a
    burst of engaged sessions shows up multiplicatively. Shape: two
    user-keyed equi-joins with time-range predicates on exact
    integer microseconds (epoch_us — session-TZ-independent),
    candidate growth bounded by per-user-per-hour event counts; the
    100 TB discipline is bucketing both sides by (user, hour) and
    joining adjacent buckets, which this plan's equi-key already
    approximates. Pure integer counting."""
    ev = _t(spark, sf_dir, "events").select(
        "user_id", "event_type", win.epoch_us(F.col("ts")).alias("tus"),
        F.hour("ts").alias("hr"),
    )
    v = ev.filter(F.col("event_type") == "view").select(
        "user_id", F.col("tus").alias("tv"), "hr"
    )
    c = ev.filter(F.col("event_type") == "click").select(
        "user_id", F.col("tus").alias("tc")
    )
    p = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("tus").alias("tp")
    )
    vc = v.join(c, "user_id").filter(
        (F.col("tc") > F.col("tv"))
        & (F.col("tc") <= F.col("tv") + 3600000000)
    )
    vcp = vc.join(p, "user_id").filter(
        (F.col("tp") > F.col("tc"))
        & (F.col("tp") <= F.col("tv") + 3600000000)
    )
    return (
        vcp.groupBy(F.col("hr").alias("view_hour"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_motifs"),
            F.countDistinct("user_id").cast("long").alias("n_users"),
        )
        .orderBy("view_hour")
    )


_CHI2_2DF_975 = 7.3777589082278725  # -2 ln 0.025, exact-form literal


@query(
    "mahalanobis_outliers",
    f"""
    WITH feat AS (
        SELECT o.o_orderkey,
               CAST(round(o.o_totalprice * 100) AS BIGINT) AS pc,
               CAST(sum(CAST(round(l.l_quantity) AS BIGINT)) AS BIGINT)
                   AS sq
        FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        GROUP BY 1, 2),
    mom AS (
        SELECT CAST(count(*) AS BIGINT) AS n,
               CAST(sum(pc) AS BIGINT) AS sp,
               CAST(sum(sq) AS BIGINT) AS ss,
               CAST(sum(CAST(pc AS HUGEINT) * pc) AS HUGEINT) AS spp,
               CAST(sum(CAST(sq AS HUGEINT) * sq) AS HUGEINT) AS sqq,
               CAST(sum(CAST(pc AS HUGEINT) * sq) AS HUGEINT) AS spq
        FROM feat),
    cov AS (
        SELECT n,
               CAST(sp AS DOUBLE) / n AS mp,
               CAST(ss AS DOUBLE) / n AS mq,
               (CAST(spp AS DOUBLE) - CAST(sp AS DOUBLE) * sp / n)
                   / (n - 1) AS vp,
               (CAST(sqq AS DOUBLE) - CAST(ss AS DOUBLE) * ss / n)
                   / (n - 1) AS vq,
               (CAST(spq AS DOUBLE) - CAST(sp AS DOUBLE) * ss / n)
                   / (n - 1) AS cv
        FROM mom),
    d2 AS (
        SELECT f.o_orderkey,
               round(f.pc / 100e0, 2) AS o_totalprice,
               f.sq AS sum_qty,
               ((f.pc - c.mp) * (f.pc - c.mp) * c.vq
                - 2e0 * (f.pc - c.mp) * (f.sq - c.mq) * c.cv
                + (f.sq - c.mq) * (f.sq - c.mq) * c.vp)
                   / (c.vp * c.vq - c.cv * c.cv) AS d2
        FROM feat f, cov c)
    SELECT o_orderkey, o_totalprice, sum_qty,
           round(d2, 6) AS mahalanobis_d2,
           CAST(CASE WHEN d2 > {_CHI2_2DF_975!r} THEN 1 ELSE 0 END
                AS BIGINT) AS is_outlier
    FROM d2
    ORDER BY mahalanobis_d2 DESC, o_orderkey
    LIMIT 15
    """,
)
def mahalanobis_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mahalanobis-distance outliers over the (total price, total
    quantity) pair per order: d^2 = (x-mu)' Sigma^-1 (x-mu) with the
    2x2 covariance inverted in closed form — the PARAMETRIC
    multivariate member of the outlier family (HBOS assumes
    independent features and misses correlation-breaking points; LOF
    is local; Mahalanobis flags exactly the points that violate the
    joint ellipse, e.g. huge price with tiny quantity). Flag
    threshold chi2(2, 0.975) = -2 ln 0.025 in closed form. Scale
    shape: ONE moment aggregation (integer cents/quantities, wide
    decimal sums-of-squares) broadcast back into a single scoring
    scan — no sort, no pairwise, the textbook two-pass anomaly
    sweep. Every input to the double arithmetic is an exact integer
    and the scoring expression is fixed-form on both engines."""
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    feat = (
        o.join(li, o["o_orderkey"] == li["l_orderkey"])
        .groupBy("o_orderkey", "o_totalprice")
        .agg(
            F.sum(F.round("l_quantity").cast("long"))
            .cast("long")
            .alias("sq")
        )
        .select(
            "o_orderkey",
            F.round(F.col("o_totalprice") * 100).cast("long").alias("pc"),
            "sq",
        )
    )
    mom = feat.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("pc").cast("long").alias("sp"),
        F.sum("sq").cast("long").alias("ss"),
        F.sum(F.col("pc").cast("decimal(38,0)") * F.col("pc")).alias("spp"),
        F.sum(F.col("sq").cast("decimal(38,0)") * F.col("sq")).alias("sqq"),
        F.sum(F.col("pc").cast("decimal(38,0)") * F.col("sq")).alias("spq"),
    )
    n = F.col("n")
    cov = mom.select(
        "n",
        (F.col("sp").cast("double") / n).alias("mp"),
        (F.col("ss").cast("double") / n).alias("mq"),
        (
            (F.col("spp").cast("double")
             - F.col("sp").cast("double") * F.col("sp") / n)
            / (n - 1)
        ).alias("vp"),
        (
            (F.col("sqq").cast("double")
             - F.col("ss").cast("double") * F.col("ss") / n)
            / (n - 1)
        ).alias("vq"),
        (
            (F.col("spq").cast("double")
             - F.col("sp").cast("double") * F.col("ss") / n)
            / (n - 1)
        ).alias("cv"),
    )
    dx = F.col("pc") - F.col("mp")
    dy = F.col("sq") - F.col("mq")
    d2 = (
        dx * dx * F.col("vq")
        - 2e0 * dx * dy * F.col("cv")
        + dy * dy * F.col("vp")
    ) / (F.col("vp") * F.col("vq") - F.col("cv") * F.col("cv"))
    return (
        feat.crossJoin(F.broadcast(cov))
        .select(
            "o_orderkey",
            F.round(F.col("pc") / 100e0, 2).alias("o_totalprice"),
            F.col("sq").alias("sum_qty"),
            F.round(d2, 6).alias("mahalanobis_d2"),
            F.when(d2 > F.lit(_CHI2_2DF_975), 1)
            .otherwise(0)
            .cast("long")
            .alias("is_outlier"),
        )
        .orderBy(F.desc("mahalanobis_d2"), "o_orderkey")
        .limit(15)
    )


@query(
    "binseg_changepoints",
    """
    WITH d AS (
        SELECT CAST(o_orderdate AS DATE) AS day,
               CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
                    AS BIGINT) AS y
        FROM orders GROUP BY 1),
    pts AS (
        SELECT CAST(row_number() OVER (ORDER BY day) AS BIGINT) AS t,
               day, y,
               CAST(sum(y) OVER (ORDER BY day) AS HUGEINT) AS s,
               sum(CAST(y AS HUGEINT) * y) OVER (ORDER BY day) AS ss
        FROM d),
    nn AS (SELECT CAST(count(*) AS BIGINT) AS n,
                  CAST(max(s) AS DOUBLE) AS stot,
                  CAST(max(ss) AS DOUBLE) AS sstot
           FROM pts),
    sse0 AS (SELECT sstot - stot * stot / n AS v FROM nn),
    c1 AS (
        SELECT p.t, p.day,
               (CAST(p.ss AS DOUBLE) - CAST(p.s AS DOUBLE) * p.s / p.t)
               + ((SELECT sstot FROM nn) - CAST(p.ss AS DOUBLE)
                  - ((SELECT stot FROM nn) - CAST(p.s AS DOUBLE))
                    * ((SELECT stot FROM nn) - CAST(p.s AS DOUBLE))
                    / ((SELECT n FROM nn) - p.t)) AS sse
        FROM pts p WHERE p.t < (SELECT n FROM nn)),
    k1 AS (SELECT t, day, sse FROM c1 ORDER BY sse, t LIMIT 1),
    seg AS (
        SELECT (SELECT t FROM k1) AS a,
               (SELECT CAST(s AS DOUBLE) FROM pts
                WHERE t = (SELECT t FROM k1)) AS sa,
               (SELECT CAST(ss AS DOUBLE) FROM pts
                WHERE t = (SELECT t FROM k1)) AS ssa),
    c2 AS (
        SELECT p.t, p.day,
               CASE WHEN p.t < g.a THEN
                   (CAST(p.ss AS DOUBLE)
                    - CAST(p.s AS DOUBLE) * p.s / p.t)
                   + (g.ssa - CAST(p.ss AS DOUBLE)
                      - (g.sa - CAST(p.s AS DOUBLE))
                        * (g.sa - CAST(p.s AS DOUBLE)) / (g.a - p.t))
                   + ((SELECT sstot FROM nn) - g.ssa
                      - ((SELECT stot FROM nn) - g.sa)
                        * ((SELECT stot FROM nn) - g.sa)
                        / ((SELECT n FROM nn) - g.a))
               ELSE
                   (g.ssa - g.sa * g.sa / g.a)
                   + (CAST(p.ss AS DOUBLE) - g.ssa
                      - (CAST(p.s AS DOUBLE) - g.sa)
                        * (CAST(p.s AS DOUBLE) - g.sa) / (p.t - g.a))
                   + ((SELECT sstot FROM nn) - CAST(p.ss AS DOUBLE)
                      - ((SELECT stot FROM nn) - CAST(p.s AS DOUBLE))
                        * ((SELECT stot FROM nn) - CAST(p.s AS DOUBLE))
                        / ((SELECT n FROM nn) - p.t))
               END AS sse
        FROM pts p, seg g
        WHERE p.t < (SELECT n FROM nn) AND p.t <> g.a),
    k2 AS (SELECT t, day, sse FROM c2 ORDER BY sse, t LIMIT 1),
    bounds AS (
        SELECT least((SELECT t FROM k1), (SELECT t FROM k2)) AS b1,
               greatest((SELECT t FROM k1), (SELECT t FROM k2)) AS b2),
    segstats AS (
        SELECT
          (SELECT CAST(s AS DOUBLE) FROM pts, bounds WHERE t = b1)
              AS s1,
          (SELECT b1 FROM bounds) AS n1,
          (SELECT CAST(s AS DOUBLE) FROM pts, bounds WHERE t = b2)
              AS s2,
          (SELECT b2 FROM bounds) AS n2)
    SELECT (SELECT n FROM nn) AS n_days,
           (SELECT day FROM k1) AS cp1_day,
           (SELECT day FROM k2) AS cp2_day,
           round(1e0 - (SELECT sse FROM k1) / (SELECT v FROM sse0), 6)
               AS var_explained_1,
           round(1e0 - (SELECT sse FROM k2) / (SELECT v FROM sse0), 6)
               AS var_explained_2,
           round(g.s1 / g.n1 / 100e0, 2) AS seg1_mean,
           round((g.s2 - g.s1) / (g.n2 - g.n1) / 100e0, 2) AS seg2_mean,
           round(((SELECT stot FROM nn) - g.s2)
                 / ((SELECT n FROM nn) - g.n2) / 100e0, 2) AS seg3_mean
    FROM segstats g
    """,
)
def binseg_changepoints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Depth-2 binary segmentation of the daily revenue series: the
    best single mean-shift split (as best_split_changepoint), then
    the best SECOND split across both resulting segments — the
    greedy multiple-changepoint locator (Scott & Knott 1974; the
    standard first rung below PELT), reporting both breakpoints,
    variance explained after each, and the three segment means.
    Everything derives from ONE pair of integer prefix-sum columns
    (wide-decimal cumulative sum and sum-of-squares over the
    calendar-bounded day frame): every candidate split's SSE is a
    fixed closed-form expression over exact integers, so the argmin
    is deterministic on both engines, and the second pass reuses the
    same prefixes with the first breakpoint's scalars broadcast —
    no rescan of the corpus, no iteration. Laws in pytest:
    var_explained is monotone (0 <= ve1 <= ve2 < 1) and a numpy
    brute-force replica agrees on both breakpoints."""
    o = _t(spark, sf_dir, "orders")
    d = o.groupBy(F.to_date("o_orderdate").alias("day")).agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
        .cast("long")
        .alias("y")
    )
    wd = Window.orderBy("day")  # calendar-bounded frame
    wc = wd.rowsBetween(Window.unboundedPreceding, 0)
    pts = d.select(
        F.row_number().over(wd).cast("long").alias("t"),
        "day", "y",
        F.sum("y").over(wc).cast("decimal(38,0)").alias("s"),
        F.sum(F.col("y").cast("decimal(38,0)") * F.col("y"))
        .over(wc)
        .alias("ss"),
    ).persist()
    nn = pts.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.max("s").cast("double").alias("stot"),
        F.max("ss").cast("double").alias("sstot"),
    )
    sse0 = F.col("sstot") - F.col("stot") * F.col("stot") / F.col("n")
    pd_ = F.col("s").cast("double")
    pss = F.col("ss").cast("double")
    c1 = (
        pts.crossJoin(F.broadcast(nn))
        .filter(F.col("t") < F.col("n"))
        .select(
            "t", "day", "n", "stot", "sstot",
            (
                (pss - pd_ * F.col("s") / F.col("t"))
                + (
                    F.col("sstot") - pss
                    - (F.col("stot") - pd_)
                    * (F.col("stot") - pd_)
                    / (F.col("n") - F.col("t"))
                )
            ).alias("sse"),
        )
    )
    w1 = Window.orderBy("sse", "t")  # candidate frame, day-bounded
    k1 = c1.withColumn("rr", F.row_number().over(w1)).filter(
        F.col("rr") == 1
    ).select(
        F.col("t").alias("a"), F.col("day").alias("cp1"),
        F.col("sse").alias("sse1"),
    )
    seg = (
        pts.join(F.broadcast(k1), pts["t"] == k1["a"])
        .select(
            "a", "cp1", "sse1",
            F.col("s").cast("double").alias("sa"),
            F.col("ss").cast("double").alias("ssa"),
        )
    )
    cj = (
        pts.crossJoin(F.broadcast(nn))
        .crossJoin(F.broadcast(seg))
        .filter((F.col("t") < F.col("n")) & (F.col("t") != F.col("a")))
    )
    left_sse = (
        (pss - pd_ * F.col("s") / F.col("t"))
        + (
            F.col("ssa") - pss
            - (F.col("sa") - pd_) * (F.col("sa") - pd_)
            / (F.col("a") - F.col("t"))
        )
        + (
            F.col("sstot") - F.col("ssa")
            - (F.col("stot") - F.col("sa"))
            * (F.col("stot") - F.col("sa"))
            / (F.col("n") - F.col("a"))
        )
    )
    right_sse = (
        (F.col("ssa") - F.col("sa") * F.col("sa") / F.col("a"))
        + (
            pss - F.col("ssa")
            - (pd_ - F.col("sa")) * (pd_ - F.col("sa"))
            / (F.col("t") - F.col("a"))
        )
        + (
            F.col("sstot") - pss
            - (F.col("stot") - pd_) * (F.col("stot") - pd_)
            / (F.col("n") - F.col("t"))
        )
    )
    c2 = cj.select(
        "t", "day",
        F.when(F.col("t") < F.col("a"), left_sse)
        .otherwise(right_sse)
        .alias("sse"),
    )
    w2 = Window.orderBy("sse", "t")
    k2 = c2.withColumn("rr", F.row_number().over(w2)).filter(
        F.col("rr") == 1
    ).select(
        F.col("t").alias("b"), F.col("day").alias("cp2"),
        F.col("sse").alias("sse2"),
    )
    both = k1.crossJoin(F.broadcast(k2)).select(
        "a", "cp1", "sse1", "b", "cp2", "sse2",
        F.least("a", "b").alias("b1"), F.greatest("a", "b").alias("b2"),
    )
    p1 = pts.select(F.col("t").alias("b1"), F.col("s").cast("double").alias("s1"))
    p2 = pts.select(F.col("t").alias("b2"), F.col("s").cast("double").alias("s2"))
    return (
        both.join(F.broadcast(p1), "b1")
        .join(F.broadcast(p2), "b2")
        .crossJoin(F.broadcast(nn))
        .select(
            F.col("n").alias("n_days"),
            F.col("cp1").alias("cp1_day"),
            F.col("cp2").alias("cp2_day"),
            F.round(F.lit(1e0) - F.col("sse1") / sse0, 6).alias(
                "var_explained_1"
            ),
            F.round(F.lit(1e0) - F.col("sse2") / sse0, 6).alias(
                "var_explained_2"
            ),
            F.round(F.col("s1") / F.col("b1") / 100e0, 2).alias("seg1_mean"),
            F.round(
                (F.col("s2") - F.col("s1"))
                / (F.col("b2") - F.col("b1"))
                / 100e0,
                2,
            ).alias("seg2_mean"),
            F.round(
                (F.col("stot") - F.col("s2"))
                / (F.col("n") - F.col("b2"))
                / 100e0,
                2,
            ).alias("seg3_mean"),
        )
    )


def _duck_cp1_sql(rounds: int = 3) -> str:
    parts = [
        """WITH cells AS MATERIALIZED (
        SELECT CAST(date_diff('day', DATE '1994-12-25',
                    CAST(o.o_orderdate AS DATE)) % 7 AS BIGINT) AS d,
               CAST(substr(o.o_orderpriority, 1, 1) AS BIGINT) AS p,
               c.c_mktsegment AS s,
               CAST(sum(CAST(round(o.o_totalprice * 100) AS BIGINT))
                    AS BIGINT) AS v
        FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        GROUP BY 1, 2, 3),
    a0 AS (SELECT DISTINCT d, 1e0 AS w FROM cells),
    b0 AS (SELECT DISTINCT p, 1e0 AS w FROM cells),
    c0 AS (SELECT DISTINCT s, 1e0 AS w FROM cells),
    tsq AS (SELECT sum(CAST(v AS DOUBLE) * v ORDER BY d, p, s) AS z
            FROM cells)"""
    ]
    for r in range(1, rounds + 1):
        parts.append(f"""a{r} AS MATERIALIZED (
        SELECT t.d,
               sum(t.v * b.w * c.w ORDER BY t.p, t.s)
               / sum((b.w * c.w) * (b.w * c.w) ORDER BY t.p, t.s) AS w
        FROM cells t
        JOIN b{r - 1} b ON b.p = t.p JOIN c{r - 1} c ON c.s = t.s
        GROUP BY t.d)""")
        parts.append(f"""b{r} AS MATERIALIZED (
        SELECT t.p,
               sum(t.v * a.w * c.w ORDER BY t.d, t.s)
               / sum((a.w * c.w) * (a.w * c.w) ORDER BY t.d, t.s) AS w
        FROM cells t
        JOIN a{r} a ON a.d = t.d JOIN c{r - 1} c ON c.s = t.s
        GROUP BY t.p)""")
        parts.append(f"""c{r} AS MATERIALIZED (
        SELECT t.s,
               sum(t.v * a.w * b.w ORDER BY t.d, t.p)
               / sum((a.w * b.w) * (a.w * b.w) ORDER BY t.d, t.p) AS w
        FROM cells t
        JOIN a{r} a ON a.d = t.d JOIN b{r} b ON b.p = t.p
        GROUP BY t.s)""")
        parts.append(f"""fit{r} AS (
        SELECT 1e0 - sum((t.v - a.w * b.w * c.w)
                         * (t.v - a.w * b.w * c.w)
                         ORDER BY t.d, t.p, t.s)
                     / (SELECT z FROM tsq) AS f
        FROM cells t
        JOIN a{r} a ON a.d = t.d
        JOIN b{r} b ON b.p = t.p
        JOIN c{r} c ON c.s = t.s)""")
    last = rounds
    return (
        ",\n    ".join(parts)
        + f"""
    SELECT (SELECT CAST(count(*) AS BIGINT) FROM cells) AS n_cells,
           round((SELECT f FROM fit1), 6) AS fit_round1,
           round((SELECT f FROM fit2), 6) AS fit_round2,
           round((SELECT f FROM fit3), 6) AS fit_round3,
           (SELECT d FROM a{last} ORDER BY abs(w) DESC, d LIMIT 1)
               AS top_day,
           (SELECT p FROM b{last} ORDER BY abs(w) DESC, p LIMIT 1)
               AS top_priority,
           (SELECT s FROM c{last} ORDER BY abs(w) DESC, s LIMIT 1)
               AS top_segment"""
    )


@query("cp_rank1_tensor", _duck_cp1_sql())
def cp_rank1_tensor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rank-1 CP (CANDECOMP/PARAFAC) decomposition of the 3-way
    revenue tensor day-of-week x order priority x market segment by
    3 unrolled ALS sweeps — the tensor generalization of the PCA
    family: a single multiplicative (a_d * b_p * c_s) profile that
    best explains revenue jointly across the three axes, where the
    2-way queries (median_polish, twoway_anova) can only model one
    margin pair at a time. Each coordinate update is the EXACT
    masked least-squares minimizer (numerator and denominator both
    restricted to observed cells), so the fit share is provably
    non-decreasing across sweeps (pytest law + numpy replica).
    Scale shape: ONE corpus aggregation to a <=175-cell frame; every
    sweep is joins over broadcast factor vectors with key-ordered
    folds. Day-of-week comes from pure epoch-day arithmetic off a
    pre-data Sunday anchor — no engine dayofweek() semantics."""
    o = _t(spark, sf_dir, "orders")
    cst = _t(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    cells = (
        o.join(cst, o["o_custkey"] == cst["c_custkey"])
        .groupBy(
            F.expr(
                "datediff(to_date(o_orderdate), DATE '1994-12-25') % 7"
            ).cast("long").alias("d"),
            F.substring("o_orderpriority", 1, 1).cast("long").alias("p"),
            F.col("c_mktsegment").alias("s"),
        )
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
            .cast("long")
            .alias("v")
        )
        .persist()
    )
    a = cells.select("d").distinct().withColumn("aw", F.lit(1e0))
    bv = cells.select("p").distinct().withColumn("bw", F.lit(1e0))
    cv = cells.select("s").distinct().withColumn("cw", F.lit(1e0))
    tsq = cells.agg(
        F.aggregate(
            F.array_sort(
                F.collect_list(
                    F.struct("d", "p", "s", (F.col("v").cast("double") * F.col("v")).alias("vv"))
                )
            ),
            F.lit(0.0),
            lambda acc, x: acc + x["vv"],
        ).alias("z")
    )

    def _update(key: str, w_out: str, j1: DataFrame, j2: DataFrame,
                o1: str, o2: str) -> DataFrame:
        t = cells.join(F.broadcast(j1), o1).join(F.broadcast(j2), o2)
        prod = F.col("w1") * F.col("w2")
        # explicit per-key folds ordered by the two non-updated axes
        ordcols = [c_ for c_ in ("d", "p", "s") if c_ != key]
        t2 = t.select(
            key,
            *ordcols,
            (F.col("v") * prod).alias("num_t"),
            (prod * prod).alias("den_t"),
        )
        arr2 = F.array_sort(
            F.collect_list(F.struct(*ordcols, "num_t", "den_t"))
        )
        return t2.groupBy(key).agg(
            (
                F.aggregate(arr2, F.lit(0.0), lambda acc, x: acc + x["num_t"])
                / F.aggregate(arr2, F.lit(0.0), lambda acc, x: acc + x["den_t"])
            ).alias(w_out)
        )

    fits = []
    for _ in range(3):
        a = _update(
            "d", "aw",
            bv.select("p", F.col("bw").alias("w1")),
            cv.select("s", F.col("cw").alias("w2")),
            "p", "s",
        ).localCheckpoint()
        bv = _update(
            "p", "bw",
            a.select("d", F.col("aw").alias("w1")),
            cv.select("s", F.col("cw").alias("w2")),
            "d", "s",
        ).localCheckpoint()
        cv = _update(
            "s", "cw",
            a.select("d", F.col("aw").alias("w1")),
            bv.select("p", F.col("bw").alias("w2")),
            "d", "p",
        ).localCheckpoint()
        joined = (
            cells.join(F.broadcast(a), "d")
            .join(F.broadcast(bv), "p")
            .join(F.broadcast(cv), "s")
        )
        resid = F.col("v") - F.col("aw") * F.col("bw") * F.col("cw")
        fit = joined.agg(
            F.aggregate(
                F.array_sort(
                    F.collect_list(
                        F.struct("d", "p", "s", (resid * resid).alias("r2"))
                    )
                ),
                F.lit(0.0),
                lambda acc, x: acc + x["r2"],
            ).alias("res")
        )
        fits.append(fit)
    ncell = cells.agg(F.count(F.lit(1)).cast("long").alias("n_cells"))
    wtop = Window.orderBy(F.abs(F.col("aw")).desc(), "d")
    top_d = a.withColumn("rr", F.row_number().over(wtop)).filter(
        F.col("rr") == 1
    ).select(F.col("d").alias("top_day"))
    wtp = Window.orderBy(F.abs(F.col("bw")).desc(), "p")
    top_p = bv.withColumn("rr", F.row_number().over(wtp)).filter(
        F.col("rr") == 1
    ).select(F.col("p").alias("top_priority"))
    wts = Window.orderBy(F.abs(F.col("cw")).desc(), "s")
    top_s = cv.withColumn("rr", F.row_number().over(wts)).filter(
        F.col("rr") == 1
    ).select(F.col("s").alias("top_segment"))
    out = ncell.crossJoin(F.broadcast(tsq))
    for r_, fit in enumerate(fits, start=1):
        out = out.crossJoin(F.broadcast(fit)).withColumn(
            f"fit_round{r_}",
            F.round(F.lit(1e0) - F.col("res") / F.col("z"), 6),
        ).drop("res")
    return (
        out.crossJoin(F.broadcast(top_d))
        .crossJoin(F.broadcast(top_p))
        .crossJoin(F.broadcast(top_s))
        .select(
            "n_cells", "fit_round1", "fit_round2", "fit_round3",
            "top_day", "top_priority", "top_segment",
        )
    )


@query(
    "corr_matrix_eigenvalues",
    """
    WITH feat AS (
        SELECT CAST(round(o.o_totalprice * 100) AS BIGINT) AS x1,
               CAST(sum(CAST(round(l.l_quantity) AS BIGINT)) AS BIGINT)
                   AS x2,
               CAST(count(*) AS BIGINT) AS x3
        FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        GROUP BY o.o_orderkey, o.o_totalprice),
    mom AS (
        SELECT CAST(count(*) AS BIGINT) AS n,
               CAST(sum(x1) AS BIGINT) AS s1,
               CAST(sum(x2) AS BIGINT) AS s2,
               CAST(sum(x3) AS BIGINT) AS s3,
               CAST(sum(CAST(x1 AS HUGEINT) * x1) AS HUGEINT) AS s11,
               CAST(sum(CAST(x2 AS HUGEINT) * x2) AS HUGEINT) AS s22,
               CAST(sum(CAST(x3 AS HUGEINT) * x3) AS HUGEINT) AS s33,
               CAST(sum(CAST(x1 AS HUGEINT) * x2) AS HUGEINT) AS s12,
               CAST(sum(CAST(x1 AS HUGEINT) * x3) AS HUGEINT) AS s13,
               CAST(sum(CAST(x2 AS HUGEINT) * x3) AS HUGEINT) AS s23
        FROM feat),
    cv AS (
        SELECT n,
               CAST(s11 AS DOUBLE) - CAST(s1 AS DOUBLE) * s1 / n AS v1,
               CAST(s22 AS DOUBLE) - CAST(s2 AS DOUBLE) * s2 / n AS v2,
               CAST(s33 AS DOUBLE) - CAST(s3 AS DOUBLE) * s3 / n AS v3,
               CAST(s12 AS DOUBLE) - CAST(s1 AS DOUBLE) * s2 / n AS c12,
               CAST(s13 AS DOUBLE) - CAST(s1 AS DOUBLE) * s3 / n AS c13,
               CAST(s23 AS DOUBLE) - CAST(s2 AS DOUBLE) * s3 / n AS c23
        FROM mom),
    corr AS (
        SELECT c12 / sqrt(v1 * v2) AS r12,
               c13 / sqrt(v1 * v3) AS r13,
               c23 / sqrt(v2 * v3) AS r23
        FROM cv),
    chr AS (
        SELECT r12, r13, r23,
               (r12 * r12 + r13 * r13 + r23 * r23) AS p1
        FROM corr),
    tri AS (
        SELECT r12, r13, r23, p1,
               sqrt((2e0 * p1) / 6e0) AS p,
               -- det(B)/2 for B=(R-I)/p with unit diagonal collapses
               -- to r12 r13 r23 / p^3
               CASE WHEN p1 = 0e0 THEN 0e0
                    ELSE acos(least(1e0, greatest(-1e0,
                         (r12 * r13 * r23)
                         / (sqrt(2e0 * p1 / 6e0)
                            * sqrt(2e0 * p1 / 6e0)
                            * sqrt(2e0 * p1 / 6e0))))) / 3e0
               END AS phi
        FROM chr),
    lam AS (
        SELECT r12, r13, r23,
               1e0 + 2e0 * p * cos(phi) AS l1,
               1e0 + 2e0 * p * cos(phi + 2e0 * pi() / 3e0) AS l3
        FROM tri)
    SELECT round(r12, 6) AS corr_price_qty,
           round(r13, 6) AS corr_price_lines,
           round(r23, 6) AS corr_qty_lines,
           round(l1, 6) AS lambda1,
           round(3e0 - l1 - l3, 6) AS lambda2,
           round(l3, 6) AS lambda3,
           round(l1 / l3, 6) AS condition_number,
           round(l1 / 3e0, 6) AS top_share
    FROM lam
    """,
)
def corr_matrix_eigenvalues(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT eigenvalues of the 3x3 correlation matrix of the
    per-order features (total price, total quantity, line count) via
    the closed-form trigonometric solution of the characteristic
    cubic for symmetric 3x3 matrices (Smith 1961): with unit
    diagonal, q = 1, p = sqrt(sum r_ij^2 / 3), B = (R - I)/p, and
    lambda_k = 1 + 2p cos(phi + 2 pi k/3) with phi = acos(det(B)/2)/3
    — no iteration, no convergence question (the flat-spectrum trap
    that power iteration hits on isotropic data), every eigenvalue
    exact to double precision and pinned against numpy.eigvalsh in
    pytest. lambda1/3 is the variance share of the dominant joint
    direction; condition_number = lambda1/lambda3 is the
    multicollinearity diagnostic regression-on-these-features cares
    about. One exact-integer moment aggregation; everything after is
    a fixed scalar expression."""
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    feat = (
        o.join(li, o["o_orderkey"] == li["l_orderkey"])
        .groupBy("o_orderkey", "o_totalprice")
        .agg(
            F.sum(F.round("l_quantity").cast("long"))
            .cast("long")
            .alias("x2"),
            F.count(F.lit(1)).cast("long").alias("x3"),
        )
        .select(
            F.round(F.col("o_totalprice") * 100).cast("long").alias("x1"),
            "x2", "x3",
        )
    )
    dec = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731
    mom = feat.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x1").cast("long").alias("s1"),
        F.sum("x2").cast("long").alias("s2"),
        F.sum("x3").cast("long").alias("s3"),
        F.sum(dec("x1") * F.col("x1")).alias("s11"),
        F.sum(dec("x2") * F.col("x2")).alias("s22"),
        F.sum(dec("x3") * F.col("x3")).alias("s33"),
        F.sum(dec("x1") * F.col("x2")).alias("s12"),
        F.sum(dec("x1") * F.col("x3")).alias("s13"),
        F.sum(dec("x2") * F.col("x3")).alias("s23"),
    )
    n = F.col("n")
    cv = mom.select(
        "n",
        (F.col("s11").cast("double") - F.col("s1").cast("double") * F.col("s1") / n).alias("v1"),
        (F.col("s22").cast("double") - F.col("s2").cast("double") * F.col("s2") / n).alias("v2"),
        (F.col("s33").cast("double") - F.col("s3").cast("double") * F.col("s3") / n).alias("v3"),
        (F.col("s12").cast("double") - F.col("s1").cast("double") * F.col("s2") / n).alias("c12"),
        (F.col("s13").cast("double") - F.col("s1").cast("double") * F.col("s3") / n).alias("c13"),
        (F.col("s23").cast("double") - F.col("s2").cast("double") * F.col("s3") / n).alias("c23"),
    )
    corr = cv.select(
        (F.col("c12") / F.sqrt(F.col("v1") * F.col("v2"))).alias("r12"),
        (F.col("c13") / F.sqrt(F.col("v1") * F.col("v3"))).alias("r13"),
        (F.col("c23") / F.sqrt(F.col("v2") * F.col("v3"))).alias("r23"),
    )
    r12, r13, r23 = F.col("r12"), F.col("r13"), F.col("r23")
    p1 = r12 * r12 + r13 * r13 + r23 * r23
    chr_ = corr.withColumn("p1", p1)
    p = F.sqrt((2e0 * F.col("p1")) / 6e0)
    # det(B)/2 for B = (R - I)/p with unit diagonal = r12 r13 r23 / p^3
    halfdet = (r12 * r13 * r23) / (
        F.sqrt(2e0 * F.col("p1") / 6e0)
        * F.sqrt(2e0 * F.col("p1") / 6e0)
        * F.sqrt(2e0 * F.col("p1") / 6e0)
    )
    phi = F.when(F.col("p1") == 0e0, F.lit(0e0)).otherwise(
        F.acos(F.least(F.lit(1e0), F.greatest(F.lit(-1e0), halfdet))) / 3e0
    )
    tri = chr_.select("r12", "r13", "r23", p.alias("p"), phi.alias("phi"))
    l1 = 1e0 + 2e0 * F.col("p") * F.cos(F.col("phi"))
    l3 = 1e0 + 2e0 * F.col("p") * F.cos(
        F.col("phi") + 2e0 * F.lit(math.pi) / 3e0
    )
    lam = tri.select("r12", "r13", "r23", l1.alias("l1"), l3.alias("l3"))
    return lam.select(
        F.round("r12", 6).alias("corr_price_qty"),
        F.round("r13", 6).alias("corr_price_lines"),
        F.round("r23", 6).alias("corr_qty_lines"),
        F.round("l1", 6).alias("lambda1"),
        F.round(3e0 - F.col("l1") - F.col("l3"), 6).alias("lambda2"),
        F.round("l3", 6).alias("lambda3"),
        F.round(F.col("l1") / F.col("l3"), 6).alias("condition_number"),
        F.round(F.col("l1") / 3e0, 6).alias("top_share"),
    )


_POIS1_CDF = (
    "0.36787944117144233", "0.7357588823428847", "0.9196986029286058",
    "0.9810118431238463", "0.9963401531726563", "0.9994058151824183",
)


def _duck_bootmed_sql(b_reps: int = 20) -> str:
    h = _DUCK_H60.format(
        args="CAST(o_orderkey AS VARCHAR), 'boot' || CAST(b.b AS VARCHAR)"
    )
    c = _POIS1_CDF
    w = (
        f"CASE WHEN u < {c[0]} THEN 0 WHEN u < {c[1]} THEN 1"
        f" WHEN u < {c[2]} THEN 2 WHEN u < {c[3]} THEN 3"
        f" WHEN u < {c[4]} THEN 4 WHEN u < {c[5]} THEN 5 ELSE 6 END"
    )
    return f"""
    WITH v AS (
        SELECT o_orderkey,
               CAST(round(o_totalprice * 100) AS BIGINT) AS x
        FROM orders),
    nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM v),
    pt AS (
        SELECT x AS medx FROM (
            SELECT x,
                   CAST(sum(c) OVER (ORDER BY x) AS BIGINT) AS cum,
                   CAST(coalesce(sum(c) OVER (ORDER BY x
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                        0) AS BIGINT) AS prev
            FROM (SELECT x, CAST(count(*) AS BIGINT) AS c
                  FROM v GROUP BY 1)), nn
        WHERE cum >= (nn.n + 1) // 2 AND prev < (nn.n + 1) // 2
        ORDER BY x LIMIT 1),
    wts AS (
        SELECT b.b, v.x,
               CAST(sum({w}) AS BIGINT) AS wt
        FROM v
        CROSS JOIN (SELECT unnest(generate_series(0, {b_reps - 1})) AS b)
             b
        CROSS JOIN LATERAL (
            SELECT ({h} % 1000000) / 1000000e0 AS u) uu
        GROUP BY 1, 2),
    tot AS (SELECT b, CAST(sum(wt) AS BIGINT) AS tw
            FROM wts GROUP BY 1),
    cdfb AS (
        SELECT b, x,
               CAST(sum(wt) OVER (PARTITION BY b ORDER BY x) AS BIGINT)
                   AS cum,
               CAST(coalesce(sum(wt) OVER (PARTITION BY b ORDER BY x
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                    0) AS BIGINT) AS prev
        FROM wts),
    meds AS (
        SELECT c.b, min(c.x) AS m
        FROM cdfb c JOIN tot t ON t.b = c.b
        WHERE c.cum >= (t.tw + 1) // 2 AND c.prev < (t.tw + 1) // 2
        GROUP BY c.b),
    se AS (
        SELECT CAST(count(*) AS BIGINT) AS bn,
               CAST(sum(m) AS BIGINT) AS sm,
               CAST(sum(CAST(m AS HUGEINT) * m) AS HUGEINT) AS smm,
               CAST(min(m) AS BIGINT) AS mn,
               CAST(max(m) AS BIGINT) AS mx
        FROM meds),
    fin AS (
        SELECT bn, mn, mx,
               sqrt((CAST(smm AS DOUBLE) - CAST(sm AS DOUBLE) * sm / bn)
                    / (bn - 1)) AS sd
        FROM se)
    SELECT (SELECT n FROM nn) AS n_orders,
           round((SELECT medx FROM pt) / 100e0, 2) AS median_price,
           f.bn AS n_replicates,
           round(f.sd / 100e0, 4) AS boot_se,
           round(((SELECT medx FROM pt) - 1.96e0 * f.sd) / 100e0, 2)
               AS ci_lo,
           round(((SELECT medx FROM pt) + 1.96e0 * f.sd) / 100e0, 2)
               AS ci_hi,
           round(f.mn / 100e0, 2) AS boot_min,
           round(f.mx / 100e0, 2) AS boot_max
    FROM fin f
    """


@query("median_bootstrap_ci", _duck_bootmed_sql())
def median_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Poisson-bootstrap confidence interval for the MEDIAN order
    value: 20 replicates whose per-row weights are Poisson(1)
    variates driven by replayable hash60 uniforms through the exact
    inverse CDF (the only bootstrap that distributes — no resample
    materialization, one pass emits every replicate's weighted
    counts), each replicate's median located EXACTLY on its weighted
    distinct-value CDF, and the normal-interval SE computed from
    exact integer-cents medians. poisson_bootstrap_mean covered the
    linear statistic, where the bootstrap is almost redundant with
    the CLT; the median is where the bootstrap earns its keep
    (no closed-form SE without density estimation). Every replicate
    median is an exact integer, so the SE arithmetic is
    order-immune."""
    o = _t(spark, sf_dir, "orders")
    from social_link_prediction_spark.ml.linksplit import hash60

    v = o.select(
        "o_orderkey",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("x"),
    )
    nn = v.agg(F.count(F.lit(1)).cast("long").alias("n"))
    dv = v.groupBy("x").agg(F.count(F.lit(1)).cast("long").alias("c"))
    # bucketed prefix sums (r8: support -> bucketed); exclusive
    # prefix = inclusive - own count
    cdf = st.bucketed_prefix_sums(dv, "x", ["c"], n_buckets=32).select(
        "x",
        F.col("cum_c").cast("long").alias("cum"),
        (F.col("cum_c") - F.col("c")).cast("long").alias("prev"),
    )
    mrank = F.expr("(n + 1) div 2")
    pt = (
        cdf.crossJoin(F.broadcast(nn))
        .filter((F.col("cum") >= mrank) & (F.col("prev") < mrank))
        .agg(F.min("x").alias("medx"))
    )
    reps = spark.range(20).select(F.col("id").cast("long").alias("b"))
    u = (
        hash60(
            F.col("o_orderkey").cast("string"),
            F.concat(F.lit("boot"), F.col("b").cast("string")),
        )
        % 1000000
    ) / 1000000e0
    cuts = [float(c_) for c_ in _POIS1_CDF]
    wexpr = (
        F.when(u < cuts[0], 0)
        .when(u < cuts[1], 1)
        .when(u < cuts[2], 2)
        .when(u < cuts[3], 3)
        .when(u < cuts[4], 4)
        .when(u < cuts[5], 5)
        .otherwise(6)
    )
    # r9 perf: the 20x replicate fan-out (|orders| x 20 md5 hash60
    # evaluations) otherwise executes inside the scan stage, which the
    # single-row-group testdata parquet caps at 1-3 tasks regardless of
    # SPARK_GRAFT_CPUS; lifting it onto defaultParallelism uses every
    # core. At cluster scale the input splits already parallelize the
    # scan and this round-robin exchange of the slim (key, cents) frame
    # is noise. Interleaved A/B at sf0.1: 1.71x med / 1.70x min.
    sp = spark.sparkContext.defaultParallelism
    wts = (
        v.repartition(sp)
        .crossJoin(F.broadcast(reps))
        .select("b", "x", wexpr.alias("w"))
        .groupBy("b", "x")
        .agg(F.sum("w").cast("long").alias("wt"))
    )
    tot = wts.groupBy("b").agg(F.sum("wt").cast("long").alias("tw"))
    wcb = Window.partitionBy("b").orderBy("x").rowsBetween(
        Window.unboundedPreceding, 0
    )
    wpb = Window.partitionBy("b").orderBy("x").rowsBetween(
        Window.unboundedPreceding, -1
    )
    cdfb = wts.select(
        "b", "x",
        F.sum("wt").over(wcb).cast("long").alias("cum"),
        F.coalesce(F.sum("wt").over(wpb), F.lit(0))
        .cast("long")
        .alias("prev"),
    )
    brank = F.expr("(tw + 1) div 2")
    meds = (
        cdfb.join(F.broadcast(tot), "b")
        .filter((F.col("cum") >= brank) & (F.col("prev") < brank))
        .groupBy("b")
        .agg(F.min("x").alias("m"))
    )
    se = meds.agg(
        F.count(F.lit(1)).cast("long").alias("bn"),
        F.sum("m").cast("long").alias("sm"),
        F.sum(F.col("m").cast("decimal(38,0)") * F.col("m")).alias("smm"),
        F.min("m").cast("long").alias("mn"),
        F.max("m").cast("long").alias("mx"),
    )
    sd = F.sqrt(
        (
            F.col("smm").cast("double")
            - F.col("sm").cast("double") * F.col("sm") / F.col("bn")
        )
        / (F.col("bn") - 1)
    )
    return (
        nn.crossJoin(F.broadcast(pt))
        .crossJoin(F.broadcast(se))
        .select(
            F.col("n").alias("n_orders"),
            F.round(F.col("medx") / 100e0, 2).alias("median_price"),
            F.col("bn").alias("n_replicates"),
            F.round(sd / 100e0, 4).alias("boot_se"),
            F.round((F.col("medx") - 1.96e0 * sd) / 100e0, 2).alias("ci_lo"),
            F.round((F.col("medx") + 1.96e0 * sd) / 100e0, 2).alias("ci_hi"),
            F.round(F.col("mn") / 100e0, 2).alias("boot_min"),
            F.round(F.col("mx") / 100e0, 2).alias("boot_max"),
        )
    )


@query(
    "edit_distance_one_join",
    """
    WITH s AS (
        SELECT DISTINCT lower(p_name) || '|' || p_brand AS k
        FROM part),
    nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM s),
    dels AS (
        SELECT k, d.pos, d.v
        FROM s, LATERAL (
            SELECT unnest([{'pos': i,
                            'v': substr(k, 1, i - 1) || substr(k, i + 1)}
                           for i in range(1, length(k) + 1)]) AS d) dd),
    subst AS (
        SELECT DISTINCT least(a.k, b.k) AS sa, greatest(a.k, b.k) AS sb
        FROM dels a JOIN dels b
          ON a.v = b.v AND a.pos = b.pos AND a.k < b.k
        WHERE length(a.k) = length(b.k)),
    indel AS (
        SELECT DISTINCT least(d.k, s2.k) AS sa, greatest(d.k, s2.k) AS sb
        FROM dels d JOIN s s2 ON s2.k = d.v),
    pairs AS (
        SELECT sa, sb FROM subst UNION SELECT sa, sb FROM indel),
    cnt AS (SELECT CAST(count(*) AS BIGINT) AS n_pairs FROM pairs)
    SELECT p.sa, p.sb,
           (SELECT n FROM nn) AS n_strings,
           (SELECT n_pairs FROM cnt) AS n_pairs_ed1
    FROM pairs p
    ORDER BY p.sa, p.sb
    LIMIT 10
    """,
)
def edit_distance_one_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance-1 similarity join over the distinct (name,
    brand) strings via DELETION NEIGHBORHOODS (FastSS, Bocek et al.
    2007): two equal-length strings are at substitution distance 1
    iff they share a deletion variant AT THE SAME POSITION, and at
    indel distance 1 iff one IS a deletion variant of the other —
    both characterizations are EXACT, so no post-verification pass
    is needed (unlike the gram/Jaccard blockers, which are recall
    heuristics). Scale shape: the index is linear in total string
    length (sum-of-lengths variants, one equi-join), the classic
    alternative to the O(N^2) pairwise Levenshtein that doesn't
    distribute; candidates never blow up because a variant bucket is
    bounded by alphabet size. Complements sorted_neighborhood_
    blocking (recall-oriented) with the exact-radius member of the
    string-join family."""
    p = _t(spark, sf_dir, "part")
    s = p.select(
        F.concat_ws("|", F.lower("p_name"), F.col("p_brand")).alias("k")
    ).distinct()
    nn = s.agg(F.count(F.lit(1)).cast("long").alias("n"))
    dels = s.select(
        "k",
        F.posexplode(
            F.expr(
                "transform(sequence(1, length(k)),"
                " i -> concat(substring(k, 1, i - 1),"
                " substring(k, i + 1, length(k))))"
            )
        ).alias("pos0", "v"),
    ).select("k", (F.col("pos0") + 1).alias("pos"), "v")
    da = dels.select(
        F.col("k").alias("ka"), "pos", "v",
        F.length("ka").alias("la"),
    )
    db = dels.select(
        F.col("k").alias("kb"), "pos", "v",
        F.length("kb").alias("lb"),
    )
    subst = (
        da.join(db, ["v", "pos"])
        .filter((F.col("ka") < F.col("kb")) & (F.col("la") == F.col("lb")))
        .select(
            F.least("ka", "kb").alias("sa"),
            F.greatest("ka", "kb").alias("sb"),
        )
        .distinct()
    )
    s2 = s.select(F.col("k").alias("v"), F.col("k").alias("kt"))
    indel = (
        dels.join(s2, "v")
        .select(
            F.least("k", "kt").alias("sa"),
            F.greatest("k", "kt").alias("sb"),
        )
        .distinct()
    )
    pairs = subst.unionAll(indel).distinct()
    cnt = pairs.agg(F.count(F.lit(1)).cast("long").alias("n_pairs_ed1"))
    return (
        pairs.crossJoin(F.broadcast(nn))
        .crossJoin(F.broadcast(cnt))
        .select(
            "sa", "sb",
            F.col("n").alias("n_strings"),
            "n_pairs_ed1",
        )
        .orderBy("sa", "sb")
        .limit(10)
    )


@query(
    "knn_loo_accuracy",
    """
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v, label
               FROM embeddings),
    sc AS (
        SELECT a.vec_id AS ai, a.label AS la, b.label AS lb,
               round(list_cosine_similarity(a.v, b.v), 6) AS cos,
               b.vec_id AS bi
        FROM e a JOIN e b ON a.vec_id <> b.vec_id),
    top5 AS (
        SELECT ai, la, lb FROM (
            SELECT ai, la, lb,
                   row_number() OVER (PARTITION BY ai
                                      ORDER BY cos DESC, bi) AS rr
            FROM sc) WHERE rr <= 5),
    votes AS (
        SELECT ai, la, lb, CAST(count(*) AS BIGINT) AS nv
        FROM top5 GROUP BY 1, 2, 3),
    pred AS (
        SELECT ai, la, lb AS pred FROM (
            SELECT ai, la, lb,
                   row_number() OVER (PARTITION BY ai
                                      ORDER BY nv DESC, lb) AS rr
            FROM votes) WHERE rr = 1)
    SELECT la AS label,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CASE WHEN pred = la THEN 1 ELSE 0 END) AS BIGINT)
               AS n_correct,
           round(sum(CASE WHEN pred = la THEN 1 ELSE 0 END) * 1e0
                 / count(*), 6) AS accuracy
    FROM pred
    GROUP BY la
    ORDER BY la
    """,
)
def knn_loo_accuracy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leave-one-out 5-NN classification accuracy per label over the
    embedding table — the zero-training separability benchmark for
    an embedding space (if 5-NN can't recover the labels, no
    downstream classifier trained on these vectors will): each
    vector is classified by majority vote of its 5 nearest OTHER
    vectors (round-before-rank cosines; vote ties broken toward the
    smaller label — fully deterministic), and accuracy is reported
    per label so class imbalance can't hide a collapsed class. The
    all-pairs stage is the brute-force exact twin on the panel-sized
    table; at corpus scale the identical evaluation runs on the
    IVF/LSH candidate lists (ann_recall_audit measures exactly how
    much that substitution costs). Completes the embedding eval
    family: mutual_nn_pairs (precision pairs), hubness, recall
    audit, and now end-task separability."""
    emb = _t(spark, sf_dir, "embeddings")
    e = emb.select(
        "vec_id",
        F.col("embedding").cast("array<double>").alias("v"),
        "label",
    ).withColumn("n", sim.l2_norm(F.col("v")))
    a = e.repartition("vec_id").alias("a")
    b = F.broadcast(e).alias("b")
    sc = (
        a.join(b, F.col("a.vec_id") != F.col("b.vec_id"))
        .select(
            F.col("a.vec_id").alias("ai"),
            F.col("a.label").alias("la"),
            F.col("b.label").alias("lb"),
            F.round(
                sim.dot(F.col("a.v"), F.col("b.v"))
                / (F.col("a.n") * F.col("b.n")),
                6,
            ).alias("cos"),
            F.col("b.vec_id").alias("bi"),
        )
    )
    wn = Window.partitionBy("ai").orderBy(F.desc("cos"), "bi")
    top5 = sc.withColumn("rr", F.row_number().over(wn)).filter(
        F.col("rr") <= 5
    )
    votes = top5.groupBy("ai", "la", "lb").agg(
        F.count(F.lit(1)).cast("long").alias("nv")
    )
    wv = Window.partitionBy("ai").orderBy(F.desc("nv"), "lb")
    pred = votes.withColumn("rr", F.row_number().over(wv)).filter(
        F.col("rr") == 1
    ).select("ai", "la", F.col("lb").alias("pred"))
    return (
        pred.groupBy(F.col("la").alias("label"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum(F.when(F.col("pred") == F.col("la"), 1).otherwise(0))
            .cast("long")
            .alias("n_correct"),
            F.round(
                F.sum(
                    F.when(F.col("pred") == F.col("la"), 1).otherwise(0)
                ).cast("double")
                / F.count(F.lit(1)),
                6,
            ).alias("accuracy"),
        )
        .orderBy("label")
    )


@query(
    "kleinberg_burst_detection",
    """
    WITH RECURSIVE dc AS (
        SELECT CAST(ts AS DATE) AS day, CAST(count(*) AS BIGINT) AS y
        FROM events GROUP BY 1),
    bounds AS (SELECT min(day) AS d0, max(day) AS d1 FROM dc),
    cal AS (
        SELECT CAST(unnest(generate_series(d0, d1, INTERVAL 1 DAY))
                    AS DATE) AS day
        FROM bounds),
    ser AS (
        SELECT c.day, coalesce(dc.y, 0) AS y,
               CAST(row_number() OVER (ORDER BY c.day) AS BIGINT) AS t
        FROM cal c LEFT JOIN dc ON dc.day = c.day),
    vecs AS (
        SELECT list(y ORDER BY day) AS yv,
               CAST(count(*) AS BIGINT) AS n,
               CAST(sum(y) AS BIGINT) AS s
        FROM ser),
    lam AS (
        -- ln() quantized at 12dp: the ONLY transcendentals in the
        -- recursion; with both engines recursing on the identically
        -- rounded doubles, every +/*/min/compare is bit-identical
        -- (libm-ulp immunity — the six_degrees r6 lesson)
        SELECT n, yv,
               CAST(s AS DOUBLE) / n AS l0,
               2e0 * CAST(s AS DOUBLE) / n AS l1,
               floor(ln(CAST(s AS DOUBLE) / n) * 1e12) / 1e12 AS lnl0,
               floor(ln(2e0 * CAST(s AS DOUBLE) / n) * 1e12) / 1e12 AS lnl1
        FROM vecs),
    rec AS (
        SELECT CAST(1 AS BIGINT) AS j,
               (l0 - yv[1] * lnl0) AS c0,
               (l1 - yv[1] * lnl1) + 1e0 AS c1,
               [0] AS p0, [1] AS p1
        FROM lam
        UNION ALL
        SELECT r.j + 1,
               (m.l0 - m.yv[CAST(r.j + 1 AS INTEGER)] * m.lnl0)
                   + least(r.c0, r.c1),
               (m.l1 - m.yv[CAST(r.j + 1 AS INTEGER)] * m.lnl1)
                   + least(r.c1, r.c0 + 1e0),
               list_append(CASE WHEN r.c0 <= r.c1 THEN r.p0
                                ELSE r.p1 END, 0),
               list_append(CASE WHEN r.c1 <= r.c0 + 1e0 THEN r.p1
                                ELSE r.p0 END, 1)
        FROM rec r, lam m WHERE r.j < m.n),
    fin AS (
        SELECT CASE WHEN c0 <= c1 THEN p0 ELSE p1 END AS path,
               least(c0, c1) AS cost
        FROM rec ORDER BY j DESC LIMIT 1),
    marks AS (
        SELECT s.day, f.path[CAST(s.t AS INTEGER)] AS b
        FROM ser s, fin f)
    SELECT (SELECT n FROM lam) AS n_days,
           CAST(sum(b) AS BIGINT) AS n_burst_days,
           min(CASE WHEN b = 1 THEN day END) AS first_burst_day,
           max(CASE WHEN b = 1 THEN day END) AS last_burst_day,
           round((SELECT cost FROM fin), 6) AS viterbi_cost
    FROM marks
    """,
)
def kleinberg_burst_detection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kleinberg burst detection (Kleinberg 2002, 2-state automaton)
    on the zero-filled daily event-count series: a base state at the
    observed mean rate and a burst state at twice it, Poisson
    negative-log-likelihood emission costs (the ln(y!) term cancels
    between states), a gamma = 1 cost to ENTER the burst state, and
    the exact Viterbi minimum-cost state path — the principled
    burst/episode segmentation the threshold detectors
    (peak_detection, page_hinkley) approximate: hysteresis comes out
    of the transition cost, not a hand-tuned window. The recursion
    carries both states' costs AND their argmin paths; it runs
    driver-side on the collected calendar-bounded series in Python
    doubles, the IDENTICAL IEEE sequence as the oracle's list-state
    recursive CTE (the DTW device), so every tie-break compare
    agrees bit-for-bit. The two ln() emissions — the only
    transcendentals — are quantized at 12dp on BOTH sides before the
    recursion via floor(ln(x)*1e12)/1e12 (exact double ops on both
    engines, unlike round() whose decimal semantics differ between
    Python and DuckDB), so a Python-libm vs DuckDB-libm last-ulp
    difference (the class that flipped six_degrees' r6 driver hash)
    is confined to the rare floor-boundary straddle instead of every
    rounding boundary, and cannot otherwise reach the cost
    accumulation or any min() decision."""
    ev = _t(spark, sf_dir, "events")
    dc = ev.groupBy(F.to_date("ts").alias("day")).agg(
        F.count(F.lit(1)).cast("long").alias("y")
    )
    bounds = dc.agg(F.min("day").alias("d0"), F.max("day").alias("d1"))
    cal = bounds.select(F.explode(F.sequence("d0", "d1")).alias("day"))
    ser = cal.join(dc, "day", "left").select(
        "day", F.coalesce("y", F.lit(0)).cast("long").alias("y")
    )
    rows = ser.orderBy("day").collect()  # calendar-bounded (~30 rows)
    ys = [r["y"] for r in rows]
    days = [r["day"] for r in rows]
    n = len(ys)
    s = sum(ys)
    l0 = s / n
    l1 = 2e0 * s / n
    # 12dp quantization via floor(x*1e12)/1e12 — exact double ops on
    # BOTH engines (Python round() is correctly-rounded decimal while
    # DuckDB ROUND is multiply-based; they can disagree by 1 ulp on the
    # SAME input, so round() is not an engine-identical primitive —
    # ADVICE r7). floor/scale is: *1e12 and /1e12 are the same IEEE
    # multiply/divide, floor is exact, and ln(x)*1e12 < 2^53 here.
    lnl0 = math.floor(math.log(l0) * 1e12) / 1e12
    lnl1 = math.floor(math.log(l1) * 1e12) / 1e12
    c0 = l0 - ys[0] * lnl0
    c1 = (l1 - ys[0] * lnl1) + 1e0
    p0, p1 = [0], [1]
    for j in range(1, n):
        nc0 = (l0 - ys[j] * lnl0) + min(c0, c1)
        nc1 = (l1 - ys[j] * lnl1) + min(c1, c0 + 1e0)
        np0 = (p0 if c0 <= c1 else p1) + [0]
        np1 = (p1 if c1 <= c0 + 1e0 else p0) + [1]
        c0, c1, p0, p1 = nc0, nc1, np0, np1
    path = p0 if c0 <= c1 else p1
    cost = min(c0, c1)
    burst_days = [d for d, b in zip(days, path) if b == 1]
    out = [
        (
            n,
            len(burst_days),
            burst_days[0] if burst_days else None,
            burst_days[-1] if burst_days else None,
            round(cost, 6),
        )
    ]
    return spark.createDataFrame(
        out,
        "n_days bigint, n_burst_days bigint, first_burst_day date, "
        "last_burst_day date, viterbi_cost double",
    )


def _duck_aa_sql(n_splits: int = 20) -> str:
    h = _DUCK_H60.format(
        args="CAST(user_id AS VARCHAR), 'aa' || CAST(s.s AS VARCHAR)"
    )
    return f"""
    WITH pu AS (
        SELECT user_id, CAST(count(*) AS BIGINT) AS m
        FROM events GROUP BY 1),
    assig AS (
        SELECT s.s, {h} % 2 AS arm, pu.m
        FROM pu CROSS JOIN
             (SELECT unnest(generate_series(0, {n_splits - 1})) AS s) s),
    g AS (
        SELECT s, arm,
               CAST(count(*) AS BIGINT) AS n,
               CAST(sum(m) AS BIGINT) AS sm,
               CAST(sum(m * m) AS BIGINT) AS smm
        FROM assig GROUP BY 1, 2),
    wide AS (
        SELECT s,
               max(CASE WHEN arm = 0 THEN n END) AS n0,
               max(CASE WHEN arm = 1 THEN n END) AS n1,
               max(CASE WHEN arm = 0 THEN sm END) AS s0,
               max(CASE WHEN arm = 1 THEN sm END) AS s1,
               max(CASE WHEN arm = 0 THEN smm END) AS ss0,
               max(CASE WHEN arm = 1 THEN smm END) AS ss1
        FROM g GROUP BY s),
    z AS (
        SELECT s,
               (CAST(s0 AS DOUBLE) / n0 - CAST(s1 AS DOUBLE) / n1)
               / sqrt(
                   ((CAST(ss0 AS DOUBLE)
                     - CAST(s0 AS DOUBLE) * s0 / n0) / (n0 - 1)) / n0
                   + ((CAST(ss1 AS DOUBLE)
                       - CAST(s1 AS DOUBLE) * s1 / n1) / (n1 - 1)) / n1)
                   AS zval
        FROM wide),
    p AS (
        SELECT s, zval,
               1.0 - {_AS_ERF.format(x="(abs(zval) / sqrt(2.0))")} AS pval
        FROM z),
    agg AS (
        SELECT CAST(count(*) AS BIGINT) AS n_splits,
               CAST(sum(CASE WHEN pval < 0.05 THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_fp,
               round(max(abs(zval)), 6) AS max_abs_z
        FROM p)
    SELECT (SELECT CAST(count(*) AS BIGINT) FROM pu) AS n_users,
           n_splits, n_fp AS n_false_positives,
           round(0.05e0 * n_splits, 2) AS expected_fp,
           max_abs_z,
           CAST(CASE WHEN n_fp <= 0.05e0 * n_splits
                          + 2e0 * sqrt(n_splits * 0.05e0 * 0.95e0)
                     THEN 1 ELSE 0 END AS BIGINT) AS within_band
    FROM agg
    """


@query("aa_calibration_audit", _duck_aa_sql())
def aa_calibration_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A/A test calibration audit: 20 independent hash-split null
    experiments on the events-per-user metric, each analyzed with
    the same Welch z-test the real A/B pipeline uses, counting how
    many reach p < 0.05 — the empirical false-positive-rate check
    that validates the TEST MACHINERY itself (a broken metric,
    dependence structure, or variance estimator shows up here before
    it burns a real experiment; expected 1 +- 2 sqrt(npq) false
    alarms). User assignment is hash60-replayable per split; all
    per-arm moments are exact integer sums rolled up ONCE from the
    corpus and reused across all 20 splits (the fan-out touches the
    user rollup, never the event log). Completes the
    experimentation family: power sizing (ab_test_power_mde),
    always-valid monitoring (mSPRT), variance reduction (CUPED), and
    now harness calibration."""
    from social_link_prediction_spark.ml.linksplit import hash60

    ev = _t(spark, sf_dir, "events")
    pu = ev.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("m")
    )
    reps = spark.range(20).select(F.col("id").cast("long").alias("s"))
    assig = pu.crossJoin(F.broadcast(reps)).select(
        "s",
        (
            hash60(
                F.col("user_id").cast("string"),
                F.concat(F.lit("aa"), F.col("s").cast("string")),
            )
            % 2
        ).alias("arm"),
        "m",
    )
    g = assig.groupBy("s", "arm").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("m").cast("long").alias("sm"),
        F.sum(F.col("m") * F.col("m")).cast("long").alias("smm"),
    )
    wide = g.groupBy("s").agg(
        F.max(F.when(F.col("arm") == 0, F.col("n"))).alias("n0"),
        F.max(F.when(F.col("arm") == 1, F.col("n"))).alias("n1"),
        F.max(F.when(F.col("arm") == 0, F.col("sm"))).alias("s0"),
        F.max(F.when(F.col("arm") == 1, F.col("sm"))).alias("s1"),
        F.max(F.when(F.col("arm") == 0, F.col("smm"))).alias("ss0"),
        F.max(F.when(F.col("arm") == 1, F.col("smm"))).alias("ss1"),
    )
    v0 = (
        F.col("ss0").cast("double")
        - F.col("s0").cast("double") * F.col("s0") / F.col("n0")
    ) / (F.col("n0") - 1)
    v1 = (
        F.col("ss1").cast("double")
        - F.col("s1").cast("double") * F.col("s1") / F.col("n1")
    ) / (F.col("n1") - 1)
    zval = (
        F.col("s0").cast("double") / F.col("n0")
        - F.col("s1").cast("double") / F.col("n1")
    ) / F.sqrt(v0 / F.col("n0") + v1 / F.col("n1"))
    z = wide.select("s", zval.alias("zval"))
    x = F.abs(F.col("zval")) / F.sqrt(F.lit(2.0))
    t = F.lit(1.0) / (F.lit(1.0) + F.lit(0.3275911) * x)
    erf = F.lit(1.0) - (
        (
            (
                (
                    (F.lit(1.061405429) * t - F.lit(1.453152027)) * t
                    + F.lit(1.421413741)
                )
                * t
                - F.lit(0.284496736)
            )
            * t
            + F.lit(0.254829592)
        )
        * t
    ) * F.exp(-x * x)
    p = z.select("s", "zval", (F.lit(1.0) - erf).alias("pval"))
    agg_ = p.agg(
        F.count(F.lit(1)).cast("long").alias("n_splits"),
        F.sum(F.when(F.col("pval") < 0.05, 1).otherwise(0))
        .cast("long")
        .alias("n_fp"),
        F.round(F.max(F.abs("zval")), 6).alias("max_abs_z"),
    )
    nu = pu.agg(F.count(F.lit(1)).cast("long").alias("n_users"))
    band = F.lit(0.05) * F.col("n_splits") + 2e0 * F.sqrt(
        F.col("n_splits") * F.lit(0.05) * F.lit(0.95)
    )
    return nu.crossJoin(F.broadcast(agg_)).select(
        "n_users", "n_splits",
        F.col("n_fp").alias("n_false_positives"),
        F.round(F.lit(0.05) * F.col("n_splits"), 2).alias("expected_fp"),
        "max_abs_z",
        F.when(F.col("n_fp") <= band, 1).otherwise(0)
        .cast("long")
        .alias("within_band"),
    )


@query(
    "session_step_transitions",
    """
    WITH ev AS (
        SELECT user_id, CAST(ts AS DATE) AS day, event_type, ts,
               event_id
        FROM events),
    stepped AS (
        SELECT user_id, day, event_type,
               CAST(row_number() OVER (PARTITION BY user_id, day
                                       ORDER BY ts, event_id)
                    AS BIGINT) AS step
        FROM ev),
    tr AS (
        SELECT a.step AS step, a.event_type AS from_type,
               b.event_type AS to_type
        FROM stepped a JOIN stepped b
          ON b.user_id = a.user_id AND b.day = a.day
         AND b.step = a.step + 1
        WHERE a.step <= 5)
    SELECT step, from_type, to_type,
           CAST(count(*) AS BIGINT) AS n
    FROM tr
    GROUP BY 1, 2, 3
    ORDER BY step, n DESC, from_type, to_type
    LIMIT 40
    """,
)
def session_step_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Step-INDEXED session transitions (the Sankey-diagram edge
    table): for each user-day session ordered by timestamp, the
    (step k -> step k+1) event-type transition counts for the first
    five steps — the position-aware view that the Markov family
    deliberately marginalizes away (a click->purchase edge at step 1
    and at step 5 are different product stories; the stationary
    chain cannot tell them apart). Ordering ties on identical
    timestamps break by event_id, so the step numbering is fully
    deterministic. Shape: one per-(user, day) window for step
    numbering (the session key partitions it — no global sort), one
    self-equi-join on (user, day, step+1), pure integer counts."""
    ev = _t(spark, sf_dir, "events").select(
        "user_id", F.to_date("ts").alias("day"), "event_type", "ts",
        "event_id",
    )
    ws = Window.partitionBy("user_id", "day").orderBy("ts", "event_id")
    stepped = ev.withColumn(
        "step", F.row_number().over(ws).cast("long")
    ).select("user_id", "day", "event_type", "step")
    a = stepped.select(
        "user_id", "day", "step", F.col("event_type").alias("from_type")
    ).filter(F.col("step") <= 5)
    b = stepped.select(
        "user_id", "day",
        (F.col("step") - 1).alias("step"),
        F.col("event_type").alias("to_type"),
    )
    return (
        a.join(b, ["user_id", "day", "step"])
        .groupBy("step", "from_type", "to_type")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        .orderBy("step", F.desc("n"), "from_type", "to_type")
        .limit(40)
    )


_SELINGER_ORDERS = {
    "N-C-O-L": ("tNC", "tNCO", "tNCOL", "eNC", "eNCO", "eNCOL"),
    "C-N-O-L": ("tNC", "tNCO", "tNCOL", "eNC", "eNCO", "eNCOL"),
    "C-O-N-L": ("tCO", "tNCO", "tNCOL", "eCO", "eNCO", "eNCOL"),
    "C-O-L-N": ("tCO", "tCOL", "tNCOL", "eCO", "eCOL", "eNCOL"),
    "O-C-N-L": ("tCO", "tNCO", "tNCOL", "eCO", "eNCO", "eNCOL"),
    "O-C-L-N": ("tCO", "tCOL", "tNCOL", "eCO", "eCOL", "eNCOL"),
    "O-L-C-N": ("tOL", "tCOL", "tNCOL", "eOL", "eCOL", "eNCOL"),
    "L-O-C-N": ("tOL", "tCOL", "tNCOL", "eOL", "eCOL", "eNCOL"),
}


def _duck_selinger_sql() -> str:
    rows = ",\n            ".join(
        f"('{name}', {t1} + {t2} + {t3}, {e1} + {e2} + {e3})"
        for name, (t1, t2, t3, e1, e2, e3) in _SELINGER_ORDERS.items()
    )
    return f"""
    WITH st AS (
        SELECT
          (SELECT CAST(count(*) AS BIGINT) FROM nation) AS cn,
          (SELECT CAST(count(*) AS BIGINT) FROM customer) AS cc,
          (SELECT CAST(count(*) AS BIGINT) FROM orders) AS co,
          (SELECT CAST(count(*) AS BIGINT) FROM lineitem) AS cl,
          (SELECT CAST(count(DISTINCT n_nationkey) AS BIGINT)
           FROM nation) AS dn_n,
          (SELECT CAST(count(DISTINCT c_nationkey) AS BIGINT)
           FROM customer) AS dn_c,
          (SELECT CAST(count(DISTINCT c_custkey) AS BIGINT)
           FROM customer) AS dc_c,
          (SELECT CAST(count(DISTINCT o_custkey) AS BIGINT)
           FROM orders) AS dc_o,
          (SELECT CAST(count(DISTINCT o_orderkey) AS BIGINT)
           FROM orders) AS do_o,
          (SELECT CAST(count(DISTINCT l_orderkey) AS BIGINT)
           FROM lineitem) AS do_l),
    tc AS (
        SELECT
          (SELECT CAST(count(*) AS BIGINT) FROM customer c
           JOIN nation n ON n.n_nationkey = c.c_nationkey) AS tNC,
          (SELECT CAST(count(*) AS BIGINT) FROM orders o
           JOIN customer c ON c.c_custkey = o.o_custkey) AS tCO,
          (SELECT CAST(count(*) AS BIGINT) FROM lineitem l
           JOIN orders o ON o.o_orderkey = l.l_orderkey) AS tOL,
          (SELECT CAST(count(*) AS BIGINT) FROM orders o
           JOIN customer c ON c.c_custkey = o.o_custkey
           JOIN nation n ON n.n_nationkey = c.c_nationkey) AS tNCO,
          (SELECT CAST(count(*) AS BIGINT) FROM lineitem l
           JOIN orders o ON o.o_orderkey = l.l_orderkey
           JOIN customer c ON c.c_custkey = o.o_custkey) AS tCOL,
          (SELECT CAST(count(*) AS BIGINT) FROM lineitem l
           JOIN orders o ON o.o_orderkey = l.l_orderkey
           JOIN customer c ON c.c_custkey = o.o_custkey
           JOIN nation n ON n.n_nationkey = c.c_nationkey) AS tNCOL),
    est AS (
        SELECT tc.*,
               st.cn * 1e0 * st.cc / greatest(st.dn_n, st.dn_c) AS eNC,
               st.cc * 1e0 * st.co / greatest(st.dc_c, st.dc_o) AS eCO,
               st.co * 1e0 * st.cl / greatest(st.do_o, st.do_l) AS eOL,
               (st.cn * 1e0 * st.cc / greatest(st.dn_n, st.dn_c))
                   * st.co / greatest(st.dc_c, st.dc_o) AS eNCO,
               (st.cc * 1e0 * st.co / greatest(st.dc_c, st.dc_o))
                   * st.cl / greatest(st.do_o, st.do_l) AS eCOL,
               ((st.cn * 1e0 * st.cc / greatest(st.dn_n, st.dn_c))
                   * st.co / greatest(st.dc_c, st.dc_o))
                   * st.cl / greatest(st.do_o, st.do_l) AS eNCOL
        FROM tc, st),
    plans AS (
        SELECT p.name, CAST(p.tcost AS BIGINT) AS true_cost,
               round(p.ecost, 2) AS est_cost
        FROM est, LATERAL (VALUES
            {rows}) AS p(name, tcost, ecost)),
    ranked AS (
        SELECT name, est_cost, true_cost,
               CAST(row_number() OVER (ORDER BY est_cost, name)
                    AS BIGINT) AS est_rank,
               CAST(row_number() OVER (ORDER BY true_cost, name)
                    AS BIGINT) AS true_rank
        FROM plans)
    SELECT name AS join_order, est_cost, true_cost, est_rank, true_rank,
           CAST(CASE WHEN (SELECT name FROM ranked WHERE est_rank = 1)
                          = (SELECT name FROM ranked WHERE true_rank = 1)
                     THEN 1 ELSE 0 END AS BIGINT) AS optimizer_correct
    FROM ranked
    ORDER BY true_rank
    """


@query("selinger_join_order", _duck_selinger_sql())
def selinger_join_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Selinger-style join-order audit over the nation-customer-
    orders-lineitem CHAIN: enumerate all 8 connected left-deep
    orders, cost each as the sum of its intermediate-result
    cardinalities under (a) the textbook independence estimate
    |A join B| = |A||B| / max(ndv_A, ndv_B) from exact base
    statistics, and (b) the TRUE cardinalities (the six connected
    join subsets actually counted) — then check whether the
    estimator's chosen plan IS the true optimum. This is the
    System-R costing loop made machine-checkable: q-error
    (selectivity_independence_audit) measures per-join estimate
    error; this query measures what optimizers actually care about —
    whether the errors change the ARGMIN. Everything is exact
    integer counting plus one fixed ratio expression per subset; the
    plan space is a literal 8-row frame on both engines."""
    def _cnt(df: DataFrame, name: str) -> DataFrame:
        return df.agg(F.count(F.lit(1)).cast("long").alias(name))

    n = _t(spark, sf_dir, "nation").select("n_nationkey")
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey")
    st = (
        _cnt(n, "cn").crossJoin(_cnt(c, "cc"))
        .crossJoin(_cnt(o, "co")).crossJoin(_cnt(li, "cl"))
        .crossJoin(n.agg(F.countDistinct("n_nationkey").cast("long").alias("dn_n")))
        .crossJoin(c.agg(F.countDistinct("c_nationkey").cast("long").alias("dn_c")))
        .crossJoin(c.agg(F.countDistinct("c_custkey").cast("long").alias("dc_c")))
        .crossJoin(o.agg(F.countDistinct("o_custkey").cast("long").alias("dc_o")))
        .crossJoin(o.agg(F.countDistinct("o_orderkey").cast("long").alias("do_o")))
        .crossJoin(li.agg(F.countDistinct("l_orderkey").cast("long").alias("do_l")))
    )
    nc = c.join(n, c["c_nationkey"] == n["n_nationkey"])
    co_ = o.join(c, c["c_custkey"] == o["o_custkey"])
    ol = li.join(o, o["o_orderkey"] == li["l_orderkey"])
    nco = co_.join(n, F.col("c_nationkey") == n["n_nationkey"])
    col_ = ol.join(c, F.col("c_custkey") == F.col("o_custkey"))
    ncol = col_.join(n, F.col("c_nationkey") == n["n_nationkey"])
    tc = (
        _cnt(nc, "tNC").crossJoin(_cnt(co_, "tCO"))
        .crossJoin(_cnt(ol, "tOL")).crossJoin(_cnt(nco, "tNCO"))
        .crossJoin(_cnt(col_, "tCOL")).crossJoin(_cnt(ncol, "tNCOL"))
    )
    eNC = F.col("cn") * 1e0 * F.col("cc") / F.greatest("dn_n", "dn_c")
    eCO = F.col("cc") * 1e0 * F.col("co") / F.greatest("dc_c", "dc_o")
    eOL = F.col("co") * 1e0 * F.col("cl") / F.greatest("do_o", "do_l")
    eNCO = eNC * F.col("co") / F.greatest("dc_c", "dc_o")
    eCOL = eCO * F.col("cl") / F.greatest("do_o", "do_l")
    eNCOL = eNCO * F.col("cl") / F.greatest("do_o", "do_l")
    est = st.crossJoin(F.broadcast(tc)).select(
        "tNC", "tCO", "tOL", "tNCO", "tCOL", "tNCOL",
        eNC.alias("eNC"), eCO.alias("eCO"), eOL.alias("eOL"),
        eNCO.alias("eNCO"), eCOL.alias("eCOL"), eNCOL.alias("eNCOL"),
    )
    plan_structs = [
        F.struct(
            F.lit(name).alias("name"),
            (F.col(t1) + F.col(t2) + F.col(t3))
            .cast("long")
            .alias("true_cost"),
            F.round(F.col(e1) + F.col(e2) + F.col(e3), 2).alias("est_cost"),
        )
        for name, (t1, t2, t3, e1, e2, e3) in _SELINGER_ORDERS.items()
    ]
    plans = est.select(
        F.explode(F.array(*plan_structs)).alias("s")
    ).select("s.*")
    we = Window.orderBy("est_cost", "name")  # 8-row frame
    wt = Window.orderBy("true_cost", "name")
    ranked = plans.select(
        "name", "est_cost", "true_cost",
        F.row_number().over(we).cast("long").alias("est_rank"),
        F.row_number().over(wt).cast("long").alias("true_rank"),
    )
    eb = ranked.filter(F.col("est_rank") == 1).select(
        F.col("name").alias("eb")
    )
    tb = ranked.filter(F.col("true_rank") == 1).select(
        F.col("name").alias("tb")
    )
    return (
        ranked.crossJoin(F.broadcast(eb))
        .crossJoin(F.broadcast(tb))
        .select(
            F.col("name").alias("join_order"),
            "est_cost", "true_cost", "est_rank", "true_rank",
            F.when(F.col("eb") == F.col("tb"), 1)
            .otherwise(0)
            .cast("long")
            .alias("optimizer_correct"),
        )
        .orderBy("true_rank")
    )


@query(
    "fieller_ratio_ci",
    """
    WITH pu AS (
        SELECT user_id,
               CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
                    AS BIGINT) AS x,
               CAST(sum(CASE WHEN event_type = 'purchase'
                             THEN CAST(round(value * 100) AS BIGINT)
                             ELSE 0 END) AS BIGINT) AS y
        FROM events GROUP BY 1),
    mom AS (
        SELECT CAST(count(*) AS BIGINT) AS n,
               CAST(sum(x) AS BIGINT) AS sx,
               CAST(sum(y) AS BIGINT) AS sy,
               CAST(sum(x * x) AS BIGINT) AS sxx,
               CAST(sum(CAST(y AS HUGEINT) * y) AS HUGEINT) AS syy,
               CAST(sum(CAST(x AS HUGEINT) * y) AS HUGEINT) AS sxy
        FROM pu),
    vv AS (
        SELECT n,
               CAST(sx AS DOUBLE) / n AS mx,
               CAST(sy AS DOUBLE) / n / 100e0 AS my,
               ((CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * sx / n)
                / (n - 1)) / n AS vmx,
               ((CAST(syy AS DOUBLE) / 10000e0
                 - (CAST(sy AS DOUBLE) / 100e0)
                   * (CAST(sy AS DOUBLE) / 100e0) / n)
                / (n - 1)) / n AS vmy,
               ((CAST(sxy AS DOUBLE) / 100e0
                 - CAST(sx AS DOUBLE) * (CAST(sy AS DOUBLE) / 100e0) / n)
                / (n - 1)) / n AS cxy
        FROM mom),
    qd AS (
        SELECT n, mx, my, vmx, vmy, cxy,
               mx * mx - 3.8416e0 * vmx AS a,
               -2e0 * (my * mx - 3.8416e0 * cxy) AS b,
               my * my - 3.8416e0 * vmy AS c
        FROM vv),
    rt AS (
        SELECT n, mx, my, vmx, vmy, cxy, a, b, c,
               b * b - 4e0 * a * c AS disc
        FROM qd)
    SELECT n AS n_users,
           round(my / mx, 6) AS revenue_per_click,
           CASE WHEN a > 0e0 AND disc >= 0e0
                THEN round((-b - sqrt(disc)) / (2e0 * a), 6) END
               AS fieller_lo,
           CASE WHEN a > 0e0 AND disc >= 0e0
                THEN round((-b + sqrt(disc)) / (2e0 * a), 6) END
               AS fieller_hi,
           round(my / mx - 1.96e0 * sqrt(
               (vmy - 2e0 * (my / mx) * cxy
                + (my / mx) * (my / mx) * vmx) / (mx * mx)), 6)
               AS delta_lo,
           round(my / mx + 1.96e0 * sqrt(
               (vmy - 2e0 * (my / mx) * cxy
                + (my / mx) * (my / mx) * vmx) / (mx * mx)), 6)
               AS delta_hi
    FROM rt
    """,
)
def fieller_ratio_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fieller's theorem confidence interval for the ratio-of-means
    metric revenue-per-click (per-user purchase value over per-user
    clicks): the EXACT interval that inverts the t-statistic of
    my - theta mx — a quadratic in theta whose roots are the bounds —
    next to the delta-method interval (also reported) which is only
    the first-order approximation and silently misbehaves when the
    denominator mean is noisy (a <= 0 means the denominator is not
    significantly nonzero and the Fieller set is unbounded: reported
    as NULL, which the delta method would happily paper over). All
    sufficient statistics are one pass of exact integer sums
    (z^2 = 3.8416 literal); one row out."""
    ev = _t(spark, sf_dir, "events")
    pu = ev.groupBy("user_id").agg(
        F.sum(F.when(F.col("event_type") == "click", 1).otherwise(0))
        .cast("long")
        .alias("x"),
        F.sum(
            F.when(
                F.col("event_type") == "purchase",
                F.round(F.col("value") * 100).cast("long"),
            ).otherwise(0)
        )
        .cast("long")
        .alias("y"),
    )
    mom = pu.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").cast("long").alias("sx"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"),
        F.sum(F.col("y").cast("decimal(38,0)") * F.col("y")).alias("syy"),
        F.sum(F.col("x").cast("decimal(38,0)") * F.col("y")).alias("sxy"),
    )
    n = F.col("n")
    mx = F.col("sx").cast("double") / n
    my = F.col("sy").cast("double") / n / 100e0
    vmx = (
        (F.col("sxx").cast("double") - F.col("sx").cast("double") * F.col("sx") / n)
        / (n - 1)
    ) / n
    vmy = (
        (
            F.col("syy").cast("double") / 10000e0
            - (F.col("sy").cast("double") / 100e0)
            * (F.col("sy").cast("double") / 100e0)
            / n
        )
        / (n - 1)
    ) / n
    cxy = (
        (
            F.col("sxy").cast("double") / 100e0
            - F.col("sx").cast("double")
            * (F.col("sy").cast("double") / 100e0)
            / n
        )
        / (n - 1)
    ) / n
    vv = mom.select(
        "n", mx.alias("mx"), my.alias("my"),
        vmx.alias("vmx"), vmy.alias("vmy"), cxy.alias("cxy"),
    )
    a = F.col("mx") * F.col("mx") - 3.8416e0 * F.col("vmx")
    b = -2e0 * (F.col("my") * F.col("mx") - 3.8416e0 * F.col("cxy"))
    c = F.col("my") * F.col("my") - 3.8416e0 * F.col("vmy")
    rt = vv.select(
        "n", "mx", "my", "vmx", "vmy", "cxy",
        a.alias("a"), b.alias("b"), c.alias("c"),
        (b * b - 4e0 * a * c).alias("disc"),
    )
    th = F.col("my") / F.col("mx")
    dse = F.sqrt(
        (
            F.col("vmy")
            - 2e0 * th * F.col("cxy")
            + th * th * F.col("vmx")
        )
        / (F.col("mx") * F.col("mx"))
    )
    ok = (F.col("a") > 0e0) & (F.col("disc") >= 0e0)
    return rt.select(
        F.col("n").alias("n_users"),
        F.round(th, 6).alias("revenue_per_click"),
        F.when(
            ok,
            F.round(
                (-F.col("b") - F.sqrt("disc")) / (2e0 * F.col("a")), 6
            ),
        ).alias("fieller_lo"),
        F.when(
            ok,
            F.round(
                (-F.col("b") + F.sqrt("disc")) / (2e0 * F.col("a")), 6
            ),
        ).alias("fieller_hi"),
        F.round(th - 1.96e0 * dse, 6).alias("delta_lo"),
        F.round(th + 1.96e0 * dse, 6).alias("delta_hi"),
    )


@query(
    "chi2_cell_residuals",
    """
    WITH cells AS (
        SELECT o.o_orderpriority AS prio, c.c_mktsegment AS seg,
               CAST(count(*) AS BIGINT) AS obs
        FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        GROUP BY 1, 2),
    rm AS (SELECT prio, CAST(sum(obs) AS BIGINT) AS r
           FROM cells GROUP BY 1),
    cm AS (SELECT seg, CAST(sum(obs) AS BIGINT) AS c
           FROM cells GROUP BY 1),
    nn AS (SELECT CAST(sum(obs) AS BIGINT) AS n FROM cells),
    res AS (
        SELECT ce.prio, ce.seg, ce.obs,
               rm.r * 1e0 * cm.c / nn.n AS expected,
               (ce.obs - rm.r * 1e0 * cm.c / nn.n)
               / sqrt(rm.r * 1e0 * cm.c / nn.n
                      * (1e0 - rm.r * 1e0 / nn.n)
                      * (1e0 - cm.c * 1e0 / nn.n)) AS std_resid
        FROM cells ce
        JOIN rm ON rm.prio = ce.prio
        JOIN cm ON cm.seg = ce.seg
        CROSS JOIN nn)
    SELECT prio, seg, obs,
           round(expected, 4) AS expected,
           round(std_resid, 6) AS std_resid,
           CAST(CASE WHEN abs(std_resid) > 1.96e0 THEN 1 ELSE 0 END
                AS BIGINT) AS significant
    FROM res
    ORDER BY abs(std_resid) DESC, prio, seg
    LIMIT 10
    """,
)
def chi2_cell_residuals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Standardized Pearson residuals (Haberman 1973) for the
    priority x segment contingency table: r_ij = (O - E) /
    sqrt(E (1 - row_share)(1 - col_share)) — asymptotically N(0,1)
    per cell, so |r| > 1.96 localizes WHICH cells drive an omnibus
    chi-square (chi2_priority_segment says whether the table is
    independent; this says where it isn't, the post-hoc every
    practitioner actually needs). One corpus aggregation to 25
    cells; margins broadcast; exact integer observed counts and one
    fixed-form expression per cell."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    cells = (
        o.join(c, o["o_custkey"] == c["c_custkey"])
        .groupBy(
            F.col("o_orderpriority").alias("prio"),
            F.col("c_mktsegment").alias("seg"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("obs"))
    )
    rm = cells.groupBy("prio").agg(F.sum("obs").cast("long").alias("r"))
    cm = cells.groupBy("seg").agg(F.sum("obs").cast("long").alias("c"))
    nn = cells.agg(F.sum("obs").cast("long").alias("n"))
    e = F.col("r") * 1e0 * F.col("c") / F.col("n")
    sr = (F.col("obs") - e) / F.sqrt(
        e
        * (1e0 - F.col("r") * 1e0 / F.col("n"))
        * (1e0 - F.col("c") * 1e0 / F.col("n"))
    )
    return (
        cells.join(F.broadcast(rm), "prio")
        .join(F.broadcast(cm), "seg")
        .crossJoin(F.broadcast(nn))
        .select(
            "prio", "seg", "obs",
            F.round(e, 4).alias("expected"),
            F.round(sr, 6).alias("std_resid"),
            F.when(F.abs(sr) > 1.96e0, 1)
            .otherwise(0)
            .cast("long")
            .alias("significant"),
        )
        .orderBy(F.abs(F.col("std_resid")).desc(), "prio", "seg")
        .limit(10)
    )


_RIDGE_RATIOS = ("0e0", "0.001e0", "0.01e0", "0.1e0", "0.5e0", "1e0",
                 "2e0", "10e0")


def _duck_ridgecv_sql() -> str:
    h = _DUCK_H60.format(
        args="CAST(l_orderkey AS VARCHAR) || '-' ||"
             " CAST(l_linenumber AS VARCHAR), 'cv'"
    )
    ratios = ", ".join(_RIDGE_RATIOS)
    return f"""
    WITH v AS (
        SELECT {h} % 5 AS f,
               CAST(round(l_quantity) AS BIGINT) AS x,
               CAST(round(l_extendedprice * 100) AS BIGINT) AS y
        FROM lineitem),
    fm AS (
        SELECT f,
               CAST(count(*) AS BIGINT) AS n,
               CAST(sum(x) AS BIGINT) AS sx,
               CAST(sum(y) AS BIGINT) AS sy,
               CAST(sum(x * x) AS BIGINT) AS sxx,
               CAST(sum(CAST(x AS HUGEINT) * y) AS HUGEINT) AS sxy,
               CAST(sum(CAST(y AS HUGEINT) * y) AS HUGEINT) AS syy
        FROM v GROUP BY f),
    tot AS (
        SELECT CAST(sum(n) AS BIGINT) AS n,
               CAST(sum(sx) AS BIGINT) AS sx,
               CAST(sum(sy) AS BIGINT) AS sy,
               CAST(sum(sxx) AS BIGINT) AS sxx,
               CAST(sum(sxy) AS HUGEINT) AS sxy,
               CAST(sum(syy) AS HUGEINT) AS syy
        FROM fm),
    sxx0 AS (
        SELECT CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * sx / n AS v
        FROM tot),
    folds AS (
        SELECT fm.f, r.lam AS lam_ratio,
               t.n - fm.n AS tn,
               CAST(t.sx - fm.sx AS DOUBLE) AS tsx,
               CAST(t.sy - fm.sy AS DOUBLE) AS tsy,
               CAST(t.sxx - fm.sxx AS DOUBLE) AS tsxx,
               CAST(t.sxy - fm.sxy AS DOUBLE) AS tsxy,
               fm.n AS hn, CAST(fm.sx AS DOUBLE) AS hsx,
               CAST(fm.sy AS DOUBLE) AS hsy,
               CAST(fm.sxx AS DOUBLE) AS hsxx,
               CAST(fm.sxy AS DOUBLE) AS hsxy,
               CAST(fm.syy AS DOUBLE) AS hsyy
        FROM fm, tot t,
             (SELECT unnest([{ratios}]) AS lam) r),
    fit AS (
        SELECT f, lam_ratio, hn, hsx, hsy, hsxx, hsxy, hsyy,
               (tsxy - tsx * tsy / tn)
               / ((tsxx - tsx * tsx / tn)
                  + lam_ratio * (SELECT v FROM sxx0)) AS b,
               tsy / tn AS my, tsx / tn AS mx
        FROM folds),
    err AS (
        SELECT lam_ratio, f,
               hsyy - 2e0 * (my - b * mx) * hsy - 2e0 * b * hsxy
               + 2e0 * (my - b * mx) * b * hsx
               + (my - b * mx) * (my - b * mx) * hn
               + b * b * hsxx AS sse,
               hn
        FROM fit),
    cv AS (
        SELECT lam_ratio,
               sum(sse ORDER BY f) / sum(hn ORDER BY f) AS mse
        FROM err GROUP BY lam_ratio),
    ranked AS (
        SELECT lam_ratio, mse,
               CAST(row_number() OVER (ORDER BY mse, lam_ratio)
                    AS BIGINT) AS rnk
        FROM cv)
    SELECT lam_ratio AS lambda_ratio,
           round(mse / 10000e0, 4) AS cv_mse,
           rnk AS cv_rank,
           CAST(CASE WHEN rnk = 1 THEN 1 ELSE 0 END AS BIGINT)
               AS is_best
    FROM ranked
    ORDER BY lambda_ratio
    """


@query("ridge_cv_path", _duck_ridgecv_sql())
def ridge_cv_path(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-validated ridge regularization path for the price-on-
    quantity regression: 5 hash-deterministic folds, a ridge slope
    b(lambda) = Sxy/(Sxx + lambda) fit in closed form on each
    TRAIN = total - fold moment set (partial-aggregate subtraction —
    the corpus is scanned ONCE; every fold's training moments are
    derived algebraically, the trick that makes K-fold free at
    100 TB), and held-out MSE expanded entirely in the fold's exact
    integer moments (no per-row residual pass). Lambda is expressed
    as a RATIO of the total centered Sxx so the grid transfers
    across scale factors. This is the hyperparameter-sweep shape
    (grid x folds as one aggregation) that tune_link_model's
    CrossValidator performs iteratively; here it is exact and
    oracle-checkable. Cross-fold reductions are f-ordered folds."""
    from social_link_prediction_spark.ml.linksplit import hash60

    li = _t(spark, sf_dir, "lineitem")
    # r10: project slim + round-robin off the 1-3-task single-row-group
    # scan stage so the per-row md5 runs on all cores (the r9
    # bootstrap-family lift, guide §2.5/§6); at cluster scale the scan
    # splits provide the parallelism and this exchange is noise.
    slim = li.select(
        "l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice"
    ).repartition(spark.sparkContext.defaultParallelism)
    v = slim.select(
        (
            hash60(
                F.concat_ws(
                    "-",
                    F.col("l_orderkey").cast("string"),
                    F.col("l_linenumber").cast("string"),
                ),
                F.lit("cv"),
            )
            % 5
        ).alias("f"),
        F.round("l_quantity").cast("long").alias("x"),
        F.round(F.col("l_extendedprice") * 100).cast("long").alias("y"),
    )
    fm = v.groupBy("f").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").cast("long").alias("sx"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"),
        F.sum(F.col("x").cast("decimal(38,0)") * F.col("y")).alias("sxy"),
        F.sum(F.col("y").cast("decimal(38,0)") * F.col("y")).alias("syy"),
        # r10: pin the 5-row fold-moment frame — its full-scan subtree
        # otherwise executes ~3x (broadcast(tot), broadcast(sxx0) whose
        # plan contains tot, and the folds branch); the fiedler/r9
        # multi-branch double-execution shape (guide §5.4). A/B 1.20x.
    ).localCheckpoint()
    tot = fm.agg(
        F.sum("n").cast("long").alias("tn_"),
        F.sum("sx").cast("long").alias("tsx_"),
        F.sum("sy").cast("long").alias("tsy_"),
        F.sum("sxx").cast("long").alias("tsxx_"),
        F.sum("sxy").alias("tsxy_"),
        F.sum("syy").alias("tsyy_"),
    )
    sxx0 = tot.select(
        (
            F.col("tsxx_").cast("double")
            - F.col("tsx_").cast("double") * F.col("tsx_") / F.col("tn_")
        ).alias("sxx0")
    )
    lams = [float(r[:-2]) for r in _RIDGE_RATIOS]  # every literal ends "e0"
    lam_rows = spark.createDataFrame(
        [(l_,) for l_ in lams], "lam double"
    )
    folds = (
        fm.crossJoin(F.broadcast(tot))
        .crossJoin(F.broadcast(lam_rows))
        .crossJoin(F.broadcast(sxx0))
        .select(
            "f", F.col("lam").alias("lam_ratio"),
            (F.col("tn_") - F.col("n")).alias("tn"),
            (F.col("tsx_") - F.col("sx")).cast("double").alias("tsx"),
            (F.col("tsy_") - F.col("sy")).cast("double").alias("tsy"),
            (F.col("tsxx_") - F.col("sxx")).cast("double").alias("tsxx"),
            (F.col("tsxy_") - F.col("sxy")).cast("double").alias("tsxy"),
            F.col("n").alias("hn"),
            F.col("sx").cast("double").alias("hsx"),
            F.col("sy").cast("double").alias("hsy"),
            F.col("sxx").cast("double").alias("hsxx"),
            F.col("sxy").cast("double").alias("hsxy"),
            F.col("syy").cast("double").alias("hsyy"),
            "sxx0",
        )
    )
    b = (
        F.col("tsxy") - F.col("tsx") * F.col("tsy") / F.col("tn")
    ) / (
        (F.col("tsxx") - F.col("tsx") * F.col("tsx") / F.col("tn"))
        + F.col("lam_ratio") * F.col("sxx0")
    )
    fit = folds.select(
        "f", "lam_ratio", "hn", "hsx", "hsy", "hsxx", "hsxy", "hsyy",
        b.alias("b"),
        (F.col("tsy") / F.col("tn")).alias("my"),
        (F.col("tsx") / F.col("tn")).alias("mx"),
    )
    a_ = F.col("my") - F.col("b") * F.col("mx")
    sse = (
        F.col("hsyy")
        - 2e0 * a_ * F.col("hsy")
        - 2e0 * F.col("b") * F.col("hsxy")
        + 2e0 * a_ * F.col("b") * F.col("hsx")
        + a_ * a_ * F.col("hn")
        + F.col("b") * F.col("b") * F.col("hsxx")
    )
    err = fit.select("lam_ratio", "f", sse.alias("sse"), "hn")
    cv = err.groupBy("lam_ratio").agg(
        (
            F.aggregate(
                F.array_sort(F.collect_list(F.struct("f", "sse"))),
                F.lit(0.0),
                lambda acc, x: acc + x["sse"],
            )
            / F.aggregate(
                F.array_sort(
                    F.collect_list(F.struct("f", F.col("hn").cast("double").alias("hnd")))
                ),
                F.lit(0.0),
                lambda acc, x: acc + x["hnd"],
            )
        ).alias("mse")
    )
    wr = Window.orderBy("mse", "lam_ratio")  # 8-row frame
    ranked = cv.withColumn(
        "cv_rank", F.row_number().over(wr).cast("long")
    )
    return ranked.select(
        F.col("lam_ratio").alias("lambda_ratio"),
        F.round(F.col("mse") / 10000e0, 4).alias("cv_mse"),
        "cv_rank",
        F.when(F.col("cv_rank") == 1, 1).otherwise(0)
        .cast("long")
        .alias("is_best"),
    ).orderBy("lambda_ratio")


@query(
    "james_stein_nation_means",
    """
    WITH v AS (
        SELECT c.c_nationkey AS nation,
               CAST(round(o.o_totalprice * 100) AS BIGINT) AS xc
        FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey),
    g AS (
        SELECT nation, CAST(count(*) AS BIGINT) AS n,
               CAST(sum(xc) AS BIGINT) AS s,
               CAST(sum(CAST(xc AS HUGEINT) * xc) AS HUGEINT) AS ss
        FROM v GROUP BY 1),
    tot AS (
        SELECT CAST(count(*) AS BIGINT) AS k,
               CAST(sum(n) AS BIGINT) AS nn,
               CAST(sum(s) AS BIGINT) AS stot,
               sum((CAST(ss AS DOUBLE)
                    - CAST(s AS DOUBLE) * s / n) ORDER BY nation)
                   AS ssw,
               sum(1e0 / n ORDER BY nation) AS sinv
        FROM g),
    parts AS (
        SELECT g.nation, g.n,
               CAST(g.s AS DOUBLE) / g.n AS raw,
               CAST(t.stot AS DOUBLE) / t.nn AS grand,
               (t.ssw / (t.nn - t.k)) * (t.sinv / t.k) AS vbar,
               t.k
        FROM g, tot t),
    ssq AS (
        SELECT sum((raw - grand) * (raw - grand) ORDER BY nation) AS sq
        FROM parts),
    cfac AS (
        SELECT greatest(0e0,
                   1e0 - (p.k - 3e0) * p.vbar / (SELECT sq FROM ssq))
                   AS c
        FROM parts p LIMIT 1)
    SELECT p.nation, p.n,
           round(p.raw / 100e0, 2) AS raw_mean,
           round((p.grand + (SELECT c FROM cfac) * (p.raw - p.grand))
                 / 100e0, 2) AS js_mean,
           round((SELECT c FROM cfac), 6) AS shrink_factor
    FROM parts p
    ORDER BY p.nation
    """,
)
def james_stein_nation_means(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Positive-part James-Stein shrinkage of the 25 per-nation mean
    order values toward the grand mean: c = max(0, 1 - (k-3) vbar /
    sum (xbar_g - grand)^2), with the common sampling variance
    approximated by pooled-within-variance times the mean inverse
    group size (documented approximation — classic JS assumes equal
    n). The k>=4-groups estimator that DOMINATES the raw group means
    in total squared error (Stein's paradox): small noisy nations
    borrow strength from the ensemble — the Gaussian-mean companion
    of the beta-binomial rate shrinkage already in the catalog.
    One corpus aggregation to k cells; the k-cell reductions are
    nation-ordered folds; every input is an exact integer sum."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    v = o.join(c, o["o_custkey"] == c["c_custkey"]).select(
        F.col("c_nationkey").alias("nation"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("xc"),
    )
    g = v.groupBy("nation").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("xc").cast("long").alias("s"),
        F.sum(F.col("xc").cast("decimal(38,0)") * F.col("xc")).alias("ss"),
    )
    within = (
        F.col("ss").cast("double")
        - F.col("s").cast("double") * F.col("s") / F.col("n")
    )
    tot = g.select(
        "nation", "n", "s", within.alias("w"),
        (1e0 / F.col("n")).alias("inv"),
    ).agg(
        F.count(F.lit(1)).cast("long").alias("k"),
        F.sum("n").cast("long").alias("nn"),
        F.sum("s").cast("long").alias("stot"),
        F.aggregate(
            F.array_sort(F.collect_list(F.struct("nation", "w"))),
            F.lit(0.0),
            lambda acc, x: acc + x["w"],
        ).alias("ssw"),
        F.aggregate(
            F.array_sort(F.collect_list(F.struct("nation", "inv"))),
            F.lit(0.0),
            lambda acc, x: acc + x["inv"],
        ).alias("sinv"),
    )
    parts = g.crossJoin(F.broadcast(tot)).select(
        "nation", "n",
        (F.col("s").cast("double") / F.col("n")).alias("raw"),
        (F.col("stot").cast("double") / F.col("nn")).alias("grand"),
        (
            (F.col("ssw") / (F.col("nn") - F.col("k")))
            * (F.col("sinv") / F.col("k"))
        ).alias("vbar"),
        "k",
    )
    dev = (F.col("raw") - F.col("grand")) * (F.col("raw") - F.col("grand"))
    ssq = parts.select("nation", dev.alias("d")).agg(
        F.aggregate(
            F.array_sort(F.collect_list(F.struct("nation", "d"))),
            F.lit(0.0),
            lambda acc, x: acc + x["d"],
        ).alias("sq")
    )
    cfac = (
        parts.limit(1)
        .crossJoin(F.broadcast(ssq))
        .select(
            F.greatest(
                F.lit(0e0),
                1e0 - (F.col("k") - 3e0) * F.col("vbar") / F.col("sq"),
            ).alias("c")
        )
    )
    return (
        parts.crossJoin(F.broadcast(cfac))
        .select(
            "nation", "n",
            F.round(F.col("raw") / 100e0, 2).alias("raw_mean"),
            F.round(
                (
                    F.col("grand")
                    + F.col("c") * (F.col("raw") - F.col("grand"))
                )
                / 100e0,
                2,
            ).alias("js_mean"),
            F.round("c", 6).alias("shrink_factor"),
        )
        .orderBy("nation")
    )


@query(
    "gpd_pot_fit",
    """
    WITH v AS (
        SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS x
        FROM orders),
    nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM v),
    cdf AS (
        SELECT x,
               CAST(sum(c) OVER (ORDER BY x) AS BIGINT) AS cum,
               CAST(coalesce(sum(c) OVER (ORDER BY x
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                    0) AS BIGINT) AS prev
        FROM (SELECT x, CAST(count(*) AS BIGINT) AS c
              FROM v GROUP BY 1)),
    u AS (
        SELECT min(x) AS u FROM cdf, nn
        WHERE cum >= (19 * nn.n + 19) // 20
          AND prev < (19 * nn.n + 19) // 20),
    exc AS (
        SELECT x - (SELECT u FROM u) AS e,
               CAST(count(*) AS BIGINT) AS c
        FROM v WHERE x > (SELECT u FROM u)
        GROUP BY 1),
    ranked AS (
        SELECT e, c,
               CAST(coalesce(sum(c) OVER (ORDER BY e
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                    0) AS BIGINT) AS r
        FROM exc),
    mm AS (
        SELECT CAST(sum(c) AS BIGINT) AS ne,
               CAST(sum(e * c) AS BIGINT) AS se,
               CAST(sum(CAST(e AS HUGEINT)
                        * (c * (SELECT CAST(sum(c) AS BIGINT) FROM exc)
                           - c * r - c * (c + 1) // 2)) AS HUGEINT)
                   AS b1num
        FROM ranked),
    pwm AS (
        SELECT ne,
               CAST(se AS DOUBLE) / ne AS b0,
               CAST(b1num AS DOUBLE) / (ne * 1e0 * (ne - 1)) AS b1
        FROM mm),
    fit AS (
        SELECT ne, b0, b1,
               b0 / (b0 - 2e0 * b1) - 2e0 AS kk,
               2e0 * b0 * b1 / (b0 - 2e0 * b1) AS aa
        FROM pwm)
    SELECT round((SELECT u FROM u) / 100e0, 2) AS threshold_p95,
           ne AS n_exceed,
           round(b0 / 100e0, 4) AS pwm_b0,
           round(b1 / 100e0, 4) AS pwm_b1,
           round(-kk, 6) AS xi_shape,
           round(aa / 100e0, 4) AS scale,
           round(((SELECT u FROM u)
                  + (aa / kk) * (1e0 - pow(0.02e0, kk))) / 100e0, 2)
               AS level_p999
    FROM fit
    """,
)
def gpd_pot_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Generalized Pareto fit to the peaks-over-threshold exceedances
    of order value above the exact p95 quantile, by probability-
    weighted moments (Hosking & Wallis 1987: k = b0/(b0-2b1) - 2,
    alpha = 2 b0 b1/(b0-2b1)), plus the extrapolated 99.9% return
    level u + (alpha/k)(1 - q^k) with q the conditional exceedance
    probability — the POT half of extreme-value theory next to the
    Gumbel block-maxima fit (POT uses every tail observation instead
    of one per block, the estimator practitioners actually deploy
    for VaR/capacity tails). Exactness: the threshold is a type-1
    order statistic; b1's order-statistic weighted sum collapses per
    DISTINCT exceedance value to a closed form over (count, prefix
    rank) — c*n - c*r - c(c+1)/2 — so both engines compute b0 and b1
    from exact integers with no per-row rank assignment."""
    o = _t(spark, sf_dir, "orders")
    v = o.select(
        F.round(F.col("o_totalprice") * 100).cast("long").alias("x")
    )
    nn = v.agg(F.count(F.lit(1)).cast("long").alias("n"))
    dv = v.groupBy("x").agg(F.count(F.lit(1)).cast("long").alias("c"))
    # bucketed prefix sums (r8: support -> bucketed); exclusive
    # prefix = inclusive - own count
    cdf = st.bucketed_prefix_sums(dv, "x", ["c"], n_buckets=32).select(
        "x",
        F.col("cum_c").cast("long").alias("cum"),
        (F.col("cum_c") - F.col("c")).cast("long").alias("prev"),
    )
    rk = F.expr("(19 * n + 19) div 20")
    u = (
        cdf.crossJoin(F.broadcast(nn))
        .filter((F.col("cum") >= rk) & (F.col("prev") < rk))
        .agg(F.min("x").alias("u"))
    )
    exc = (
        v.crossJoin(F.broadcast(u))
        .filter(F.col("x") > F.col("u"))
        .groupBy((F.col("x") - F.col("u")).alias("e"))
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    netot = exc.agg(F.sum("c").cast("long").alias("netot"))
    # bucketed prefix sums (r8: support -> bucketed)
    ranked = (
        st.bucketed_prefix_sums(exc, "e", ["c"], n_buckets=32)
        .crossJoin(F.broadcast(netot))
        .select(
            "e", "c", "netot",
            (F.col("cum_c") - F.col("c")).cast("long").alias("r"),
        )
    )
    b1term = F.col("e").cast("decimal(38,0)") * (
        F.col("c") * F.col("netot")
        - F.col("c") * F.col("r")
        - F.expr("c * (c + 1) div 2")
    )
    mm = ranked.agg(
        F.sum("c").cast("long").alias("ne"),
        F.sum(F.col("e") * F.col("c")).cast("long").alias("se"),
        F.sum(b1term).alias("b1num"),
    )
    b0 = F.col("se").cast("double") / F.col("ne")
    b1 = F.col("b1num").cast("double") / (
        F.col("ne") * 1e0 * (F.col("ne") - 1)
    )
    pwm = mm.select("ne", b0.alias("b0"), b1.alias("b1"))
    kk = F.col("b0") / (F.col("b0") - 2e0 * F.col("b1")) - 2e0
    aa = 2e0 * F.col("b0") * F.col("b1") / (
        F.col("b0") - 2e0 * F.col("b1")
    )
    fit = pwm.select("ne", "b0", "b1", kk.alias("kk"), aa.alias("aa"))
    return fit.crossJoin(F.broadcast(u)).select(
        F.round(F.col("u") / 100e0, 2).alias("threshold_p95"),
        F.col("ne").alias("n_exceed"),
        F.round(F.col("b0") / 100e0, 4).alias("pwm_b0"),
        F.round(F.col("b1") / 100e0, 4).alias("pwm_b1"),
        F.round(-F.col("kk"), 6).alias("xi_shape"),
        F.round(F.col("aa") / 100e0, 4).alias("scale"),
        F.round(
            (
                F.col("u")
                + (F.col("aa") / F.col("kk"))
                * (1e0 - F.pow(F.lit(0.02), F.col("kk")))
            )
            / 100e0,
            2,
        ).alias("level_p999"),
    )


@query(
    "fagin_ta_depth_audit",
    """
    WITH it AS (
        SELECT p_partkey AS pk,
               CAST(round(p_retailprice * 100) AS BIGINT) AS s1,
               CAST(p_size AS BIGINT) AS s2
        FROM part),
    mx AS (SELECT CAST(max(s1) AS BIGINT) AS m1,
                  CAST(max(s2) AS BIGINT) AS m2,
                  CAST(count(*) AS BIGINT) AS n
           FROM it),
    rk AS (
        SELECT pk, s1, s2,
               CAST(row_number() OVER (ORDER BY s1 DESC, pk) AS BIGINT)
                   AS ra,
               CAST(row_number() OVER (ORDER BY s2 DESC, pk) AS BIGINT)
                   AS rb,
               s1 * (SELECT m2 FROM mx) + s2 * (SELECT m1 FROM mx)
                   AS comb
        FROM it),
    seen AS (
        SELECT pk, comb, least(ra, rb) AS m FROM rk
        WHERE least(ra, rb) <= 512),
    la AS (SELECT ra AS d, s1 FROM rk WHERE ra <= 512),
    lb AS (SELECT rb AS d, s2 FROM rk WHERE rb <= 512),
    thr AS (
        SELECT la.d,
               la.s1 * (SELECT m2 FROM mx)
               + lb.s2 * (SELECT m1 FROM mx) AS t
        FROM la JOIN lb ON lb.d = la.d),
    kb AS (
        SELECT d.d, s.comb,
               row_number() OVER (PARTITION BY d.d
                                  ORDER BY s.comb DESC, s.pk) AS rr
        FROM (SELECT unnest(generate_series(1, 512)) AS d) d
        JOIN seen s ON s.m <= d.d),
    kbest AS (
        SELECT d, comb AS kth FROM kb WHERE rr = 10),
    stopd AS (
        SELECT min(k.d) AS stop_depth
        FROM kbest k JOIN thr t ON t.d = k.d
        WHERE k.kth >= t.t),
    top1 AS (
        SELECT pk, comb FROM rk
        ORDER BY comb DESC, pk LIMIT 1)
    SELECT (SELECT n FROM mx) AS n_items,
           (SELECT stop_depth FROM stopd) AS stop_depth,
           round(CAST((SELECT stop_depth FROM stopd) AS DOUBLE)
                 / (SELECT n FROM mx), 6) AS frac_scanned,
           (SELECT pk FROM top1) AS top1_part,
           (SELECT comb FROM top1) AS top1_score,
           (SELECT kth FROM kbest
            WHERE d = (SELECT stop_depth FROM stopd)) AS kth_at_stop,
           (SELECT t FROM thr
            WHERE d = (SELECT stop_depth FROM stopd)) AS threshold_at_stop
    """,
)
def fagin_ta_depth_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fagin's Threshold Algorithm stopping-depth audit for top-10
    rank aggregation over two sorted access paths (parts ranked by
    retail price and by size, combined score = sum of max-normalized
    scores): TA reads both lists in parallel and stops as soon as
    the 10th-best COMPLETE score among seen items reaches the
    threshold tau(d) = f(score_A at depth d, score_B at depth d) —
    the instance-optimality result that justifies top-k indexes. The
    audit computes the exact minimal stopping depth and the fraction
    of the lists scanned, i.e. how much work the index saves over a
    full combined-score sort. Exactness: normalization denominators
    clear to a COMMON INTEGER scale (comb = s1*max2 + s2*max1), so
    every comparison TA makes is pure integer arithmetic; the
    (depth x seen-items) frame is capped at 512 sorted-access steps
    (TA on real score distributions stops in tens), keeping the
    audit frame bounded at any corpus size."""
    p = _t(spark, sf_dir, "part")
    it = p.select(
        F.col("p_partkey").alias("pk"),
        F.round(F.col("p_retailprice") * 100).cast("long").alias("s1"),
        F.col("p_size").cast("long").alias("s2"),
    )
    mx = it.agg(
        F.max("s1").cast("long").alias("m1"),
        F.max("s2").cast("long").alias("m2"),
        F.count(F.lit(1)).cast("long").alias("n"),
    )
    # TA only ever touches the first 512 sorted-access rows of each
    # list, so each list head comes via orderBy().limit(512) — Spark's
    # TakeOrderedAndProject (per-task 512-heap) — and the rank windows
    # run on the 512-row heads, never the full part table (r8 lint;
    # the pre-r8 shape ranked every part twice in one-task sorts).
    heada = (
        it.orderBy(F.desc("s1"), "pk")
        .limit(512)
        .select(
            "pk", "s1", "s2",
            F.row_number()
            .over(Window.orderBy(F.desc("s1"), "pk"))
            .cast("long")
            .alias("ra"),
        )
    )
    headb = (
        it.orderBy(F.desc("s2"), "pk")
        .limit(512)
        .select(
            "pk", "s1", "s2",
            F.row_number()
            .over(Window.orderBy(F.desc("s2"), "pk"))
            .cast("long")
            .alias("rb"),
        )
    )
    seen = (
        heada.select("pk", "s1", "s2", F.col("ra").alias("m"))
        .unionByName(headb.select("pk", "s1", "s2", F.col("rb").alias("m")))
        .groupBy("pk")
        .agg(
            F.min("m").alias("m"),
            F.min("s1").alias("s1"),  # s1/s2 constant per pk
            F.min("s2").alias("s2"),
        )
        .crossJoin(F.broadcast(mx))
        .select(
            "pk",
            (F.col("s1") * F.col("m2") + F.col("s2") * F.col("m1")).alias(
                "comb"
            ),
            "m",
        )
    )
    la = heada.select(F.col("ra").alias("d"), F.col("s1").alias("ts1"))
    lb = headb.select(F.col("rb").alias("d"), F.col("s2").alias("ts2"))
    thr = la.join(lb, "d").crossJoin(F.broadcast(mx)).select(
        "d",
        (F.col("ts1") * F.col("m2") + F.col("ts2") * F.col("m1")).alias(
            "t"
        ),
    )
    depths = spark.range(1, 513).select(F.col("id").cast("long").alias("d"))
    kb = depths.join(seen, seen["m"] <= depths["d"])
    wkb = Window.partitionBy("d").orderBy(F.desc("comb"), "pk")
    kbest = kb.withColumn("rr", F.row_number().over(wkb)).filter(
        F.col("rr") == 10
    ).select("d", F.col("comb").alias("kth"))
    stopd = (
        kbest.join(thr, "d")
        .filter(F.col("kth") >= F.col("t"))
        .agg(F.min("d").alias("stop_depth"))
    )
    top1 = (
        it.crossJoin(F.broadcast(mx))
        .select(
            "pk",
            (F.col("s1") * F.col("m2") + F.col("s2") * F.col("m1")).alias(
                "comb"
            ),
        )
        # argmax via TakeOrderedAndProject, not a rank window (r8 lint)
        .orderBy(F.desc("comb"), "pk")
        .limit(1)
        .select(
            F.col("pk").alias("top1_part"), F.col("comb").alias("top1_score")
        )
    )
    at_stop = (
        kbest.join(thr, "d")
        .join(
            F.broadcast(stopd), F.col("d") == F.col("stop_depth")
        )
        .select(
            F.col("kth").alias("kth_at_stop"),
            F.col("t").alias("threshold_at_stop"),
        )
    )
    nn = mx.select("n")
    return (
        nn.crossJoin(F.broadcast(stopd))
        .crossJoin(F.broadcast(top1))
        .crossJoin(F.broadcast(at_stop))
        .select(
            F.col("n").alias("n_items"),
            "stop_depth",
            F.round(
                F.col("stop_depth").cast("double") / F.col("n"), 6
            ).alias("frac_scanned"),
            "top1_part", "top1_score", "kth_at_stop",
            "threshold_at_stop",
        )
    )


@query(
    "rolling_30d_trend",
    """
    WITH d AS (
        SELECT CAST(o_orderdate AS DATE) AS day,
               CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
                    AS BIGINT) AS y
        FROM orders GROUP BY 1),
    pts AS (
        SELECT day, y,
               CAST(row_number() OVER (ORDER BY day) AS BIGINT) AS t
        FROM d),
    win AS (
        SELECT day, t,
               CAST(count(*) OVER w AS BIGINT) AS n,
               CAST(sum(y) OVER w AS BIGINT) AS sy,
               CAST(sum(t) OVER w AS BIGINT) AS sx,
               CAST(sum(t * t) OVER w AS BIGINT) AS sxx,
               CAST(sum(CAST(t AS HUGEINT) * y) OVER w AS HUGEINT) AS sxy
        FROM pts
        WINDOW w AS (ORDER BY t ROWS BETWEEN 29 PRECEDING
                     AND CURRENT ROW)),
    full30 AS (
        SELECT day,
               round(CAST(sy AS DOUBLE) / 100e0, 2) AS window_revenue,
               round((n * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * sy)
                     / (n * CAST(sxx AS DOUBLE)
                        - CAST(sx AS DOUBLE) * sx) / 100e0, 2)
                   AS slope_per_day
        FROM win WHERE n = 30)
    SELECT day, window_revenue, slope_per_day
    FROM full30
    ORDER BY day DESC
    LIMIT 15
    """,
)
def rolling_30d_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 30-day OLS revenue trend: for every day with a full
    trailing window, the regression slope of daily revenue on the
    day index over exactly the last 30 days — the LOCAL trend curve
    that a single global slope (ols_revenue_trend) or a robust fit
    (theil_sen) collapse to one number; this is what a monitoring
    dashboard actually plots to see trend REVERSALS. Every slope is
    a closed form over four windowed EXACT integer sums (ROWS
    BETWEEN 29 PRECEDING on the calendar-bounded day frame — the
    window never touches the corpus, which is rolled up to days
    first). Emits the 15 most recent full-window days."""
    o = _t(spark, sf_dir, "orders")
    d = o.groupBy(F.to_date("o_orderdate").alias("day")).agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
        .cast("long")
        .alias("y")
    )
    wd = Window.orderBy("day")  # calendar-bounded frame
    pts = d.select(
        "day", "y", F.row_number().over(wd).cast("long").alias("t")
    )
    w30 = Window.orderBy("t").rowsBetween(-29, 0)
    win = pts.select(
        "day", "t",
        F.count(F.lit(1)).over(w30).cast("long").alias("n"),
        F.sum("y").over(w30).cast("long").alias("sy"),
        F.sum("t").over(w30).cast("long").alias("sx"),
        F.sum(F.col("t") * F.col("t")).over(w30).cast("long").alias("sxx"),
        F.sum(F.col("t").cast("decimal(38,0)") * F.col("y"))
        .over(w30)
        .alias("sxy"),
    )
    slope = (
        F.col("n") * F.col("sxy").cast("double")
        - F.col("sx").cast("double") * F.col("sy")
    ) / (
        F.col("n") * F.col("sxx").cast("double")
        - F.col("sx").cast("double") * F.col("sx")
    )
    return (
        win.filter(F.col("n") == 30)
        .select(
            "day",
            F.round(F.col("sy").cast("double") / 100e0, 2).alias(
                "window_revenue"
            ),
            F.round(slope / 100e0, 2).alias("slope_per_day"),
        )
        .orderBy(F.desc("day"))
        .limit(15)
    )


@query(
    "domain_classifier_auc",
    """
    WITH feat AS (
        SELECT o.o_orderkey, o.o_orderdate,
               CAST(round(o.o_totalprice * 100) AS BIGINT) AS pc,
               CAST(count(*) AS BIGINT) AS nl,
               CAST(sum(CAST(round(l.l_quantity) AS BIGINT)) AS BIGINT)
                   AS sq
        FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        GROUP BY o.o_orderkey, o.o_orderdate, o.o_totalprice),
    nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM feat),
    dcdf AS (
        SELECT dt,
               CAST(sum(c) OVER (ORDER BY dt) AS BIGINT) AS cum,
               CAST(coalesce(sum(c) OVER (ORDER BY dt
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                    0) AS BIGINT) AS prev
        FROM (SELECT CAST(o_orderdate AS DATE) AS dt,
                     CAST(count(*) AS BIGINT) AS c
              FROM feat GROUP BY 1)),
    split AS (
        SELECT min(dt) AS sd FROM dcdf, nn
        WHERE cum >= (nn.n + 1) // 2 AND prev < (nn.n + 1) // 2),
    lab AS (
        SELECT CASE WHEN CAST(o_orderdate AS DATE)
                         <= (SELECT sd FROM split)
                    THEN 1 ELSE 2 END AS g,
               pc, nl, sq
        FROM feat),
    lng AS (
        SELECT 'price' AS feature, g, pc AS v FROM lab
        UNION ALL SELECT 'lines', g, nl FROM lab
        UNION ALL SELECT 'quantity', g, sq FROM lab),
    vals AS (
        SELECT feature, v,
               CAST(sum(CASE WHEN g = 1 THEN 1 ELSE 0 END) AS BIGINT)
                   AS c1,
               CAST(sum(CASE WHEN g = 2 THEN 1 ELSE 0 END) AS BIGINT)
                   AS c2
        FROM lng GROUP BY 1, 2),
    pref AS (
        SELECT feature, c1,
               coalesce(sum(c1 + c2) OVER (PARTITION BY feature
                   ORDER BY v
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               + (c1 + c2 + 1) / 2e0 AS avg_rank
        FROM vals),
    agg AS (
        SELECT feature,
               sum(c1 * avg_rank) AS r1,
               CAST(sum(c1) AS BIGINT) AS n1
        FROM pref GROUP BY feature),
    counts AS (
        SELECT CAST(sum(CASE WHEN g = 1 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n1,
               CAST(sum(CASE WHEN g = 2 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n2
        FROM lab)
    SELECT a.feature,
           c.n1 AS n_first_half, c.n2 AS n_second_half,
           round((a.r1 - c.n1 * (c.n1 + 1e0) / 2e0)
                 / (c.n1 * 1e0 * c.n2), 6) AS domain_auc,
           CAST(CASE WHEN abs((a.r1 - c.n1 * (c.n1 + 1e0) / 2e0)
                              / (c.n1 * 1e0 * c.n2) - 0.5e0) > 0.02e0
                     THEN 1 ELSE 0 END AS BIGINT) AS drift_flag
    FROM agg a, counts c
    ORDER BY a.feature
    """,
)
def domain_classifier_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classifier two-sample drift test (C2ST, Lopez-Paz &
    Oquab 2017) in its exactly-computable stump form: for each
    per-order feature, the AUC of using the raw feature to
    distinguish first-half from second-half orders (split at the
    exact median order date). AUC 0.5 = no covariate drift;
    |AUC - 0.5| > 0.02 flags a feature whose DISTRIBUTION moved —
    the modern, threshold-free alternative to per-feature KS/PSI
    that reads directly as 'how well could any monotone classifier
    tell the periods apart'. The AUC is the tie-corrected rank-sum
    statistic computed EXACTLY on the per-feature distinct-value
    CDF (every average rank an exact multiple of 0.5, rank sums
    below 2^53 — order-immune); the corpus collapses to one
    (feature, value, group) aggregation."""
    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", "o_totalprice"
    )
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    feat = (
        o.join(li, o["o_orderkey"] == li["l_orderkey"])
        .groupBy("o_orderkey", "o_orderdate", "o_totalprice")
        .agg(
            F.count(F.lit(1)).cast("long").alias("nl"),
            F.sum(F.round("l_quantity").cast("long"))
            .cast("long")
            .alias("sq"),
        )
        .select(
            F.to_date("o_orderdate").alias("dt"),
            F.round(F.col("o_totalprice") * 100).cast("long").alias("pc"),
            "nl", "sq",
        )
    )
    nn = feat.agg(F.count(F.lit(1)).cast("long").alias("n"))
    dd = feat.groupBy("dt").agg(F.count(F.lit(1)).cast("long").alias("c"))
    wc = Window.orderBy("dt").rowsBetween(Window.unboundedPreceding, 0)
    wp = Window.orderBy("dt").rowsBetween(Window.unboundedPreceding, -1)
    dcdf = dd.select(
        "dt",
        F.sum("c").over(wc).cast("long").alias("cum"),
        F.coalesce(F.sum("c").over(wp), F.lit(0)).cast("long").alias("prev"),
    )
    mrank = F.expr("(n + 1) div 2")
    split = (
        dcdf.crossJoin(F.broadcast(nn))
        .filter((F.col("cum") >= mrank) & (F.col("prev") < mrank))
        .agg(F.min("dt").alias("sd"))
    )
    lab = feat.crossJoin(F.broadcast(split)).select(
        F.when(F.col("dt") <= F.col("sd"), 1).otherwise(2).alias("g"),
        "pc", "nl", "sq",
    )
    lng = (
        lab.select(F.lit("price").alias("feature"), "g", F.col("pc").alias("v"))
        .unionAll(
            lab.select(F.lit("lines").alias("feature"), "g", F.col("nl").alias("v"))
        )
        .unionAll(
            lab.select(
                F.lit("quantity").alias("feature"), "g", F.col("sq").alias("v")
            )
        )
    )
    vals = lng.groupBy("feature", "v").agg(
        F.sum(F.when(F.col("g") == 1, 1).otherwise(0))
        .cast("long")
        .alias("c1"),
        F.sum(F.when(F.col("g") == 2, 1).otherwise(0))
        .cast("long")
        .alias("c2"),
    )
    wpf = Window.partitionBy("feature").orderBy("v").rowsBetween(
        Window.unboundedPreceding, -1
    )
    pref = vals.select(
        "feature", "c1",
        (
            F.coalesce(F.sum(F.col("c1") + F.col("c2")).over(wpf), F.lit(0))
            + (F.col("c1") + F.col("c2") + 1) / F.lit(2.0)
        ).alias("avg_rank"),
    )
    agg_ = pref.groupBy("feature").agg(
        F.sum(F.col("c1") * F.col("avg_rank")).alias("r1"),
        F.sum("c1").cast("long").alias("n1f"),
    )
    counts = lab.agg(
        F.sum(F.when(F.col("g") == 1, 1).otherwise(0))
        .cast("long")
        .alias("n1"),
        F.sum(F.when(F.col("g") == 2, 1).otherwise(0))
        .cast("long")
        .alias("n2"),
    )
    auc = (
        F.col("r1") - F.col("n1") * (F.col("n1") + 1e0) / 2e0
    ) / (F.col("n1") * 1e0 * F.col("n2"))
    return (
        agg_.crossJoin(F.broadcast(counts))
        .select(
            "feature",
            F.col("n1").alias("n_first_half"),
            F.col("n2").alias("n_second_half"),
            F.round(auc, 6).alias("domain_auc"),
            F.when(F.abs(auc - 0.5e0) > 0.02e0, 1)
            .otherwise(0)
            .cast("long")
            .alias("drift_flag"),
        )
        .orderBy("feature")
    )


def _order_ship_base(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Persisted order-grain training frame of the tree family: price
    in cents ``pc``, line count ``nl``, rounded quantity ``sq`` and the
    fast-ship label ``pos`` (every line shipped within 30 days of the
    order date)."""
    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice", "o_orderdate"
    )
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_quantity", "l_shipdate"
    )
    # r10 (guide §2.3 "aggregate before you shuffle"): the fast-ship
    # label max(shipdate <= orderdate+30) over an order's lines equals
    # min(shipdate) <= orderdate+30, so the per-order line stats
    # (nl, sq, min_ship) reduce map-side over lineitem ALONE and the
    # join moves |orders| pre-aggregated rows instead of |lineitem| raw
    # lines through the join + keyed re-aggregation. Identical rows at
    # sf0.01/sf0.1; cold A/B 1.11x med — and the scale-correct shape.
    lag = li.groupBy("l_orderkey").agg(
        F.count(F.lit(1)).cast("long").alias("nl"),
        F.sum(F.round("l_quantity").cast("long")).cast("long").alias("sq"),
        F.min(F.to_date("l_shipdate")).alias("minship"),
    )
    return (
        o.join(lag, o["o_orderkey"] == lag["l_orderkey"])
        .select(
            F.round(F.col("o_totalprice") * 100).cast("long").alias("pc"),
            "nl", "sq",
            F.when(
                F.col("minship")
                <= F.date_add(F.to_date("o_orderdate"), 30),
                1,
            ).otherwise(0).cast("long").alias("pos"),
        )
        .persist()
    )


@query(
    "decision_tree_depth2",
    """
    WITH base AS (
        SELECT o.o_orderkey,
               CAST(round(o.o_totalprice * 100) AS BIGINT) AS pc,
               CAST(count(*) AS BIGINT) AS nl,
               CAST(sum(CAST(round(l.l_quantity) AS BIGINT)) AS BIGINT)
                   AS sq,
               CAST(max(CASE WHEN CAST(l.l_shipdate AS DATE)
                                  <= CAST(o.o_orderdate AS DATE)
                                     + to_days(30)
                             THEN 1 ELSE 0 END) AS BIGINT) AS pos
        FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        GROUP BY o.o_orderkey, o.o_totalprice, o.o_orderdate),
    lng0 AS (
        SELECT 'price' AS feature, pc AS v, pos FROM base
        UNION ALL SELECT 'lines', nl, pos FROM base
        UNION ALL SELECT 'quantity', sq, pos FROM base),
    root_best AS (
        SELECT feature, v, score FROM (
            SELECT feature, v, score,
                   row_number() OVER (ORDER BY score DESC, feature, v)
                       AS rr
            FROM (
                SELECT feature, v,
                       (cp * cp + (cc - cp) * (cc - cp)) * 1e0 / cc
                       + ((tp - cp) * (tp - cp)
                          + ((tc - cc) - (tp - cp))
                            * ((tc - cc) - (tp - cp))) * 1e0 / (tc - cc)
                           AS score
                FROM (
                    SELECT feature, v,
                           CAST(sum(sum(pos)) OVER (PARTITION BY feature
                                ORDER BY v) AS BIGINT) AS cp,
                           CAST(sum(count(*)) OVER (PARTITION BY feature
                                ORDER BY v) AS BIGINT) AS cc,
                           CAST(sum(sum(pos)) OVER (PARTITION BY feature)
                                AS BIGINT) AS tp,
                           CAST(sum(count(*)) OVER (PARTITION BY feature)
                                AS BIGINT) AS tc
                    FROM lng0 GROUP BY feature, v)
                WHERE cc < tc)) WHERE rr = 1),
    sided AS (
        SELECT b.*,
               CASE WHEN (CASE (SELECT feature FROM root_best)
                          WHEN 'price' THEN b.pc
                          WHEN 'lines' THEN b.nl
                          ELSE b.sq END) <= (SELECT v FROM root_best)
                    THEN 'left' ELSE 'right' END AS side
        FROM base b),
    lngc AS (
        SELECT side, 'price' AS feature, pc AS v, pos FROM sided
        UNION ALL SELECT side, 'lines', nl, pos FROM sided
        UNION ALL SELECT side, 'quantity', sq, pos FROM sided),
    child_best AS (
        SELECT side, feature, v, score, tp, tc FROM (
            SELECT side, feature, v, score, tp, tc,
                   row_number() OVER (PARTITION BY side
                                      ORDER BY score DESC, feature, v)
                       AS rr
            FROM (
                SELECT side, feature, v,
                       (cp * cp + (cc - cp) * (cc - cp)) * 1e0 / cc
                       + ((tp - cp) * (tp - cp)
                          + ((tc - cc) - (tp - cp))
                            * ((tc - cc) - (tp - cp))) * 1e0 / (tc - cc)
                           AS score,
                       tp, tc
                FROM (
                    SELECT side, feature, v,
                           CAST(sum(sum(pos)) OVER (PARTITION BY side,
                                feature ORDER BY v) AS BIGINT) AS cp,
                           CAST(sum(count(*)) OVER (PARTITION BY side,
                                feature ORDER BY v) AS BIGINT) AS cc,
                           CAST(sum(sum(pos)) OVER (PARTITION BY side,
                                feature) AS BIGINT) AS tp,
                           CAST(sum(count(*)) OVER (PARTITION BY side,
                                feature) AS BIGINT) AS tc
                    FROM lngc GROUP BY side, feature, v)
                WHERE cc < tc)) WHERE rr = 1),
    roottot AS (
        SELECT CAST(sum(pos) AS BIGINT) AS tp,
               CAST(count(*) AS BIGINT) AS tc
        FROM base),
    nodes AS (
        SELECT 'root' AS node, rb.feature, rb.v AS threshold,
               rt.tc AS n, rt.tp AS n_pos, rb.score
        FROM root_best rb, roottot rt
        UNION ALL
        SELECT side, feature, v, tc, tp, score FROM child_best)
    SELECT node, feature,
           round(CASE WHEN feature = 'price' THEN threshold / 100e0
                      ELSE threshold * 1e0 END, 2) AS threshold,
           n, n_pos,
           round(n_pos * 1e0 / n, 6) AS pos_rate,
           round(1e0 - (n_pos * 1e0 * n_pos
                        + (n - n_pos) * 1e0 * (n - n_pos)) / (n * 1e0 * n),
                 6) AS gini_before,
           round(1e0 - score / n, 6) AS gini_after
    FROM nodes
    ORDER BY CASE node WHEN 'root' THEN 0 WHEN 'left' THEN 1 ELSE 2 END
    """,
)
def decision_tree_depth2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact depth-2 CART tree for the fast-ship outcome over three
    per-order features: the root split and both child splits each
    chosen by EXACT Gini gain — the weighted-child-impurity argmin
    rewritten as maximizing sum_child (pos^2 + neg^2)/n_child, so
    every candidate threshold is scored from per-feature
    distinct-value PREFIX SUMS (cumulative positives/counts), never
    a per-threshold rescan: the whole level is one aggregation +
    one partitioned window per feature, the distributed tree-
    induction shape (this is exactly how Spark MLlib's histogram
    tree builder works, here exact instead of binned and oracle-
    checkable). Reports per node: chosen feature, threshold, size,
    positive rate, Gini before/after. The child pass reuses the same
    machinery partitioned by the root's side assignment (root split
    broadcast, no collect)."""
    base = _order_ship_base(spark, sf_dir)

    def _lng(df: DataFrame, keys: list[str]) -> DataFrame:
        parts = []
        for name, col in (("price", "pc"), ("lines", "nl"),
                          ("quantity", "sq")):
            parts.append(
                df.select(
                    *keys, F.lit(name).alias("feature"),
                    F.col(col).alias("v"), "pos",
                )
            )
        out = parts[0]
        for pp in parts[1:]:
            out = out.unionAll(pp)
        return out

    def _best(lng: DataFrame, keys: list[str]) -> DataFrame:
        grp = lng.groupBy(*keys, "feature", "v").agg(
            F.sum("pos").cast("long").alias("p"),
            F.count(F.lit(1)).cast("long").alias("c"),
        )
        pw = Window.partitionBy(*keys, "feature").orderBy("v").rowsBetween(
            Window.unboundedPreceding, 0
        )
        tw = Window.partitionBy(*keys, "feature")
        cum = grp.select(
            *keys, "feature", "v",
            F.sum("p").over(pw).cast("long").alias("cp"),
            F.sum("c").over(pw).cast("long").alias("cc"),
            F.sum("p").over(tw).cast("long").alias("tp"),
            F.sum("c").over(tw).cast("long").alias("tc"),
        ).filter(F.col("cc") < F.col("tc"))
        score = (
            (
                F.col("cp") * F.col("cp")
                + (F.col("cc") - F.col("cp")) * (F.col("cc") - F.col("cp"))
            )
            * 1e0
            / F.col("cc")
            + (
                (F.col("tp") - F.col("cp")) * (F.col("tp") - F.col("cp"))
                + ((F.col("tc") - F.col("cc")) - (F.col("tp") - F.col("cp")))
                * ((F.col("tc") - F.col("cc")) - (F.col("tp") - F.col("cp")))
            )
            * 1e0
            / (F.col("tc") - F.col("cc"))
        )
        scored = cum.withColumn("score", score)
        if not keys:
            # global argmax via TakeOrderedAndProject, not a rank
            # window over the split-candidate frame (r8 lint)
            return scored.orderBy(F.desc("score"), "feature", "v").limit(
                1
            ).select("feature", "v", "score", "tp", "tc")
        wb = Window.partitionBy(*keys).orderBy(
            F.desc("score"), "feature", "v"
        )
        return scored.withColumn("rr", F.row_number().over(wb)).filter(
            F.col("rr") == 1
        ).select(*keys, "feature", "v", "score", "tp", "tc")

    root = _best(_lng(base, []), []).select(
        F.col("feature").alias("rf"), F.col("v").alias("rv"),
        F.col("score").alias("rscore"),
    )
    roottot = base.agg(
        F.sum("pos").cast("long").alias("rtp"),
        F.count(F.lit(1)).cast("long").alias("rtc"),
    )
    sided = base.crossJoin(F.broadcast(root)).withColumn(
        "side",
        F.when(
            F.when(F.col("rf") == "price", F.col("pc"))
            .when(F.col("rf") == "lines", F.col("nl"))
            .otherwise(F.col("sq"))
            <= F.col("rv"),
            F.lit("left"),
        ).otherwise(F.lit("right")),
    )
    children = _best(_lng(sided, ["side"]), ["side"])
    root_row = root.crossJoin(F.broadcast(roottot)).select(
        F.lit("root").alias("node"),
        F.col("rf").alias("feature"),
        F.col("rv").alias("threshold"),
        F.col("rtc").alias("n"),
        F.col("rtp").alias("n_pos"),
        F.col("rscore").alias("score"),
    )
    child_rows = children.select(
        F.col("side").alias("node"), "feature",
        F.col("v").alias("threshold"),
        F.col("tc").alias("n"), F.col("tp").alias("n_pos"), "score",
    )
    nodes = root_row.unionAll(child_rows)
    gini_before = 1e0 - (
        F.col("n_pos") * 1e0 * F.col("n_pos")
        + (F.col("n") - F.col("n_pos")) * 1e0 * (F.col("n") - F.col("n_pos"))
    ) / (F.col("n") * 1e0 * F.col("n"))
    return nodes.select(
        "node", "feature",
        F.round(
            F.when(
                F.col("feature") == "price", F.col("threshold") / 100e0
            ).otherwise(F.col("threshold") * 1e0),
            2,
        ).alias("threshold"),
        "n", "n_pos",
        F.round(F.col("n_pos") * 1e0 / F.col("n"), 6).alias("pos_rate"),
        F.round(gini_before, 6).alias("gini_before"),
        F.round(1e0 - F.col("score") / F.col("n"), 6).alias("gini_after"),
    ).orderBy(
        F.when(F.col("node") == "root", 0)
        .when(F.col("node") == "left", 1)
        .otherwise(2)
    )


def _duck_embed_sql() -> str:
    edge_h = _DUCK_H60.format(
        args="CAST(src AS VARCHAR) || '-' || CAST(dst AS VARCHAR), 'k4'"
    )
    return f"""
    WITH s AS (SELECT s_suppkey::BIGINT AS id FROM supplier),
    e AS MATERIALIZED (
        SELECT a.id AS src, b.id AS dst FROM s a JOIN s b ON a.id < b.id
        WHERE {edge_h} % 10000 < 400),
    und AS (
        SELECT src AS a, dst AS b FROM e
        UNION ALL SELECT dst, src FROM e),
    emb AS (
        SELECT e.src, e.dst, CAST(count(n2.b) AS BIGINT) AS cn
        FROM e
        LEFT JOIN und n1 ON n1.a = e.src
        LEFT JOIN und n2 ON n2.a = e.dst AND n2.b = n1.b
        GROUP BY e.src, e.dst),
    hist AS (
        SELECT cn AS embeddedness, CAST(count(*) AS BIGINT) AS n_edges
        FROM emb GROUP BY 1)
    SELECT embeddedness, n_edges,
           round(n_edges * 1e0
                 / (SELECT count(*) FROM e), 6) AS edge_share,
           CAST(CASE WHEN embeddedness = 0 THEN 1 ELSE 0 END AS BIGINT)
               AS is_local_bridge
    FROM hist
    ORDER BY embeddedness
    """


@query("edge_embeddedness", _duck_embed_sql())
def edge_embeddedness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edge EMBEDDEDNESS census of the sampled supplier graph: for
    every edge, the number of common neighbors of its endpoints
    (Granovetter's tie-strength proxy — embeddedness 0 marks LOCAL
    BRIDGES, the weak ties that carry novel information across
    communities; high embeddedness marks redundant intra-community
    ties). The census histogram is the edge-level dual of the
    triangle count (sum of embeddedness = 3 x triangles) and the
    micro-foundation under the clustering-coefficient and k-truss
    queries (a k-truss is exactly the edges with embeddedness >=
    k-2). Shape: one undirected neighbor expansion joined back per
    edge endpoint — the standard edge-triangle join, bounded by the
    sample's degree; pure integer counting."""
    sup = _t(spark, sf_dir, "supplier").select(
        F.col("s_suppkey").cast("long").alias("id")
    )
    e = tg.sampled_edges(sup, 400, "k4", directed=False).persist()
    und = e.select(F.col("src").alias("a"), F.col("dst").alias("b")).unionAll(
        e.select(F.col("dst").alias("a"), F.col("src").alias("b"))
    )
    e2 = e.select(F.col("src").alias("es"), F.col("dst").alias("ed"))
    n1 = und.select(F.col("a").alias("es"), F.col("b").alias("w1"))
    n2 = und.select(F.col("a").alias("n2d"), F.col("b").alias("w2"))
    emb = (
        e2.join(n1, "es", "left")
        .join(
            n2,
            (F.col("ed") == F.col("n2d")) & (F.col("w1") == F.col("w2")),
            "left",
        )
        .groupBy("es", "ed")
        .agg(F.count("w2").cast("long").alias("cn"))
    )
    ne = e.agg(F.count(F.lit(1)).cast("long").alias("ne"))
    return (
        emb.groupBy(F.col("cn").alias("embeddedness"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_edges"))
        .crossJoin(F.broadcast(ne))
        .select(
            "embeddedness", "n_edges",
            F.round(F.col("n_edges") * 1e0 / F.col("ne"), 6).alias(
                "edge_share"
            ),
            F.when(F.col("embeddedness") == 0, 1)
            .otherwise(0)
            .cast("long")
            .alias("is_local_bridge"),
        )
        .orderBy("embeddedness")
    )


@query(
    "subgroup_wracc_scan",
    """
    WITH base AS (
        SELECT o.o_orderpriority AS prio, c.c_mktsegment AS seg,
               r.r_name AS region,
               CAST(max(CASE WHEN CAST(l.l_shipdate AS DATE)
                                  <= CAST(o.o_orderdate AS DATE)
                                     + to_days(30)
                             THEN 1 ELSE 0 END) AS BIGINT) AS pos
        FROM orders o
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN nation n ON n.n_nationkey = c.c_nationkey
        JOIN region r ON r.r_regionkey = n.n_regionkey
        JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        GROUP BY o.o_orderkey, o.o_orderpriority, c.c_mktsegment,
                 r.r_name),
    tot AS (
        SELECT CAST(count(*) AS BIGINT) AS n,
               CAST(sum(pos) AS BIGINT) AS p
        FROM base),
    cube_ AS (
        SELECT coalesce(prio, '*') AS prio,
               coalesce(seg, '*') AS seg,
               coalesce(region, '*') AS region,
               CAST(count(*) AS BIGINT) AS ng,
               CAST(sum(pos) AS BIGINT) AS pg
        FROM base
        GROUP BY GROUPING SETS ((prio), (seg), (region),
                                (prio, seg), (prio, region),
                                (seg, region))),
    scored AS (
        SELECT c.prio, c.seg, c.region, c.ng, c.pg,
               round(c.pg * 1e0 / c.ng, 6) AS subgroup_rate,
               round(t.p * 1e0 / t.n, 6) AS base_rate,
               round((c.ng * 1e0 / t.n)
                     * (c.pg * 1e0 / c.ng - t.p * 1e0 / t.n), 6)
                   AS wracc
        FROM cube_ c, tot t
        WHERE c.ng >= 30)
    SELECT prio, seg, region, ng AS n_subgroup, subgroup_rate,
           base_rate, wracc
    FROM scored
    ORDER BY abs(wracc) DESC, prio, seg, region
    LIMIT 15
    """,
)
def subgroup_wracc_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Subgroup discovery (Kloesgen/Wrobel exceptional-model-mining
    core): scan every 1- and 2-attribute conjunction over priority x
    segment x region and rank by WEIGHTED RELATIVE ACCURACY,
    WRAcc = coverage x (subgroup rate - base rate) — the quality
    measure that balances how BIG a subgroup is against how
    DEVIANT its fast-ship rate is (a pure rate ranking surfaces
    noise cells; a pure size ranking surfaces the trivial full
    population; WRAcc is the standard compromise). The entire
    conjunction lattice comes from ONE GROUPING SETS pass over the
    order-grain rollup (no per-subgroup rescan — the cube operator
    IS the subgroup enumerator at scale), with a support floor of
    30. Pure integer counts; three exact ratios per row."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey",
                                             "c_mktsegment")
    n = _t(spark, sf_dir, "nation").select("n_nationkey", "n_regionkey")
    r = _t(spark, sf_dir, "region").select("r_regionkey", "r_name")
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    # r10: pre-aggregate lineitem to one (l_orderkey, min shipdate)
    # row per order BEFORE the dimension joins (guide §2.3) — the
    # fast-ship label max(shipdate <= cutoff) == min(shipdate) <=
    # cutoff, so |lineitem| raw lines no longer ride through the
    # 4-table join + keyed re-aggregation.
    lag = li.groupBy("l_orderkey").agg(
        F.min(F.to_date("l_shipdate")).alias("minship")
    )
    base = (
        o.join(c, o["o_custkey"] == c["c_custkey"])
        .join(n, c["c_nationkey"] == n["n_nationkey"])
        .join(r, n["n_regionkey"] == r["r_regionkey"])
        .join(lag, o["o_orderkey"] == lag["l_orderkey"])
        .select(
            F.col("o_orderpriority").alias("prio"),
            F.col("c_mktsegment").alias("seg"),
            F.col("r_name").alias("region"),
            F.when(
                F.col("minship")
                <= F.date_add(F.to_date("o_orderdate"), 30),
                1,
            ).otherwise(0).cast("long").alias("pos"),
        )
        .persist()
    )
    tot = base.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("pos").cast("long").alias("p"),
    )
    cube_ = (
        base.groupingSets(
            [["prio"], ["seg"], ["region"], ["prio", "seg"],
             ["prio", "region"], ["seg", "region"]],
            "prio", "seg", "region",
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("ng"),
            F.sum("pos").cast("long").alias("pg"),
        )
        .select(
            F.coalesce("prio", F.lit("*")).alias("prio"),
            F.coalesce("seg", F.lit("*")).alias("seg"),
            F.coalesce("region", F.lit("*")).alias("region"),
            "ng", "pg",
        )
    )
    sg = F.col("pg") * 1e0 / F.col("ng")
    br = F.col("p") * 1e0 / F.col("n")
    wracc = (F.col("ng") * 1e0 / F.col("n")) * (sg - br)
    return (
        cube_.crossJoin(F.broadcast(tot))
        .filter(F.col("ng") >= 30)
        .select(
            "prio", "seg", "region",
            F.col("ng").alias("n_subgroup"),
            F.round(sg, 6).alias("subgroup_rate"),
            F.round(br, 6).alias("base_rate"),
            F.round(wracc, 6).alias("wracc"),
        )
        .orderBy(F.abs(F.col("wracc")).desc(), "prio", "seg", "region")
        .limit(15)
    )


@query(
    "adaboost_two_stumps",
    """
    WITH base AS MATERIALIZED (
        SELECT CAST(round(o.o_totalprice * 100) AS BIGINT) AS pc,
               CAST(count(*) AS BIGINT) AS nl,
               CAST(sum(CAST(round(l.l_quantity) AS BIGINT)) AS BIGINT)
                   AS sq,
               CAST(max(CASE WHEN CAST(l.l_shipdate AS DATE)
                                  <= CAST(o.o_orderdate AS DATE)
                                     + to_days(30)
                             THEN 1 ELSE 0 END) AS BIGINT) AS pos
        FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        GROUP BY o.o_orderkey, o.o_totalprice, o.o_orderdate),
    lng AS (
        SELECT 'price' AS feature, pc AS v, pos FROM base
        UNION ALL SELECT 'lines', nl, pos FROM base
        UNION ALL SELECT 'quantity', sq, pos FROM base),
    pre1 AS MATERIALIZED (
        SELECT feature, v,
               CAST(sum(sum(pos)) OVER (PARTITION BY feature ORDER BY v)
                    AS BIGINT) AS cp,
               CAST(sum(count(*)) OVER (PARTITION BY feature ORDER BY v)
                    AS BIGINT) AS cc,
               CAST(sum(sum(pos)) OVER (PARTITION BY feature) AS BIGINT)
                   AS tp,
               CAST(sum(count(*)) OVER (PARTITION BY feature) AS BIGINT)
                   AS tc
        FROM lng GROUP BY feature, v),
    cand1 AS (
        SELECT feature, v, 1 AS pol,
               (cc - cp) + (tp - cp) AS err FROM pre1 WHERE cc < tc
        UNION ALL
        SELECT feature, v, -1,
               cp + ((tc - cc) - (tp - cp)) FROM pre1 WHERE cc < tc),
    s1 AS MATERIALIZED (
        SELECT feature, v, pol, err FROM cand1
        ORDER BY err, feature, v, pol LIMIT 1),
    n0 AS (SELECT CAST(count(*) AS BIGINT) AS n,
                  CAST(sum(pos) AS BIGINT) AS p FROM base),
    a1 AS MATERIALIZED (
        SELECT s1.feature AS f1, s1.v AS v1, s1.pol AS p1,
               CAST(s1.err AS DOUBLE) / n0.n AS e1,
               0.5e0 * ln((n0.n - s1.err) * 1e0 / s1.err) AS alpha1
        FROM s1, n0),
    marked AS MATERIALIZED (
        SELECT b.*,
               CASE WHEN ((CASE (SELECT f1 FROM a1)
                           WHEN 'price' THEN b.pc
                           WHEN 'lines' THEN b.nl ELSE b.sq END)
                          <= (SELECT v1 FROM a1))
                    THEN (SELECT p1 FROM a1)
                    ELSE -(SELECT p1 FROM a1) END AS h1,
               CASE WHEN b.pos = 1 THEN 1 ELSE -1 END AS y
        FROM base b),
    mk2 AS MATERIALIZED (
        SELECT *, CASE WHEN h1 = y THEN 1 ELSE 0 END AS corr
        FROM marked),
    lng2 AS (
        SELECT 'price' AS feature, pc AS v, y, corr FROM mk2
        UNION ALL SELECT 'lines', nl, y, corr FROM mk2
        UNION ALL SELECT 'quantity', sq, y, corr FROM mk2),
    pre2 AS MATERIALIZED (
        SELECT feature, v,
               CAST(sum(sum(CASE WHEN y = 1 AND corr = 1 THEN 1 ELSE 0
                            END)) OVER w AS BIGINT) AS cpc,
               CAST(sum(sum(CASE WHEN y = 1 AND corr = 0 THEN 1 ELSE 0
                            END)) OVER w AS BIGINT) AS cpw,
               CAST(sum(sum(CASE WHEN y = -1 AND corr = 1 THEN 1 ELSE 0
                            END)) OVER w AS BIGINT) AS cnc,
               CAST(sum(sum(CASE WHEN y = -1 AND corr = 0 THEN 1 ELSE 0
                            END)) OVER w AS BIGINT) AS cnw,
               CAST(sum(sum(CASE WHEN y = 1 AND corr = 1 THEN 1 ELSE 0
                            END)) OVER t AS BIGINT) AS tpc,
               CAST(sum(sum(CASE WHEN y = 1 AND corr = 0 THEN 1 ELSE 0
                            END)) OVER t AS BIGINT) AS tpw,
               CAST(sum(sum(CASE WHEN y = -1 AND corr = 1 THEN 1 ELSE 0
                            END)) OVER t AS BIGINT) AS tnc,
               CAST(sum(sum(CASE WHEN y = -1 AND corr = 0 THEN 1 ELSE 0
                            END)) OVER t AS BIGINT) AS tnw
        FROM lng2 GROUP BY feature, v
        WINDOW w AS (PARTITION BY feature ORDER BY v),
               t AS (PARTITION BY feature)),
    wts AS MATERIALIZED (
        SELECT exp(-(SELECT alpha1 FROM a1)) AS wc,
               exp((SELECT alpha1 FROM a1)) AS ww),
    cand2 AS (
        SELECT feature, v, 1 AS pol,
               w.wc * ((tpc - cpc) + cnc) + w.ww * ((tpw - cpw) + cnw)
                   AS werr
        FROM pre2, wts w
        WHERE cpc + cpw + cnc + cnw < tpc + tpw + tnc + tnw
        UNION ALL
        SELECT feature, v, -1,
               w.wc * (cpc + (tnc - cnc)) + w.ww * (cpw + (tnw - cnw))
        FROM pre2, wts w
        WHERE cpc + cpw + cnc + cnw < tpc + tpw + tnc + tnw),
    totw AS MATERIALIZED (
        SELECT w.wc * (SELECT CAST(sum(corr) AS BIGINT) FROM mk2)
               + w.ww * (SELECT CAST(sum(1 - corr) AS BIGINT) FROM mk2)
                   AS tw
        FROM wts w),
    s2 AS MATERIALIZED (
        SELECT feature, v, pol, werr FROM cand2
        ORDER BY werr, feature, v, pol LIMIT 1),
    a2 AS MATERIALIZED (
        SELECT s2.feature AS f2, s2.v AS v2, s2.pol AS p2,
               s2.werr / (SELECT tw FROM totw) AS e2,
               0.5e0 * ln(((SELECT tw FROM totw) - s2.werr) / s2.werr)
                   AS alpha2
        FROM s2),
    ens AS MATERIALIZED (
        SELECT CAST(sum(CASE WHEN
            (CASE WHEN (SELECT alpha1 FROM a1) * m.h1
                       + (SELECT alpha2 FROM a2)
                         * (CASE WHEN ((CASE (SELECT f2 FROM a2)
                                        WHEN 'price' THEN m.pc
                                        WHEN 'lines' THEN m.nl
                                        ELSE m.sq END)
                                       <= (SELECT v2 FROM a2))
                                 THEN (SELECT p2 FROM a2)
                                 ELSE -(SELECT p2 FROM a2) END) >= 0e0
                  THEN 1 ELSE -1 END) = m.y THEN 1 ELSE 0 END)
            AS BIGINT) AS n_correct,
               CAST(count(*) AS BIGINT) AS n
        FROM mk2 m)
    SELECT r.rnd AS round,
           CASE r.rnd WHEN 1 THEN (SELECT f1 FROM a1)
                      ELSE (SELECT f2 FROM a2) END AS feature,
           round(CASE r.rnd
                 WHEN 1 THEN CASE WHEN (SELECT f1 FROM a1) = 'price'
                                  THEN (SELECT v1 FROM a1) / 100e0
                                  ELSE (SELECT v1 FROM a1) * 1e0 END
                 ELSE CASE WHEN (SELECT f2 FROM a2) = 'price'
                           THEN (SELECT v2 FROM a2) / 100e0
                           ELSE (SELECT v2 FROM a2) * 1e0 END END, 2)
               AS threshold,
           CASE r.rnd WHEN 1 THEN (SELECT p1 FROM a1)
                      ELSE (SELECT p2 FROM a2) END AS polarity,
           round(CASE r.rnd WHEN 1 THEN (SELECT e1 FROM a1)
                            ELSE (SELECT e2 FROM a2) END, 6)
               AS weighted_err,
           round(CASE r.rnd WHEN 1 THEN (SELECT alpha1 FROM a1)
                            ELSE (SELECT alpha2 FROM a2) END, 6)
               AS alpha,
           round((SELECT n_correct * 1e0 / n FROM ens), 6)
               AS ensemble_train_acc
    FROM (SELECT unnest([1, 2]) AS rnd) r
    ORDER BY r.rnd
    """,
)
def adaboost_two_stumps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AdaBoost (Freund & Schapire 1997), two exact decision-stump
    rounds, on the fast-ship outcome: round 1 picks the (feature,
    threshold, polarity) stump with the minimum INTEGER
    misclassification count from distinct-value prefix sums; after
    reweighting, every point carries one of only TWO weights
    (e^-alpha for h1-correct, e^+alpha for h1-wrong), so round 2's
    weighted error is an exact two-term expression over FOUR integer
    prefix counts per value (pos/neg x correct/wrong) — the
    structural fact that makes one boosting round exactly
    distributable with no per-row weight column. Reports both
    stumps, their weighted errors and alphas, and the exact training
    accuracy of the signed ensemble. Extends the tree family
    (info-gain stump, depth-2 CART) with the boosting member, and
    MLlib's GBTClassifier is the production path."""
    base = _order_ship_base(spark, sf_dir)

    def _lng(df, extra):
        parts = []
        for name, col in (("price", "pc"), ("lines", "nl"),
                          ("quantity", "sq")):
            parts.append(
                df.select(
                    F.lit(name).alias("feature"), F.col(col).alias("v"),
                    *extra,
                )
            )
        out = parts[0]
        for pp in parts[1:]:
            out = out.unionAll(pp)
        return out

    lng = _lng(base, ["pos"])
    grp = lng.groupBy("feature", "v").agg(
        F.sum("pos").cast("long").alias("p"),
        F.count(F.lit(1)).cast("long").alias("c"),
    )
    pw = Window.partitionBy("feature").orderBy("v").rowsBetween(
        Window.unboundedPreceding, 0
    )
    tw = Window.partitionBy("feature")
    pre1 = grp.select(
        "feature", "v",
        F.sum("p").over(pw).cast("long").alias("cp"),
        F.sum("c").over(pw).cast("long").alias("cc"),
        F.sum("p").over(tw).cast("long").alias("tp"),
        F.sum("c").over(tw).cast("long").alias("tc"),
    ).filter(F.col("cc") < F.col("tc"))
    cand1 = pre1.select(
        "feature", "v", F.lit(1).alias("pol"),
        ((F.col("cc") - F.col("cp")) + (F.col("tp") - F.col("cp")))
        .cast("long")
        .alias("err"),
    ).unionAll(
        pre1.select(
            "feature", "v", F.lit(-1).alias("pol"),
            (
                F.col("cp")
                + ((F.col("tc") - F.col("cc")) - (F.col("tp") - F.col("cp")))
            )
            .cast("long")
            .alias("err"),
        )
    )
    # argmin via TakeOrderedAndProject (r8 lint)
    s1 = cand1.orderBy("err", "feature", "v", "pol").limit(1).select(
        F.col("feature").alias("f1"), F.col("v").alias("v1"),
        F.col("pol").alias("p1"), F.col("err").alias("err1"),
    )
    n0 = base.agg(F.count(F.lit(1)).cast("long").alias("n"))
    a1 = s1.crossJoin(F.broadcast(n0)).select(
        "f1", "v1", "p1",
        (F.col("err1").cast("double") / F.col("n")).alias("e1"),
        (
            0.5e0
            * F.log(
                (F.col("n") - F.col("err1")) * 1e0 / F.col("err1")
            )
        ).alias("alpha1"),
        "n",
    ).localCheckpoint()
    marked = base.crossJoin(F.broadcast(a1)).select(
        "pc", "nl", "sq",
        F.when(F.col("pos") == 1, 1).otherwise(-1).alias("y"),
        F.when(
            F.when(F.col("f1") == "price", F.col("pc"))
            .when(F.col("f1") == "lines", F.col("nl"))
            .otherwise(F.col("sq"))
            <= F.col("v1"),
            F.col("p1"),
        ).otherwise(-F.col("p1")).alias("h1"),
    ).withColumn(
        "corr", F.when(F.col("h1") == F.col("y"), 1).otherwise(0)
    ).localCheckpoint()
    lng2 = _lng(marked, ["y", "corr"])
    g2 = lng2.groupBy("feature", "v").agg(
        F.sum(F.when((F.col("y") == 1) & (F.col("corr") == 1), 1).otherwise(0)).cast("long").alias("pcg"),
        F.sum(F.when((F.col("y") == 1) & (F.col("corr") == 0), 1).otherwise(0)).cast("long").alias("pwg"),
        F.sum(F.when((F.col("y") == -1) & (F.col("corr") == 1), 1).otherwise(0)).cast("long").alias("ncg"),
        F.sum(F.when((F.col("y") == -1) & (F.col("corr") == 0), 1).otherwise(0)).cast("long").alias("nwg"),
    )
    pre2 = g2.select(
        "feature", "v",
        F.sum("pcg").over(pw).cast("long").alias("cpc"),
        F.sum("pwg").over(pw).cast("long").alias("cpw"),
        F.sum("ncg").over(pw).cast("long").alias("cnc"),
        F.sum("nwg").over(pw).cast("long").alias("cnw"),
        F.sum("pcg").over(tw).cast("long").alias("tpc"),
        F.sum("pwg").over(tw).cast("long").alias("tpw"),
        F.sum("ncg").over(tw).cast("long").alias("tnc"),
        F.sum("nwg").over(tw).cast("long").alias("tnw"),
    ).filter(
        F.col("cpc") + F.col("cpw") + F.col("cnc") + F.col("cnw")
        < F.col("tpc") + F.col("tpw") + F.col("tnc") + F.col("tnw")
    )
    wts = a1.select(
        F.exp(-F.col("alpha1")).alias("wc"),
        F.exp(F.col("alpha1")).alias("ww"),
    )
    p2j = pre2.crossJoin(F.broadcast(wts))
    cand2 = p2j.select(
        "feature", "v", F.lit(1).alias("pol"),
        (
            F.col("wc")
            * ((F.col("tpc") - F.col("cpc")) + F.col("cnc"))
            + F.col("ww")
            * ((F.col("tpw") - F.col("cpw")) + F.col("cnw"))
        ).alias("werr"),
    ).unionAll(
        p2j.select(
            "feature", "v", F.lit(-1).alias("pol"),
            (
                F.col("wc")
                * (F.col("cpc") + (F.col("tnc") - F.col("cnc")))
                + F.col("ww")
                * (F.col("cpw") + (F.col("tnw") - F.col("cnw")))
            ).alias("werr"),
        )
    )
    corrs = marked.agg(
        F.sum("corr").cast("long").alias("ncorr"),
        F.sum(1 - F.col("corr")).cast("long").alias("nwrong"),
    )
    totw = corrs.crossJoin(F.broadcast(wts)).select(
        (
            F.col("wc") * F.col("ncorr") + F.col("ww") * F.col("nwrong")
        ).alias("tw_")
    )
    # argmin via TakeOrderedAndProject (r8 lint)
    s2 = cand2.orderBy("werr", "feature", "v", "pol").limit(1).select(
        F.col("feature").alias("f2"), F.col("v").alias("v2"),
        F.col("pol").alias("p2"), F.col("werr").alias("werr2"),
    )
    a2 = s2.crossJoin(F.broadcast(totw)).select(
        "f2", "v2", "p2",
        (F.col("werr2") / F.col("tw_")).alias("e2"),
        (
            0.5e0
            * F.log((F.col("tw_") - F.col("werr2")) / F.col("werr2"))
        ).alias("alpha2"),
    ).localCheckpoint()
    ens = (
        marked.crossJoin(F.broadcast(a1.select("alpha1")))
        .crossJoin(F.broadcast(a2))
        .select(
            F.when(
                (
                    F.col("alpha1") * F.col("h1")
                    + F.col("alpha2")
                    * F.when(
                        F.when(F.col("f2") == "price", F.col("pc"))
                        .when(F.col("f2") == "lines", F.col("nl"))
                        .otherwise(F.col("sq"))
                        <= F.col("v2"),
                        F.col("p2"),
                    ).otherwise(-F.col("p2"))
                )
                >= 0e0,
                1,
            ).otherwise(-1).alias("hh"),
            "y",
        )
        .agg(
            F.sum(F.when(F.col("hh") == F.col("y"), 1).otherwise(0))
            .cast("long")
            .alias("n_correct"),
            F.count(F.lit(1)).cast("long").alias("n_all"),
        )
    )
    r1 = (
        a1.crossJoin(F.broadcast(ens))
        .select(
            F.lit(1).cast("long").alias("round"),
            F.col("f1").alias("feature"),
            F.round(
                F.when(F.col("f1") == "price", F.col("v1") / 100e0)
                .otherwise(F.col("v1") * 1e0),
                2,
            ).alias("threshold"),
            F.col("p1").cast("long").alias("polarity"),
            F.round("e1", 6).alias("weighted_err"),
            F.round("alpha1", 6).alias("alpha"),
            F.round(
                F.col("n_correct") * 1e0 / F.col("n_all"), 6
            ).alias("ensemble_train_acc"),
        )
    )
    r2 = (
        a2.crossJoin(F.broadcast(ens))
        .select(
            F.lit(2).cast("long").alias("round"),
            F.col("f2").alias("feature"),
            F.round(
                F.when(F.col("f2") == "price", F.col("v2") / 100e0)
                .otherwise(F.col("v2") * 1e0),
                2,
            ).alias("threshold"),
            F.col("p2").cast("long").alias("polarity"),
            F.round("e2", 6).alias("weighted_err"),
            F.round("alpha2", 6).alias("alpha"),
            F.round(
                F.col("n_correct") * 1e0 / F.col("n_all"), 6
            ).alias("ensemble_train_acc"),
        )
    )
    return r1.unionAll(r2).orderBy("round")


@query(
    "newsvendor_quantile",
    """
    WITH d AS (
        SELECT CAST(o_orderdate AS DATE) AS day,
               CAST(count(*) AS BIGINT) AS dem
        FROM orders GROUP BY 1),
    nn AS (SELECT CAST(count(*) AS BIGINT) AS n,
                  CAST(sum(dem) AS BIGINT) AS s FROM d),
    cdf AS (
        SELECT dem,
               CAST(sum(c) OVER (ORDER BY dem) AS BIGINT) AS cum,
               CAST(coalesce(sum(c) OVER (ORDER BY dem
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                    0) AS BIGINT) AS prev
        FROM (SELECT dem, CAST(count(*) AS BIGINT) AS c
              FROM d GROUP BY 1)),
    qstar AS (
        SELECT min(dem) AS q FROM cdf, nn
        WHERE cum >= (3 * nn.n + 3) // 4 AND prev < (3 * nn.n + 3) // 4),
    qmean AS (
        SELECT CAST(round(CAST(s AS DOUBLE) / n) AS BIGINT) AS q
        FROM nn),
    cost AS (
        SELECT
          CAST(sum(3 * greatest(dem - (SELECT q FROM qstar), 0)
                   + greatest((SELECT q FROM qstar) - dem, 0))
               AS BIGINT) AS c_star,
          CAST(sum(3 * greatest(dem - (SELECT q FROM qmean), 0)
                   + greatest((SELECT q FROM qmean) - dem, 0))
               AS BIGINT) AS c_mean
        FROM d)
    SELECT (SELECT n FROM nn) AS n_days,
           (SELECT q FROM qstar) AS q_star,
           (SELECT q FROM qmean) AS q_mean_policy,
           c_star AS cost_at_qstar,
           c_mean AS cost_at_mean,
           round(1e0 - CAST(c_star AS DOUBLE) / c_mean, 6)
               AS cost_saving
    FROM cost
    """,
)
def newsvendor_quantile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Newsvendor optimal stocking policy for daily order demand with
    underage cost 3 and overage cost 1: the optimal quantity is the
    EXACT critical-ratio quantile q* = F^-1(cu/(cu+co)) = the 75th-
    percentile day (type-1 order statistic on the day-demand CDF),
    and the audit computes the realized total cost of q* against the
    naive stock-the-mean policy — the canonical demonstration that
    asymmetric costs move the answer from the mean to a QUANTILE
    (why safety_stock's z-factor exists at all). All costs are exact
    integer piecewise-linear sums over the calendar-bounded day
    frame; the optimality law (q* beats every other integer
    quantity) is pinned in pytest."""
    o = _t(spark, sf_dir, "orders")
    d = o.groupBy(F.to_date("o_orderdate").alias("day")).agg(
        F.count(F.lit(1)).cast("long").alias("dem")
    )
    nn = d.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("dem").cast("long").alias("s"),
    )
    dv = d.groupBy("dem").agg(F.count(F.lit(1)).cast("long").alias("c"))
    wc = Window.orderBy("dem").rowsBetween(Window.unboundedPreceding, 0)
    wp = Window.orderBy("dem").rowsBetween(Window.unboundedPreceding, -1)
    cdf = dv.select(
        "dem",
        F.sum("c").over(wc).cast("long").alias("cum"),
        F.coalesce(F.sum("c").over(wp), F.lit(0)).cast("long").alias("prev"),
    )
    rk = F.expr("(3 * n + 3) div 4")
    qstar = (
        cdf.crossJoin(F.broadcast(nn))
        .filter((F.col("cum") >= rk) & (F.col("prev") < rk))
        .agg(F.min("dem").alias("q"))
    )
    qmean = nn.select(
        F.round(F.col("s").cast("double") / F.col("n"))
        .cast("long")
        .alias("qm")
    )
    cost = (
        d.crossJoin(F.broadcast(qstar))
        .crossJoin(F.broadcast(qmean))
        .agg(
            F.sum(
                3 * F.greatest(F.col("dem") - F.col("q"), F.lit(0))
                + F.greatest(F.col("q") - F.col("dem"), F.lit(0))
            )
            .cast("long")
            .alias("c_star"),
            F.sum(
                3 * F.greatest(F.col("dem") - F.col("qm"), F.lit(0))
                + F.greatest(F.col("qm") - F.col("dem"), F.lit(0))
            )
            .cast("long")
            .alias("c_mean"),
        )
    )
    return (
        nn.crossJoin(F.broadcast(qstar))
        .crossJoin(F.broadcast(qmean))
        .crossJoin(F.broadcast(cost))
        .select(
            F.col("n").alias("n_days"),
            F.col("q").alias("q_star"),
            F.col("qm").alias("q_mean_policy"),
            F.col("c_star").alias("cost_at_qstar"),
            F.col("c_mean").alias("cost_at_mean"),
            F.round(
                1e0 - F.col("c_star").cast("double") / F.col("c_mean"), 6
            ).alias("cost_saving"),
        )
    )


@query(
    "shift_share_decomposition",
    """
    WITH rev AS (
        SELECT c.c_mktsegment AS seg,
               CAST(year(o.o_orderdate) AS BIGINT) AS yr,
               CAST(sum(CAST(round(o.o_totalprice * 100) AS BIGINT))
                    AS BIGINT) AS r
        FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        WHERE year(o.o_orderdate) IN (1996, 1997)
        GROUP BY 1, 2),
    wide AS (
        SELECT seg,
               CAST(max(CASE WHEN yr = 1996 THEN r END) AS BIGINT) AS r0,
               CAST(max(CASE WHEN yr = 1997 THEN r END) AS BIGINT) AS r1
        FROM rev GROUP BY seg),
    tot AS (
        SELECT CAST(sum(r0) AS BIGINT) AS t0,
               CAST(sum(r1) AS BIGINT) AS t1
        FROM wide)
    SELECT w.seg,
           round(w.r0 / 100e0, 2) AS rev_1996,
           round(w.r1 / 100e0, 2) AS rev_1997,
           round((w.r1 - w.r0) * 1e0 / w.r0, 6) AS segment_growth,
           round((w.r0 * 1e0 / t.t0)
                 * ((w.r1 - w.r0) * 1e0 / w.r0), 6)
               AS growth_contribution,
           round(w.r1 * 1e0 / t.t1 - w.r0 * 1e0 / t.t0, 6)
               AS share_change,
           round((t.t1 - t.t0) * 1e0 / t.t0, 6) AS total_growth
    FROM wide w, tot t
    ORDER BY w.seg
    """,
)
def shift_share_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shift-share decomposition of 1996 -> 1997 revenue growth by
    market segment: each segment's growth rate, its CONTRIBUTION to
    total growth (base-period share x own growth — these
    contributions sum EXACTLY to the total growth rate, the identity
    pinned in pytest), and its share shift — separating 'the pie
    grew' from 'the slices moved', the standard BI/economics
    decomposition that a plain per-segment growth table conflates.
    One corpus aggregation to 5 x 2 cells in exact integer cents;
    every reported number is a fixed int-ratio expression."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    rev = (
        o.join(c, o["o_custkey"] == c["c_custkey"])
        .filter(F.year("o_orderdate").isin(1996, 1997))
        .groupBy(
            F.col("c_mktsegment").alias("seg"),
            F.year("o_orderdate").cast("long").alias("yr"),
        )
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
            .cast("long")
            .alias("r")
        )
    )
    wide = rev.groupBy("seg").agg(
        F.max(F.when(F.col("yr") == 1996, F.col("r")))
        .cast("long")
        .alias("r0"),
        F.max(F.when(F.col("yr") == 1997, F.col("r")))
        .cast("long")
        .alias("r1"),
    )
    tot = wide.agg(
        F.sum("r0").cast("long").alias("t0"),
        F.sum("r1").cast("long").alias("t1"),
    )
    g = (F.col("r1") - F.col("r0")) * 1e0 / F.col("r0")
    return (
        wide.crossJoin(F.broadcast(tot))
        .select(
            "seg",
            F.round(F.col("r0") / 100e0, 2).alias("rev_1996"),
            F.round(F.col("r1") / 100e0, 2).alias("rev_1997"),
            F.round(g, 6).alias("segment_growth"),
            F.round((F.col("r0") * 1e0 / F.col("t0")) * g, 6).alias(
                "growth_contribution"
            ),
            F.round(
                F.col("r1") * 1e0 / F.col("t1")
                - F.col("r0") * 1e0 / F.col("t0"),
                6,
            ).alias("share_change"),
            F.round(
                (F.col("t1") - F.col("t0")) * 1e0 / F.col("t0"), 6
            ).alias("total_growth"),
        )
        .orderBy("seg")
    )


@query(
    "fisher_price_index",
    """
    WITH pq AS (
        SELECT l.l_partkey AS pk,
               CAST(year(o.o_orderdate) AS BIGINT) AS yr,
               CAST(sum(CAST(round(l.l_extendedprice * 100) AS BIGINT))
                    AS BIGINT) AS spend,
               CAST(sum(CAST(round(l.l_quantity) AS BIGINT)) AS BIGINT)
                   AS qty
        FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
        WHERE year(o.o_orderdate) IN (1996, 1997)
        GROUP BY 1, 2),
    wide AS (
        SELECT pk,
               max(CASE WHEN yr = 1996 THEN spend END) AS s0,
               max(CASE WHEN yr = 1996 THEN qty END) AS q0,
               max(CASE WHEN yr = 1997 THEN spend END) AS s1,
               max(CASE WHEN yr = 1997 THEN qty END) AS q1
        FROM pq GROUP BY pk
        HAVING max(CASE WHEN yr = 1996 THEN qty END) > 0
           AND max(CASE WHEN yr = 1997 THEN qty END) > 0),
    sums AS (
        SELECT CAST(count(*) AS BIGINT) AS n_parts,
               sum((CAST(s1 AS DOUBLE) / q1) * q0 ORDER BY pk) AS p1q0,
               sum((CAST(s0 AS DOUBLE) / q0) * q0 ORDER BY pk) AS p0q0,
               sum((CAST(s1 AS DOUBLE) / q1) * q1 ORDER BY pk) AS p1q1,
               sum((CAST(s0 AS DOUBLE) / q0) * q1 ORDER BY pk) AS p0q1
        FROM wide)
    SELECT n_parts,
           round(p1q0 / p0q0, 6) AS laspeyres,
           round(p1q1 / p0q1, 6) AS paasche,
           round(sqrt((p1q0 / p0q0) * (p1q1 / p0q1)), 6) AS fisher
    FROM sums
    """,
)
def fisher_price_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Laspeyres, Paasche, and Fisher ideal price indices for
    1996 -> 1997 over parts traded in BOTH years (unit values =
    per-part yearly spend / quantity): Laspeyres weights price
    relatives by BASE-period baskets (overstates inflation under
    substitution), Paasche by CURRENT baskets (understates), and
    Fisher's geometric mean is the superlative index national
    statistics agencies actually publish — the economics member of
    the index family next to the shift-share and MoM decompositions.
    One corpus aggregation to (part, year) cells; unit values are
    exact int ratios; the four basket sums are pk-ordered folds so
    both engines accumulate identically. The Fisher-between-the-
    others law is pinned in pytest."""
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_extendedprice", "l_quantity"
    )
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    pq = (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .filter(F.year("o_orderdate").isin(1996, 1997))
        .groupBy(
            F.col("l_partkey").alias("pk"),
            F.year("o_orderdate").cast("long").alias("yr"),
        )
        .agg(
            F.sum(F.round(F.col("l_extendedprice") * 100).cast("long"))
            .cast("long")
            .alias("spend"),
            F.sum(F.round("l_quantity").cast("long"))
            .cast("long")
            .alias("qty"),
        )
    )
    wide = (
        pq.groupBy("pk")
        .agg(
            F.max(F.when(F.col("yr") == 1996, F.col("spend"))).alias("s0"),
            F.max(F.when(F.col("yr") == 1996, F.col("qty"))).alias("q0"),
            F.max(F.when(F.col("yr") == 1997, F.col("spend"))).alias("s1"),
            F.max(F.when(F.col("yr") == 1997, F.col("qty"))).alias("q1"),
        )
        .filter((F.col("q0") > 0) & (F.col("q1") > 0))
    )
    p0 = F.col("s0").cast("double") / F.col("q0")
    p1 = F.col("s1").cast("double") / F.col("q1")
    terms = wide.select(
        "pk",
        (p1 * F.col("q0")).alias("t10"),
        (p0 * F.col("q0")).alias("t00"),
        (p1 * F.col("q1")).alias("t11"),
        (p0 * F.col("q1")).alias("t01"),
    )
    def _fold(cname: str):
        return F.aggregate(
            F.array_sort(F.collect_list(F.struct("pk", cname))),
            F.lit(0.0),
            lambda acc, x: acc + x[cname],
        ).alias(cname)

    sums = terms.agg(
        F.count(F.lit(1)).cast("long").alias("n_parts"),
        *[_fold(c) for c in ("t10", "t00", "t11", "t01")],
    )
    lasp = F.col("t10") / F.col("t00")
    paas = F.col("t11") / F.col("t01")
    return sums.select(
        "n_parts",
        F.round(lasp, 6).alias("laspeyres"),
        F.round(paas, 6).alias("paasche"),
        F.round(F.sqrt(lasp * paas), 6).alias("fisher"),
    )


@query(
    "dunning_llr_keyness",
    """
    WITH tok AS (
        SELECT CASE WHEN source = (
                   SELECT source FROM (
                       SELECT source, count(*) AS c FROM documents
                       GROUP BY source ORDER BY c DESC, source LIMIT 1)
               ) THEN 1 ELSE 0 END AS grp,
               unnest(string_split(text, ' ')) AS t
        FROM documents),
    tok2 AS (SELECT grp, t FROM tok WHERE t <> ''),
    tot AS (
        SELECT CAST(sum(grp) AS BIGINT) AS n1,
               CAST(sum(1 - grp) AS BIGINT) AS n2
        FROM tok2),
    tc AS (
        SELECT t,
               CAST(sum(grp) AS BIGINT) AS a,
               CAST(sum(1 - grp) AS BIGINT) AS b
        FROM tok2 GROUP BY t),
    llr AS (
        SELECT tc.t, tc.a, tc.b, tt.n1, tt.n2,
               2e0 * (
                 (CASE WHEN tc.a = 0 THEN 0e0 ELSE
                   tc.a * ln(tc.a * 1e0
                             / ((tc.a + tc.b) * 1e0 * tt.n1
                                / (tt.n1 + tt.n2))) END)
                 + (CASE WHEN tc.b = 0 THEN 0e0 ELSE
                   tc.b * ln(tc.b * 1e0
                             / ((tc.a + tc.b) * 1e0 * tt.n2
                                / (tt.n1 + tt.n2))) END)
                 + (CASE WHEN tt.n1 = tc.a THEN 0e0 ELSE
                   (tt.n1 - tc.a)
                   * ln((tt.n1 - tc.a) * 1e0
                        / ((tt.n1 + tt.n2 - tc.a - tc.b) * 1e0 * tt.n1
                           / (tt.n1 + tt.n2))) END)
                 + (CASE WHEN tt.n2 = tc.b THEN 0e0 ELSE
                   (tt.n2 - tc.b)
                   * ln((tt.n2 - tc.b) * 1e0
                        / ((tt.n1 + tt.n2 - tc.a - tc.b) * 1e0 * tt.n2
                           / (tt.n1 + tt.n2))) END)
               ) AS g2
        FROM tc, tot tt)
    SELECT t AS token, a AS n_target, b AS n_rest,
           round(g2, 6) AS llr_g2,
           CAST(CASE WHEN a * 1e0 / n1 > b * 1e0 / n2
                     THEN 1 ELSE -1 END AS BIGINT) AS direction
    FROM llr
    ORDER BY llr_g2 DESC, token
    LIMIT 15
    """,
)
def dunning_llr_keyness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dunning's log-likelihood-ratio keyness (Dunning 1993): for
    every token, the G^2 statistic of the 2x2 table (token count in
    the LARGEST source vs all other sources) — the corpus-
    linguistics standard for 'which words characterize this
    subcorpus', robust at low counts where PMI explodes and chi-
    square breaks (the reason keyness tables use G^2, not either).
    Direction marks over- vs under-representation. One token-count
    aggregation; every G^2 is a fixed four-term expression over
    exact integer cell counts with 0 ln 0 = 0 handled explicitly on
    both engines. Completes the token-association family: PMI
    (collocation), TF-IDF (retrieval), burstiness (dispersion),
    DSIR (importance), and now keyness (contrast)."""
    docs = _t(spark, sf_dir, "documents")
    top_src = (
        docs.groupBy("source")
        .agg(F.count(F.lit(1)).alias("c"))
        # argmax via TakeOrderedAndProject, not a rank window (r8 lint)
        .orderBy(F.desc("c"), "source")
        .limit(1)
        .select(F.col("source").alias("tsrc"))
    )
    tok = (
        docs.crossJoin(F.broadcast(top_src))
        .select(
            F.when(F.col("source") == F.col("tsrc"), 1)
            .otherwise(0)
            .alias("grp"),
            F.explode(F.split("text", " ")).alias("t"),
        )
        .filter(F.col("t") != "")
    )
    tot = tok.agg(
        F.sum("grp").cast("long").alias("n1"),
        F.sum(1 - F.col("grp")).cast("long").alias("n2"),
    )
    tc = tok.groupBy("t").agg(
        F.sum("grp").cast("long").alias("a"),
        F.sum(1 - F.col("grp")).cast("long").alias("b"),
    )
    a, b = F.col("a"), F.col("b")
    n1, n2 = F.col("n1"), F.col("n2")
    nn = n1 + n2
    e1 = (a + b) * 1e0 * n1 / nn
    e2 = (a + b) * 1e0 * n2 / nn
    e3 = (nn - a - b) * 1e0 * n1 / nn
    e4 = (nn - a - b) * 1e0 * n2 / nn
    g2 = 2e0 * (
        F.when(a == 0, F.lit(0e0)).otherwise(a * F.log(a * 1e0 / e1))
        + F.when(b == 0, F.lit(0e0)).otherwise(b * F.log(b * 1e0 / e2))
        + F.when(n1 == a, F.lit(0e0)).otherwise(
            (n1 - a) * F.log((n1 - a) * 1e0 / e3)
        )
        + F.when(n2 == b, F.lit(0e0)).otherwise(
            (n2 - b) * F.log((n2 - b) * 1e0 / e4)
        )
    )
    return (
        tc.crossJoin(F.broadcast(tot))
        .select(
            F.col("t").alias("token"),
            F.col("a").alias("n_target"),
            F.col("b").alias("n_rest"),
            F.round(g2, 6).alias("llr_g2"),
            F.when(a * 1e0 / n1 > b * 1e0 / n2, 1)
            .otherwise(-1)
            .cast("long")
            .alias("direction"),
        )
        .orderBy(F.desc("llr_g2"), "token")
        .limit(15)
    )


@query(
    "ratio_to_ma_seasonal",
    """
    WITH d AS (
        SELECT CAST(o_orderdate AS DATE) AS day,
               CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
                    AS BIGINT) AS y
        FROM orders GROUP BY 1),
    pts AS (
        SELECT day, y,
               CAST(date_diff('day', DATE '1994-12-25', day) % 7
                    AS BIGINT) AS dow,
               CAST(count(*) OVER w AS BIGINT) AS wn,
               CAST(sum(y) OVER w AS BIGINT) AS ws
        FROM d
        WINDOW w AS (ORDER BY day ROWS BETWEEN 3 PRECEDING
                     AND 3 FOLLOWING)),
    ratios AS (
        SELECT dow, y * 7e0 / ws AS ratio
        FROM pts WHERE wn = 7),
    idx AS (
        SELECT dow, CAST(count(*) AS BIGINT) AS n_obs,
               sum(ratio ORDER BY ratio) / count(*) AS raw_idx
        FROM ratios GROUP BY dow),
    norm AS (
        SELECT sum(raw_idx ORDER BY dow) AS s FROM idx)
    SELECT dow AS day_of_week, n_obs,
           round(raw_idx, 6) AS raw_index,
           round(raw_idx * 7e0 / (SELECT s FROM norm), 6)
               AS seasonal_index
    FROM idx
    ORDER BY dow
    """,
)
def ratio_to_ma_seasonal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ratio-to-moving-average seasonal indices (the classical
    pre-STL decomposition method, still the standard for short
    business series): each day's revenue is divided by its CENTERED
    7-day moving average (full windows only), the ratios are
    averaged per weekday, and the seven indices are normalized to
    sum to 7 — a weekday index of 1.10 reads directly as '10% above
    trend'. Complements STL (loess-based) and median polish
    (additive) with the multiplicative classical member. Weekday
    comes from epoch-day arithmetic off a pre-data Sunday anchor;
    window sums are exact integers; per-weekday ratio means and the
    normalizer are explicit ordered folds (ratio- and dow-ordered)
    so both engines accumulate identically."""
    o = _t(spark, sf_dir, "orders")
    d = o.groupBy(F.to_date("o_orderdate").alias("day")).agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
        .cast("long")
        .alias("y")
    )
    w7 = Window.orderBy("day").rowsBetween(-3, 3)
    pts = d.select(
        "day", "y",
        F.expr(
            "datediff(day, DATE '1994-12-25') % 7"
        ).cast("long").alias("dow"),
        F.count(F.lit(1)).over(w7).cast("long").alias("wn"),
        F.sum("y").over(w7).cast("long").alias("ws"),
    )
    ratios = pts.filter(F.col("wn") == 7).select(
        "dow", (F.col("y") * 7e0 / F.col("ws")).alias("ratio")
    )
    idx = ratios.groupBy("dow").agg(
        F.count(F.lit(1)).cast("long").alias("n_obs"),
        (
            F.aggregate(
                F.array_sort(F.collect_list(F.struct("ratio"))),
                F.lit(0.0),
                lambda acc, x: acc + x["ratio"],
            )
            / F.count(F.lit(1))
        ).alias("raw_idx"),
    )
    norm = idx.agg(
        F.aggregate(
            F.array_sort(F.collect_list(F.struct("dow", "raw_idx"))),
            F.lit(0.0),
            lambda acc, x: acc + x["raw_idx"],
        ).alias("s")
    )
    return (
        idx.crossJoin(F.broadcast(norm))
        .select(
            F.col("dow").alias("day_of_week"),
            "n_obs",
            F.round("raw_idx", 6).alias("raw_index"),
            F.round(F.col("raw_idx") * 7e0 / F.col("s"), 6).alias(
                "seasonal_index"
            ),
        )
        .orderBy("day_of_week")
    )


@query(
    "hampel_filter_daily",
    """
    WITH d AS (
        SELECT CAST(o_orderdate AS DATE) AS day,
               CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
                    AS BIGINT) AS y
        FROM orders GROUP BY 1),
    win AS (
        SELECT day, y,
               list_sort(list(y) OVER w) AS arr
        FROM d
        WINDOW w AS (ORDER BY day ROWS BETWEEN 7 PRECEDING
                     AND 7 FOLLOWING)),
    med AS (
        SELECT day, y, arr,
               arr[(len(arr) + 1) // 2] AS m
        FROM win WHERE len(arr) = 15),
    mad AS (
        SELECT day, y, m,
               list_sort([abs(x - m) for x in arr])
                   [(len(arr) + 1) // 2] AS md
        FROM med)
    SELECT day,
           round(y / 100e0, 2) AS revenue,
           round(m / 100e0, 2) AS window_median,
           round(md / 100e0, 2) AS window_mad,
           CAST(CASE WHEN abs(y - m) > 3 * 1.4826e0 * md
                     THEN 1 ELSE 0 END AS BIGINT) AS is_outlier
    FROM mad
    WHERE abs(y - m) > 3 * 1.4826e0 * md
    ORDER BY day
    LIMIT 20
    """,
)
def hampel_filter_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hampel identifier over daily revenue: a point is an outlier
    when it sits more than 3 scaled MADs (1.4826 x median absolute
    deviation) from the MEDIAN of its centered 15-day window — the
    rolling ROBUST twin of the z-score filter (a level shift or a
    single spike can't poison the reference statistics the way a
    rolling mean/SD would; this is the standard despiking filter in
    sensor pipelines). Both the window median and the window MAD are
    EXACT order statistics computed by sorting the 15-element
    collected window array (integer cents throughout — the only
    doubles are the final display divisions), identical on both
    engines. Emits the flagged days. Corpus collapses to the
    calendar-bounded day frame first; windows never touch raw
    orders."""
    o = _t(spark, sf_dir, "orders")
    d = o.groupBy(F.to_date("o_orderdate").alias("day")).agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
        .cast("long")
        .alias("y")
    )
    w15 = Window.orderBy("day").rowsBetween(-7, 7)
    win = d.select(
        "day", "y",
        F.array_sort(F.collect_list("y").over(w15)).alias("arr"),
    ).filter(F.size("arr") == 15)
    med = win.select(
        "day", "y", "arr",
        F.element_at("arr", 8).alias("m"),
    )
    mad = med.select(
        "day", "y", "m",
        F.element_at(
            F.array_sort(
                F.expr("transform(arr, x -> abs(x - m))")
            ),
            8,
        ).alias("md"),
    )
    flag = F.abs(F.col("y") - F.col("m")) > 3 * 1.4826e0 * F.col("md")
    return (
        mad.filter(flag)
        .select(
            "day",
            F.round(F.col("y") / 100e0, 2).alias("revenue"),
            F.round(F.col("m") / 100e0, 2).alias("window_median"),
            F.round(F.col("md") / 100e0, 2).alias("window_mad"),
            F.lit(1).cast("long").alias("is_outlier"),
        )
        .orderBy("day")
        .limit(20)
    )


@query(
    "anomalous_sessions_markov",
    """
    WITH ev AS (
        SELECT user_id, CAST(ts AS DATE) AS day, event_type,
               row_number() OVER (PARTITION BY user_id, CAST(ts AS DATE)
                                  ORDER BY ts, event_id) AS step
        FROM events),
    tr AS (
        SELECT a.user_id, a.day,
               a.event_type AS f, b.event_type AS t
        FROM ev a JOIN ev b
          ON b.user_id = a.user_id AND b.day = a.day
         AND b.step = a.step + 1),
    gtab AS (
        SELECT f, t, CAST(count(*) AS BIGINT) AS c
        FROM tr GROUP BY 1, 2),
    fm AS (SELECT f, CAST(sum(c) AS BIGINT) AS n FROM gtab GROUP BY 1),
    lp AS (
        SELECT g.f, g.t, ln(g.c * 1e0 / fm.n) AS logp
        FROM gtab g JOIN fm ON fm.f = g.f),
    scored AS (
        SELECT tr.user_id, tr.day,
               CAST(count(*) AS BIGINT) AS n_steps,
               sum(lp.logp ORDER BY tr.f, tr.t) / count(*) AS mean_logp
        FROM tr JOIN lp ON lp.f = tr.f AND lp.t = tr.t
        GROUP BY tr.user_id, tr.day
        HAVING count(*) >= 5)
    SELECT user_id, day, n_steps,
           round(mean_logp, 6) AS mean_transition_logp
    FROM scored
    ORDER BY mean_logp, user_id, day
    LIMIT 10
    """,
)
def anomalous_sessions_markov(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session anomaly scoring under the global first-order Markov
    chain: every user-day session's mean per-transition
    log-probability (transition matrix fitted on ALL sessions), and
    the 10 least-likely sessions with at least 5 transitions — the
    SEQUENCE-level anomaly detector the pointwise family can't
    express (a session can consist entirely of common events in a
    wildly unusual ORDER; bigram_logprob_docs does this for token
    streams, this is the behavioral-events twin and the
    sequence-mining counterpart of the transition-matrix queries).
    Shape: transitions from one per-session window, the |types|^2
    log-prob table broadcast back, per-session reductions as
    (f, t)-ordered folds of at most session-length terms. Exact
    integer transition counts; one fixed log expression per cell."""
    ev = _t(spark, sf_dir, "events").select(
        "user_id", F.to_date("ts").alias("day"), "event_type", "ts",
        "event_id",
    )
    ws = Window.partitionBy("user_id", "day").orderBy("ts", "event_id")
    stepped = ev.withColumn("step", F.row_number().over(ws))
    a = stepped.select(
        "user_id", "day", "step", F.col("event_type").alias("f")
    )
    b = stepped.select(
        "user_id", "day", (F.col("step") - 1).alias("step"),
        F.col("event_type").alias("t"),
    )
    tr = a.join(b, ["user_id", "day", "step"]).select(
        "user_id", "day", "f", "t"
    )
    glob = tr.groupBy("f", "t").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    fm = glob.groupBy("f").agg(F.sum("c").cast("long").alias("n"))
    lp = glob.join(fm, "f").select(
        "f", "t", F.log(F.col("c") * 1e0 / F.col("n")).alias("logp")
    )
    scored = (
        tr.join(F.broadcast(lp), ["f", "t"])
        .groupBy("user_id", "day")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_steps"),
            (
                F.aggregate(
                    F.array_sort(F.collect_list(F.struct("f", "t", "logp"))),
                    F.lit(0.0),
                    lambda acc, x: acc + x["logp"],
                )
                / F.count(F.lit(1))
            ).alias("mean_logp"),
        )
        .filter(F.col("n_steps") >= 5)
    )
    return (
        scored.select(
            "user_id", "day", "n_steps",
            F.round("mean_logp", 6).alias("mean_transition_logp"),
        )
        .orderBy("mean_transition_logp", "user_id", "day")
        .limit(10)
    )


@query(
    "duplicate_payment_audit",
    """
    WITH o2 AS (
        SELECT o_orderkey, o_custkey,
               CAST(round(o_totalprice * 100) AS BIGINT) AS pc,
               CAST(o_orderdate AS DATE) AS d
        FROM orders),
    pairs AS (
        SELECT a.o_custkey AS custkey,
               a.o_orderkey AS order_a, b.o_orderkey AS order_b,
               a.pc,
               CAST(abs(date_diff('day', a.d, b.d)) AS BIGINT) AS gap_days
        FROM o2 a JOIN o2 b
          ON a.o_custkey = b.o_custkey AND a.pc = b.pc
         AND a.o_orderkey < b.o_orderkey
        WHERE abs(date_diff('day', a.d, b.d)) <= 7)
    SELECT custkey, order_a, order_b,
           round(pc / 100e0, 2) AS amount, gap_days
    FROM pairs
    ORDER BY gap_days, custkey, order_a, order_b
    LIMIT 20
    """,
)
def duplicate_payment_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-payment audit: pairs of orders from the SAME
    customer with the IDENTICAL amount (exact integer cents) placed
    within 7 days of each other — the standard accounts-payable
    fraud/error screen (double-submitted invoices are the single
    largest recovery-audit category). Shape: an equi-self-join on
    the composite (customer, exact amount) key — amount equality
    turns what looks like a similarity join into a plain hash join
    whose candidate sets are (customer, amount)-group sized, then a
    +-7-day filter — the same blocking-before-compare discipline as
    the ER family, here with an exact blocking key. Emits the 20
    tightest pairs. Pure integer arithmetic throughout."""
    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("pc"),
        F.to_date("o_orderdate").alias("d"),
    )
    a = o.select(
        F.col("o_custkey").alias("custkey"),
        F.col("o_orderkey").alias("order_a"),
        "pc", F.col("d").alias("da"),
    )
    b = o.select(
        F.col("o_custkey").alias("custkey"),
        F.col("o_orderkey").alias("order_b"),
        "pc", F.col("d").alias("db"),
    )
    pairs = (
        a.join(b, ["custkey", "pc"])
        .filter(F.col("order_a") < F.col("order_b"))
        .withColumn(
            "gap_days", F.abs(F.datediff("db", "da")).cast("long")
        )
        .filter(F.col("gap_days") <= 7)
    )
    return (
        pairs.select(
            "custkey", "order_a", "order_b",
            F.round(F.col("pc") / 100e0, 2).alias("amount"),
            "gap_days",
        )
        .orderBy("gap_days", "custkey", "order_a", "order_b")
        .limit(20)
    )


@query(
    "price_dispersion_within_part",
    """
    WITH v AS (
        SELECT l.l_partkey AS pk, c.c_mktsegment AS seg,
               CAST(round(l.l_extendedprice * 100
                          / round(l.l_quantity)) AS BIGINT) AS unit
        FROM lineitem l
        JOIN orders o ON o.o_orderkey = l.l_orderkey
        JOIN customer c ON c.c_custkey = o.o_custkey
        WHERE round(l.l_quantity) > 0),
    cell AS (
        SELECT pk, seg, CAST(count(*) AS BIGINT) AS n,
               CAST(sum(unit) AS BIGINT) AS s,
               CAST(sum(CAST(unit AS HUGEINT) * unit) AS HUGEINT) AS ss
        FROM v GROUP BY 1, 2),
    part_ AS (
        SELECT pk, CAST(sum(n) AS BIGINT) AS n,
               CAST(sum(s) AS BIGINT) AS s,
               CAST(sum(ss) AS HUGEINT) AS ss,
               CAST(count(*) AS BIGINT) AS n_segs
        FROM cell GROUP BY 1),
    decomp AS (
        SELECT
          CAST(sum(p.n) AS BIGINT) AS n_rows,
          CAST(count(*) AS BIGINT) AS n_parts,
          sum(CAST(p.ss AS DOUBLE)
              - CAST(p.s AS DOUBLE) * p.s / p.n ORDER BY p.pk)
              AS ss_within_part,
          (SELECT sum(CAST(c.s AS DOUBLE) * c.s / c.n
                      ORDER BY c.pk, c.seg)
           FROM cell c)
          - sum(CAST(p.s AS DOUBLE) * p.s / p.n ORDER BY p.pk)
              AS ss_segment_within_part
        FROM part_ p
        WHERE p.n_segs >= 2 AND p.n >= 10)
    SELECT n_parts, n_rows,
           round(ss_within_part / 10000e0, 2) AS ss_within_part,
           round(ss_segment_within_part / 10000e0, 2)
               AS ss_explained_by_segment,
           round(ss_segment_within_part / ss_within_part, 6)
               AS eta2_segment_given_part
    FROM decomp
    """,
)
def price_dispersion_within_part(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Price-discrimination screen: of the unit-price dispersion that
    exists WITHIN each part (same product, different transactions),
    what share is explained by the buyer's market segment? A nested
    one-way decomposition — ss_within_part = segment-between +
    residual, eta^2 = explained share — over every part sold to at
    least two segments with >= 10 trades: near-zero means price
    variation is noise/discounting; a large share means systematically
    different segments pay different prices for the SAME part (the
    compliance question a global price ANOVA cannot answer because it
    confounds product mix with discrimination). One (part, segment)
    aggregation; all sums exact integer cents-per-unit; the two
    cross-group reductions are key-ordered folds."""
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_extendedprice", "l_quantity"
    )
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    v = (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(c, o["o_custkey"] == c["c_custkey"])
        .filter(F.round("l_quantity").cast("long") > 0)
        .select(
            F.col("l_partkey").alias("pk"),
            F.col("c_mktsegment").alias("seg"),
            F.round(
                F.col("l_extendedprice") * 100
                / F.round("l_quantity").cast("long")
            ).cast("long").alias("unit"),
        )
    )
    cell = v.groupBy("pk", "seg").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("unit").cast("long").alias("s"),
        F.sum(F.col("unit").cast("decimal(38,0)") * F.col("unit")).alias("ss"),
    ).persist()
    part_ = cell.groupBy("pk").agg(
        F.sum("n").cast("long").alias("n"),
        F.sum("s").cast("long").alias("s"),
        F.sum("ss").alias("ss"),
        F.count(F.lit(1)).cast("long").alias("n_segs"),
    ).filter((F.col("n_segs") >= 2) & (F.col("n") >= 10))
    keep = part_.select(F.col("pk").alias("kpk"))
    cell_k = cell.join(
        F.broadcast(keep), cell["pk"] == F.col("kpk")
    )
    wpart = (
        F.col("ss").cast("double")
        - F.col("s").cast("double") * F.col("s") / F.col("n")
    )
    dp = part_.select(
        "pk", "n", wpart.alias("w"),
        (F.col("s").cast("double") * F.col("s") / F.col("n")).alias("gsq"),
    )
    agg1 = dp.agg(
        F.sum("n").cast("long").alias("n_rows"),
        F.count(F.lit(1)).cast("long").alias("n_parts"),
        F.aggregate(
            F.array_sort(F.collect_list(F.struct("pk", "w"))),
            F.lit(0.0),
            lambda acc, x: acc + x["w"],
        ).alias("ssw"),
        F.aggregate(
            F.array_sort(F.collect_list(F.struct("pk", "gsq"))),
            F.lit(0.0),
            lambda acc, x: acc + x["gsq"],
        ).alias("gsqsum"),
    )
    cterm = cell_k.select(
        "pk", "seg",
        (F.col("s").cast("double") * F.col("s") / F.col("n")).alias("csq"),
    )
    agg2 = cterm.agg(
        F.aggregate(
            F.array_sort(F.collect_list(F.struct("pk", "seg", "csq"))),
            F.lit(0.0),
            lambda acc, x: acc + x["csq"],
        ).alias("csqsum")
    )
    return (
        agg1.crossJoin(F.broadcast(agg2))
        .select(
            "n_parts", "n_rows",
            F.round(F.col("ssw") / 10000e0, 2).alias("ss_within_part"),
            F.round(
                (F.col("csqsum") - F.col("gsqsum")) / 10000e0, 2
            ).alias("ss_explained_by_segment"),
            F.round(
                (F.col("csqsum") - F.col("gsqsum")) / F.col("ssw"), 6
            ).alias("eta2_segment_given_part"),
        )
    )


# =====================================================================
# Round-7 addition: exact kNN graph over the embedding table via the
# blocked numpy scoring device (similarity.blocked_exact_topk — the
# generalization of mutual_nn_pairs' top-1 rework, VERDICT r6 item 4).
# The kNN graph is the substrate for graph-based dedup clustering,
# label propagation over embeddings, and ANN recall audits; the
# blocked-GEMM shape is the 100 TB exact path (at bigger N switch the
# replicated side to block-pair tiling, same UDF).
# =====================================================================
@query(
    "knn_graph_embeddings",
    """
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    sc AS (
        SELECT a.vec_id AS ai, b.vec_id AS bi,
               round(list_cosine_similarity(a.v, b.v), 6) AS cos
        FROM e a JOIN e b ON a.vec_id <> b.vec_id),
    nn AS (
        SELECT ai, bi, cos,
               CAST(row_number() OVER (PARTITION BY ai
                                       ORDER BY cos DESC, bi) AS INTEGER)
                   AS rank
        FROM sc)
    SELECT ai, bi, cos, rank FROM nn WHERE rank <= 3
    ORDER BY ai, rank
    """,
)
def knn_graph_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine 3-NN graph: every vector's top-3 neighbors with
    ranks, computed by the blocked exact scorer (one shuffle into row
    blocks, vectorized numpy per block, sequential-fold float contract
    bit-identical to the oracle's list_cosine_similarity; stable
    argsort over the id-sorted axis == row_number(cos DESC, bi) ties).
    The brute all-pairs shape survives only as the DuckDB oracle."""
    emb = _t(spark, sf_dir, "embeddings")
    return sim.blocked_exact_topk(emb, k=3, n_blocks=8).orderBy("ai", "rank")


# =====================================================================
# Round-7 capstone composition: mutual-kNN clustering — the kNN graph
# (blocked exact scorer) -> reciprocal edges -> min-label connected
# components -> cluster-size histogram. This is the graph-clustering
# flavor of semantic dedup (mutual-kNN clusters are the conservative,
# hub-resistant grouping bitext mining and near-dup clustering use
# before a keep-one-per-cluster rewrite); every stage is a device the
# catalog already proves separately (blocked_exact_topk, the mutual
# join of mutual_nn_pairs, the 16-round min-label CC of
# connected_components_cnr/percolation).
# =====================================================================
def _duck_mknn_sql(k: int = 3, rounds: int = 16) -> str:
    ctes = [
        """e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    sc AS MATERIALIZED (
        SELECT a.vec_id AS ai, b.vec_id AS bi,
               round(list_cosine_similarity(a.v, b.v), 6) AS cos
        FROM e a JOIN e b ON a.vec_id <> b.vec_id),
    nn AS MATERIALIZED (
        SELECT ai, bi FROM (
            SELECT ai, bi,
                   row_number() OVER (PARTITION BY ai
                                      ORDER BY cos DESC, bi) AS rr
            FROM sc) WHERE rr <= %d),
    mut AS MATERIALIZED (
        SELECT n1.ai AS a, n1.bi AS b
        FROM nn n1 JOIN nn n2 ON n2.ai = n1.bi AND n2.bi = n1.ai
        WHERE n1.ai < n1.bi),
    sym AS MATERIALIZED (
        SELECT a AS src, b AS dst FROM mut
        UNION ALL SELECT b, a FROM mut
        UNION ALL SELECT vec_id, vec_id FROM e),
    l0 AS (SELECT vec_id AS id, vec_id AS lbl FROM e)""" % k
    ]
    for r in range(1, rounds + 1):
        ctes.append(
            f"""l{r} AS MATERIALIZED (
        SELECT sym.src AS id, min(l.lbl) AS lbl
        FROM sym JOIN l{r - 1} l ON l.id = sym.dst
        GROUP BY sym.src)"""
        )
    body = ",\n    ".join(ctes)
    return f"""WITH {body},
    cs AS (SELECT lbl, CAST(count(*) AS BIGINT) AS size
           FROM l{rounds} GROUP BY lbl)
    SELECT size AS cluster_size,
           CAST(count(*) AS BIGINT) AS n_clusters,
           CAST(sum(size) AS BIGINT) AS n_vectors
    FROM cs GROUP BY size ORDER BY size
    """


@query("mutual_knn_clusters", _duck_mknn_sql())
def mutual_knn_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mutual-3NN cluster-size histogram over the embedding table:
    blocked exact top-3 per vector, reciprocal-pair edges (a in
    top3(b) AND b in top3(a) — the hub-resistant near-dup grouping),
    16-round min-label connected components over the mutual edge set,
    then (cluster_size, n_clusters, n_vectors). Scale shape: the only
    corpus-quadratic work is inside the blocked scorer; the CC rounds
    iterate ONLY the vectors touched by a mutual edge (a small
    fraction of the corpus — reciprocity is rare by construction),
    and the untouched majority enters the histogram as one arithmetic
    singleton row, so per-round state is |touched| labels, not N.
    16 rounds >= any mutual-kNN cluster diameter here (monotone:
    extra rounds are no-ops), matching the oracle's unrolled device
    (which iterates all N — identical fixed point)."""
    emb = _t(spark, sf_dir, "embeddings")
    nn = sim.blocked_exact_topk(emb, k=3, n_blocks=8).select("ai", "bi")
    rev = nn.select(F.col("bi").alias("ai"), F.col("ai").alias("bi"))
    mut = (
        nn.join(rev, ["ai", "bi"])
        .filter(F.col("ai") < F.col("bi"))
        .select(F.col("ai").alias("a"), F.col("bi").alias("b"))
        .localCheckpoint()
    )
    touched = (
        mut.select(F.col("a").alias("id"))
        .unionByName(mut.select(F.col("b").alias("id")))
        .dropDuplicates()
    )
    sym = (
        mut.select(F.col("a").alias("src"), F.col("b").alias("dst"))
        .unionByName(mut.select(F.col("b").alias("src"), F.col("a").alias("dst")))
        .unionByName(
            touched.select(F.col("id").alias("src"), F.col("id").alias("dst"))
        )
        .persist()
    )
    lbl = touched.select("id", F.col("id").alias("lbl"))
    for _ in range(16):
        lbl = (
            sym.join(lbl.select(F.col("id").alias("dst"), "lbl"), "dst")
            .groupBy(F.col("src").alias("id"))
            .agg(F.min("lbl").alias("lbl"))
            .localCheckpoint()
        )
    hist = (
        lbl.groupBy("lbl")
        .agg(F.count(F.lit(1)).cast("long").alias("size"))
        .groupBy(F.col("size").alias("cluster_size"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_clusters"),
            F.sum("size").cast("long").alias("n_vectors"),
        )
    )
    n_total = emb.agg(F.count(F.lit(1)).cast("long").alias("nt"))
    n_touch = touched.agg(F.count(F.lit(1)).cast("long").alias("nu"))
    singles = (
        n_total.crossJoin(F.broadcast(n_touch))
        .select(
            F.lit(1).cast("long").alias("cluster_size"),
            (F.col("nt") - F.col("nu")).alias("n_clusters"),
            (F.col("nt") - F.col("nu")).alias("n_vectors"),
        )
        .filter(F.col("n_clusters") > 0)
    )
    return (
        hist.unionByName(singles)
        .groupBy("cluster_size")
        .agg(
            F.sum("n_clusters").cast("long").alias("n_clusters"),
            F.sum("n_vectors").cast("long").alias("n_vectors"),
        )
        .orderBy("cluster_size")
    )
